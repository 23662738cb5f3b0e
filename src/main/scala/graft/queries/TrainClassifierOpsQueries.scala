package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Round-11 waves 184-185: distributed classifier TRAINING in-engine —
  * logistic regression by 3 unrolled IRLS rounds (closed-form 3×3 Cramer
  * solve, no MLlib, no driver-side collect) and multinomial naive Bayes
  * with Laplace smoothing (train + held-out eval). The select_classifier
  * op covers fastText-shape INFERENCE; these cover the training side a
  * quality-filter pipeline actually runs.
  *
  * Cross-engine discipline: each IRLS round's arithmetic is generated
  * from ONE Scala string template used verbatim by both the DuckDB
  * oracle and the Spark `expr()` side, so the two engines execute
  * literally the same formulas.
  */
object TrainClassifierOpsQueries extends QueryModule {

  // ---- shared IRLS arithmetic (one definition, both engines) ----------

  /** Aggregation SELECT list for one IRLS round over rows carrying
    * (x1, x2, y, b1, b2, b0). */
  private val irlsSums: String =
    """sum(w*x1*x1) AS a11, sum(w*x1*x2) AS a12, sum(w*x1) AS a10,
      |sum(w*x2*x2) AS a22, sum(w*x2) AS a20, sum(w) AS a00,
      |sum((y - p)*x1) AS g1, sum((y - p)*x2) AS g2, sum(y - p) AS g0""".stripMargin

  /** p and w from the prior β. */
  private val irlsPw: String =
    "1.0 / (1.0 + exp(-(b1*x1 + b2*x2 + b0)))"

  /** Cramer solve: the three updated coefficients from the sums. */
  private val irlsSolve: Seq[(String, String)] = {
    val det = "(a11*(a22*a00 - a20*a20) - a12*(a12*a00 - a20*a10)" +
      " + a10*(a12*a20 - a22*a10))"
    Seq(
      "nb1" -> ("b1 + (g1*(a22*a00 - a20*a20) - a12*(g2*a00 - a20*g0)" +
        s" + a10*(g2*a20 - a22*g0)) / $det"),
      "nb2" -> ("b2 + (a11*(g2*a00 - g0*a20) - g1*(a12*a00 - a20*a10)" +
        s" + a10*(a12*g0 - g2*a10)) / $det"),
      "nb0" -> ("b0 + (a11*(a22*g0 - a20*g2) - a12*(a12*g0 - a10*g2)" +
        s" + g1*(a12*a20 - a22*a10)) / $det"))
  }

  def all: Seq[Q] = Seq(

    // LOGISTIC REGRESSION via 3 unrolled IRLS (Fisher-scoring) rounds
    // from β = 0. Labels carry a PLANTED linear model — y = 1 iff
    // 0.9·x1 − 0.7·x2 + 0.3 + u > 0 with hash-uniform noise u ∈ [−1,1) —
    // so the fit must land near the plant (sign and ordering of the
    // coefficients are oracle-checked facts, not vibes). Each round is
    // one map-side-combined reduce (9 sums) + a broadcast 1-row β frame;
    // the 3×3 normal equations solve in closed form (Cramer) — no
    // matrix library, no collect, the 100 TB GLM-training shape.
    Q("clf_logreg_train",
      Some {
        val u = s"((${H.md5PrefixSql("'lr:' || CAST(doc_id AS VARCHAR)", 12)}) " +
          "% 1000 - 500) / 500.0"
        val x2 = s"((${H.md5PrefixSql("'f2:' || CAST(doc_id AS VARCHAR)", 12)}) " +
          "% 1000) / 250.0"
        def round(prev: String, out: String) =
          s"""${out}_s AS (SELECT ${irlsSums.replace("\n", " ")}
             |  FROM (SELECT f.*, p.b1, p.b2, p.b0,
             |      $irlsPw AS p, $irlsPw * (1.0 - ($irlsPw)) AS w
             |    FROM feats f, $prev p)),
             |$out AS (SELECT ${irlsSolve.map { case (n, e) =>
                 s"$e AS ${n.replace("nb", "b")}"
               }.mkString(", ")}
             |  FROM ${out}_s, $prev)""".stripMargin
        s"""WITH feats AS (SELECT doc_id,
           |    n_chars / 100.0 AS x1,
           |    ($x2) AS x2,
           |    CASE WHEN 0.9*(n_chars/100.0) - 0.7*($x2) + 0.3
           |      + ($u) > 0 THEN 1.0 ELSE 0.0 END AS y
           |  FROM documents),
           |beta0 AS (SELECT 0.0 AS b1, 0.0 AS b2, 0.0 AS b0),
           |${round("beta0", "beta1")},
           |${round("beta1", "beta2")},
           |${round("beta2", "beta3")},
           |ev AS (SELECT count(*) AS n,
           |    sum(CASE WHEN (CASE WHEN b1*x1 + b2*x2 + b0 > 0
           |      THEN 1.0 ELSE 0.0 END) = y THEN 1 ELSE 0 END) AS ok
           |  FROM feats, beta3)
           |SELECT CAST(ev.n AS BIGINT) AS n_docs,
           |  CAST(floor(beta3.b1 * 1000 + 0.5) AS BIGINT) AS b1_milli,
           |  CAST(floor(beta3.b2 * 1000 + 0.5) AS BIGINT) AS b2_milli,
           |  CAST(floor(beta3.b0 * 1000 + 0.5) AS BIGINT) AS b0_milli,
           |  CAST(ev.ok * 1000 // ev.n AS BIGINT) AS train_acc_milli
           |FROM beta3, ev
           |""".stripMargin
      },
      (s, dir) => {
        val feats = tbl(s, dir, "documents")
          .select(col("doc_id"),
            (col("n_chars") / 100.0).as("x1"),
            // an independent hash feature: a second length-derived
            // feature would be collinear with x1 (both ∝ doc length)
            // and leave the normal equations near-singular
            ((H.md5Prefix(concat(lit("f2:"), col("doc_id").cast("string")), 12)
              % 1000) / 250.0).as("x2"))
          .withColumn("u",
            (H.md5Prefix(concat(lit("lr:"), col("doc_id").cast("string")), 12)
              % 1000 - 500) / 500.0)
          .withColumn("y",
            when(lit(0.9) * col("x1") - lit(0.7) * col("x2") + 0.3
              + col("u") > 0, 1.0).otherwise(0.0))
          .select("x1", "x2", "y")
          .localCheckpoint() // scanned once per IRLS round + eval
        var beta = s.sql("SELECT 0.0 AS b1, 0.0 AS b2, 0.0 AS b0")
        (1 to 3).foreach { _ =>
          val pw = feats.crossJoin(broadcast(beta))
            .withColumn("p", expr(irlsPw))
            .withColumn("w", expr(s"$irlsPw * (1.0 - ($irlsPw))"))
          val sums = pw.agg(expr("sum(w*x1*x1)").as("a11"),
            expr("sum(w*x1*x2)").as("a12"), expr("sum(w*x1)").as("a10"),
            expr("sum(w*x2*x2)").as("a22"), expr("sum(w*x2)").as("a20"),
            expr("sum(w)").as("a00"), expr("sum((y - p)*x1)").as("g1"),
            expr("sum((y - p)*x2)").as("g2"), expr("sum(y - p)").as("g0"))
          beta = sums.crossJoin(broadcast(beta))
            .select(irlsSolve.map { case (n, e) =>
              expr(e).as(n.replace("nb", "b")) }: _*)
        }
        val ev = feats.crossJoin(broadcast(beta))
          .agg(count(lit(1)).as("n"),
            sum(when(when(expr("b1*x1 + b2*x2 + b0 > 0"), 1.0)
              .otherwise(0.0) === col("y"), 1).otherwise(0)).as("ok"))
        val out = beta.crossJoin(broadcast(ev))
          .select(col("n").cast("long").as("n_docs"),
            floor(col("b1") * 1000 + 0.5).cast("long").as("b1_milli"),
            floor(col("b2") * 1000 + 0.5).cast("long").as("b2_milli"),
            floor(col("b0") * 1000 + 0.5).cast("long").as("b0_milli"),
            expr("CAST(ok * 1000 div n AS BIGINT)").as("train_acc_milli"))
        H.materialized(out, caches = Nil, checkpoints = Seq(feats))
      }),

    // MULTINOMIAL NAIVE BAYES, trained and evaluated in-engine: train on
    // doc_id % 5 ≠ 0, Laplace-smoothed token log-likelihoods per lang,
    // classify the held-out fifth, report per-lang accuracy. The corpus
    // generator draws every lang from ONE shared token pool (measured:
    // unigram NB scores chance on the raw text), so the instance plants
    // the signal real language ID keys on — ORTHOGRAPHY: each lang
    // deterministically "spells" ~25% of the vocabulary its own way
    // (tok → tok_lang via a per-(lang, token) hash gate), train and test
    // alike. The (vocab × lang) likelihood table is vocabulary-bounded
    // (NOT corpus-bounded) — it densifies absent (token, lang) cells so
    // unseen-in-class tokens get their α/(N_c + αV) mass without a
    // special case. One training reduce, one test-token join, one
    // per-doc argmax over the bounded 5-class partition.
    Q("clf_naive_bayes_train",
      Some {
        val dg = H.md5PrefixSql("'d:' || lang || ':' || tok", 2)
        s"""WITH base AS (SELECT doc_id, lang,
           |    unnest(string_split(text, ' ')) AS tok FROM documents),
           |dial AS (SELECT doc_id, lang,
           |    CASE WHEN ($dg) % 4 = 0 THEN tok || '_' || lang
           |      ELSE tok END AS tok FROM base),
           |tt AS (SELECT lang, tok FROM dial WHERE doc_id % 5 <> 0),
           |testtl AS (SELECT DISTINCT doc_id, lang FROM dial
           |  WHERE doc_id % 5 = 0),
           |ttok AS (SELECT doc_id, tok FROM dial WHERE doc_id % 5 = 0),
           |vocab AS (SELECT DISTINCT tok FROM tt),
           |cls AS (SELECT lang, CAST(count(*) AS BIGINT) AS nc
           |  FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1),
           |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS ntok
           |  FROM tt GROUP BY 1),
           |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
           |cnt AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
           |  FROM tt GROUP BY 1, 2),
           |dense AS (SELECT cls.lang, vocab.tok,
           |    ln((coalesce(cnt.c, 0) + 1.0) / (tot.ntok + v.v)) AS lp
           |  FROM cls CROSS JOIN vocab CROSS JOIN v
           |  JOIN tot ON tot.lang = cls.lang
           |  LEFT JOIN cnt ON cnt.lang = cls.lang AND cnt.tok = vocab.tok),
           |prior AS (SELECT cls.lang,
           |    ln(CAST(cls.nc AS DOUBLE) / (SELECT sum(nc) FROM cls))
           |      AS lprior FROM cls),
           |sc AS (SELECT ttok.doc_id, dense.lang,
           |    sum(dense.lp) AS ll FROM ttok
           |  JOIN dense ON dense.tok = ttok.tok GROUP BY 1, 2),
           |scored AS (SELECT sc.doc_id, sc.lang,
           |    sc.ll + prior.lprior AS score
           |  FROM sc JOIN prior ON prior.lang = sc.lang),
           |pred AS (SELECT doc_id, lang AS plang FROM (SELECT *,
           |    row_number() OVER (PARTITION BY doc_id
           |      ORDER BY score DESC, lang) AS rn FROM scored)
           |  WHERE rn = 1)
           |SELECT testtl.lang, CAST(count(*) AS BIGINT) AS n_test,
           |  CAST(sum(CASE WHEN pred.plang = testtl.lang THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_correct,
           |  CAST(sum(CASE WHEN pred.plang = testtl.lang THEN 1 ELSE 0 END)
           |    * 1000 // count(*) AS BIGINT) AS acc_milli
           |FROM testtl JOIN pred ON pred.doc_id = testtl.doc_id
           |GROUP BY testtl.lang ORDER BY testtl.lang
           |""".stripMargin
      },
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        // per-lang dialect remap: ~25% of (lang, token) pairs hash-gated
        // to a lang-marked spelling — the orthographic signal language ID
        // actually keys on (the raw pool is lang-identical; see scaladoc)
        val dial = docs.select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("tok"))
          .withColumn("tok",
            when(H.md5Prefix(concat(lit("d:"), col("lang"),
              lit(":"), col("tok")), 2) % 4 === 0,
              concat(col("tok"), lit("_"), col("lang")))
              .otherwise(col("tok")))
          .localCheckpoint() // feeds train stream + test stream
        val tt = dial.filter(col("doc_id") % 5 =!= 0).select("lang", "tok")
        val ttok = dial.filter(col("doc_id") % 5 === 0)
          .select("doc_id", "tok")
        val testtl = dial.filter(col("doc_id") % 5 === 0)
          .select("doc_id", "lang").distinct()
        val vocab = tt.select("tok").distinct()
        val cls = docs.filter(col("doc_id") % 5 =!= 0)
          .groupBy("lang").agg(count(lit(1)).cast("long").as("nc"))
        val tot = tt.groupBy("lang").agg(count(lit(1)).cast("long").as("ntok"))
        val v = vocab.agg(count(lit(1)).cast("long").as("v"))
        val cnt = tt.groupBy("lang", "tok").agg(count(lit(1)).cast("long").as("c"))
        // broadcast the 5-row class frame: a crossJoin of two unhinted
        // aggregates can plan a CartesianProduct (the sweep's red flag)
        val dense = broadcast(cls).crossJoin(vocab).crossJoin(broadcast(v))
          .join(tot, Seq("lang"))
          .join(cnt, Seq("lang", "tok"), "left")
          .select(col("lang"), col("tok"),
            log((coalesce(col("c"), lit(0L)) + 1.0)
              / (col("ntok") + col("v"))).as("lp"))
        val prior = cls.crossJoin(broadcast(
            cls.agg(sum("nc").cast("double").as("allc"))))
          .select(col("lang"), log(col("nc").cast("double") / col("allc"))
            .as("lprior"))
        val sc = ttok.join(dense, Seq("tok"))
          .groupBy("doc_id", "lang").agg(sum("lp").as("ll"))
        val scored = sc.join(prior, Seq("lang"))
          .select(col("doc_id"), col("lang"),
            (col("ll") + col("lprior")).as("score"))
        val pred = scored.withColumn("rn", row_number().over(
            Window.partitionBy("doc_id")
              .orderBy(col("score").desc, col("lang"))))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("lang").as("plang"))
        val out = testtl
          .join(pred, Seq("doc_id"))
          .groupBy("lang").agg(count(lit(1)).cast("long").as("n_test"),
            sum(when(col("plang") === col("lang"), 1).otherwise(0))
              .cast("long").as("n_correct"))
          .withColumn("acc_milli",
            expr("CAST(n_correct * 1000 div n_test AS BIGINT)"))
          .orderBy("lang")
        H.materialized(out, caches = Nil, checkpoints = Seq(dial))
      })
  )
}
