package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Round-11 waves 166-167: weight-proportional sampling and a vocabulary
  * growth-law fit — the two corpus-census ops next to the existing
  * split/stratified/bottom-k samplers and Zipf-alpha estimate.
  *
  * - `sample_priority_weighted`: priority sampling (Duffield-Lund-Thorup,
  *   JACM 2007) — weighted sampling WITHOUT replacement whose top-k-by-
  *   priority selection gives unbiased subset-sum estimates via
  *   ŵ_i = max(w_i, τ) with τ the (k+1)-th priority. The whole scheme is
  *   re-expressed in EXACT integer arithmetic (48-bit md5 fold as the
  *   uniform, priority = w·2^48 // (h+1)) so the engine and the DuckDB
  *   oracle select the identical sample at any scale.
  * - `vocab_heaps_law`: Heaps'/Herdan's law fit V(n) = K·n^β over
  *   doubling corpus prefixes — the vocabulary-growth planning stat a
  *   tokenizer-training pipeline reads before sizing its vocab.
  */
object PrioritySampleOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // PRIORITY SAMPLING: k=64 docs weighted by (capped) n_chars. Priority
    // q_i = w_i / u_i with u_i = (h_i+1)/2^48 computed as the EXACT
    // integer w_i·2^48 // (h_i+1) (w capped at 4096 keeps the product
    // < 2^60 — BIGINT-safe in both engines; the floor vs the true
    // rational only coarsens ties, which the doc_id tie-break resolves
    // identically on both sides). Selection is a global top-65
    // (TakeOrdered: per-partition top-k then a 65-row driver merge — no
    // full sort, no single-partition shuffle of corpus rows), τ is the
    // 65th priority, and the unbiased total estimate is Σ max(w_i, τ)
    // over the 64 sampled docs. One scan + one bounded top-k: the
    // selection cost is Θ(n) map-side work regardless of corpus size.
    Q("sample_priority_weighted",
      Some {
        val fold = H.md5PrefixSql("'pri:' || CAST(doc_id AS VARCHAR)", 12)
        s"""WITH keyed AS (SELECT doc_id, lang,
           |    least(greatest(n_chars, 1), 4096) AS w,
           |    (least(greatest(n_chars, 1), 4096) * 281474976710656)
           |      // (($fold) + 1) AS pkey
           |  FROM documents),
           |top AS (SELECT doc_id, lang, w, pkey,
           |    row_number() OVER (ORDER BY pkey DESC, doc_id) AS rn
           |  FROM (SELECT * FROM keyed ORDER BY pkey DESC, doc_id LIMIT 65)),
           |tau AS (SELECT pkey AS tau FROM top WHERE rn = 65),
           |samp AS (SELECT * FROM top WHERE rn <= 64),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(w) AS BIGINT) AS true_w FROM keyed),
           |est AS (SELECT CAST(count(*) AS BIGINT) AS k,
           |    CAST(sum(samp.w) AS BIGINT) AS sample_w,
           |    CAST(count(DISTINCT samp.lang) AS BIGINT) AS n_langs,
           |    sum(CAST(greatest(samp.w, tau.tau) AS HUGEINT)) AS est_w
           |  FROM samp, tau)
           |SELECT est.k, tot.n_docs, tot.true_w,
           |  CAST(tau.tau AS BIGINT) AS tau, est.sample_w, est.n_langs,
           |  CAST(est.est_w AS VARCHAR) AS est_w,
           |  CAST(abs(est.est_w - tot.true_w) * 1000
           |    // greatest(tot.true_w, 1) AS BIGINT) AS err_milli
           |FROM est, tau, tot
           |""".stripMargin
      },
      (s, dir) => {
        val keyed = tbl(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            least(greatest(col("n_chars"), lit(1L)), lit(4096L)).as("w"),
            H.md5Prefix(concat(lit("pri:"), col("doc_id").cast("string")), 12).as("h"))
          .withColumn("pkey", expr("(w * 281474976710656) div (h + 1)"))
          .localCheckpoint() // scanned twice: top-65 + corpus totals
        // global top-65: TakeOrdered (bounded), then a 65-row window for
        // ranks — single-partition but LIMIT-bounded by construction
        val top = keyed.orderBy(col("pkey").desc, col("doc_id")).limit(65)
          .withColumn("rn", row_number().over(
            Window.orderBy(col("pkey").desc, col("doc_id"))))
        val tau = top.filter(col("rn") === 65)
          .select(col("pkey").as("tau"))
        val samp = top.filter(col("rn") <= 64)
        val tot = keyed.agg(count(lit(1)).cast("long").as("n_docs"),
          sum("w").cast("long").as("true_w"))
        val est = samp.crossJoin(broadcast(tau))
          .agg(count(lit(1)).cast("long").as("k"),
            sum("w").cast("long").as("sample_w"),
            countDistinct("lang").cast("long").as("n_langs"),
            sum(greatest(col("w"), col("tau")).cast("decimal(38,0)"))
              .cast("decimal(38,0)").as("est_w"),
            first("tau").as("tau0"))
        val out = est.crossJoin(broadcast(tot))
          .select(col("k"), col("n_docs"), col("true_w"),
            col("tau0").cast("long").as("tau"), col("sample_w"),
            // HUGEINT-scale total: rendered as text on both sides (the
            // driver compares stringified values; DECIMAL vs HUGEINT
            // disagree on the rendering, trailing ".0" vs bare digits)
            col("n_langs"), col("est_w").cast("string").as("est_w"),
            (abs(col("est_w") - col("true_w")) * 1000 cast "decimal(38,0)")
              .divide(greatest(col("true_w"), lit(1L))).cast("long")
              .as("err_milli"))
        H.materialized(out, caches = Nil, checkpoints = Seq(keyed))
      }),

    // HEAPS' LAW: distinct-vocabulary growth over doubling corpus
    // prefixes (prefix_j = docs with doc_id < 2^j), fit over word
    // 3-GRAM shingles — the corpus generator's unigram vocabulary is a
    // fixed ~31-word pool (saturated by the first handful of docs), so
    // the growth law lives in the combination space, exactly where a
    // shingle-based dedup/tokenizer reads it. V_j needs only each
    // shingle's FIRST document (one min-reduce over the shingle
    // stream); T_j needs only per-doc shingle counts. Both collapse to
    // a ≤22-slot bit-length histogram, so the fit itself is
    // domain-sized: the corpus-sized work is one explode + one
    // map-side-combined reduce. β and K come from the closed-form
    // log-log OLS over the kept checkpoints (j where 2^(j-1) ≤ max
    // doc_id — larger prefixes all equal the full corpus and would
    // flatten the fit).
    Q("vocab_heaps_law",
      Some {
        val js = (2 to 20).map(j =>
          s"(${j}, CAST(${1L << (j - 1)} AS BIGINT))").mkString(", ")
        s"""WITH sh AS (SELECT doc_id, unnest(list_transform(
           |      generate_series(1, len(string_split(text, ' ')) - 2),
           |      i -> string_split(text, ' ')[i] || ' '
           |        || string_split(text, ' ')[i+1] || ' '
           |        || string_split(text, ' ')[i+2])) AS tok
           |  FROM documents),
           |ft AS (SELECT min(doc_id) AS fd FROM sh GROUP BY tok),
           |vh AS (SELECT CASE WHEN fd = 0 THEN 0
           |      ELSE length(bin(fd)) END AS b,
           |    CAST(count(*) AS BIGINT) AS c FROM ft GROUP BY 1),
           |th AS (SELECT CASE WHEN doc_id = 0 THEN 0
           |      ELSE length(bin(doc_id)) END AS b,
           |    CAST(sum(greatest(len(string_split(text, ' ')) - 2, 0))
           |      AS BIGINT) AS c
           |  FROM documents GROUP BY 1),
           |mx AS (SELECT max(doc_id) AS md FROM documents),
           |js(j, thr) AS (VALUES $js),
           |keep AS (SELECT j FROM js, mx WHERE thr <= mx.md),
           |pts AS (SELECT keep.j,
           |    (SELECT CAST(sum(c) AS BIGINT) FROM vh WHERE b <= keep.j) AS v,
           |    (SELECT CAST(sum(c) AS BIGINT) FROM th WHERE b <= keep.j) AS t
           |  FROM keep WHERE
           |    (SELECT sum(c) FROM vh WHERE b <= keep.j) IS NOT NULL),
           |xy AS (SELECT j, ln(CAST(t AS DOUBLE)) AS x,
           |    ln(CAST(v AS DOUBLE)) AS y FROM pts WHERE v >= 1 AND t >= 1),
           |fit AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
           |    sum(y) AS sy, sum(x*x) AS sxx, sum(x*y) AS sxy FROM xy),
           |ab AS (SELECT n,
           |    (n*sxy - sx*sy) / (n*sxx - sx*sx) AS beta,
           |    (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n AS icpt
           |  FROM fit)
           |SELECT ab.n AS n_points,
           |  CAST(floor(ab.beta * 1000000 + 0.5) AS BIGINT) AS beta_micro,
           |  CAST(floor(exp(ab.icpt) * 1000000 + 0.5) AS BIGINT) AS k_micro,
           |  (SELECT CAST(sum(c) AS BIGINT) FROM vh) AS v_total,
           |  (SELECT CAST(sum(c) AS BIGINT) FROM th) AS t_total
           |FROM ab
           |""".stripMargin
      },
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        def bitLen(c: org.apache.spark.sql.Column) =
          when(c === 0, 0).otherwise(length(bin(c))).as("b")
        // 3-gram shingles as a per-row array op (no window, no extra
        // shuffle); sequence() must be guarded — Spark generates a
        // DESCENDING sequence when start > stop, not an empty one.
        // `toks` is PROJECTED once: higher-order lambdas run interpreted
        // (CodegenFallback), and the previous inline form re-evaluated
        // split(text) per lambda reference — the r11 profile put the whole
        // chain at 4.3 s in ONE task, so the shingle pass is also spread
        // across cores (H.spread).
        val shingle = expr(
          """CASE WHEN size(toks) >= 3 THEN
            |  transform(sequence(0, size(toks) - 3),
            |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
            |ELSE array() END""".stripMargin)
        val vh = graft.H.spread(docs, col("doc_id"))
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .select(col("doc_id"), explode(shingle).as("tok"))
          .groupBy("tok").agg(min("doc_id").as("fd"))
          .groupBy(bitLen(col("fd"))).agg(count(lit(1)).cast("long").as("c"))
          .localCheckpoint() // ≤22-slot histogram, read twice
        val th = docs
          .select(bitLen(col("doc_id")),
            greatest(size(split(col("text"), " ")) - 2, lit(0))
              .cast("long").as("nt"))
          .groupBy("b").agg(sum("nt").cast("long").as("c"))
          .localCheckpoint()
        val md = docs.agg(max("doc_id").as("md"))
        val keep = s.createDataFrame((2 to 20).map(j => (j, 1L << (j - 1))))
          .toDF("j", "thr")
          .crossJoin(broadcast(md)).filter(col("thr") <= col("md"))
          .select("j")
        // checkpoint cumulation over the bounded bucket domain: a ≤22×15
        // join + per-j reduce (no single-partition window needed)
        def cum(h: org.apache.spark.sql.DataFrame, out: String) =
          broadcast(keep).join(h, h("b") <= keep("j"))
            .groupBy("j").agg(sum("c").cast("long").as(out))
        val pts = cum(vh, "v").join(cum(th, "t"), Seq("j"))
          .filter(col("v") >= 1 && col("t") >= 1)
          .select(log(col("t").cast("double")).as("x"),
            log(col("v").cast("double")).as("y"))
        val fit = pts.agg(count(lit(1)).cast("long").as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        val out = fit
          .withColumn("beta", (col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")))
          .withColumn("icpt", (col("sy") - col("beta") * col("sx")) / col("n"))
          .crossJoin(broadcast(vh.agg(sum("c").cast("long").as("v_total"))))
          .crossJoin(broadcast(th.agg(sum("c").cast("long").as("t_total"))))
          .select(col("n").as("n_points"),
            floor(col("beta") * 1000000 + 0.5).cast("long").as("beta_micro"),
            floor(exp(col("icpt")) * 1000000 + 0.5).cast("long").as("k_micro"),
            col("v_total"), col("t_total"))
        H.materialized(out, caches = Nil, checkpoints = Seq(vh, th))
      })
  )
}
