package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Ninety-ninth wave: submodular selection, idempotency proof,
  * ecology-style estimation, and heavy-tail fitting — greedy
  * facility-location coverage (5 rounds of "pick the doc covering the
  * most still-uncovered shingles"), a MERGE applied twice proving
  * exactly-once semantics by construction, Chapman capture-recapture
  * estimating vocabulary size from two hash samples, and the
  * power-law exponent MLE on the co-supplier degree tail.
  *
  * Exactness: coverage gains are exact shingle counts with (gain desc,
  * doc_id) tiebreaks; the Spark side loops with checkpoints while the
  * oracle unrolls the SAME greedy into five CTE stages. The merge
  * proof compares full key-value states, not row counts. Chapman and
  * the MLE quantize their single float appearance to micro per term.
  */
object CoverageOpsQueries extends QueryModule {

  /** The shared greedy-coverage SQL, unrolled to `k` rounds (DuckDB
    * dialect; the Spark side implements the identical greedy as a
    * checkpointed loop). */
  private def greedySql(k: Int): String = {
    val stages = (1 to k).map { r =>
      val cov = if (r == 1) "" else
        s"LEFT JOIN cov${r - 1} c ON c.s = sh.s WHERE c.s IS NULL "
      val covNext =
        if (r == 1) s"cov1 AS (SELECT s FROM sh WHERE doc_id = (SELECT doc_id FROM pick1))"
        else s"cov$r AS (SELECT s FROM cov${r - 1} UNION SELECT s FROM sh WHERE doc_id = (SELECT doc_id FROM pick$r))"
      s"""pick$r AS (SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS gain
         |  FROM sh $cov
         |  GROUP BY 1 ORDER BY gain DESC, sh.doc_id LIMIT 1),
         |$covNext""".stripMargin
    }.mkString(",\n")
    val fin = (1 to k).map(r =>
      s"SELECT $r AS round, doc_id, gain FROM pick$r")
      .mkString(" UNION ALL ")
    s"""WITH tok AS (SELECT doc_id,
       |  unnest(string_split(text, ' ')) AS w,
       |  generate_subscripts(string_split(text, ' '), 1) AS i
       |  FROM documents WHERE doc_id < 2000),
       |tri AS (SELECT doc_id,
       |  w || '|' || lead(w, 1) OVER pw || '|' || lead(w, 2) OVER pw
       |    AS s
       |  FROM tok WHERE w <> ''
       |  WINDOW pw AS (PARTITION BY doc_id ORDER BY i)),
       |sh AS (SELECT DISTINCT doc_id, s FROM tri WHERE s IS NOT NULL),
       |$stages
       |SELECT round, CAST(doc_id AS BIGINT) AS doc_id, gain,
       |  CAST(sum(gain) OVER (ORDER BY round
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS covered_total
       |FROM ($fin) ORDER BY round
       |""".stripMargin
  }

  def all: Seq[Q] = Seq(

    // Greedy facility-location coverage over 3-shingles (docs < 2000
    // keep the oracle's unrolled five-stage SQL tractable): each round
    // picks the document covering the most still-uncovered shingles —
    // the classic (1−1/e) submodular-curation baseline for "which k
    // docs summarize the corpus". Spark loops the rounds with a
    // checkpointed covered-set (the shingle frame materializes ONCE);
    // candidates re-rank by exact anti-join counts each round.
    Q("select_greedy_coverage",
      Some(greedySql(5)),
      (s, dir) => {
        val sh = tbl(s, dir, "documents")
          .filter(col("doc_id") < 2000)
          .select(col("doc_id"), posexplode(split(col("text"), " ", -1)))
          .withColumnRenamed("col", "w").withColumnRenamed("pos", "i")
          .filter(col("w") =!= "")
          .withColumn("s", concat_ws("|", col("w"),
            lead("w", 1).over(Window.partitionBy("doc_id").orderBy("i")),
            lead("w", 2).over(Window.partitionBy("doc_id").orderBy("i"))))
          .filter(size(split(col("s"), "\\|", -1)) === 3)
          .select("doc_id", "s").distinct()
          .localCheckpoint()
        var cov: DataFrame = null
        val picks = Seq.newBuilder[(Int, Long, Long)]
        (1 to 5).foreach { r =>
          val rem = if (cov == null) sh
            else sh.join(cov, Seq("s"), "left_anti")
          // one-row argmax fetch per round: the greedy's sequential
          // decision is inherently driver-side (same boundary as the
          // BPE merge loop); all counting stays distributed
          val best = rem.groupBy("doc_id")
            .agg(count(lit(1)).cast("long").as("gain"))
            .orderBy(col("gain").desc, col("doc_id")).limit(1)
            .collect()(0)
          val (d, g) = (best.getLong(0), best.getLong(1))
          picks += ((r, d, g))
          val newCov = sh.filter(col("doc_id") === d).select("s")
          cov = (if (cov == null) newCov else cov.unionByName(newCov))
            .distinct().localCheckpoint()
        }
        import s.implicits._
        val out = picks.result()
          .toDF("round", "doc_id", "gain")
          .withColumn("covered_total",
            sum("gain").over(Window.orderBy("round")
              .rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
          .select(col("round").cast("int").as("round"), col("doc_id"),
            col("gain"), col("covered_total"))
          .orderBy("round")
        H.materialized(out, Nil, Seq(sh))
      }),

    // MERGE applied twice == MERGE applied once, proven on full
    // key-value state: base = pre-1998 latest order state, delta =
    // 1998 upserts; apply keeps the (date, status) argmax per key.
    // s2 = apply(apply(base, delta), delta) must equal s1 cell-for-
    // cell — the idempotency contract that makes pipeline retries
    // safe. Output: key counts and the number of differing keys
    // (zero), computed — not assumed — in both engines.
    Q("pipeline_idempotent_merge",
      Some(
        """WITH base AS (SELECT o_orderkey AS k,
          |  strftime(o_orderdate, '%Y-%m-%d') || '|' || o_orderstatus
          |    AS st FROM orders WHERE year(o_orderdate) <= 1997),
          |delta AS (SELECT o_orderkey AS k,
          |  strftime(o_orderdate, '%Y-%m-%d') || '|' || o_orderstatus
          |    AS st FROM orders WHERE year(o_orderdate) = 1998),
          |s1 AS (SELECT k, max(st) AS st
          |  FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
          |  GROUP BY 1),
          |s2 AS (SELECT k, max(st) AS st
          |  FROM (SELECT * FROM s1 UNION ALL SELECT * FROM delta)
          |  GROUP BY 1),
          |d AS (SELECT count(*) AS diffs FROM s1 JOIN s2 ON s2.k = s1.k
          |  WHERE s2.st <> s1.st)
          |SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_keys_1,
          |  (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_keys_2,
          |  (SELECT CAST(diffs AS BIGINT) FROM d) AS n_diff_keys
          |""".stripMargin),
      (s, dir) => {
        val o = tbl(s, dir, "orders")
          .select(col("o_orderkey").as("k"),
            concat(date_format(col("o_orderdate"), "yyyy-MM-dd"),
              lit("|"), col("o_orderstatus")).as("st"),
            year(col("o_orderdate")).as("yr"))
        val base = o.filter(col("yr") <= 1997).select("k", "st")
        val delta = o.filter(col("yr") === 1998).select("k", "st")
          .localCheckpoint() // applied twice
        def apply1(st: DataFrame) = st.unionByName(delta)
          .groupBy("k").agg(max(col("st")).as("st"))
        val s1 = apply1(base).localCheckpoint()
        val s2 = apply1(s1)
        val d = s1.as("a").join(s2.as("b"), col("b.k") === col("a.k"))
          .filter(col("b.st") =!= col("a.st"))
          .agg(count(lit(1)).cast("long").as("diffs"))
        val out = s1.agg(count(lit(1)).cast("long").as("n_keys_1"))
          .crossJoin(s2.agg(count(lit(1)).cast("long").as("n_keys_2")))
          .crossJoin(broadcast(d.select(col("diffs").as("n_diff_keys"))))
        H.materialized(out, Nil, Seq(delta, s1))
      }),

    // Chapman capture-recapture for vocabulary size: two deterministic
    // document samples (md5 parity of doc_id), each "captures" its
    // token set; the overlap estimates total vocabulary
    // N̂ = (nA+1)(nB+1)/(m+1) − 1 — the ecology estimator data teams
    // use to judge "how much vocabulary haven't we crawled yet"
    // WITHOUT scanning everything. The true count rides along for the
    // error in bps. Distinct counts are the only wide ops.
    Q("corpus_vocab_capture_recapture",
      Some {
        val fold = H.md5PrefixSql("CAST(doc_id AS VARCHAR)", 4)
        s"""WITH t AS (SELECT doc_id,
           |  unnest(string_split(text, ' ')) AS w,
           |  $fold % 2 AS inA,
           |  $fold % 3 AS inB
           |  FROM documents),
           |f AS (SELECT w, max(CASE WHEN inA = 0 THEN 1 ELSE 0 END)
           |    AS a, max(CASE WHEN inB = 0 THEN 1 ELSE 0 END) AS b
           |  FROM t WHERE w <> '' GROUP BY 1),
           |g AS (SELECT CAST(count(*) AS BIGINT) AS total,
           |  CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb,
           |  CAST(sum(a * b) AS BIGINT) AS m FROM f)
           |SELECT na AS vocab_a, nb AS vocab_b, m AS overlap,
           |  CAST((na + 1) * (nb + 1) // (m + 1) - 1 AS BIGINT)
           |    AS chapman_est,
           |  total AS true_vocab,
           |  CAST(abs((na + 1) * (nb + 1) // (m + 1) - 1 - total)
           |    * 10000 // total AS BIGINT) AS err_bps
           |FROM g
           |""".stripMargin
      },
      (s, dir) => {
        val fold = H.md5Prefix(col("doc_id").cast("string"), 4)
        val t = tbl(s, dir, "documents")
          .select(col("doc_id"),
            explode(split(col("text"), " ", -1)).as("w"))
          .filter(col("w") =!= "")
          .select(col("w"), (fold % 2).as("inA"), (fold % 3).as("inB"))
        val f = t.groupBy("w")
          .agg(max(when(col("inA") === 0, 1).otherwise(0)).as("a"),
            max(when(col("inB") === 0, 1).otherwise(0)).as("b"))
        f.agg(count(lit(1)).cast("long").as("total"),
            sum(col("a")).cast("long").as("na"),
            sum(col("b")).cast("long").as("nb"),
            sum(col("a") * col("b")).cast("long").as("m"))
          .select(col("na").as("vocab_a"), col("nb").as("vocab_b"),
            col("m").as("overlap"),
            expr("(na + 1) * (nb + 1) div (m + 1) - 1").cast("long")
              .as("chapman_est"),
            col("total").as("true_vocab"),
            expr("abs((na + 1) * (nb + 1) div (m + 1) - 1 - total)" +
              " * 10000 div total").cast("long").as("err_bps"))
      }),

    // Power-law exponent of the co-supplier degree distribution:
    // continuous MLE α = 1 + n / Σ ln(d/(dmin−½)) over the tail
    // d ≥ dmin=2, each log term micro-floored BEFORE the sum. Heavy
    // tails decide shuffle-skew strategy — α < 2 means hub salting is
    // mandatory, α > 3 means hash partitioning is fine — so the fit is
    // operational, not decorative. Degree frame is |V|-bounded.
    Q("graph_powerlaw_alpha",
      Some(
        """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
          |e AS (SELECT x.l_suppkey AS a, y.l_suppkey AS b FROM li x
          |  JOIN li y ON x.l_orderkey = y.l_orderkey
          |    AND x.l_suppkey < y.l_suppkey
          |  GROUP BY 1, 2 HAVING count(*) >= 6),
          |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM
          |  (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
          |  GROUP BY 1),
          |tail AS (SELECT d,
          |  CAST(floor(ln(CAST(d AS DOUBLE) / 1.5) * 1000000.0)
          |    AS BIGINT) AS lt
          |  FROM deg WHERE d >= 2),
          |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(lt) AS BIGINT) AS slt FROM tail),
          |a AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg)
          |    AS n_nodes, g.n AS n_tail,
          |  CAST(1000000 + g.n * 1000000000000 // g.slt AS BIGINT)
          |    AS alpha_micro FROM g)
          |SELECT n_nodes, n_tail, alpha_micro FROM a
          |""".stripMargin),
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .select("l_orderkey", "l_suppkey").distinct()
        val e = li.as("x")
          .join(li.as("y"),
            col("x.l_orderkey") === col("y.l_orderkey") &&
              col("x.l_suppkey") < col("y.l_suppkey"))
          .groupBy(col("x.l_suppkey").as("a"), col("y.l_suppkey").as("b"))
          .agg(count(lit(1)).as("w")).filter(col("w") >= 6)
          .select("a", "b")
        val deg = e.select(col("a").as("v"))
          .unionAll(e.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).cast("long").as("d"))
          .localCheckpoint()
        val g = deg.filter(col("d") >= 2)
          .select(floor(log(col("d").cast("double") / 1.5d) *
            1000000.0d).cast("long").as("lt"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("lt")).cast("long").as("slt"))
        val out = g.crossJoin(broadcast(
            deg.agg(count(lit(1)).cast("long").as("n_nodes"))))
          .select(col("n_nodes"), col("n").as("n_tail"),
            expr("1000000 + n * 1000000000000 div slt").cast("long")
              .as("alpha_micro"))
        H.materialized(out, Nil, Seq(deg))
      })
  )
}
