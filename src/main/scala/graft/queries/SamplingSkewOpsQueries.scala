package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Round-8 wave 123: coordination-free uniform sampling with a KMV
  * cardinality estimate (the mergeable bottom-k sketch), an explicitly
  * SALTED shuffle join under planted key skew (the manual mitigation for
  * the hot-key join AQE can't always save), and RFM quintile
  * segmentation (the classic customer-value cube).
  */
object SamplingSkewOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // BOTTOM-K MINWISE SAMPLE + KMV ESTIMATE: hash every doc_id to a
    // 32-bit value and keep the k=50 smallest — a uniform sample that
    // needs NO coordination (any shard's bottom-k merges with any
    // other's by re-taking the bottom-k: the min-wise property), plus
    // the k-minimum-values cardinality estimate n̂ = (k-1)·2³²/h_k from
    // the k-th smallest hash (Bar-Yossef et al. 2002). At 100 TB this is
    // THE way to sample uniformly from an unbounded stream of shards:
    // Spark plans TakeOrderedAndProject (per-partition bottom-k, merge
    // at the driver on k rows), never a global sort.
    Q("sample_bottomk_minwise",
      Some {
        s"WITH h AS (SELECT doc_id, CAST(${H.md5PrefixSql("CAST(doc_id AS VARCHAR)", 8)} AS BIGINT) AS hv " +
          "FROM documents), " +
          "bk AS (SELECT doc_id, hv, row_number() OVER (ORDER BY hv, doc_id) AS rnk " +
          "FROM h ORDER BY hv, doc_id LIMIT 50), " +
          "kk AS (SELECT max(hv) AS hk FROM bk) " +
          "SELECT CAST(bk.rnk AS BIGINT) AS rnk, bk.doc_id, bk.hv, " +
          "CAST(49 * 4294967296 // kk.hk AS BIGINT) AS est_n " +
          "FROM bk, kk ORDER BY rnk"
      },
      (s, dir) => {
        val h = tbl(s, dir, "documents")
          .select(col("doc_id"),
            H.md5Prefix(col("doc_id").cast("string"), 8).as("hv"))
        // bottom-k: TakeOrderedAndProject, k rows cross the wire per
        // partition — the merge IS the sketch union
        val bk = h.orderBy(col("hv"), col("doc_id")).limit(50)
          .withColumn("rnk",
            row_number().over(Window.orderBy(col("hv"), col("doc_id")))
              .cast("long"))
        val kk = bk.agg(max("hv").as("hk"))
        bk.crossJoin(broadcast(kk))
          .select(col("rnk"), col("doc_id"), col("hv"),
            expr("49 * 4294967296 div hk").cast("long").as("est_n"))
          .orderBy("rnk")
      }),

    // SALTED SHUFFLE JOIN under planted skew: half of all events map to
    // ONE domain key (dom 0) — the hot-key shape where a plain shuffle
    // join puts 50% of the fact table in a single task. The mitigation
    // when the dimension is too large to broadcast: replicate each dim
    // row across S salt values and route each fact row to ONE salt
    // deterministically, so the hot key's rows spread over S tasks and
    // the join stays exact (every fact row still matches exactly one
    // dim replica). The oracle states the plain join — salting is a
    // physical rewrite, not a semantic one. (AQE's skew-join split
    // handles sort-merge cases after the fact; salting is the a-priori
    // form that also covers aggregations keyed on the hot column.)
    Q("join_salted_skew",
      Some(
        """WITH f AS (SELECT CASE WHEN user_id % 2 = 0 THEN 0
          |    ELSE user_id % 100 END AS dom,
          |  CAST(floor(value*100 + 0.5) AS BIGINT) AS cents FROM events),
          |d AS (SELECT d AS dom,
          |  'dom_' || lpad(CAST(d AS VARCHAR), 2, '0') AS label,
          |  d + 10 AS factor FROM generate_series(0, 99) AS t(d))
          |SELECT d.label, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(f.cents) * d.factor AS BIGINT) AS weighted_cents
          |FROM f JOIN d ON d.dom = f.dom
          |GROUP BY d.label, d.factor ORDER BY d.label
          |""".stripMargin),
      (s, dir) => {
        val SaltN = 8
        val f = H.events(s, dir)
          .select(
            when(pmod(col("user_id"), lit(2)) === 0, 0L)
              .otherwise(pmod(col("user_id"), lit(100))).as("dom"),
            floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"),
            // deterministic fact-side salt: a pure function of the row id
            pmod(col("event_id"), lit(SaltN)).as("salt"))
        val d = s.range(0, 100)
          .select(col("id").as("dom"),
            format_string("dom_%02d", col("id")).as("label"),
            (col("id") + 10).as("factor"))
          // dim replicated S x: (dom, salt) is now a unique key again
          .withColumn("salt", explode(sequence(lit(0L), lit(SaltN - 1L))))
        // shuffle_hash hint: the point is the SHUFFLE join surviving the
        // hot key (a broadcast would dodge the skew and prove nothing) —
        // production dims at this shape are too large to broadcast
        f.join(d.hint("shuffle_hash"), Seq("dom", "salt"))
          .groupBy("label", "factor")
          .agg(count(lit(1)).cast("long").as("n"),
            (sum("cents") * col("factor")).cast("long").as("weighted_cents"))
          .select("label", "n", "weighted_cents")
          .orderBy("label")
      }),

    // RFM SEGMENTATION: per purchasing user — recency (latest purchase),
    // frequency (purchase count), monetary (cents) — each quintiled with
    // ntile(5) SEMANTICS under a DETERMINISTIC total order (metric desc,
    // user_id), then the 5x5x5 segment cube with user counts and money
    // totals: the classic marketing-value partition ("511" =
    // recent-rare-big, "155" = lapsed-frequent-big...). The ORACLE states
    // the textbook ntile windows; the Spark plan computes each quintile
    // via the TWO-PHASE global rank (range partitions + broadcast
    // per-partition offsets — the stats_theil_sen idiom): at 10⁸⁺
    // purchasing users an un-partitioned ntile window would sort the
    // whole user frame in ONE task, three times over (r8 verdict nit #1).
    // The closed-form tile from (rank, n) reproduces ntile's bucket
    // boundaries exactly: the first n%5 buckets carry ceil(n/5) rows.
    Q("events_rfm",
      Some(
        """WITH p AS (SELECT user_id, max(ts) AS last_ts,
          |  CAST(count(*) AS BIGINT) AS freq,
          |  CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT)
          |    AS cents
          |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
          |sc AS (SELECT user_id, cents,
          |  ntile(5) OVER (ORDER BY last_ts DESC, user_id) AS r_score,
          |  ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_score,
          |  ntile(5) OVER (ORDER BY cents DESC, user_id) AS m_score
          |  FROM p)
          |SELECT CAST(r_score AS BIGINT) AS r_score,
          |  CAST(f_score AS BIGINT) AS f_score,
          |  CAST(m_score AS BIGINT) AS m_score,
          |  CAST(count(*) AS BIGINT) AS n_users,
          |  CAST(sum(cents) AS BIGINT) AS segment_cents
          |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
          |""".stripMargin),
      (s, dir) => {
        val (out, chks) = rfmFrames(s, dir)
        H.materialized(out, caches = Nil, checkpoints = chks)
      }))

  /** events_rfm's pre-materialization interior (result, checkpoint frames),
    * exposed so PlanGuardsSpec can assert the no-global-ntile shape that
    * H.materialized otherwise hides behind an RDD scan. */
  def rfmFrames(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
        // the only fact-sized op: one map-side-combined per-user aggregate;
        // everything below runs on the purchasing-USER domain
        val p = H.events(s, dir)
          .filter(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(max("ts").as("last_ts"),
            count(lit(1)).cast("long").as("freq"),
            sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
              .cast("long").as("cents"))
          .localCheckpoint() // read by three rank passes + the cents join
        val nTot = p.agg(count(lit(1)).cast("long").as("n"))
        // ntile(5) bucket from a parallel global rank: first n%5 buckets
        // take n/5+1 rows, the rest n/5 (CASE keeps the n/5==0 divisor
        // branch unevaluated when every row lands in the WHEN arm)
        def tileExpr(rk: String) =
          s"CAST(CASE WHEN $rk <= (n % 5) * (n div 5 + 1) " +
            s"THEN ($rk - 1) div (n div 5 + 1) + 1 " +
            s"ELSE (n % 5) + ($rk - 1 - (n % 5) * (n div 5 + 1)) div " +
            s"(n div 5) + 1 END AS BIGINT)"
        def quintile(ord: Seq[Column], out: String) = {
          val (ranked, pp) = H.globalRank(p, ord, "rk")
          (ranked.crossJoin(broadcast(nTot))
            .select(col("user_id").as(s"u_$out"),
              expr(tileExpr("rk")).as(out)), pp)
        }
        val (r, ppr) = quintile(Seq(col("last_ts").desc, col("user_id")), "r_score")
        val (f, ppf) = quintile(Seq(col("freq").desc, col("user_id")), "f_score")
        val (m, ppm) = quintile(Seq(col("cents").desc, col("user_id")), "m_score")
        val sc = p.select(col("user_id"), col("cents"))
          .join(r, col("user_id") === col("u_r_score"))
          .join(f, col("user_id") === col("u_f_score"))
          .join(m, col("user_id") === col("u_m_score"))
        val out = sc.groupBy("r_score", "f_score", "m_score")
          .agg(count(lit(1)).cast("long").as("n_users"),
            sum("cents").cast("long").as("segment_cents"))
          .orderBy("r_score", "f_score", "m_score")
        (out, Seq(p, ppr, ppf, ppm))
  }
}
