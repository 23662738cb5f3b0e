package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl
import graft.functions.{DedupSketches => DS}

/** Hundred-sixth wave: paired testing, column-level parity, dedup
  * threshold economics, and log-file ingestion — the Wilcoxon
  * signed-rank test on per-customer year-over-year spend (the paired
  * complement to wave 48's Mann-Whitney), per-COLUMN order-invariant
  * checksums (locating WHICH column diverged after a copy), the
  * jaccard-threshold removal curve (pairs and docs removed at each
  * candidate θ — the dedup aggressiveness dial priced from ONE
  * candidate pass), and whole-line log-text ingestion parsed back by
  * regex.
  *
  * Exactness: signed ranks ride at 2× with average ties from the |d|
  * histogram and tie-corrected variance ×24 in HUGEINT; checksums are
  * the wave-89 md5 fold summed in DECIMAL per column; threshold
  * buckets compare exact rational jaccards; log parsing is pinned by
  * the oracle aggregating the source rows directly.
  */
object PairedTestOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // Wilcoxon signed-rank: per-customer spend 1996 vs 1997 (both
    // years required), zero diffs dropped, |d| ranks at 2× with
    // average ties from the value-count histogram, W⁺ in
    // HUGEINT/DECIMAL, tie-corrected variance ×24, z micro-floored.
    // The paired test that respects who-is-who across years — the
    // independent-samples tests can't see within-customer change.
    Q("stats_wilcoxon_signed_rank",
      Some(
        """WITH y AS (SELECT o_custkey AS ck, year(o_orderdate) AS yr,
          |  CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))
          |    AS BIGINT) AS cents
          |  FROM orders WHERE year(o_orderdate) IN (1996, 1997)
          |  GROUP BY 1, 2),
          |p AS (SELECT a.ck, b.cents - a.cents AS d
          |  FROM (SELECT * FROM y WHERE yr = 1996) a
          |  JOIN (SELECT * FROM y WHERE yr = 1997) b ON b.ck = a.ck
          |  WHERE b.cents <> a.cents),
          |h AS (SELECT abs(d) AS ad,
          |  CAST(count(*) AS BIGINT) AS t,
          |  CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS tp
          |  FROM p GROUP BY 1),
          |c AS (SELECT ad, t, tp,
          |  CAST(coalesce(sum(t) OVER (ORDER BY ad
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |    AS BIGINT) AS bef,
          |  CAST(sum(t) OVER () AS BIGINT) AS n FROM h),
          |w AS (SELECT
          |  sum(CAST(tp AS HUGEINT) * (2*bef + t + 1)) AS w2,
          |  CAST(max(n) AS BIGINT) AS n,
          |  sum(CAST(t AS HUGEINT)*t*t - t) AS tie3 FROM c)
          |SELECT n AS n_pairs, CAST(w2 AS VARCHAR) AS w_plus_2x,
          |  CAST(floor((CAST(w2 AS DOUBLE)/2.0
          |    - CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)+1.0)/4.0)
          |    / sqrt((CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)+1.0)
          |      *(2.0*CAST(n AS DOUBLE)+1.0)
          |      - CAST(tie3 AS DOUBLE)/2.0) / 24.0)
          |    * 1000000.0) AS BIGINT) AS z_micro
          |FROM w
          |""".stripMargin),
      (s, dir) => {
        val y = tbl(s, dir, "orders")
          .filter(year(col("o_orderdate")).isin(1996, 1997))
          .groupBy(col("o_custkey").as("ck"),
            year(col("o_orderdate")).as("yr"))
          .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5))
            .cast("long")).cast("long").as("cents"))
        val p = y.filter(col("yr") === 1996)
          .select(col("ck"), col("cents").as("c96"))
          .join(y.filter(col("yr") === 1997)
            .select(col("ck").as("ck2"), col("cents").as("c97")),
            col("ck") === col("ck2"))
          .filter(col("c97") =!= col("c96"))
          .select((col("c97") - col("c96")).as("d"))
        val h = p.groupBy(abs(col("d")).as("ad"))
          .agg(count(lit(1)).cast("long").as("t"),
            sum(when(col("d") > 0, 1L).otherwise(0L)).cast("long")
              .as("tp"))
        val wb = Window.orderBy("ad")
          .rowsBetween(Window.unboundedPreceding, -1)
        val c = h
          .withColumn("bef", coalesce(sum(col("t")).over(wb), lit(0L))
            .cast("long"))
          .withColumn("n",
            sum(col("t")).over(Window.partitionBy()).cast("long"))
        c.agg(
            sum(col("tp").cast("decimal(38,0)") *
              (lit(2) * col("bef") + col("t") + 1))
              .cast("decimal(38,0)").as("w2"),
            max(col("n")).cast("long").as("n"),
            sum(col("t").cast("decimal(38,0)") * col("t") * col("t") -
              col("t")).cast("decimal(38,0)").as("tie3"))
          .select(col("n").as("n_pairs"),
            col("w2").cast("string").as("w_plus_2x"),
            floor((col("w2").cast("double") / 2.0d -
              col("n").cast("double") *
                (col("n").cast("double") + 1.0d) / 4.0d) /
              sqrt((col("n").cast("double") *
                (col("n").cast("double") + 1.0d) *
                (lit(2.0d) * col("n").cast("double") + 1.0d) -
                col("tie3").cast("double") / 2.0d) / 24.0d) *
              1000000.0d).cast("long").as("z_micro"))
      }),

    // Column-level checksums for the orders table: per column an
    // order-invariant md5-fold sum plus the exact distinct count —
    // after a failed table-level parity check (wave 89), THIS locates
    // the diverging column without row-by-row diffing. One stack to
    // long form, one keyed aggregation.
    Q("dq_column_checksums",
      Some {
        def one(cn: String, e: String) = {
          val fold = H.md5PrefixSql(e, 12)
          s"SELECT '$cn' AS col_name, CAST(sum(CAST($fold AS HUGEINT))" +
            s" AS VARCHAR) AS checksum, CAST(count(DISTINCT $e)" +
            s" AS BIGINT) AS n_distinct FROM orders"
        }
        Seq(
          one("o_custkey", "CAST(o_custkey AS VARCHAR)"),
          one("o_orderdate", "strftime(o_orderdate, '%Y-%m-%d')"),
          one("o_orderkey", "CAST(o_orderkey AS VARCHAR)"),
          one("o_orderpriority", "o_orderpriority"),
          one("o_orderstatus", "o_orderstatus"),
          one("o_totalprice",
            "CAST(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)" +
              " AS VARCHAR)"))
          .mkString("", " UNION ALL ", " ORDER BY col_name")
      },
      (s, dir) => {
        val o = tbl(s, dir, "orders")
          .select(col("o_custkey").cast("string").as("c1"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("c2"),
            col("o_orderkey").cast("string").as("c3"),
            col("o_orderpriority").as("c4"),
            col("o_orderstatus").as("c5"),
            floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
              .cast("string").as("c6"))
        val lng = o.select(expr("stack(6, 'o_custkey', c1," +
          " 'o_orderdate', c2, 'o_orderkey', c3, 'o_orderpriority'," +
          " c4, 'o_orderstatus', c5, 'o_totalprice', c6)" +
          " AS (col_name, sval)"))
        lng.groupBy("col_name")
          .agg(sum(H.md5Prefix(col("sval"), 12).cast("decimal(38,0)"))
              .cast("decimal(38,0)").cast("string").as("checksum"),
            countDistinct(col("sval")).cast("long").as("n_distinct"))
          .orderBy("col_name")
      }),

    // Dedup threshold curve: from ONE MinHash-band candidate pass,
    // the exact-jaccard distribution bucketed at the candidate
    // thresholds — pairs at ≥ θ and documents removed under the
    // keep-smaller-id policy, for θ ∈ {0.3, 0.5, 0.7, 0.9}. The
    // aggressiveness dial (how much corpus does each θ cost?) priced
    // without re-running the pipeline per setting.
    Q("dedup_threshold_curve",
      Some {
        s"WITH sh AS (${DS.shinglesSql(3)}), " +
          s"sig AS (${DS.minhashSignatureSql}), " +
          s"bands AS (${DS.lshBandsSql}), " +
          "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
          "FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key " +
          "AND a.doc_id < b.doc_id), " +
          "counts AS (SELECT doc_id, n FROM sig), " +
          "inter AS (SELECT doc_a, doc_b, count(*) AS ni FROM cand " +
          "JOIN sh sa ON sa.doc_id = doc_a " +
          "JOIN sh sb ON sb.doc_id = doc_b AND sb.shingle = sa.shingle " +
          "GROUP BY doc_a, doc_b), " +
          "j AS (SELECT c.doc_a, c.doc_b, " +
          "CAST(coalesce(ni, 0) AS DOUBLE) / " +
          "CAST(ca.n + cb.n - coalesce(ni, 0) AS DOUBLE) AS jac " +
          "FROM cand c JOIN counts ca ON ca.doc_id = c.doc_a " +
          "JOIN counts cb ON cb.doc_id = c.doc_b " +
          "LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b), " +
          "th(theta_milli) AS (VALUES (300), (500), (700), (900)) " +
          "SELECT CAST(th.theta_milli AS BIGINT) AS theta_milli, " +
          "CAST(count(CASE WHEN j.jac * 1000 >= th.theta_milli THEN 1 " +
          "END) AS BIGINT) AS n_pairs, " +
          "CAST(count(DISTINCT CASE WHEN j.jac * 1000 >= th.theta_milli " +
          "THEN j.doc_b END) AS BIGINT) AS docs_removed " +
          "FROM th LEFT JOIN j ON true GROUP BY 1 ORDER BY 1"
      },
      (s, dir) => {
        import s.implicits._
        val sh = DS.shingles(tbl(s, dir, "documents"), 3).cache()
        val sig = DS.minhashSignature(sh).cache()
        val cand = DS.lshBands(sig)
          .select(col("band"), col("key"), col("doc_id").as("doc_a"))
          .join(DS.lshBands(sig)
            .select(col("band"), col("key"), col("doc_id").as("doc_b")),
            Seq("band", "key"))
          .filter(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b").distinct()
          .localCheckpoint()
        val j = DS.verifiedJaccard(cand, sh,
          Some(sig.select(col("doc_id"), col("n"))))
        val th = Seq(300, 500, 700, 900).toDF("theta_milli")
        val out = j.crossJoin(broadcast(th))
          .groupBy(col("theta_milli").cast("long").as("theta_milli"))
          .agg(count(when(col("jaccard") * 1000 >= col("theta_milli"),
              1)).cast("long").as("n_pairs"),
            countDistinct(when(col("jaccard") * 1000 >=
              col("theta_milli"), col("doc_b"))).cast("long")
              .as("docs_removed"))
          .orderBy("theta_milli")
        H.materialized(out, caches = Seq(sh, sig),
          checkpoints = Seq(cand))
      }),

    // Whole-line log ingestion: events rendered as syslog-ish lines,
    // written through the TEXT sink, read back with spark.read.text
    // and regex-parsed into columns — the "someone gave us log files"
    // ETL path. The oracle aggregates the source rows directly, so a
    // single mis-parsed line breaks the count or the sum.
    Q("source_text_logparse",
      Some(
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT)
          |    AS cents
          |FROM events WHERE event_id < 3000 GROUP BY 1 ORDER BY 1
          |""".stripMargin),
      (s, dir) => {
        val out = H.tmpDir("graft_log") + "/lines"
        H.events(s, dir)
          .filter(col("event_id") < 3000)
          .select(concat(lit("evt id="), col("event_id"),
            lit(" type="), col("event_type"),
            lit(" cents="),
            floor(col("value") * 100 + lit(0.5)).cast("long"),
            lit(" user="), col("user_id")).as("value"))
          .coalesce(1).write.mode("overwrite").text(out)
        s.read.text(out)
          .select(
            regexp_extract(col("value"), "type=(\\w+) ", 1)
              .as("event_type"),
            regexp_extract(col("value"), "cents=(-?\\d+) ", 1)
              .cast("long").as("cents"))
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("cents")).cast("long").as("cents"))
          .orderBy("event_type")
      })
  )
}
