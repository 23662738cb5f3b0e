package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{H, Q, QueryModule}
import graft.H.{dec2, sumMoney, tbl}

/** Round-4 scale-operations wave: runtime bloom-filter join pruning,
  * range-sorted file layout with min/max pruning, interpolated percentiles,
  * mode()/FILTER aggregates, executed observe() telemetry, ntile binning,
  * Unicode canonicalization (native expression), and an exactly-computable
  * character-concentration quality signal.
  */
object ScaleOpsQueries extends QueryModule {

  /** Morton/Z-order interleave of the low `bits` bits of two non-negative
    * ints, emitted ONCE as a Scala loop that renders both the Spark Column
    * tree and the DuckDB SQL — the two engines evaluate structurally
    * identical integer bit arithmetic, so the z-value itself is judged,
    * not just the rows it orders. */
  private val ZBits = 16
  private def zorder(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until ZBits).map { k =>
      shiftleft(shiftrightunsigned(x, k).bitwiseAND(lit(1L)), 2 * k)
        .bitwiseOR(shiftleft(shiftrightunsigned(y, k).bitwiseAND(lit(1L)), 2 * k + 1))
    }.reduce(_ bitwiseOR _)
  private def zorderSql(x: String, y: String): String =
    (0 until ZBits).map { k =>
      s"(((($x >> $k) & 1) << ${2 * k}) | ((($y >> $k) & 1) << ${2 * k + 1}))"
    }.mkString("(", " | ", ")")

  def all: Seq[Q] = Seq(

    // ---- Runtime bloom-filter join pruning ------------------------------
    //
    // The 100 TB case: fact ⋈ selective dim where the dim side is too big
    // to broadcast. Spark's runtime row-level filtering builds a bloom
    // filter from the dim's join keys as a scalar subquery and injects
    // might_contain(...) into the fact scan, so most fact rows die before
    // the shuffle instead of after it. Here the thresholds are lowered (and
    // broadcast disabled) so the sf-scale plan is shaped exactly like the
    // 100 TB plan: the optimized plan carries bloom_filter_agg on the
    // orders side and might_contain above the lineitem scan. The bloom is a
    // prefilter only — the exact join still runs, so results are exact.
    Q("join_bloom_prefilter",
      Some("SELECT l.l_orderkey, CAST(count(*) AS BIGINT) AS n_items, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue " +
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "WHERE o.o_orderpriority = '1-URGENT' " +
        "GROUP BY 1 ORDER BY 1"),
      (s, dir) => {
        // child session: conf changes are invisible to concurrently-planned
        // queries in the main session (same pattern as the streaming group)
        val ss = s.newSession()
        ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
        ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val l = tbl(ss, dir, "lineitem")
        val o = tbl(ss, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy(l("l_orderkey"))
          .agg(count(lit(1)).as("n_items"),
            sumMoney(col("l_extendedprice")).as("revenue"))
          .orderBy("l_orderkey")
      }),

    // ---- Range-sorted layout + min/max pruning --------------------------
    //
    // The write path that makes a 100 TB time-series table cheap to query:
    // repartitionByRange on the time column (range shuffle → each output
    // file owns a disjoint time slice) + sortWithinPartitions (rows sorted
    // inside each file → tight parquet row-group min/max). A reader with a
    // time predicate then skips whole files/row-groups instead of scanning
    // the table. The read-back below carries the filter into the pruned
    // scan; results are judged against the unsorted original.
    Q("layout_range_sorted",
      Some("SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, " +
        "CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue " +
        "FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1995-03-01' AND l_shipdate < TIMESTAMP '1995-06-01' " +
        "GROUP BY 1 ORDER BY 1"),
      (s, dir) => {
        val tmp = H.tmpDir("graft_layout") + "/lineitem_sorted"
        tbl(s, dir, "lineitem")
          .repartitionByRange(8, col("l_shipdate"))
          .sortWithinPartitions("l_shipdate")
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp)
          .filter(col("l_shipdate") >= lit("1995-03-01").cast("timestamp") &&
            col("l_shipdate") < lit("1995-06-01").cast("timestamp"))
          .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
          .agg(count(lit(1)).as("n"),
            sumMoney(col("l_extendedprice")).as("revenue"))
          .orderBy("ship_month")
      }),

    // ---- Interpolated percentiles (exact, WITHIN GROUP) -----------------
    //
    // percentile_cont semantics: Spark's exact `percentile` aggregate vs
    // DuckDB's percentile_cont. Exactness of the compare: l_quantity is
    // integer-valued, and 0.25/0.5/0.75 are exact binary fractions, so the
    // interpolation lo + (hi-lo)*f is a product and sum of exactly
    // representable doubles — bit-identical in both engines.
    Q("agg_percentile_cont",
      Some("SELECT l_returnflag, " +
        "percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25, " +
        "percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS p50, " +
        "percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity) AS p75, " +
        "median(l_quantity) AS med " +
        "FROM lineitem GROUP BY 1 ORDER BY 1"),
      (s, dir) =>
        tbl(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(percentile(col("l_quantity"), lit(0.25)).as("p25"),
            percentile(col("l_quantity"), lit(0.5)).as("p50"),
            percentile(col("l_quantity"), lit(0.75)).as("p75"),
            median(col("l_quantity")).as("med"))
          .orderBy("l_returnflag")),

    // ---- mode() WITHIN GROUP + FILTER-clause aggregates -----------------
    //
    // mode's tie behavior is engine-defined, so the mode target is a
    // structurally-skewed size class (small=50%, medium=30%, big=20% of the
    // uniform 1..50 quantity) — the argmax is unique at any scale factor.
    // FILTER (WHERE ...) plans as a conditional partial aggregate: one scan,
    // no per-predicate self-joins. Quantity sums are integer-valued doubles
    // (exact, order-independent).
    Q("agg_mode_filter",
      Some("SELECT l_returnflag, " +
        "mode(CASE WHEN l_quantity <= 25 THEN 'small' " +
        "WHEN l_quantity <= 40 THEN 'medium' ELSE 'big' END) AS size_mode, " +
        "CAST(count(*) FILTER (WHERE l_quantity > 40) AS BIGINT) AS n_big, " +
        "CAST(count(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS n_f, " +
        "sum(l_quantity) FILTER (WHERE l_discount < 0.05) AS qty_lowdisc " +
        "FROM lineitem GROUP BY 1 ORDER BY 1"),
      (s, dir) => {
        tbl(s, dir, "lineitem").createOrReplaceTempView("graft_modef_l")
        s.sql("""SELECT l_returnflag,
          mode() WITHIN GROUP (ORDER BY CASE WHEN l_quantity <= 25 THEN 'small'
            WHEN l_quantity <= 40 THEN 'medium' ELSE 'big' END) AS size_mode,
          count(*) FILTER (WHERE l_quantity > 40) AS n_big,
          count(*) FILTER (WHERE l_linestatus = 'F') AS n_f,
          sum(l_quantity) FILTER (WHERE l_discount < 0.05) AS qty_lowdisc
          FROM graft_modef_l GROUP BY 1 ORDER BY 1""")
      }),

    // ---- Executed observe() telemetry -----------------------------------
    //
    // Pipeline telemetry without a second scan: CollectMetrics piggybacks
    // accumulator-style aggregates on a query's one pass (the reference
    // re-queries its sink for run-report counts — O23; observe() is the
    // engine-native shape of that report). The observed row itself is the
    // judged result.
    Q("obs_metrics",
      Some("SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total, " +
        "min(o_orderkey) AS min_key, max(o_orderkey) AS max_key FROM orders"),
      (s, dir) => {
        import s.implicits._
        val obs = new org.apache.spark.sql.Observation()
        val observed = tbl(s, dir, "orders").observe(obs,
          count(lit(1)).as("n_rows"),
          sumMoney(col("o_totalprice")).as("total"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        observed.write.format("noop").mode("overwrite").save()
        val m = obs.get
        Seq((m("n_rows").asInstanceOf[Long], m("total").asInstanceOf[Double],
          m("min_key").asInstanceOf[Long], m("max_key").asInstanceOf[Long]))
          .toDF("n_rows", "total", "min_key", "max_key")
      }),

    // ---- ntile equal-frequency binning ----------------------------------
    //
    // Deciles of order value inside each priority class. ntile's row→bin
    // assignment depends on the total order, so the sort key is made
    // deterministic ((o_totalprice, o_orderkey)) — ties can't straddle a
    // bin boundary differently between engines.
    Q("win_ntile_binning",
      Some("WITH b AS (SELECT o_orderpriority, o_totalprice, " +
        "ntile(10) OVER (PARTITION BY o_orderpriority " +
        "ORDER BY o_totalprice, o_orderkey) AS bin FROM orders) " +
        "SELECT o_orderpriority, bin, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(min(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS lo, " +
        "CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS hi " +
        "FROM b GROUP BY 1, 2 ORDER BY 1, 2"),
      (s, dir) =>
        tbl(s, dir, "orders")
          .withColumn("bin", ntile(10).over(Window
            .partitionBy("o_orderpriority")
            .orderBy(col("o_totalprice"), col("o_orderkey"))))
          .groupBy("o_orderpriority", "bin")
          .agg(count(lit(1)).as("n"),
            min(dec2(col("o_totalprice"))).cast("double").as("lo"),
            max(dec2(col("o_totalprice"))).cast("double").as("hi"))
          .orderBy("o_orderpriority", "bin")),

    // ---- Unicode canonicalization (native expression) -------------------
    //
    // canon_text = NFC-compose + strip diacritics: the normalization pass a
    // multilingual corpus needs before hashing/dedup (bytes differ between
    // composed and decomposed forms of the same text; shingle/minhash keys
    // would too). Native codegen expression with an ASCII fast path that
    // returns the input UTF8String untouched. Fixture accents are planted
    // per doc_id since the synthetic corpus is ASCII; the oracle is
    // DuckDB's independent strip_accents(nfc_normalize(...)).
    Q("text_normalize_unicode",
      Some("WITH p AS (SELECT doc_id, " +
        "CASE doc_id % 4 WHEN 0 THEN 'résumé of ' " +
        "WHEN 1 THEN 'naïve Ångström ' " +
        "WHEN 2 THEN 'déjà vu ' " +  // decomposed combining marks
        "ELSE '' END || substr(text, 1, 40) AS t FROM documents), " +
        "n AS (SELECT doc_id, strip_accents(nfc_normalize(t)) AS canon, t " +
        "FROM p) " +
        "SELECT doc_id, canon, " +
        "CAST(CASE WHEN canon = t THEN 1 ELSE 0 END AS BIGINT) AS was_clean " +
        "FROM n ORDER BY doc_id"),
      (s, dir) => {
        import graft.functions.CustomExpressions.canon_text
        val planted = tbl(s, dir, "documents")
          .select(col("doc_id"),
            concat(
              when(pmod(col("doc_id"), lit(4)) === 0, lit("résumé of "))
                .when(pmod(col("doc_id"), lit(4)) === 1, lit("naïve Ångström "))
                .when(pmod(col("doc_id"), lit(4)) === 2, lit("déjà vu "))
                .otherwise(lit("")),
              substring(col("text"), 1, 40)).as("t"))
        planted
          .select(col("doc_id"), canon_text(col("t")).as("canon"), col("t"))
          .select(col("doc_id"), col("canon"),
            when(col("canon") === col("t"), 1L).otherwise(0L).as("was_clean"))
          .orderBy("doc_id")
      }),

    // ---- Character-concentration quality signal -------------------------
    //
    // Gibberish/boilerplate detector from the character distribution.
    // Shannon entropy needs log2 on the compare path (engine log ULPs
    // differ), so the emitted signals are the exactly-computable family:
    // collision probability Σc²/N² (Rényi-2 concentration — low for
    // natural text, high for repeated-char junk) and top-character share
    // max(c)/N. Both are single IEEE divisions of exact BIGINT-derived
    // values — bit-identical across engines. Shape: per-(doc,char) counts
    // come from a partial-agg explode (map-side combine), then one doc-level
    // reduce; no all-pairs, no driver collect.
    Q("text_char_dist",
      Some("WITH ch AS (SELECT doc_id, " +
        "unnest(string_split_regex(substr(text, 1, 400), '')) AS c " +
        "FROM documents), " +
        "cnt AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n FROM ch " +
        "WHERE c <> '' GROUP BY doc_id, c), " +
        "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS distinct_chars, " +
        "sum(n) AS tot, sum(n * n) AS sumsq, max(n) AS maxn " +
        "FROM cnt GROUP BY doc_id) " +
        "SELECT doc_id, distinct_chars, " +
        "CAST(sumsq AS DOUBLE) / CAST(tot * tot AS DOUBLE) AS collision_prob, " +
        "CAST(maxn AS DOUBLE) / CAST(tot AS DOUBLE) AS top_char_share " +
        "FROM agg ORDER BY doc_id"),
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("doc_id"),
            explode(split(substring(col("text"), 1, 400), "")).as("c"))
          .filter(col("c") =!= "")
          .groupBy("doc_id", "c").agg(count(lit(1)).as("n"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("distinct_chars"),
            sum(col("n")).as("tot"),
            sum(col("n") * col("n")).as("sumsq"),
            max(col("n")).as("maxn"))
          .select(col("doc_id"), col("distinct_chars"),
            (col("sumsq").cast("double") /
              (col("tot") * col("tot")).cast("double")).as("collision_prob"),
            (col("maxn").cast("double") / col("tot").cast("double"))
              .as("top_char_share"))
          .orderBy("doc_id")),

    // ---- Null-safe equi join (<=>) --------------------------------------
    //
    // SQL `=` drops NULL keys from an equi join; `<=>` (IS NOT DISTINCT
    // FROM) matches the NULL bucket to itself. The realistic shape: two
    // metric snapshots keyed by (day-of-week, nullable status class) —
    // the "unclassified" NULL group must reconcile across snapshots too.
    // Plans as an ordinary hash join (null-safe equality is still a
    // deterministic hash key), so the scale story matches the plain join.
    Q("join_null_safe",
      Some("WITH a AS (SELECT (dayofweek(o_orderdate) + 1) AS dow, " +
        "nullif(o_orderstatus, 'P') AS status, " +
        "CAST(count(*) AS BIGINT) AS n_a FROM orders " +
        "WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1, 2), " +
        "b AS (SELECT (dayofweek(o_orderdate) + 1) AS dow, " +
        "nullif(o_orderstatus, 'P') AS status, " +
        "CAST(count(*) AS BIGINT) AS n_b FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY 1, 2) " +
        "SELECT a.dow, coalesce(a.status, '?') AS status, n_a, n_b " +
        "FROM a JOIN b ON a.dow = b.dow " +
        "AND a.status IS NOT DISTINCT FROM b.status " +
        "ORDER BY 1, 2"),
      (s, dir) => {
        val o = tbl(s, dir, "orders")
        def half(cmp: org.apache.spark.sql.Column, alias: String) =
          o.filter(cmp)
            .groupBy(dayofweek(col("o_orderdate")).as("dow"),
              nullif(col("o_orderstatus"), lit("P")).as("status"))
            .agg(count(lit(1)).as(alias))
        val cut = lit("1998-01-01").cast("timestamp")
        val a = half(col("o_orderdate") < cut, "n_a")
        val b = half(col("o_orderdate") >= cut, "n_b")
          .withColumnRenamed("dow", "dow_b").withColumnRenamed("status", "status_b")
        a.join(b, a("dow") === b("dow_b") && a("status") <=> b("status_b"))
          .select(a("dow"), coalesce(a("status"), lit("?")).as("status"),
            col("n_a"), col("n_b"))
          .orderBy("dow", "status")
      }),

    // ---- Time-interval RANGE window frame -------------------------------
    //
    // Sliding-by-value windowing without a shuffle per slide: for each
    // event, aggregate the SAME user's events in the trailing hour — the
    // frame bound is a calendar interval on the ORDER BY timestamp, so peers
    // are chosen by value (engine-exact) rather than row position. One
    // user-keyed sort carries the whole computation; contrast with the
    // tumbling/sliding window queries, which bucket rather than trail.
    Q("win_time_range",
      Some("SELECT event_id, user_id, " +
        "CAST(count(*) OVER w AS BIGINT) AS n_hour, " +
        "CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS v_hour " +
        "FROM events WHERE event_id % 7 = 0 " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts " +
        "RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW) " +
        "ORDER BY event_id"),
      (s, dir) => {
        H.events(s, dir)
          .filter(pmod(col("event_id"), lit(7)) === 0)
          .createOrReplaceTempView("graft_timerange_ev")
        s.sql("""SELECT event_id, user_id,
          count(*) OVER w AS n_hour,
          CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS v_hour
          FROM graft_timerange_ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts
            RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
          ORDER BY event_id""")
      }),

    // ---- Multi-column IN subquery ---------------------------------------
    //
    // Row-value membership: lineitems whose (part, supplier) pair also
    // shipped in 1998 — the pair must match as a unit (separate single-
    // column INs would accept mixed pairs). Catalyst rewrites the IN as a
    // left-semi hash join on the composite key: one shuffle, no distinct
    // blow-up on either single column.
    Q("join_multi_in",
      Some("SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue " +
        "FROM lineitem l WHERE EXISTS " +  // row-value IN (DuckDB spells it EXISTS)
        "(SELECT 1 FROM lineitem r WHERE r.l_partkey = l.l_partkey " +
        "AND r.l_suppkey = l.l_suppkey " +
        "AND r.l_shipdate >= TIMESTAMP '1998-06-01') " +
        "GROUP BY 1 ORDER BY 1"),
      (s, dir) => {
        tbl(s, dir, "lineitem").createOrReplaceTempView("graft_multiin_l")
        s.sql("""SELECT l_returnflag, count(*) AS n,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
          FROM graft_multiin_l WHERE (l_partkey, l_suppkey) IN
          (SELECT l_partkey, l_suppkey FROM graft_multiin_l
           WHERE l_shipdate >= TIMESTAMP '1998-06-01')
          GROUP BY 1 ORDER BY 1""")
      }),

    // ---- Z-order (Morton) multi-dimensional clustering ------------------
    //
    // Range-sorting on ONE column leaves predicates on the other dimension
    // unprunable; interleaving the bits of both keys gives every file a
    // bounding box that is tight in BOTH dimensions, so a two-dimensional
    // predicate (customer range × date range) skips most files. The
    // interleave is pure integer bit arithmetic (same generated formula on
    // both engines) and the judged output includes sum(z) per group, so the
    // Morton math itself is verified, not just the surviving rows.
    Q("layout_zorder",
      Some {
        val z = zorderSql("(o_custkey & 65535)",
          "(date_diff('day', TIMESTAMP '1992-01-01', o_orderdate) & 65535)")
        s"WITH zed AS (SELECT *, $z AS z FROM orders) " +
          "SELECT strftime(o_orderdate, '%Y-%m') AS order_month, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "CAST(sum(z) AS BIGINT) AS zsum, " +
          "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total " +
          "FROM zed WHERE o_custkey BETWEEN 100 AND 500 " +
          "AND o_orderdate >= TIMESTAMP '1995-01-01' " +
          "AND o_orderdate < TIMESTAMP '1996-01-01' " +
          "GROUP BY 1 ORDER BY 1"
      },
      (s, dir) => {
        val tmp = H.tmpDir("graft_zorder") + "/orders_z"
        val o = tbl(s, dir, "orders")
        val z = zorder(col("o_custkey").bitwiseAND(lit(65535L)),
          datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
            .cast("long").bitwiseAND(lit(65535L)))
        o.withColumn("z", z)
          .repartitionByRange(16, col("z"))
          .sortWithinPartitions("z")
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp)
          .filter(col("o_custkey").between(100, 500) &&
            col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
          .agg(count(lit(1)).as("n"), sum(col("z")).as("zsum"),
            sumMoney(col("o_totalprice")).as("total"))
          .orderBy("order_month")
      }),

    // ---- Parquet footer aggregate pushdown ------------------------------
    //
    // Stats-only queries (count / min / max, no filter, no grouping)
    // answered from parquet FOOTERS via the DSv2 scan: PushedAggregation
    // replaces the row scan with one row per file — at 100 TB that is the
    // difference between a metadata read and a full table pass. Timestamp
    // min/max is deliberately absent (parquet stats for timestamps are not
    // pushdown-eligible); the long/double columns are.
    Q("scan_agg_pushdown",
      Some("SELECT CAST(count(*) AS BIGINT) AS n, " +
        "min(l_orderkey) AS k_min, max(l_orderkey) AS k_max, " +
        "min(l_quantity) AS q_min, max(l_quantity) AS q_max FROM lineitem"),
      (s, dir) => {
        val ss = s.newSession()
        ss.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        ss.conf.set("spark.sql.sources.useV1SourceList", "")
        tbl(ss, dir, "lineitem").agg(
          count(lit(1)).as("n"),
          min(col("l_orderkey")).as("k_min"), max(col("l_orderkey")).as("k_max"),
          min(col("l_quantity")).as("q_min"), max(col("l_quantity")).as("q_max"))
      }),

    // ---- Incremental dedup (delta batch vs existing corpus) -------------
    //
    // The ingestion-time shape: a new batch (doc_id%10 ∈ {8,9} models the
    // day's arrivals) is deduplicated against the standing corpus WITHOUT
    // re-pairing the corpus against itself — band keys of the delta join
    // band keys of the base, so candidate cost follows |delta| × bucket
    // hit-rate, not |corpus|². Exact Jaccard verification then runs only
    // on those candidates. This is how the one-time dedup_minhash_lsh
    // pass stays amortized across daily pulls (the reference's
    // incremental-vs-initial load split, applied to dedup).
    Q("dedup_incremental",
      Some {
        import graft.functions.{DedupSketches => DS}
        s"WITH sh AS (${DS.shinglesSql(3)}), " +
          s"sig AS (${DS.minhashSignatureSql}), " +
          s"bands AS (${DS.lshBandsSql}), " +
          "cand AS (SELECT DISTINCT d.doc_id AS doc_a, b.doc_id AS doc_b " +
          "FROM bands d JOIN bands b ON d.band = b.band AND d.key = b.key " +
          "AND d.doc_id % 10 >= 8 AND b.doc_id % 10 < 8), " +
          "counts AS (SELECT doc_id, n FROM sig), " +
          "inter AS (SELECT doc_a, doc_b, count(*) AS ni FROM cand " +
          "JOIN sh sa ON sa.doc_id = doc_a " +
          "JOIN sh sb ON sb.doc_id = doc_b AND sb.shingle = sa.shingle " +
          "GROUP BY doc_a, doc_b) " +
          "SELECT c.doc_a AS doc_new, c.doc_b AS doc_base, " +
          "CAST(coalesce(ni, 0) AS DOUBLE) / " +
          "CAST(ca.n + cb.n - coalesce(ni, 0) AS DOUBLE) AS jaccard " +
          "FROM cand c JOIN counts ca ON ca.doc_id = c.doc_a " +
          "JOIN counts cb ON cb.doc_id = c.doc_b " +
          "LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b " +
          "WHERE CAST(coalesce(ni, 0) AS DOUBLE) / " +
          "CAST(ca.n + cb.n - coalesce(ni, 0) AS DOUBLE) >= 0.5 " +
          "ORDER BY doc_new, doc_base"
      },
      (s, dir) => {
        import graft.functions.{DedupSketches => DS}
        val sh = DS.shingles(tbl(s, dir, "documents"), 3).cache()
        val bands = DS.lshBands(DS.minhashSignature(sh)).cache()
        val isDelta = pmod(col("doc_id"), lit(10)) >= 8
        val cand = bands.filter(isDelta)
          .select(col("band"), col("key"), col("doc_id").as("doc_a"))
          .join(bands.filter(!isDelta)
            .select(col("band"), col("key"), col("doc_id").as("doc_b")),
            Seq("band", "key"))
          .select("doc_a", "doc_b").distinct()
          // checkpointed: double-referenced inside verifiedJaccard
          // (intersection + scoring joins; Spark does not CSE across DAG
          // branches). localCheckpoint, not cache — see dedup_minhash_lsh.
          .localCheckpoint()
        graft.H.materialized(
          DS.verifiedJaccard(cand, sh)
            .filter(col("jaccard") >= 0.5)
            .select(col("doc_a").as("doc_new"), col("doc_b").as("doc_base"),
              col("jaccard"))
            .orderBy("doc_new", "doc_base"),
          caches = Seq(sh, bands), checkpoints = Seq(cand))
      }),

    // ---- Sliding-window document chunking (RAG prep) --------------------
    //
    // Retrieval corpora serve fixed-size token windows with overlap
    // (window 50, stride 40 → 10-token overlap preserves context across
    // chunk boundaries). Pure per-row expressions: a generated index
    // sequence drives array slices — zero shuffle, chunk count adapts to
    // document length, and the chunk id is positional so re-chunking is
    // idempotent. Both engines compute the chunk grid with the same integer
    // arithmetic.
    Q("text_chunk_overlap",
      Some("WITH t AS (SELECT doc_id, string_split(text, ' ') AS l, " +
        "len(string_split(text, ' ')) AS n FROM documents), " +
        "c AS (SELECT doc_id, l, n, " +
        "unnest(range(0, ((greatest(n - 50, 0) + 39) // 40) + 1)) AS i FROM t) " +
        "SELECT doc_id, CAST(i AS BIGINT) AS chunk_id, " +
        "CAST(least(50, n - i * 40) AS BIGINT) AS n_tok, " +
        "array_to_string(l[i * 40 + 1 : i * 40 + 50], ' ') AS chunk_text " +
        "FROM c ORDER BY doc_id, chunk_id"),
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .withColumn("n", size(col("toks")))
          .select(col("doc_id"), col("n"),
            posexplode(expr(
              "transform(sequence(0, (greatest(n - 50, 0) + 39) div 40), " +
                "i -> array_join(slice(toks, i * 40 + 1, 50), ' '))"))
              .as(Seq("chunk_id", "chunk_text")))
          .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
            least(lit(50L), col("n") - col("chunk_id") * 40L).cast("long")
              .as("n_tok"),
            col("chunk_text"))
          .orderBy("doc_id", "chunk_id")),

    // ---- Vocabulary coverage / OOV-rate report --------------------------
    //
    // The tokenizer-design question "how much of the corpus does a top-K
    // vocabulary cover?" as one pass: token counts (map-side combine), a
    // deterministic top-1000 (count desc, token asc — TakeOrderedAndProject,
    // no global window), and exact BIGINT occurrence sums; coverage and
    // OOV rate are single IEEE divisions of exact integers.
    Q("vocab_coverage",
      Some("WITH cnt AS (SELECT unnest(string_split(text, ' ')) AS tok " +
        "FROM documents), " +
        "c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM cnt " +
        "WHERE tok <> '' GROUP BY tok), " +
        "v AS (SELECT n FROM c ORDER BY n DESC, tok LIMIT 1000) " +
        "SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS vocab_size, " +
        "CAST((SELECT sum(n) FROM v) AS BIGINT) AS covered, " +
        "CAST((SELECT sum(n) FROM c) AS BIGINT) AS total, " +
        "CAST((SELECT sum(n) FROM v) AS DOUBLE) / " +
        "CAST((SELECT sum(n) FROM c) AS DOUBLE) AS coverage, " +
        "1 - CAST((SELECT sum(n) FROM v) AS DOUBLE) / " +
        "CAST((SELECT sum(n) FROM c) AS DOUBLE) AS oov_rate"),
      (s, dir) => {
        val cnt = tbl(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("tok").agg(count(lit(1)).as("n"))
        val vocab = cnt.orderBy(col("n").desc, col("tok")).limit(1000)
          .agg(count(lit(1)).as("vocab_size"), sum(col("n")).as("covered"))
        val total = cnt.agg(sum(col("n")).as("total"))
        vocab.crossJoin(total)
          .select(col("vocab_size"), col("covered"), col("total"),
            (col("covered").cast("double") / col("total").cast("double"))
              .as("coverage"),
            (lit(1) - col("covered").cast("double") / col("total").cast("double"))
              .as("oov_rate"))
      }),

    // ---- SimHash hamming dedup via band partitioning --------------------
    //
    // The crawl-dedup classic: two 64-bit simhashes within hamming
    // distance 3 must agree EXACTLY on at least one of 4 disjoint 16-bit
    // bands (pigeonhole), so candidates come from equi-joining band
    // substrings — never an all-pairs hamming scan. Verification is then
    // a per-pair popcount of the XOR, integer-exact on both engines.
    // Complements dedup_minhash_lsh: simhash is one 8-byte BIGINT per doc
    // (vs 12 minhash values), the cheapest near-dup index that fits a
    // 100 TB corpus in memory; hamming is one bit_count(XOR) per pair.
    Q("dedup_simhash_hamming",
      Some {
        import graft.functions.{DedupSketches => DS}
        s"WITH sim AS (SELECT doc_id, simhash FROM (${DS.simhashSql}) t), " +
          "bands AS (SELECT doc_id, b AS band, " +
          "((simhash >> (48 - 16 * b)) & 65535) AS key FROM sim, " +
          "(SELECT unnest([0, 1, 2, 3]) AS b)), " +
          "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
          "FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key " +
          "AND a.doc_id < b.doc_id) " +
          "SELECT doc_a, doc_b, " +
          "CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming " +
          "FROM cand JOIN sim sa ON sa.doc_id = doc_a " +
          "JOIN sim sb ON sb.doc_id = doc_b " +
          "WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3 " +
          "ORDER BY doc_a, doc_b"
      },
      (s, dir) => {
        import graft.functions.{DedupSketches => DS}
        val sim = DS.simhash(tbl(s, dir, "documents")).cache()
        val bands = sim
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, 3), b -> struct(b AS band, " +
              "(shiftright(simhash, 48 - 16 * b) & 65535) AS key))"))
            .as("bk"))
          .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
        val cand = DS.candidatePairs(bands)
        graft.H.materialized(
          cand
            .join(sim.select(col("doc_id").as("doc_a"), col("simhash").as("ha")), "doc_a")
            .join(sim.select(col("doc_id").as("doc_b"), col("simhash").as("hb")), "doc_b")
            .withColumn("hamming",
              expr("bit_count(ha ^ hb)").cast("long"))
            .filter(col("hamming") <= 3)
            .select("doc_a", "doc_b", "hamming")
            .orderBy("doc_a", "doc_b"),
          caches = Seq(sim))
      }),

    // ---- Deterministic span-corruption masking (MLM/T5 prep) ------------
    //
    // Pretraining-objective data prep: ~1 in 5 tokens replaced with a
    // sentinel, chosen by a position-keyed hash (md5(doc:pos)) so the
    // corruption is reproducible across runs and engines — no RNG state to
    // coordinate, resharding-safe, and the mask rate is auditable (n_masked
    // rides along). Shape: posexplode → per-token mask decision (codegen'd
    // md5, no interpreted lambdas) → ordered reassembly via sorted struct
    // collect, the same pattern as paragraph dedup.
    Q("text_span_mask",
      Some {
        val maskHash =
          H.md5PrefixSql("doc_id::VARCHAR || ':' || (i - 1)::VARCHAR", 1)
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS l " +
          "FROM documents), " +
          "p AS (SELECT doc_id, unnest(range(1, len(l) + 1)) AS i, l FROM t), " +
          s"m AS (SELECT doc_id, i, CASE WHEN $maskHash % 5 = 0 " +
          "THEN '<MASK>' ELSE l[i] END AS tok, " +
          s"CASE WHEN $maskHash % 5 = 0 THEN 1 ELSE 0 END AS is_m FROM p) " +
          "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok, " +
          "CAST(sum(is_m) AS BIGINT) AS n_masked, " +
          "array_to_string(list(tok ORDER BY i), ' ') AS masked " +
          "FROM m GROUP BY doc_id ORDER BY doc_id"
      },
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
          .withColumn("is_m",
            (H.md5Digits(concat(col("doc_id").cast("string"), lit(":"),
              col("pos").cast("string")), 1).cast("int") % 5 === 0)
              .cast("int"))
          .withColumn("tok2",
            when(col("is_m") === 1, lit("<MASK>")).otherwise(col("tok")))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"),
            sum(col("is_m")).cast("long").as("n_masked"),
            array_join(expr(
              "transform(array_sort(collect_list(struct(pos, tok2))), x -> x.tok2)"),
              " ").as("masked"))
          .orderBy("doc_id")),

    // ---- Point-in-time (feature-store) join -----------------------------
    //
    // Training-example enrichment without leakage: each purchase joins the
    // state version that was EFFECTIVE at its timestamp — never a later
    // one. Versions are SCD2 intervals (click k valid [ts_k, ts_{k+1})),
    // and the join carries the entity key as an equi condition, so it
    // hashes on user_id and the interval predicate filters inside the
    // join — no cross product, same distribution story as a plain
    // equi-join at 100 TB.
    Q("join_point_in_time",
      Some(s"WITH v AS (SELECT user_id, event_id, ts, " +
        "CAST(row_number() OVER w AS BIGINT) AS version, ts AS valid_from, " +
        "coalesce(lead(ts) OVER w, TIMESTAMP '2100-01-01') AS valid_to " +
        "FROM events WHERE event_type = 'click' " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "p AS (SELECT event_id, user_id, ts FROM events " +
        "WHERE event_type = 'purchase') " +
        "SELECT p.event_id AS p_id, p.user_id, v.version, " +
        s"strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS p_ts, " +
        s"strftime(v.valid_from, '%Y-%m-%d %H:%M:%S.%f') AS v_ts " +
        "FROM p JOIN v ON v.user_id = p.user_id " +
        "AND p.ts >= v.valid_from AND p.ts < v.valid_to " +
        "ORDER BY p_id"),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = H.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("v_user"), col("event_id").as("v_eid"),
            col("ts").as("valid_from"))
        val wv = Window.partitionBy("v_user").orderBy("valid_from", "v_eid")
        val v = clicks
          .withColumn("version", row_number().over(wv).cast("long"))
          .withColumn("valid_to",
            coalesce(lead(col("valid_from"), 1).over(wv),
              lit("2100-01-01").cast("timestamp")))
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"), col("ts"))
        p.join(v, col("user_id") === col("v_user") &&
            col("ts") >= col("valid_from") && col("ts") < col("valid_to"))
          .select(col("p_id"), col("user_id"), col("version"),
            H.fmtTs(col("ts")).as("p_ts"),
            H.fmtTs(col("valid_from")).as("v_ts"))
          .orderBy("p_id")
      }),

    // ---- Distributed k-means over embeddings (fixed-point, 3 rounds) ----
    //
    // Corpus clustering for mixture balancing: K=4 centroids, 3 unrolled
    // Lloyd rounds, deterministic init (first K vectors). Bit-reproducible
    // on any partitioning because every step is exact: embeddings quantize
    // to integers (round(x*1000)), squared distances are sums of exactly
    // representable products (fused codegen squared_distance — integer-
    // valued doubles stay exact under any addition order), tie-break is
    // (ssd, cid), and the new centroid is floor(exact-sum / count). The
    // scale shape is PageRank's: per-round broadcast of K tiny centroids
    // against the big side, per-dim partial-agg recompute, 4-row
    // localCheckpoints truncating lineage between rounds.
    Q("emb_kmeans",
      Some {
        import graft.functions.{VectorSim => VS}
        def assignCte(name: String, cent: String) =
          s"$name AS (SELECT e.vec_id, c.cid FROM e, $cent c " +
            s"QUALIFY row_number() OVER (PARTITION BY e.vec_id " +
            s"ORDER BY ${VS.ssdSql("e.q", "c.c")}, c.cid) = 1)"
        def recomputeCte(name: String, asg: String) =
          s"$name AS (SELECT cid, list(cv ORDER BY dim) AS c FROM (" +
            "SELECT a.cid, d.dim, CAST(floor(CAST(sum(e.q[d.dim + 1]) AS DOUBLE) " +
            "/ count(*)) AS BIGINT) AS cv " +
            s"FROM $asg a JOIN e USING (vec_id), " +
            "(SELECT unnest(range(0, 64)) AS dim) d " +
            "GROUP BY a.cid, d.dim) GROUP BY cid)"
        "WITH e AS (SELECT vec_id, list_transform(embedding::DOUBLE[], " +
          "x -> CAST(round(x * 1000) AS BIGINT)) AS q FROM embeddings), " +
          "c0 AS (SELECT vec_id AS cid, q AS c FROM e WHERE vec_id < 4), " +
          assignCte("a1", "c0") + ", " + recomputeCte("c1", "a1") + ", " +
          assignCte("a2", "c1") + ", " + recomputeCte("c2", "a2") + ", " +
          assignCte("a3", "c2") + " " +
          "SELECT a.cid AS cluster, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(any_value(cs.s) AS BIGINT) AS centroid_sum " +
          "FROM a3 a JOIN (SELECT cid, list_sum(c) AS s FROM c2) cs " +
          "USING (cid) GROUP BY a.cid ORDER BY cluster"
      },
      (s, dir) => {
        import graft.functions.{CustomExpressions => CE}
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.DataFrame
        val qe = tbl(s, dir, "embeddings")
          .select(col("vec_id"), expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>), " +
              "x -> CAST(CAST(round(x * 1000) AS BIGINT) AS DOUBLE))").as("qd"))
          .cache()
        def assign(cent: DataFrame): DataFrame =
          qe.crossJoin(broadcast(cent))
            .withColumn("ssd", CE.squared_distance(col("qd"), col("c")))
            .withColumn("rn", row_number().over(
              Window.partitionBy("vec_id").orderBy(col("ssd"), col("cid"))))
            .filter(col("rn") === 1).select("vec_id", "cid")
        def recompute(asg: DataFrame): DataFrame =
          asg.join(qe, "vec_id")
            .select(col("cid"), posexplode(col("qd")).as(Seq("dim", "v")))
            .groupBy("cid", "dim")
            .agg(sum(col("v").cast("long")).as("sv"), count(lit(1)).as("cnt"))
            .withColumn("cv", floor(col("sv").cast("double") / col("cnt")))
            .groupBy("cid").agg(expr(
              "transform(array_sort(collect_list(struct(dim, cv))), " +
                "x -> CAST(x.cv AS DOUBLE))").as("c"))
            .localCheckpoint() // 4 rows; truncates the per-round lineage
        val c0 = qe.filter(col("vec_id") < 4)
          .select(col("vec_id").as("cid"), col("qd").as("c"))
        val c1 = recompute(assign(c0))
        val c2 = recompute(assign(c1))
        val sums = c2.select(col("cid"),
          expr("CAST(aggregate(c, 0D, (acc, x) -> acc + x) AS BIGINT)").as("s"))
        graft.H.materialized(
          assign(c2).groupBy("cid").agg(count(lit(1)).as("n"))
            .join(sums, "cid")
            .select(col("cid").as("cluster"), col("n"),
              col("s").as("centroid_sum"))
            .orderBy("cluster"),
          caches = Seq(qe), checkpoints = Seq(c1, c2))
      })
  )
}
