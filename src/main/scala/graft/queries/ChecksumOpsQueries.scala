package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Eighty-ninth wave: integrity and signal-structure operators — an
  * order-invariant content checksum for replica/migration verification
  * (the "did the 100 TB copy arrive intact" primitive), a per-column
  * encoding advisor measuring run-length/cardinality/monotonicity to
  * recommend parquet encodings, the Jonckheere-Terpstra ordered-trend
  * test (the directional cousin of wave 85's Kruskal-Wallis), and
  * Bandt-Pompe permutation entropy of the daily-revenue series.
  *
  * Exactness: the checksum hashes a CANONICAL row rendering (integer
  * cents, formatted dates) through md5 and folds 12 hex digits to a
  * 48-bit word per row — sums accumulate in DECIMAL(38,0)/HUGEINT so
  * the fingerprint is exact at any row count and invariant to row
  * order, partitioning, and engine. Ordinal patterns break value ties
  * by time position (Bandt-Pompe convention), so the census is pure
  * integer; each statistic's one float appearance is a fixed IEEE
  * chain floored to micro before any cross-cell sum.
  */
object ChecksumOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // Order-invariant table checksum: canonical row rendering → md5 →
    // 48-bit word → exact DECIMAL/HUGEINT sum. Two replicas (engines,
    // clusters, migration source/target) agree iff (n_rows, checksum)
    // agree, regardless of row order, file split, or partition count —
    // the cheapest cross-system parity gate at 100 TB (one scan, one
    // scalar aggregate, no shuffle beyond the final reduce). Emitted
    // for both fact tables.
    Q("dq_table_checksum",
      Some {
        val li = "concat_ws('|', l_orderkey, l_linenumber, l_partkey, " +
          "l_suppkey, CAST(l_quantity AS BIGINT), " +
          "CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT), " +
          "l_returnflag, l_linestatus, strftime(l_shipdate, '%Y-%m-%d'))"
        val o = "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, " +
          "CAST(floor(o_totalprice*100 + 0.5) AS BIGINT), " +
          "strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority)"
        s"""SELECT 'lineitem' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CAST(${H.md5PrefixSql(li, 12)} AS HUGEINT)) AS VARCHAR)
           |    AS checksum
           |FROM lineitem
           |UNION ALL
           |SELECT 'orders', CAST(count(*) AS BIGINT),
           |  CAST(sum(CAST(${H.md5PrefixSql(o, 12)} AS HUGEINT)) AS VARCHAR)
           |FROM orders
           |ORDER BY 1
           |""".stripMargin
      },
      (s, dir) => {
        val li = tbl(s, dir, "lineitem").select(
          H.md5Prefix(concat_ws("|", col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"),
            col("l_quantity").cast("long"),
            floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"),
            col("l_returnflag"), col("l_linestatus"),
            date_format(col("l_shipdate"), "yyyy-MM-dd")), 12).as("w"))
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum(col("w").cast("decimal(38,0)")).cast("decimal(38,0)")
              .cast("string").as("checksum"))
          .select(lit("lineitem").as("tbl"), col("n_rows"),
            col("checksum"))
        val o = tbl(s, dir, "orders").select(
          H.md5Prefix(concat_ws("|", col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"),
            floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"),
            date_format(col("o_orderdate"), "yyyy-MM-dd"),
            col("o_orderpriority")), 12).as("w"))
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum(col("w").cast("decimal(38,0)")).cast("decimal(38,0)")
              .cast("string").as("checksum"))
          .select(lit("orders").as("tbl"), col("n_rows"), col("checksum"))
        li.unionByName(o).orderBy("tbl")
      }),

    // Column-encoding advisor: per candidate column, measured run
    // structure inside ingest chunks (~400 orders each, ordered by
    // (orderkey, linenumber, values...) — arrival order with the value
    // columns as tiebreaks, since the corpus key is not unique),
    // global cardinality, and step monotonicity → a parquet encoding
    // recommendation (RLE / dictionary / delta / plain). ONE window
    // pass computes all four columns' lags; windows partition by chunk
    // so the pass is embarrassingly parallel; the advisor frame is 4
    // rows. The decision this feeds — which encoding to pin per column
    // — is worth petabytes at archive scale.
    Q("layout_encoding_advisor",
      Some(
        """WITH b AS (SELECT l_orderkey // 400 AS chunk, l_orderkey,
          |  l_linenumber, l_returnflag AS c_flag, l_linestatus AS c_stat,
          |  CAST(l_quantity AS BIGINT) AS c_qty,
          |  date_diff('day', TIMESTAMP '1995-01-01', l_shipdate) AS c_ship
          |  FROM lineitem),
          |l AS (SELECT chunk, c_flag, c_stat, c_qty, c_ship,
          |  lag(c_flag) OVER w AS p_flag, lag(c_stat) OVER w AS p_stat,
          |  lag(c_qty) OVER w AS p_qty, lag(c_ship) OVER w AS p_ship
          |  FROM b WINDOW w AS (PARTITION BY chunk
          |    ORDER BY l_orderkey, l_linenumber, c_flag, c_stat, c_qty,
          |      c_ship)),
          |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CASE WHEN p_flag IS NULL OR c_flag <> p_flag
          |    THEN 1 ELSE 0 END) AS BIGINT) AS runs_flag,
          |  CAST(sum(CASE WHEN p_stat IS NULL OR c_stat <> p_stat
          |    THEN 1 ELSE 0 END) AS BIGINT) AS runs_stat,
          |  CAST(sum(CASE WHEN p_qty IS NULL OR c_qty <> p_qty
          |    THEN 1 ELSE 0 END) AS BIGINT) AS runs_qty,
          |  CAST(sum(CASE WHEN p_ship IS NULL OR c_ship <> p_ship
          |    THEN 1 ELSE 0 END) AS BIGINT) AS runs_ship,
          |  CAST(sum(CASE WHEN p_qty IS NOT NULL AND c_qty >= p_qty
          |    THEN 1 ELSE 0 END) AS BIGINT) AS asc_qty,
          |  CAST(sum(CASE WHEN p_ship IS NOT NULL AND c_ship >= p_ship
          |    THEN 1 ELSE 0 END) AS BIGINT) AS asc_ship,
          |  CAST(sum(CASE WHEN p_qty IS NOT NULL THEN 1 ELSE 0 END)
          |    AS BIGINT) AS steps
          |  FROM l),
          |d AS (SELECT CAST(count(DISTINCT c_flag) AS BIGINT) AS d_flag,
          |  CAST(count(DISTINCT c_stat) AS BIGINT) AS d_stat,
          |  CAST(count(DISTINCT c_qty) AS BIGINT) AS d_qty,
          |  CAST(count(DISTINCT c_ship) AS BIGINT) AS d_ship FROM b),
          |lng AS (
          |  SELECT 'returnflag' AS col_name, n, runs_flag AS runs,
          |    d_flag AS n_distinct, CAST(-1 AS BIGINT) AS asc_bps
          |  FROM agg, d
          |  UNION ALL SELECT 'linestatus', n, runs_stat, d_stat, -1
          |  FROM agg, d
          |  UNION ALL SELECT 'quantity', n, runs_qty, d_qty,
          |    asc_qty * 10000 // steps FROM agg, d
          |  UNION ALL SELECT 'shipdate', n, runs_ship, d_ship,
          |    asc_ship * 10000 // steps FROM agg, d)
          |SELECT col_name, n, n_distinct, runs,
          |  CAST(n * 1000 // runs AS BIGINT) AS avg_run_milli,
          |  CAST(n_distinct * 1000000 // n AS BIGINT) AS distinct_ppm,
          |  asc_bps,
          |  CASE WHEN n * 1000 // runs >= 4000 THEN 'rle'
          |       WHEN n_distinct * 1000000 // n <= 1000 THEN 'dict'
          |       WHEN asc_bps >= 9000 THEN 'delta'
          |       ELSE 'plain' END AS recommendation
          |FROM lng ORDER BY 1
          |""".stripMargin),
      (s, dir) => {
        val b = tbl(s, dir, "lineitem")
          .select(expr("l_orderkey div 400").as("chunk"), col("l_orderkey"),
            col("l_linenumber"), col("l_returnflag").as("c_flag"),
            col("l_linestatus").as("c_stat"),
            col("l_quantity").cast("long").as("c_qty"),
            datediff(col("l_shipdate"),
              to_timestamp(lit("1995-01-01 00:00:00"))).as("c_ship"))
        val w = Window.partitionBy("chunk")
          .orderBy("l_orderkey", "l_linenumber", "c_flag", "c_stat",
            "c_qty", "c_ship")
        val l = b.select(col("c_flag"), col("c_stat"), col("c_qty"),
          col("c_ship"), lag("c_flag", 1).over(w).as("p_flag"),
          lag("c_stat", 1).over(w).as("p_stat"),
          lag("c_qty", 1).over(w).as("p_qty"),
          lag("c_ship", 1).over(w).as("p_ship"))
        def runs(c: String, p: String) =
          sum(when(col(p).isNull || col(c) =!= col(p), 1L).otherwise(0L))
            .cast("long")
        def asc(c: String, p: String) =
          sum(when(col(p).isNotNull && col(c) >= col(p), 1L).otherwise(0L))
            .cast("long")
        val agg = l.agg(count(lit(1)).cast("long").as("n"),
          runs("c_flag", "p_flag").as("runs_flag"),
          runs("c_stat", "p_stat").as("runs_stat"),
          runs("c_qty", "p_qty").as("runs_qty"),
          runs("c_ship", "p_ship").as("runs_ship"),
          asc("c_qty", "p_qty").as("asc_qty"),
          asc("c_ship", "p_ship").as("asc_ship"),
          sum(when(col("p_qty").isNotNull, 1L).otherwise(0L)).cast("long")
            .as("steps"))
        val d = b.agg(
          countDistinct(col("c_flag")).cast("long").as("d_flag"),
          countDistinct(col("c_stat")).cast("long").as("d_stat"),
          countDistinct(col("c_qty")).cast("long").as("d_qty"),
          countDistinct(col("c_ship")).cast("long").as("d_ship"))
        val one = agg.crossJoin(broadcast(d))
        val lng = one.select(lit("returnflag").as("col_name"), col("n"),
            col("runs_flag").as("runs"), col("d_flag").as("n_distinct"),
            lit(-1L).as("asc_bps"))
          .unionByName(one.select(lit("linestatus").as("col_name"),
            col("n"), col("runs_stat").as("runs"),
            col("d_stat").as("n_distinct"),
            lit(-1L).as("asc_bps")))
          .unionByName(one.select(lit("quantity").as("col_name"), col("n"),
            col("runs_qty").as("runs"), col("d_qty").as("n_distinct"),
            expr("asc_qty * 10000 div steps").cast("long").as("asc_bps")))
          .unionByName(one.select(lit("shipdate").as("col_name"), col("n"),
            col("runs_ship").as("runs"), col("d_ship").as("n_distinct"),
            expr("asc_ship * 10000 div steps").cast("long").as("asc_bps")))
        lng.select(col("col_name"), col("n"), col("n_distinct"),
            col("runs"),
            expr("n * 1000 div runs").cast("long").as("avg_run_milli"),
            expr("n_distinct * 1000000 div n").cast("long")
              .as("distinct_ppm"), col("asc_bps"),
            when(expr("n * 1000 div runs") >= 4000, "rle")
              .when(expr("n_distinct * 1000000 div n") <= 1000, "dict")
              .when(col("asc_bps") >= 9000, "delta")
              .otherwise("plain").as("recommendation"))
          .orderBy("col_name")
      }),

    // Jonckheere-Terpstra ordered-trend test across the five order
    // priorities (natural string order IS the hypothesized order):
    // J2 = Σ_{g<h} (2·#{x_g < y_h} + #ties), computed exactly from the
    // value-count histogram — per value, each group's strictly-below
    // cumulative rides a value-ordered window, and the 10 ordered
    // pairs expand on the bounded pivot. The null mean (quarters) and
    // variance (×72) are exact integers; z is the one micro-floored
    // IEEE chain. Directional drill-down after wave 85's omnibus.
    Q("stats_jonckheere_trend",
      Some(
        """WITH b AS (SELECT o_orderpriority AS g,
          |  CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS v
          |  FROM orders),
          |h AS (SELECT v,
          |  CAST(sum(CASE WHEN g='1-URGENT' THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n1,
          |  CAST(sum(CASE WHEN g='2-HIGH' THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n2,
          |  CAST(sum(CASE WHEN g='3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n3,
          |  CAST(sum(CASE WHEN g='4-NOT SPECIFIED' THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n4,
          |  CAST(sum(CASE WHEN g='5-LOW' THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n5
          |  FROM b GROUP BY 1),
          |c AS (SELECT v, n1, n2, n3, n4, n5,
          |  CAST(coalesce(sum(n1) OVER w, 0) AS BIGINT) AS c1,
          |  CAST(coalesce(sum(n2) OVER w, 0) AS BIGINT) AS c2,
          |  CAST(coalesce(sum(n3) OVER w, 0) AS BIGINT) AS c3,
          |  CAST(coalesce(sum(n4) OVER w, 0) AS BIGINT) AS c4
          |  FROM h WINDOW w AS (ORDER BY v
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
          |j AS (SELECT
          |  sum(CAST(n2 + n3 + n4 + n5 AS HUGEINT)*(2*c1 + n1)
          |    + CAST(n3 + n4 + n5 AS HUGEINT)*(2*c2 + n2)
          |    + CAST(n4 + n5 AS HUGEINT)*(2*c3 + n3)
          |    + CAST(n5 AS HUGEINT)*(2*c4 + n4)) AS j2 FROM c),
          |t AS (SELECT CAST(sum(n1+n2+n3+n4+n5) AS BIGINT) AS nn,
          |  CAST(sum(n1) AS BIGINT) AS t1, CAST(sum(n2) AS BIGINT) AS t2,
          |  CAST(sum(n3) AS BIGINT) AS t3, CAST(sum(n4) AS BIGINT) AS t4,
          |  CAST(sum(n5) AS BIGINT) AS t5 FROM h),
          |m AS (SELECT j.j2,
          |  CAST(t.nn AS HUGEINT)*t.nn - (CAST(t.t1 AS HUGEINT)*t.t1
          |    + CAST(t.t2 AS HUGEINT)*t.t2 + CAST(t.t3 AS HUGEINT)*t.t3
          |    + CAST(t.t4 AS HUGEINT)*t.t4 + CAST(t.t5 AS HUGEINT)*t.t5)
          |    AS e4,
          |  CAST(t.nn AS HUGEINT)*t.nn*(2*t.nn+3)
          |    - (CAST(t.t1 AS HUGEINT)*t.t1*(2*t.t1+3)
          |    + CAST(t.t2 AS HUGEINT)*t.t2*(2*t.t2+3)
          |    + CAST(t.t3 AS HUGEINT)*t.t3*(2*t.t3+3)
          |    + CAST(t.t4 AS HUGEINT)*t.t4*(2*t.t4+3)
          |    + CAST(t.t5 AS HUGEINT)*t.t5*(2*t.t5+3)) AS v72
          |  FROM j, t)
          |SELECT CAST(j2 AS VARCHAR) AS j2, CAST(e4 AS VARCHAR) AS e4,
          |  CAST(v72 AS VARCHAR) AS v72,
          |  CAST(floor((CAST(j2 AS DOUBLE)/2.0 - CAST(e4 AS DOUBLE)/4.0)
          |    / sqrt(CAST(v72 AS DOUBLE)/72.0) * 1000000.0) AS BIGINT)
          |    AS z_micro
          |FROM m
          |""".stripMargin),
      (s, dir) => {
        val b = tbl(s, dir, "orders")
          .select(col("o_orderpriority").as("g"),
            floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
              .as("v"))
        def ind(p: String) =
          sum(when(col("g") === p, 1L).otherwise(0L)).cast("long")
        val h = b.groupBy("v").agg(ind("1-URGENT").as("n1"),
          ind("2-HIGH").as("n2"), ind("3-MEDIUM").as("n3"),
          ind("4-NOT SPECIFIED").as("n4"), ind("5-LOW").as("n5"))
        val w = Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, -1)
        val c = h
          .withColumn("c1", coalesce(sum(col("n1")).over(w), lit(0L))
            .cast("long"))
          .withColumn("c2", coalesce(sum(col("n2")).over(w), lit(0L))
            .cast("long"))
          .withColumn("c3", coalesce(sum(col("n3")).over(w), lit(0L))
            .cast("long"))
          .withColumn("c4", coalesce(sum(col("n4")).over(w), lit(0L))
            .cast("long"))
        val j = c.agg(sum(expr(
          "CAST(n2 + n3 + n4 + n5 AS DECIMAL(38,0))*(2*c1 + n1)" +
            " + CAST(n3 + n4 + n5 AS DECIMAL(38,0))*(2*c2 + n2)" +
            " + CAST(n4 + n5 AS DECIMAL(38,0))*(2*c3 + n3)" +
            " + CAST(n5 AS DECIMAL(38,0))*(2*c4 + n4)"))
          .cast("decimal(38,0)").as("j2"))
        val t = h.agg(
          sum(expr("n1+n2+n3+n4+n5")).cast("long").as("nn"),
          sum(col("n1")).cast("long").as("t1"),
          sum(col("n2")).cast("long").as("t2"),
          sum(col("n3")).cast("long").as("t3"),
          sum(col("n4")).cast("long").as("t4"),
          sum(col("n5")).cast("long").as("t5"))
        j.crossJoin(broadcast(t))
          .select(col("j2"),
            expr("CAST(nn AS DECIMAL(38,0))*nn" +
              " - (CAST(t1 AS DECIMAL(38,0))*t1" +
              " + CAST(t2 AS DECIMAL(38,0))*t2" +
              " + CAST(t3 AS DECIMAL(38,0))*t3" +
              " + CAST(t4 AS DECIMAL(38,0))*t4" +
              " + CAST(t5 AS DECIMAL(38,0))*t5)")
              .cast("decimal(38,0)").as("e4"),
            expr("CAST(nn AS DECIMAL(38,0))*nn*(2*nn+3)" +
              " - (CAST(t1 AS DECIMAL(38,0))*t1*(2*t1+3)" +
              " + CAST(t2 AS DECIMAL(38,0))*t2*(2*t2+3)" +
              " + CAST(t3 AS DECIMAL(38,0))*t3*(2*t3+3)" +
              " + CAST(t4 AS DECIMAL(38,0))*t4*(2*t4+3)" +
              " + CAST(t5 AS DECIMAL(38,0))*t5*(2*t5+3))")
              .cast("decimal(38,0)").as("v72"))
          .withColumn("z_micro",
            floor((col("j2").cast("double") / 2.0d -
              col("e4").cast("double") / 4.0d) /
              sqrt(col("v72").cast("double") / 72.0d) * 1000000.0d)
              .cast("long"))
          .select(col("j2").cast("string").as("j2"),
            col("e4").cast("string").as("e4"),
            col("v72").cast("string").as("v72"), col("z_micro"))
      }),

    // Bandt-Pompe permutation entropy of the daily-revenue series:
    // ordinal 3-patterns with ties broken by time position (so the
    // census is pure integer), per-pattern share in bps, and the
    // per-pattern entropy term micro-floored BEFORE the cross-pattern
    // sum. Facts reduce to the bounded day frame first; the two lags
    // ride one window on ≤ ~2,400 rows. Low entropy = structure a
    // forecaster can exploit; max (ln 6) = noise.
    Q("ts_perm_entropy",
      Some(
        """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
          |  CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))
          |    AS BIGINT) AS cents
          |  FROM orders GROUP BY 1),
          |l AS (SELECT cents AS c,
          |  lag(cents, 1) OVER (ORDER BY day) AS b,
          |  lag(cents, 2) OVER (ORDER BY day) AS a FROM d),
          |p AS (SELECT
          |  (CASE WHEN a <= b THEN 4 ELSE 0 END)
          |  + (CASE WHEN b <= c THEN 2 ELSE 0 END)
          |  + (CASE WHEN a <= c THEN 1 ELSE 0 END) AS code
          |  FROM l WHERE a IS NOT NULL),
          |h AS (SELECT code, CAST(count(*) AS BIGINT) AS n FROM p
          |  GROUP BY 1),
          |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM h)
          |SELECT h.code, h.n,
          |  CAST(h.n * 10000 // t.nn AS BIGINT) AS share_bps,
          |  CAST(floor(-(CAST(h.n AS DOUBLE) / CAST(t.nn AS DOUBLE))
          |    * ln(CAST(h.n AS DOUBLE) / CAST(t.nn AS DOUBLE))
          |    * 1000000.0) AS BIGINT) AS entropy_term_micro
          |FROM h, t ORDER BY 1
          |""".stripMargin),
      (s, dir) => {
        val d = tbl(s, dir, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5))
            .cast("long")).cast("long").as("cents"))
        val w = Window.orderBy("day")
        val p = d.select(col("cents").as("c"),
            lag("cents", 1).over(w).as("b"),
            lag("cents", 2).over(w).as("a"))
          .filter(col("a").isNotNull)
          .select((when(col("a") <= col("b"), 4).otherwise(0) +
            when(col("b") <= col("c"), 2).otherwise(0) +
            when(col("a") <= col("c"), 1).otherwise(0)).as("code"))
        val h = p.groupBy("code").agg(count(lit(1)).cast("long").as("n"))
        val t = h.agg(sum(col("n")).cast("long").as("nn"))
        h.crossJoin(broadcast(t))
          .select(col("code"), col("n"),
            expr("n * 10000 div nn").cast("long").as("share_bps"),
            floor((lit(0.0d) - col("n").cast("double") /
              col("nn").cast("double")) *
              log(col("n").cast("double") / col("nn").cast("double")) *
              1000000.0d).cast("long").as("entropy_term_micro"))
          .orderBy("code")
      })
  )
}
