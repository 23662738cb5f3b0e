package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{H, Q, QueryModule}
import graft.H.{dec2, tbl}

/** Round-4 surface wave: multiset set operations, GROUP BY ALL, external
  * script transform, degree-ordered triangle counting, and the sampling
  * operators a corpus-mixing pipeline needs (stratified split, uniform
  * domain downsampling).
  */
object SurfaceQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // EXCEPT ALL — multiset difference keeps surplus multiplicity (a
    // customer ordering 3× in window A and 1× in window B survives twice).
    // Plans as a hash aggregate computing per-row count deltas — one
    // shuffle, no join explosion.
    Q("set_except_all",
      Some("SELECT o_custkey FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01' " +
        "EXCEPT ALL " +
        "SELECT o_custkey FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01' " +
        "ORDER BY o_custkey"),
      (s, dir) => {
        val o = tbl(s, dir, "orders")
        def in(a: String, b: String) =
          o.filter(col("o_orderdate") >= to_timestamp(lit(a)) &&
            col("o_orderdate") < to_timestamp(lit(b))).select("o_custkey")
        in("1995-01-01 00:00:00", "1995-07-01 00:00:00")
          .exceptAll(in("1996-01-01 00:00:00", "1996-07-01 00:00:00"))
          .orderBy("o_custkey")
      }),

    // INTERSECT ALL — multiset intersection (min of the two multiplicities).
    Q("set_intersect_all",
      Some("SELECT o_custkey FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01' " +
        "INTERSECT ALL " +
        "SELECT o_custkey FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01' " +
        "ORDER BY o_custkey"),
      (s, dir) => {
        val o = tbl(s, dir, "orders")
        def in(a: String, b: String) =
          o.filter(col("o_orderdate") >= to_timestamp(lit(a)) &&
            col("o_orderdate") < to_timestamp(lit(b))).select("o_custkey")
        in("1995-01-01 00:00:00", "1995-07-01 00:00:00")
          .intersectAll(in("1996-01-01 00:00:00", "1996-07-01 00:00:00"))
          .orderBy("o_custkey")
      }),

    // GROUP BY ALL (Spark ≥3.4): every non-aggregate select item becomes a
    // grouping key — resolved at analysis time to the identical aggregate
    // plan as the explicit form the oracle uses.
    Q("sql_groupby_all",
      Some("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"),
      (s, dir) => {
        tbl(s, dir, "lineitem").createOrReplaceTempView("lineitem_gba")
        s.sql("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
          "CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty " +
          "FROM lineitem_gba GROUP BY ALL ORDER BY l_returnflag, l_linestatus")
      }),

    // External script transform (SELECT TRANSFORM ... USING): rows stream
    // through a forked process over the no-serde tab-delimited protocol —
    // Spark's surface for legacy streaming-script ETL. 'cat' makes it an
    // identity transform, so the oracle is a plain projection; all columns
    // come back as strings and are re-cast in the outer select. Runs
    // per-partition on executors (no driver funnel).
    Q("sql_script_transform",
      Some("SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name, " +
        "CAST(n_regionkey AS INT) AS n_regionkey FROM nation ORDER BY 1"),
      (s, dir) => {
        tbl(s, dir, "nation").createOrReplaceTempView("nation_xform")
        s.sql("SELECT CAST(k AS INT) AS n_nationkey, n_name, " +
          "CAST(r AS INT) AS n_regionkey FROM (" +
          "SELECT TRANSFORM(n_nationkey, n_name, n_regionkey) " +
          "USING 'cat' AS (k STRING, n_name STRING, r STRING) " +
          "FROM nation_xform) ORDER BY n_nationkey")
      }),

    // Triangle counting on the repeat-co-supplier graph (supplier pairs
    // sharing ≥6 orders — the threshold keeps the graph sparse as order
    // volume grows, since random co-occurrence stays near its constant
    // expectation while true recurring relationships accumulate), via
    // DEGREE-ORDERED orientation: every edge points from the (degree, id)-
    // smaller endpoint, so each triangle is enumerated exactly once and
    // the wedge join's fan-out is bounded by out-degree ≤ O(sqrt(|E|)) —
    // the shape that survives power-law graphs at 100 TB, where the naive
    // a<b<c join explodes on hub nodes. Per-supplier participation counts
    // make the full triangle set oracle-checkable.
    Q("graph_triangles",
      Some("WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem), " +
        "e AS (SELECT x.l_suppkey AS a, y.l_suppkey AS b FROM li x " +
        "JOIN li y ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey " +
        "GROUP BY 1, 2 HAVING count(*) >= 6), " +
        "deg AS (SELECT v, count(*) AS d FROM " +
        "(SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY 1), " +
        "o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) " +
        "THEN e.a ELSE e.b END AS src, " +
        "CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) " +
        "THEN e.b ELSE e.a END AS dst " +
        "FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b), " +
        "tri AS (SELECT w1.src AS u, w1.dst AS v, w2.dst AS w " +
        "FROM o w1 JOIN o w2 ON w2.src = w1.dst " +
        "JOIN o w3 ON w3.src = w1.src AND w3.dst = w2.dst) " +
        "SELECT nd AS s_suppkey, CAST(count(*) AS BIGINT) AS n_triangles FROM " +
        "(SELECT u AS nd FROM tri UNION ALL SELECT v FROM tri " +
        "UNION ALL SELECT w FROM tri) GROUP BY 1 ORDER BY 1"),
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .select("l_orderkey", "l_suppkey").distinct()
        // edge list is |V|-scale tiny next to the fact scan that builds it;
        // checkpoint it (and the oriented copy below) so the triple self-
        // join reuses one materialization instead of re-running the
        // pair-generation subtree per join arm
        val e = li.as("x").join(li.as("y"),
            col("x.l_orderkey") === col("y.l_orderkey") &&
              col("x.l_suppkey") < col("y.l_suppkey"))
          .groupBy(col("x.l_suppkey").as("a"), col("y.l_suppkey").as("b"))
          .agg(count(lit(1)).as("co"))
          .filter(col("co") >= 6).drop("co")
          .localCheckpoint()
        val deg = e.select(col("a").as("v"))
          .unionAll(e.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("d"))
        val fwd = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
        val o = e
          .join(broadcast(deg.select(col("v").as("va"), col("d").as("da"))),
            col("va") === col("a"))
          .join(broadcast(deg.select(col("v").as("vb"), col("d").as("db"))),
            col("vb") === col("b"))
          .select(when(fwd, col("a")).otherwise(col("b")).as("src"),
            when(fwd, col("b")).otherwise(col("a")).as("dst"))
          .localCheckpoint()
        val tri = o.as("w1")
          .join(o.as("w2"), col("w2.src") === col("w1.dst"))
          .join(o.as("w3"), col("w3.src") === col("w1.src") &&
            col("w3.dst") === col("w2.dst"))
          .select(col("w1.src").as("u"), col("w1.dst").as("v"), col("w2.dst").as("w"))
        graft.H.materialized(
          tri.select(col("u").as("nd"))
            .unionAll(tri.select(col("v").as("nd")))
            .unionAll(tri.select(col("w").as("nd")))
            .groupBy(col("nd").as("s_suppkey"))
            .agg(count(lit(1)).as("n_triangles"))
            .orderBy("s_suppkey"),
          caches = Nil, checkpoints = Seq(e, o))
      }),

    // Stratified sampling: per-language keep rates (en 8/16, de|fr 4/16,
    // rest 2/16) applied through a deterministic md5 bucket — the
    // reproducible corpus-subsampling step (zero shuffle: pure map +
    // filter, rates are plan literals).
    Q("sample_stratified",
      Some("WITH b AS (SELECT doc_id, lang, " +
        s"${H.md5PrefixSql("CAST(doc_id AS VARCHAR)", 4)} % 16 AS bucket " +
        "FROM documents) " +
        "SELECT doc_id, lang, bucket FROM b " +
        "WHERE bucket < (CASE WHEN lang = 'en' THEN 8 " +
        "WHEN lang IN ('de', 'fr') THEN 4 ELSE 2 END) ORDER BY doc_id"),
      (s, dir) => {
        val rate = when(col("lang") === "en", 8)
          .when(col("lang").isin("de", "fr"), 4).otherwise(2)
        tbl(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            (H.md5Prefix(col("doc_id").cast("string"), 4) % 16).as("bucket"))
          .filter(col("bucket") < rate)
          .orderBy("doc_id")
      }),

    // Uniform domain downsampling: cap every source at the smallest
    // source's document count, keeping each source's hash-ranked prefix —
    // deterministic domain rebalancing for training mixes. One shuffle
    // (the per-source rank window); the cap is a broadcast scalar.
    Q("mix_domains",
      Some("WITH n AS (SELECT source, count(*) AS n_total FROM documents GROUP BY 1), " +
        "cap AS (SELECT min(n_total) AS cap FROM n), " +
        "r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents) " +
        "SELECT r.source, CAST(count(*) AS BIGINT) AS n_kept, n.n_total " +
        "FROM r JOIN n ON n.source = r.source, cap " +
        "WHERE rk <= cap GROUP BY 1, 3 ORDER BY 1"),
      (s, dir) => {
        val d = tbl(s, dir, "documents")
        val n = d.groupBy("source").agg(count(lit(1)).as("n_total"))
        val cap = n.agg(min(col("n_total")).as("cap"))
        val r = d.select(col("doc_id"), col("source"))
          .withColumn("rk", row_number().over(Window.partitionBy("source")
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
        r.join(broadcast(cap))
          .filter(col("rk") <= col("cap"))
          .groupBy("source").agg(count(lit(1)).as("n_kept"))
          .join(broadcast(n), Seq("source"))
          .select(col("source"), col("n_kept"), col("n_total"))
          .orderBy("source")
      }),

    // argmax/argmin aggregates (max_by/min_by ↔ arg_max/arg_min): the
    // "value at the extreme of another column" shape a keep-latest pipeline
    // uses constantly. Ordering column is the unique key, so ties can't
    // make the result engine-dependent.
    Q("agg_argmax",
      Some("SELECT o_orderpriority, " +
        "arg_max(o_totalprice, o_orderkey) AS price_of_latest, " +
        "arg_min(o_totalprice, o_orderkey) AS price_of_first " +
"FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      (s, dir) => {
        tbl(s, dir, "orders").createOrReplaceTempView("orders_am")
        s.sql("SELECT o_orderpriority, " +
          "max_by(o_totalprice, o_orderkey) AS price_of_latest, " +
          "min_by(o_totalprice, o_orderkey) AS price_of_first " +
          "FROM orders_am GROUP BY o_orderpriority ORDER BY o_orderpriority")
      }),

    // Boolean aggregates (bool_and/bool_or) — constraint-style reductions.
    Q("agg_bool",
      Some("SELECT l_returnflag, bool_and(l_quantity > 1) AS all_multi, " +
        "bool_or(l_discount > 0.09) AS any_deep_discount, " +
        "CAST(count_if(l_tax = 0) AS BIGINT) AS n_taxfree " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
      (s, dir) => {
        tbl(s, dir, "lineitem").createOrReplaceTempView("lineitem_ba")
        s.sql("SELECT l_returnflag, bool_and(l_quantity > 1) AS all_multi, " +
          "bool_or(l_discount > 0.09) AS any_deep_discount, " +
          "CAST(count_if(l_tax = 0) AS BIGINT) AS n_taxfree " +
          "FROM lineitem_ba GROUP BY l_returnflag ORDER BY l_returnflag")
      }),

    // Bitwise scalar surface: and/or/xor, shifts, popcount — the bit-packed
    // flag and fingerprint manipulation SimHash-style ops build on.
    Q("scalar_bitwise",
      Some("SELECT o_orderkey, o_orderkey & 255 AS low_byte, " +
        "o_orderkey | 4096 AS with_flag, xor(o_orderkey, 1365) AS toggled, " +
        "o_orderkey << 2 AS shl, o_orderkey >> 3 AS shr, " +
        "CAST(bit_count(o_orderkey) AS INT) AS pop " +
        "FROM orders WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey"),
      (s, dir) => {
        tbl(s, dir, "orders").createOrReplaceTempView("orders_bw")
        s.sql("SELECT o_orderkey, o_orderkey & 255 AS low_byte, " +
          "o_orderkey | 4096 AS with_flag, o_orderkey ^ 1365 AS toggled, " +
          "shiftleft(o_orderkey, 2) AS shl, shiftright(o_orderkey, 3) AS shr, " +
          "CAST(bit_count(o_orderkey) AS INT) AS pop " +
          "FROM orders_bw WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey")
      }),

    // IGNORE NULLS window navigation (lag / nth_value): carry the previous
    // and first "significant" event past gaps — the sparse-signal
    // navigation ts_interpolate's fill is built from, here as the raw
    // surface.
    Q("win_ignore_nulls",
      Some("SELECT event_id, " +
        "coalesce(lag(CASE WHEN value > 400 THEN event_id END IGNORE NULLS) " +
        "OVER (PARTITION BY event_type ORDER BY event_id), -1) AS prev_big, " +
        "coalesce(nth_value(CASE WHEN value > 400 THEN event_id END, 1 IGNORE NULLS) " +
        "OVER (PARTITION BY event_type ORDER BY event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1) AS first_big " +
        "FROM events WHERE event_id % 7 = 0 ORDER BY event_id"),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type").orderBy("event_id")
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val big = when(col("value") > 400, col("event_id"))
        H.events(s, dir).filter(pmod(col("event_id"), lit(7)) === 0)
          .select(col("event_id"),
            coalesce(lag(big, 1, null, ignoreNulls = true).over(w), lit(-1L)).as("prev_big"),
            coalesce(nth_value(big, 1, ignoreNulls = true).over(wf), lit(-1L)).as("first_big"))
          .orderBy("event_id")
      }))
}
