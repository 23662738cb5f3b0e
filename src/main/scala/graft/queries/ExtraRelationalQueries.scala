package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{H, Q, QueryModule}
import graft.H.{dec2, tbl}

/** Second wave of relational surface: JSON decode with an explicit schema
  * (the reference's response parsing, O7), pivot/unpivot, scalar subqueries,
  * and file-format round-trips (CSV/JSON source+sink).
  */
object ExtraRelationalQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // O1+O2 as a real DataSource V2 scan: the watermark predicate, column
    // prune, and row pages flow through the connector's $filter/$select
    // pushdown (graft.sources.ODataHttpSource, every page a GET over the
    // localhost socket) instead of hand-built URLs. Each o03*/o05b shape
    // has an HTTP-named twin (o03e-h, o05c) over its own entity.
    Q("o03_dsv2_odata_scan",
      Some("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00' " +
        "ORDER BY o_orderkey"),
      (s, dir) => {
        graft.sources.ODataTestServer.register(s, "orders", s"$dir/orders.parquet")
        s.read.format("graft.sources.ODataHttpSource")
          .options(graft.sources.ODataHttpServer.tenantOptions)
          .option("entity", "orders").option("pageSize", "5000").load()
          .filter(col("o_orderdate") >= to_timestamp(lit("1999-01-01 00:00:00")))
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy("o_orderkey")
      }),

    // Top-N through the connector: ORDER BY + LIMIT collapse into
    // `$orderby=…&$top=n` (SupportsPushDownTopN, completely pushed) — the
    // service returns the exact sorted prefix and Spark plans NO sort. The
    // 100 TB point: a "latest 25 orders" probe moves 25 rows, not a scan.
    Q("o03c_dsv2_topn",
      Some("SELECT o_orderkey, o_totalprice FROM " +
        "(SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 25) " +
        "ORDER BY o_orderkey"),
      (s, dir) => {
        graft.sources.ODataTestServer.register(
          s, "orders_topn", s"$dir/orders.parquet")
        s.read.format("graft.sources.ODataHttpSource")
          .options(graft.sources.ODataHttpServer.tenantOptions)
          .option("entity", "orders_topn").option("pageSize", "5000").load()
          .select("o_orderkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(25)
          .orderBy("o_orderkey")
      }),

    // OData $batch over REAL HTTP (r7 verdict #8): THREE entity requests —
    // two full dimension pulls (nation, region) and one pushed per-nation
    // supplier aggregate ($applygroups/$applyaggs) — travel in ONE
    // POST $batch round-trip (OData v4.01 JSON batch format). The
    // reference's refresh loop pays one GET per entity per cycle
    // (priorityDataSource.py:639-746); for the dimension/config snapshot
    // that loop re-pulls every cycle, batching collapses K round-trips
    // into one. Schemas come from the wire's EDMX $metadata channel (the
    // same contract as every connector query). Scale shape: dimensions
    // land driver-side (tiny by definition) and broadcast into the join;
    // the supplier FACT never moves — its aggregate is computed
    // service-side and ships |nations| rows inside the batch.
    Q("o25_odata_batch",
      Some("SELECT r.r_name, n.n_name, " +
        "CAST(count(s.s_suppkey) AS BIGINT) AS n_suppliers, " +
        "min(s.s_acctbal) AS min_bal, max(s.s_acctbal) AS max_bal " +
        "FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey " +
        "LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey " +
        "GROUP BY r.r_name, n.n_name ORDER BY r_name, n_name"),
      (s, dir) => {
        import graft.sources.{ODataBatchClient, ODataHttpServer,
          ODataTestServer, ODataFilterSyntax, ODataAgg, ODataHttpSource}
        import scala.jdk.CollectionConverters._
        ODataTestServer.register(s, "nation_b", s"$dir/nation.parquet")
        ODataTestServer.register(s, "region_b", s"$dir/region.parquet")
        ODataTestServer.register(s, "supplier_b", s"$dir/supplier.parquet")
        val ep = ODataHttpServer.endpoint
        val (u, pw) = (ODataHttpServer.user, ODataHttpServer.pass)
        def schemaOf(e: String) = new ODataHttpSource().inferSchema(
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(
            (ODataHttpServer.tenantOptions + ("entity" -> e)).asJava))
        val aggSpecs = Seq(ODataAgg.CountAll,
          ODataAgg.MinOf("s_acctbal"), ODataAgg.MaxOf("s_acctbal"))
        val resp = ODataBatchClient.pull(ep, u, pw, Seq(
          ODataBatchClient.SubRequest("nation", "nation_b"),
          ODataBatchClient.SubRequest("region", "region_b"),
          ODataBatchClient.SubRequest("supps",
            "supplier_b?%24applygroups=s_nationkey" +
              "&%24applyaggs=" + java.net.URLEncoder.encode(
                ODataFilterSyntax.renderAggs(aggSpecs), "UTF-8"))))
        val nationSchema = schemaOf("nation_b")
        val regionSchema = schemaOf("region_b")
        val aggSchema = ODataFilterSyntax.aggSchema(
          schemaOf("supplier_b"), aggSpecs, Seq("s_nationkey"))
        def df(schema: org.apache.spark.sql.types.StructType, id: String) =
          s.createDataFrame(
            ODataBatchClient.rows(schema, resp(id)).asJava, schema)
        val nation = df(nationSchema, "nation")
        val region = df(regionSchema, "region")
        val supps = df(aggSchema, "supps")
        nation
          .join(broadcast(region),
            col("n_regionkey") === col("r_regionkey"))
          .join(broadcast(supps),
            col("s_nationkey") === col("n_nationkey"), "left")
          .select(col("r_name"), col("n_name"),
            coalesce(col("agg_0"), lit(0L)).as("n_suppliers"),
            col("agg_1").as("min_bal"), col("agg_2").as("max_bal"))
          .orderBy("r_name", "n_name")
      }),

    // The connector over a REAL socket: the tenant endpoint is an actual
    // localhost HttpServer (basic auth, OData query options in the URL,
    // JSON bodies, $skiptoken paging), and every page is fetched
    // executor-side with java.net.http.HttpClient. $filter (string +
    // double comparisons), $select, and paging all cross the wire.
    Q("o03e_dsv2_http_scan",
      Some("SELECT c_custkey, c_name, c_acctbal FROM customer " +
        "WHERE c_acctbal >= 1000.0 AND c_mktsegment = 'BUILDING' " +
        "ORDER BY c_custkey"),
      (s, dir) => {
        graft.sources.ODataTestServer.register(
          s, "customer_http", s"$dir/customer.parquet")
        s.read.format("graft.sources.ODataHttpSource")
          .options(graft.sources.ODataHttpServer.tenantOptions)
          .option("entity", "customer_http").option("pageSize", "100").load()
          .filter(col("c_acctbal") >= 1000.0 &&
            col("c_mktsegment") === "BUILDING")
          .select("c_custkey", "c_name", "c_acctbal")
          .orderBy("c_custkey")
      }),

    // GROUP BY through the connector: the whole aggregate collapses into
    // `$apply=groupby((cols), aggregate(...))` (SupportsPushDownAggregates
    // with grouping, completely pushed) — the service answers one row per
    // group and Spark plans NO aggregation. The 100 TB point: a per-status
    // rollup over a billion-row entity moves |groups| rows. Sum stays on
    // the integral column (exact in any order); the watermark predicate
    // still rides along as `$filter`.
    Q("o03d_dsv2_grouped_agg",
      Some("SELECT o_orderpriority, count(*) AS n, " +
        "min(o_totalprice) AS min_price, max(o_totalprice) AS max_price, " +
        "CAST(sum(o_custkey) AS BIGINT) AS sum_cust FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      (s, dir) => {
        graft.sources.ODataTestServer.register(
          s, "orders_gagg", s"$dir/orders.parquet")
        s.read.format("graft.sources.ODataHttpSource")
          .options(graft.sources.ODataHttpServer.tenantOptions)
          .option("entity", "orders_gagg").option("pageSize", "5000").load()
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            min(col("o_totalprice")).as("min_price"),
            max(col("o_totalprice")).as("max_price"),
            sum(col("o_custkey")).as("sum_cust"))
          .orderBy("o_orderpriority")
      }),

    // O5/O19 as a REAL streaming source: the reference's incremental
    // refresh (`POST /refreshData?incremental=true`) re-expressed as a
    // Structured Streaming pull THROUGH the connector. The offset is a row
    // cursor into the entity ($skiptoken position); run 1 (AvailableNow)
    // drains the initial rows, the service then gains new rows, and run 2
    // resumes from the CHECKPOINTED cursor — only the unseen rows are
    // fetched, and the final state holds every row exactly once. The
    // hand-rolled lastRun watermark advance becomes engine-managed offset
    // commitment.
    Q("o05b_dsv2_stream_pull",
      Some("SELECT o_orderpriority, count(*) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val orders = tbl(s, dir, "orders")
        val tmp = H.tmpDir("graft_streampull")
        val sink = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
        graft.sources.ODataTestServer.registerDf("orders_stream",
          orders.filter(pmod(col("o_orderkey"), lit(3)) =!= 0))
        def pullOnce(): Unit = {
          val q = s.readStream.format("graft.sources.ODataHttpSource")
            .options(graft.sources.ODataHttpServer.tenantOptions)
            .option("entity", "orders_stream").option("pageSize", "5000").load()
            .writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        pullOnce() // initial load: cursor 0 -> |subset A|
        graft.sources.ODataTestServer.appendRows("orders_stream",
          orders.filter(pmod(col("o_orderkey"), lit(3)) === 0))
        pullOnce() // incremental: cursor resumes, fetches ONLY the new rows
        s.read.parquet(sink)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(dec2(col("o_totalprice"))).cast("double").as("total"))
          .orderBy("o_orderpriority")
      }),

    // GROUP BY over the REAL socket: the whole aggregate collapses into
    // one $applyaggs/$applygroups GET (complete pushdown — Spark plans NO
    // aggregation) and |groups| rows cross the wire, with the watermark
    // predicate riding as $filter. o03d's semantics, HTTP transport.
    Q("o03h_dsv2_http_agg",
      Some("SELECT o_orderpriority, count(*) AS n, " +
        "min(o_totalprice) AS min_price, max(o_totalprice) AS max_price, " +
        "CAST(sum(o_custkey) AS BIGINT) AS sum_cust FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      (s, dir) => {
        graft.sources.ODataTestServer.register(
          s, "orders_gagg_http", s"$dir/orders.parquet")
        s.read.format("graft.sources.ODataHttpSource")
          .options(graft.sources.ODataHttpServer.tenantOptions)
          .option("entity", "orders_gagg_http").option("pageSize", "5000").load()
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            min(col("o_totalprice")).as("min_price"),
            max(col("o_totalprice")).as("max_price"),
            sum(col("o_custkey")).as("sum_cust"))
          .orderBy("o_orderpriority")
      }),

    // The incremental pull over the REAL socket: same contract as o05b
    // (row-cursor offset, checkpointed resume, append fetches only new
    // rows) but every micro-batch range is an HTTP GET with $skip/$top —
    // the reference's `refreshData?incremental=true` as a Structured
    // Streaming source over actual network transport.
    Q("o05c_dsv2_http_stream",
      Some("SELECT o_orderpriority, count(*) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val orders = tbl(s, dir, "orders")
        val tmp = H.tmpDir("graft_httpstream")
        val sink = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
        graft.sources.ODataTestServer.registerDf("orders_http_stream",
          orders.filter(pmod(col("o_orderkey"), lit(3)) =!= 0))
        def pullOnce(): Unit = {
          val q = s.readStream.format("graft.sources.ODataHttpSource")
            .options(graft.sources.ODataHttpServer.tenantOptions)
            .option("entity", "orders_http_stream").option("pageSize", "5000").load()
            .writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        pullOnce() // initial load: cursor 0 -> |subset A|
        graft.sources.ODataTestServer.appendRows("orders_http_stream",
          orders.filter(pmod(col("o_orderkey"), lit(3)) === 0))
        pullOnce() // incremental: cursor resumes, fetches ONLY the new rows
        s.read.parquet(sink)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(dec2(col("o_totalprice"))).cast("double").as("total"))
          .orderBy("o_orderpriority")
      }),

    // O14 + §2.2 JDBC sink/scan EXECUTED: a deterministic orders slice is
    // written into an embedded Derby warehouse through the reference's
    // typed-DDL path (PK VARCHAR(255), NUMERIC money, audit columns —
    // to_sql at priorityDataSource.py:891-896), then read back with a
    // range-partitioned spark.read.jdbc (8 strides over the numeric key,
    // the §2.2 parallel-readback shape) and compared hash-exact against
    // the parquet the table was loaded from. Only the dialect differs from
    // the Azure SQL production target — same options, same DDL author.
    Q("o14_jdbc_roundtrip",
      Some("SELECT CAST(o_orderkey AS VARCHAR) AS ordname, " +
        "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS curdate, " +
        "CAST(CAST(o_totalprice AS DECIMAL(31,3)) AS DOUBLE) AS qprice, " +
        "o_custkey AS ord " +
        "FROM orders WHERE o_orderkey % 20 = 0 ORDER BY ordname"),
      (s, dir) => {
        val home = H.tmpDir("graft_derby")
        // absolute db path: derby.system.home is only read at engine boot,
        // so a relative URL would pin every later run to the first run's dir
        val url = s"jdbc:derby:$home/db;create=true"
        val DerbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"
        val df = tbl(s, dir, "orders")
          .filter(pmod(col("o_orderkey"), lit(20)) === 0)
          .select(
            col("o_orderkey").cast("string").as("ordname"),
            col("o_orderdate").cast("timestamp").as("curdate"),
            col("o_totalprice").cast("decimal(31,3)").as("qprice"),
            col("o_custkey").as("ord"))
          .withColumn("extractionid",
            lit("00000000-0000-4000-8000-000000000000"))
          .withColumn("extractiontimestamputc",
            to_timestamp(lit("2026-01-01 00:00:00")))
        df.write.format("jdbc")
          .options(graft.pipeline.Sinks.jdbcOptions(
            graft.model.Fixtures.ordersMeta, url, "stg_orders",
            dialect = "derby") + ("driver" -> DerbyDriver))
          .mode(org.apache.spark.sql.SaveMode.Overwrite).save()
        val bounds = df.agg(min(col("ord")), max(col("ord"))).collect()(0)
        val back = s.read.format("jdbc")
          .options(graft.pipeline.Sinks.jdbcScanOptions(url, "stg_orders",
            "ord", bounds.getLong(0), bounds.getLong(1) + 1,
            numPartitions = 8) + ("driver" -> DerbyDriver))
          .load()
        back.select(col("ordname"),
            date_format(col("curdate"), "yyyy-MM-dd HH:mm:ss").as("curdate"),
            // engine-exact convention: the money column crosses the compare
            // as double (the decimal carried exactness through the warehouse)
            col("qprice").cast("double").as("qprice"), col("ord"))
          .orderBy("ordname")
      }),

    // O3 proper: the `$expand` navigation property served BY the connector —
    // child subform rows arrive nested inside the parent entity response
    // (array-of-struct column), then split into the child table via
    // explodeSubform. The watermark filter rides along as `$filter`.
    Q("o03b_dsv2_expand",
      Some("SELECT l.l_orderkey AS o_orderkey, l.l_linenumber, l.l_partkey, " +
        "l.l_quantity FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey " +
        "WHERE o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' " +
        "ORDER BY o_orderkey, l_linenumber, l_partkey, l_quantity"),
      (s, dir) => {
        graft.sources.ODataTestServer.registerExpanded(s, "orders_expanded",
          s"$dir/orders.parquet", s"$dir/lineitem.parquet",
          parentKey = "o_orderkey", childKey = "l_orderkey",
          subformName = "lineitems_subform", sortCols = Seq("l_linenumber"))
        val scan = s.read.format("graft.sources.ODataHttpSource")
          .options(graft.sources.ODataHttpServer.tenantOptions)
          .option("entity", "orders_expanded").option("pageSize", "5000").load()
          .filter(col("o_orderdate") >= to_timestamp(lit("1998-01-01 00:00:00")))
        graft.ops.Relational.explodeSubform("lineitems_subform", Seq("o_orderkey"))(scan)
          .select(col("o_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_quantity"))
          .orderBy("o_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      }),

    // Top-N over the REAL socket: ORDER BY + LIMIT collapse into
    // `$orderby=...&$top=25` in the page GET (complete pushdown, no Spark
    // sort) — the service returns the exact sorted prefix and 25 rows
    // cross the wire, not a scan. o03c's semantics, HTTP transport.
    Q("o03g_dsv2_http_topn",
      Some("SELECT o_orderkey, o_totalprice FROM " +
        "(SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 25) " +
        "ORDER BY o_orderkey"),
      (s, dir) => {
        graft.sources.ODataTestServer.register(
          s, "orders_topn_http", s"$dir/orders.parquet")
        s.read.format("graft.sources.ODataHttpSource")
          .options(graft.sources.ODataHttpServer.tenantOptions)
          .option("entity", "orders_topn_http").option("pageSize", "5000").load()
          .select("o_orderkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(25)
          .orderBy("o_orderkey")
      }),

    // $expand over the REAL socket: the nested lineitems subform rides
    // inside each parent's JSON response row (array-of-struct serde across
    // the wire), the timestamp watermark predicate travels as a
    // datetime'...' $filter literal, and the child table splits out with
    // PK inheritance after the fetch — o03b's semantics, HTTP transport.
    Q("o03f_dsv2_http_expand",
      Some("SELECT l.l_orderkey AS o_orderkey, l.l_linenumber, l.l_partkey, " +
        "l.l_quantity FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey " +
        "WHERE o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' " +
        "ORDER BY o_orderkey, l_linenumber, l_partkey, l_quantity"),
      (s, dir) => {
        graft.sources.ODataTestServer.registerExpanded(s, "orders_expanded_http",
          s"$dir/orders.parquet", s"$dir/lineitem.parquet",
          parentKey = "o_orderkey", childKey = "l_orderkey",
          subformName = "lineitems_subform", sortCols = Seq("l_linenumber"))
        val scan = s.read.format("graft.sources.ODataHttpSource")
          .options(graft.sources.ODataHttpServer.tenantOptions)
          .option("entity", "orders_expanded_http").option("pageSize", "2000").load()
          .filter(col("o_orderdate") >= to_timestamp(lit("1998-01-01 00:00:00")))
        graft.ops.Relational.explodeSubform("lineitems_subform", Seq("o_orderkey"))(scan)
          .select(col("o_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_quantity"))
          .orderBy("o_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      }),

    // O7: JSON → typed rows with a metadata-derived schema (from_json), the
    // engine's version of response.json() parsing — never schema inference.
    Q("o07_json_decode",
      Some("SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k " +
        "FROM events ORDER BY event_id"),
      (s, dir) =>
        H.events(s, dir)
          .select(col("event_id"),
            from_json(col("props"), StructType(Seq(StructField("k", LongType))))
              .getField("k").as("k"))
          .orderBy("event_id")),

    // The explode_outer variant of O11: parents WITHOUT children survive
    // with null child columns (vs the inner explode that drops them) —
    // both subform-split semantics, side by side.
    Q("o11b_explode_outer",
      Some("SELECT c.c_custkey, o.o_orderkey, o.o_totalprice " +
        "FROM customer c LEFT JOIN " +
        "(SELECT * FROM orders WHERE o_totalprice > 400000.0) o " +
        "ON o.o_custkey = c.c_custkey " +
        "ORDER BY c_custkey, o_orderkey"),
      (s, dir) => {
        import graft.ops.Relational.nestChild
        val nested = nestChild(
          parent = tbl(s, dir, "customer"),
          child = tbl(s, dir, "orders").filter(col("o_totalprice") > 400000.0),
          parentKey = "c_custkey", childKey = "o_custkey",
          subformName = "orders_subform", sortCols = Seq("o_orderkey"))
        nested
          .select(col("c_custkey"), explode_outer(col("orders_subform")).as("_r"))
          .select(col("c_custkey"), col("_r.o_orderkey").as("o_orderkey"),
            col("_r.o_totalprice").as("o_totalprice"))
          .orderBy("c_custkey", "o_orderkey")
      }),

    // Higher-order collection functions: filter / exists / transform over
    // token arrays — the codegen'd no-UDF way to do per-row collection work.
    Q("scalar_hof",
      Some("SELECT doc_id, " +
        "CAST(len(list_filter(toks, t -> length(t) > 3)) AS BIGINT) AS n_long, " +
        "CAST(len(list_filter(toks, t -> t = 'data')) > 0 AS INTEGER) AS has_data, " +
        "array_to_string(list_transform(toks[1:3], t -> upper(t)), '|') AS head3_upper " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) " +
        "ORDER BY doc_id"),
      (s, dir) =>
        tbl(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .select(col("doc_id"),
            size(filter(col("toks"), t => length(t) > 3)).cast("long").as("n_long"),
            exists(col("toks"), t => t === "data").cast("int").as("has_data"),
            array_join(transform(slice(col("toks"), 1, 3), t => upper(t)), "|")
              .as("head3_upper"))
          .orderBy("doc_id")),

    // Pivot: order counts + exact spend per priority, pivoted on status.
    Q("agg_pivot",
      Some("SELECT o_orderpriority, " +
        "count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f, " +
        "count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o, " +
        "count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      (s, dir) =>
        tbl(s, dir, "orders")
          .groupBy("o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .select(col("o_orderpriority"), col("F").as("n_f"),
            col("O").as("n_o"), col("P").as("n_p"))
          .orderBy("o_orderpriority")),

    // Unpivot via the stack generator (UDTF surface, §2.2 last row).
    Q("unpivot_stack",
      Some("SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part " +
        "UNION ALL SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part " +
        "ORDER BY p_partkey, metric"),
      (s, dir) =>
        tbl(s, dir, "part")
          .select(col("p_partkey"),
            expr("stack(2, 'retailprice', p_retailprice, 'size', CAST(p_size AS DOUBLE)) " +
              "AS (metric, value)"))
          .orderBy("p_partkey", "metric")),

    // Scalar + correlated subqueries through the SQL surface.
    Q("subquery_scalar",
      Some("SELECT o_orderkey, " +
        "o_totalprice / (SELECT max(o_totalprice) FROM orders) AS price_ratio, " +
        "CAST(o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') " +
        "AS INTEGER) AS is_building " +
        "FROM orders ORDER BY o_orderkey"),
      (s, dir) => {
        tbl(s, dir, "orders").createOrReplaceTempView("orders_sq")
        tbl(s, dir, "customer").createOrReplaceTempView("customer_sq")
        s.sql("SELECT o_orderkey, " +
          "o_totalprice / (SELECT max(o_totalprice) FROM orders_sq) AS price_ratio, " +
          "CAST(o_custkey IN (SELECT c_custkey FROM customer_sq WHERE c_mktsegment = 'BUILDING') " +
          "AS INT) AS is_building " +
          "FROM orders_sq ORDER BY o_orderkey")
      }),

    // Array/struct collection functions over a built nested column.
    Q("scalar_collections",
      Some("SELECT doc_id, toks[1] AS first_tok, " +
        "toks[len(toks)] AS last_tok, " +
        "CAST(list_contains(toks, 'spark') AS INTEGER) AS has_spark, " +
        "CAST(coalesce(list_position(toks, 'data'), 0) AS BIGINT) AS data_pos, " +
        "array_to_string(list_sort(toks[1:3]), '|') AS head3_sorted, " +
        "{'id': doc_id, 'n': len(toks)}.n AS packed_n " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) " +
        "ORDER BY doc_id"),
      (s, dir) =>
        tbl(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .select(col("doc_id"),
            element_at(col("toks"), 1).as("first_tok"),
            element_at(col("toks"), -1).as("last_tok"),
            array_contains(col("toks"), "spark").cast("int").as("has_spark"),
            // Spark's array_position returns 0 when absent; DuckDB's
            // list_position returns NULL -> coalesced in the oracle
            array_position(col("toks"), "data").cast("long").as("data_pos"),
            array_join(sort_array(slice(col("toks"), 1, 3)), "|").as("head3_sorted"),
            struct(col("doc_id").as("id"), size(col("toks")).as("n"))
              .getField("n").cast("long").as("packed_n"))
          .orderBy("doc_id")),

    // CSV source+sink round-trip: write typed rows to CSV, read them back
    // with an explicit schema (never inference — O8 discipline).
    Q("source_csv_roundtrip",
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),
      (s, dir) => {
        val out = H.tmpDir("graft_csv") + "/nation"
        tbl(s, dir, "nation").write.mode("overwrite")
          .option("header", "true").csv(out)
        s.read
          .schema(StructType(Seq(
            StructField("n_nationkey", IntegerType),
            StructField("n_name", StringType),
            StructField("n_regionkey", IntegerType))))
          .option("header", "true").csv(out)
          .orderBy("n_nationkey")
      }),

    // JSON-lines source+sink round-trip with explicit schema.
    Q("source_json_roundtrip",
      Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"),
      (s, dir) => {
        val out = H.tmpDir("graft_json") + "/region"
        tbl(s, dir, "region").write.mode("overwrite").json(out)
        s.read
          .schema(StructType(Seq(
            StructField("r_regionkey", IntegerType),
            StructField("r_name", StringType))))
          .json(out)
          .orderBy("r_regionkey")
      }),

    // Spark 4 native XML source+sink round-trip (the reference's own config
    // domain is EDMX XML — priorityDataSource.py parses $metadata by hand;
    // here the engine round-trips row data through the built-in XML
    // datasource with an explicit schema and rowTag).
    Q("source_xml_roundtrip",
      Some("SELECT s_suppkey, s_name, s_nationkey FROM supplier ORDER BY s_suppkey"),
      (s, dir) => {
        val out = H.tmpDir("graft_xml") + "/supplier"
        tbl(s, dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
          .write.mode("overwrite").option("rowTag", "supplier")
          .format("xml").save(out)
        s.read
          .schema(StructType(Seq(
            StructField("s_suppkey", IntegerType),
            StructField("s_name", StringType),
            StructField("s_nationkey", IntegerType))))
          .option("rowTag", "supplier").format("xml").load(out)
          .orderBy("s_suppkey")
      }))
}
