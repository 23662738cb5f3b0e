package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{EntityConfig, ExtractionConfig, Fixtures}
import graft.ops.Relational.nestChild
import graft.pipeline.{Refresh, Sinks, StateStore}

class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  private def cfg(entities: EntityConfig*) = ExtractionConfig(
    "t", "file://x", "acc", "UTC", "priority", entities)

  test("state store: advance/get round-trip, unknown entity empty") {
    val p = Files.createTempDirectory("state").resolve("s.json").toString
    val st = new StateStore(p)
    assert(st.get("ORDERS").isEmpty)
    st.advance("ORDERS", "2026-01-01 00:00:00")
    st.advance("CTYPE", "2026-01-02 00:00:00")
    assert(st.get("ORDERS").contains("2026-01-01 00:00:00"))
    assert(st.get("CTYPE").contains("2026-01-02 00:00:00"))
    st.advance("ORDERS", "2026-01-03 00:00:00")
    assert(st.get("ORDERS").contains("2026-01-03 00:00:00"))
  }

  test("refreshAll: failure isolation — bad entity errors, good entity loads, watermark only advances on success") {
    val dir = Files.createTempDirectory("refresh").toString
    val st = new StateStore(s"$dir/state.json")
    val good = EntityConfig("ORDERS", filterFlag = false, "", Seq.empty, None, None)
    val bad = EntityConfig("BROKEN", filterFlag = false, "", Seq.empty, None, None)
    val reports = Refresh.refreshAll(
      cfg(bad, good), incremental = false,
      sources = {
        case "ORDERS" => H.tbl(spark, sf, "orders")
        case _ => throw new RuntimeException("source unreachable")
      },
      subformsOf = _ => Map.empty, pkOf = _ => Seq("o_orderkey"),
      sinkDir = dir, state = st,
      runId = "RUN", runTs = "2026-01-01 00:00:00")
    assert(reports.map(_.status).count(_ == "success") == 1)
    assert(reports.exists(_.status.startsWith("error")))
    // unfiltered entity under EventTimeMax: no watermark to advance
    assert(st.get("ORDERS").isEmpty)
    assert(st.get("BROKEN").isEmpty) // write-then-advance: no advance on failure
    val staged = spark.read.parquet(s"$dir/stg_orders")
    assert(staged.count() == H.tbl(spark, sf, "orders").count())
    assert(staged.columns.contains("extractionid"))
  }

  test("incremental refresh appends; full refresh overwrites") {
    val dir = Files.createTempDirectory("modes").toString
    val st = new StateStore(s"$dir/state.json")
    val e = EntityConfig("ORDERS", filterFlag = false, "", Seq.empty, None, None)
    def run(incr: Boolean) = Refresh.refreshAll(
      cfg(e), incr, _ => H.tbl(spark, sf, "orders").limit(10),
      _ => Map.empty, _ => Seq("o_orderkey"), dir, st, "RUN", "2026-01-01 00:00:00")
    run(incr = false)
    run(incr = true)
    assert(spark.read.parquet(s"$dir/stg_orders").count() == 20) // 10 + appended 10
    run(incr = false)
    assert(spark.read.parquet(s"$dir/stg_orders").count() == 10) // overwritten
  }

  test("watermark advance: EventTimeMax uses max observed event time, WallClock uses runTs") {
    import graft.pipeline.WatermarkAdvance
    val e = EntityConfig("ORDERS", filterFlag = true, "o_orderdate", Seq.empty,
      lastRun = Some("1990-01-01 00:00:00"), dataStartDate = Some("1990-01-01 00:00:00"))
    def run(advance: WatermarkAdvance, dir: String, st: StateStore,
        runId: String = java.util.UUID.randomUUID().toString) =
      Refresh.refreshAll(cfg(e), incremental = true,
        _ => H.tbl(spark, sf, "orders"), _ => Map.empty, _ => Seq("o_orderkey"),
        dir, st, runId, "2026-01-01 00:00:00", advance)

    val d1 = Files.createTempDirectory("wm1").toString
    val st1 = new StateStore(s"$d1/state.json")
    val first = run(WatermarkAdvance.EventTimeMax, d1, st1)
    assert(first.head.recordsWritten == H.tbl(spark, sf, "orders").count())
    val maxPlus = H.tbl(spark, sf, "orders")
      .selectExpr("date_format(max(o_orderdate) + INTERVAL 1 MICROSECOND, " +
        "'yyyy-MM-dd HH:mm:ss.SSSSSS')").collect()(0).getString(0)
    assert(st1.get("ORDERS").contains(maxPlus)) // observed max + 1µs

    // steady state: a second incremental run with no new data writes
    // NOTHING (the >= bound no longer re-extracts the boundary rows)
    val second = run(WatermarkAdvance.EventTimeMax, d1, st1)
    assert(second.head.recordsWritten == 0, second.head.toString)
    assert(st1.get("ORDERS").contains(maxPlus)) // watermark unchanged

    val d2 = Files.createTempDirectory("wm2").toString
    val st2 = new StateStore(s"$d2/state.json")
    run(WatermarkAdvance.WallClock, d2, st2)
    assert(st2.get("ORDERS").contains("2026-01-01 00:00:00")) // reference mode
  }

  test("staging sink partitions by run id: report counts prune to the run's files") {
    val dir = Files.createTempDirectory("prune").toString
    val st = new StateStore(s"$dir/state.json")
    val e = EntityConfig("ORDERS", filterFlag = false, "", Seq.empty, None, None)
    def run(runId: String) = Refresh.refreshAll(
      cfg(e), incremental = true, _ => H.tbl(spark, sf, "orders").limit(10),
      _ => Map.empty, _ => Seq("o_orderkey"), dir, st, runId, "2026-01-01 00:00:00")
    run("RUN1"); run("RUN2")

    // hive-style run partitions on disk
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/stg_orders/extractionid=RUN1")))
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/stg_orders/extractionid=RUN2")))

    // a lineage-id filter is a partition PRUNE, not a data filter
    val scan = spark.read.parquet(s"$dir/stg_orders")
      .filter(col("extractionid") === "RUN2")
    assert(scan.count() == 10)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("extractionid"), plan)
  }

  test("readStaged pins extractionid to string: numeric-looking run ids survive partition-value parsing") {
    val dir = Files.createTempDirectory("pin").toString
    val st = new StateStore(s"$dir/state.json")
    val e = EntityConfig("ORDERS", filterFlag = false, "", Seq.empty, None, None)
    // '0123' type-infers as the integer 123 on a bare read — value corrupted
    Refresh.refreshAll(
      cfg(e), incremental = true, _ => H.tbl(spark, sf, "orders").limit(5),
      _ => Map.empty, _ => Seq("o_orderkey"), dir, st, "0123", "2026-01-01 00:00:00")
    val staged = Sinks.readStaged(spark, s"$dir/stg_orders")
    assert(staged.schema("extractionid").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(staged.select("extractionid").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("0123"))
  }

  test("legacy flat staging dirs keep their layout on append (no mixed-layout corruption)") {
    val dir = Files.createTempDirectory("legacy").toString
    val st = new StateStore(s"$dir/state.json")
    val e = EntityConfig("ORDERS", filterFlag = false, "", Seq.empty, None, None)
    // simulate a pre-partitioning sink: flat files at the directory root,
    // extractionid as a plain data column
    H.tbl(spark, sf, "orders").limit(10)
      .withColumn("extractionid", lit("OLD"))
      .withColumn("extractiontimestamputc", to_timestamp(lit("2025-01-01 00:00:00")))
      .write.parquet(s"$dir/stg_orders")
    // an incremental refresh appends WITHOUT introducing partition dirs
    val reports = Refresh.refreshAll(
      cfg(e), incremental = true, _ => H.tbl(spark, sf, "orders").limit(10),
      _ => Map.empty, _ => Seq("o_orderkey"), dir, st, "NEW", "2026-01-01 00:00:00")
    assert(reports.head.status == "success", reports.head.toString)
    assert(reports.head.recordsWritten == 10)
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/stg_orders/extractionid=NEW")))
    val all = spark.read.parquet(s"$dir/stg_orders")
    assert(all.count() == 20)
    assert(all.filter(col("extractionid") === "NEW").count() == 10)
  }

  test("full extract path through the DSv2 connector: $expand scan -> split -> staged write") {
    import graft.sources.{ODataHttpServer, ODataTestServer}
    val dir = Files.createTempDirectory("dsv2_refresh").toString
    val st = new StateStore(s"$dir/state.json")
    ODataTestServer.registerExpanded(spark, "orders_pipeline",
      s"$sf/orders.parquet", s"$sf/lineitem.parquet",
      parentKey = "o_orderkey", childKey = "l_orderkey",
      subformName = "lineitems_subform", sortCols = Seq("l_linenumber"))
    val source = spark.read.format("graft.sources.ODataHttpSource")
      .options(ODataHttpServer.tenantOptions)
      .option("entity", "orders_pipeline").option("pageSize", "500").load()
    val e = EntityConfig("ORDERS", filterFlag = true, filterField = "o_orderdate",
      expand = Seq("LINEITEMS"),
      lastRun = Some("1998-01-01 00:00:00"), dataStartDate = Some("1995-01-01 00:00:00"))
    ODataHttpServer.requestLog.clear()
    val reports = Refresh.refreshAll(
      cfg(e), incremental = true,
      sources = _ => source,
      subformsOf = _ => Map("lineitems_subform" -> "LINEITEMS"),
      pkOf = _ => Seq("o_orderkey"),
      sinkDir = dir, state = st,
      runId = "RUNX", runTs = "2026-01-01 00:00:00")
    assert(reports.forall(_.status == "success"), reports.toString)
    // the connector served the subform and the watermark went down as $filter
    import scala.jdk.CollectionConverters._
    val served = ODataHttpServer.requestLog.asScala.toList
      .filter(_.startsWith("GET /odata/orders_pipeline?"))
    assert(served.exists(r => r.contains("lineitems_subform") &&
      r.contains("%24filter=")), served.mkString("\n"))
    // ONE extraction feeds both tables: one preflight, each page once
    val (preflights, pages) = served.partition(_.contains("preflight"))
    assert(preflights.size == 1, served.mkString("\n"))
    assert(pages.nonEmpty && pages.distinct == pages, served.mkString("\n"))
    // staged parent and child rows match a direct relational computation
    def asText(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
      df.select(cols.map(c => col(c).cast("string")): _*)
    def sameRows(got: org.apache.spark.sql.DataFrame,
        want: org.apache.spark.sql.DataFrame): Unit = {
      assert(got.count() == want.count())
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }
    val parents = H.tbl(spark, sf, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1998-01-01 00:00:00")))
    val children = H.tbl(spark, sf, "lineitem")
      .join(parents, col("l_orderkey") === col("o_orderkey"), "left_semi")
    sameRows(asText(spark.read.parquet(s"$dir/stg_orders"), parents.columns.toSeq),
      asText(parents, parents.columns.toSeq))
    val childCols = children.columns.toSeq.filterNot(_ == "l_orderkey")
    sameRows(
      asText(spark.read.parquet(s"$dir/stg_lineitems")
        .withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey" +: childCols),
      asText(children, "l_orderkey" +: childCols))
    // watermark advanced past the max observed o_orderdate
    assert(st.get("ORDERS").isDefined)
  }

  /** Refreshes an OData entity with a subform whose `plainFile` sink path
    * is a plain file, so that table's write fails; returns the reports, the
    * sink directory and the state store. */
  private def refreshWithBrokenSink(plainFile: String) = {
    import graft.sources.{ODataHttpServer, ODataTestServer}
    val dir = Files.createTempDirectory("shared_fail").toString
    val st = new StateStore(s"$dir/state.json")
    ODataTestServer.registerExpanded(spark, "orders_pipeline_fail",
      s"$sf/orders.parquet", s"$sf/lineitem.parquet",
      parentKey = "o_orderkey", childKey = "l_orderkey",
      subformName = "lineitems_subform", sortCols = Seq("l_linenumber"))
    val source = spark.read.format("graft.sources.ODataHttpSource")
      .options(ODataHttpServer.tenantOptions)
      .option("entity", "orders_pipeline_fail").option("pageSize", "500").load()
    Files.write(java.nio.file.Paths.get(s"$dir/$plainFile"), Array[Byte](1))
    val e = EntityConfig("ORDERS", filterFlag = true, filterField = "o_orderdate",
      expand = Seq("LINEITEMS"),
      lastRun = Some("1998-01-01 00:00:00"), dataStartDate = None)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val reports = Refresh.refreshAll(
      cfg(e), incremental = true,
      sources = _ => source,
      subformsOf = _ => Map("lineitems_subform" -> "LINEITEMS"),
      pkOf = _ => Seq("o_orderkey"),
      sinkDir = dir, state = st,
      runId = "RUNF", runTs = "2026-01-01 00:00:00")
    // the shared extraction is released whatever failed
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(persisted).isEmpty)
    // the status names the failure's class, then its message
    assert(reports.size == 1 &&
      reports.head.status.startsWith("error: ParentNotDirectoryException: "),
      reports.toString)
    (dir, st)
  }

  test("a failed child write releases the shared extraction and keeps the watermark") {
    val (dir, st) = refreshWithBrokenSink("stg_lineitems")
    assert(spark.read.parquet(s"$dir/stg_orders").count() > 0) // parent landed
    assert(st.get("ORDERS").isEmpty)
  }

  test("a failed parent write returns only after its concurrent child write has ended") {
    val (dir, st) = refreshWithBrokenSink("stg_orders")
    // the child write ran alongside and was joined before the error report
    assert(spark.read.parquet(s"$dir/stg_lineitems").count() > 0)
    assert(st.get("ORDERS").isEmpty)
  }

  test("only an OData subform entity shares its extraction; a relational nest is recomputed") {
    import graft.sources.{ODataHttpServer, ODataTestServer}
    ODataTestServer.registerExpanded(spark, "orders_pipeline_shared",
      s"$sf/orders.parquet", s"$sf/lineitem.parquet",
      parentKey = "o_orderkey", childKey = "l_orderkey",
      subformName = "lineitems_subform", sortCols = Seq("l_linenumber"))
    val odata = spark.read.format("graft.sources.ODataHttpSource")
      .options(ODataHttpServer.tenantOptions)
      .option("entity", "orders_pipeline_shared").load()
      .filter(col("o_orderdate") >= to_timestamp(lit("1998-01-01 00:00:00")))
    val nested = nestChild(
      parent = H.tbl(spark, sf, "orders"), child = H.tbl(spark, sf, "lineitem"),
      parentKey = "o_orderkey", childKey = "l_orderkey",
      subformName = "lineitems_subform", sortCols = Seq("l_linenumber"))
    val subforms = Map("lineitems_subform" -> "LINEITEMS")
    assert(Refresh.sharesExtraction(odata, subforms))
    assert(!Refresh.sharesExtraction(odata, Map.empty))
    assert(!Refresh.sharesExtraction(nested, subforms))
  }

  test("jdbc writer options carry typed columns and batching") {
    val opts = Sinks.jdbcOptions(Fixtures.ordersMeta, "jdbc:sqlserver://h;db=x", "stg_orders")
    assert(opts("createTableColumnTypes").contains("ordname VARCHAR(255)"))
    assert(opts("batchsize") == "10000")
    val scan = Sinks.jdbcScanOptions("jdbc:sqlserver://h;db=x", "stg_orders",
      "ord", 0L, 1000000L)
    assert(scan("numPartitions") == "32" && scan("partitionColumn") == "ord")
  }

  test("csv debug sink writes readable rows (O15)") {
    val dir = Files.createTempDirectory("csv").toString + "/out"
    Sinks.writeCsv(H.tbl(spark, sf, "nation"), dir)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.count() == 25)
  }
}
