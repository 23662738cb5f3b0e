package graft.queries

import java.nio.file.Files

import graft.{Q, QueryModule}
import graft.H.tbl
import graft.model.{EntityConfig, ExtractionConfig}
import graft.ops.Relational.nestChild
import graft.pipeline.{Refresh, StateStore}

/** End-to-end refresh lifecycle (SURVEY §3.1) as a judged query: nested
  * ORDERS entity → incremental watermark filter → parent/child split →
  * lowercase + lineage → parquet staging write → run report. The oracle
  * recomputes the expected per-table row counts relationally.
  */
object PipelineQueries extends QueryModule {

  private val lastRun = "1999-01-01 00:00:00"

  private val config = ExtractionConfig(
    datasourceName = "tpch_fixture",
    uri = "file:///root/testdata",
    accountId = "testacc",
    systemTimezone = "UTC",
    sourceSystem = "priority",
    entities = Seq(EntityConfig("ORDERS", filterFlag = true,
      filterField = "o_orderdate", expand = Seq("LINEITEMS"),
      lastRun = Some(lastRun), dataStartDate = Some("1995-01-01 00:00:00"))))

  /** EDMX describing the TPC-H-shaped fixture entities (keys match the
    * parquet columns), so the bootstrap's metadata-driven PK lookup and
    * typed deploys run against the same frames the refresh loads. */
  private val tpchEdmx =
    """<?xml version="1.0" encoding="utf-8"?>
      |<edmx:Edmx Version="4.0" xmlns:edmx="http://docs.oasis-open.org/odata/ns/edmx">
      |  <edmx:DataServices>
      |    <Schema Namespace="Tpch.OData" xmlns="http://docs.oasis-open.org/odata/ns/edm">
      |      <EntityType Name="ORDERS">
      |        <Key><PropertyRef Name="O_ORDERKEY"/></Key>
      |        <Property Name="O_ORDERKEY" Type="Edm.Int64" Nullable="false"/>
      |        <Property Name="O_ORDERDATE" Type="Edm.DateTimeOffset"/>
      |        <Property Name="O_TOTALPRICE" Type="Edm.Decimal"/>
      |      </EntityType>
      |      <EntityType Name="LINEITEMS">
      |        <Key><PropertyRef Name="O_ORDERKEY"/><PropertyRef Name="L_LINENUMBER"/></Key>
      |        <Property Name="O_ORDERKEY" Type="Edm.Int64" Nullable="false"/>
      |        <Property Name="L_LINENUMBER" Type="Edm.Int64" Nullable="false"/>
      |        <Property Name="L_QUANTITY" Type="Edm.Decimal"/>
      |      </EntityType>
      |    </Schema>
      |  </edmx:DataServices>
      |</edmx:Edmx>""".stripMargin

  def all: Seq[Q] = Seq(

    // /initialDataLoad (SURVEY §3.2) driver-verified: metadata parse →
    // ensure database → typed deploys → FULL refresh (watermark at
    // dataStartDate) → composite transcript, the reference's bootstrap
    // orchestration end-to-end with each outcome emitted as data.
    Q("pipeline_initial_load",
      Some("SELECT * FROM (VALUES (1, 'database', 'acc_testacc'), " +
        "(2, 'deploy_stg_lineitems', 'success'), " +
        "(3, 'deploy_stg_orders', 'success')) AS t(ord, step, result) " +
        "UNION ALL SELECT 4, 'load_stg_orders', CAST(count(*) AS VARCHAR) FROM orders " +
        "UNION ALL SELECT 5, 'load_stg_lineitems', CAST(count(*) AS VARCHAR) FROM lineitem " +
        "ORDER BY ord"),
      (s, dir) => {
        import graft.pipeline.{Bootstrap, CatalogOps}
        val bootCfg = ExtractionConfig(
          datasourceName = "tpch_fixture", uri = "file:///root/testdata",
          accountId = "testacc", systemTimezone = "UTC",
          sourceSystem = "priority",
          entities = Seq(EntityConfig("ORDERS", filterFlag = true,
            filterField = "o_orderdate", expand = Seq("LINEITEMS"),
            lastRun = Some(lastRun),
            dataStartDate = Some("1995-01-01 00:00:00"))))
        // self-healing catalog state (see o20): drop + physical cleanup
        val db = s"acc_${bootCfg.accountId}"
        s.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
        val dbPath = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), s"$db.db")
        val fs = dbPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(dbPath)) fs.delete(dbPath, true)

        val sinkDir = graft.H.tmpDir("graft_bootstrap")
        val report = Bootstrap.initialDataLoad(
          s, bootCfg, tpchEdmx,
          sources = _ => nestChild(
            parent = tbl(s, dir, "orders"), child = tbl(s, dir, "lineitem"),
            parentKey = "o_orderkey", childKey = "l_orderkey",
            subformName = "lineitems_subform", sortCols = Seq("l_linenumber")),
          subformsOf = _ => Map("lineitems_subform" -> "LINEITEMS"),
          sinkDir = sinkDir, state = new StateStore(s"$sinkDir/_state.json"),
          runId = "00000000-0000-4000-8000-000000000001",
          runTs = "2026-01-01 00:00:00")
        s.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")

        val byTable = report.loadReports.map(r => r.tableName -> r).toMap
        import s.implicits._
        Seq(
          (1, "database", report.database),
          (2, "deploy_stg_lineitems", report.tablesDeployed("stg_lineitems")),
          (3, "deploy_stg_orders", report.tablesDeployed("stg_orders")),
          (4, "load_stg_orders",
            byTable("stg_orders").recordsWritten.toString),
          (5, "load_stg_lineitems",
            byTable("stg_lineitems").recordsWritten.toString))
          .toDF("ord", "step", "result").orderBy("ord")
      }),

    // /testExtractionconfigEntities (app.py:70-76): the per-entity
    // connectivity probe — a $top=1 scan of every configured entity through
    // the DSv2 connector (the reference's check=True request), outcomes as
    // data. The probe is limit-pushed: the service answers one row.
    Q("pipeline_probe_entities",
      Some("SELECT * FROM (VALUES ('probe_customer', 'ok', 1), ('probe_orders', 'ok', 1)) " +
        "AS t(entity, status, n_rows) ORDER BY entity"),
      (s, dir) => {
        import s.implicits._
        // query-unique registry names: generic names ('customer'/'orders')
        // are shared with other queries and specs in the same session, and
        // re-registering a name invalidates any scan planned against its
        // previous generation (the server answers its page GETs 409)
        val entities = Seq("probe_customer" -> "customer", "probe_orders" -> "orders")
        entities.foreach { case (name, table) =>
          graft.sources.ODataTestServer.register(s, name, s"$dir/$table.parquet") }
        entities.map { case (name, _) =>
          val n = scala.util.Try(
            s.read.format("graft.sources.ODataHttpSource")
              .options(graft.sources.ODataHttpServer.tenantOptions)
              .option("entity", name).load().limit(1).count()).getOrElse(-1L)
          (name, if (n == 1L) "ok" else "fail", n.toInt)
        }.toDF("entity", "status", "n_rows").orderBy("entity")
      }),

    Q("pipeline_refresh_report",
      Some("SELECT 'orders' AS entity_name, 'stg_orders' AS table_name, " +
        "count(*) AS records_written, 'success' AS status FROM orders " +
        s"WHERE o_orderdate >= TIMESTAMP '$lastRun' " +
        "UNION ALL " +
        "SELECT 'orders_lineitems_subform', 'stg_lineitems', count(*), 'success' " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        s"WHERE o_orderdate >= TIMESTAMP '$lastRun' " +
        "ORDER BY table_name"),
      (s, dir) => {
        val sinkDir = graft.H.tmpDir("graft_refresh")
        val state = new StateStore(s"$sinkDir/_state.json")
        val nested = nestChild(
          parent = tbl(s, dir, "orders"), child = tbl(s, dir, "lineitem"),
          parentKey = "o_orderkey", childKey = "l_orderkey",
          subformName = "lineitems_subform", sortCols = Seq("l_linenumber"))
        // deliberately NOT cached: materializing the array-of-struct column
        // costs more than recomputing the nest for the two table writes
        val reports = Refresh.refreshAll(
          config, incremental = true,
          sources = _ => nested,
          subformsOf = _ => Map("lineitems_subform" -> "LINEITEMS"),
          pkOf = _ => Seq("o_orderkey"),
          sinkDir = sinkDir, state = state,
          runId = "00000000-0000-4000-8000-000000000000",
          runTs = "2026-01-01 00:00:00")
        import s.implicits._
        reports.toDF("entity_name", "table_name", "records_written", "status")
          .orderBy("table_name")
      }))
}
