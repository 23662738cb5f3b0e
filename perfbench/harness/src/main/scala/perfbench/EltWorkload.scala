package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{EntityConfig, ExtractionConfig}
import graft.ops.Relational
import graft.pipeline.{Bootstrap, EntityReport, Refresh, Sinks, StateStore}
import graft.schema.MetadataXml
import graft.sources.{ODataHttpServer, ODataTestServer}
import graft.types.EdmTypes

/** `elt_refresh`: the paper's product over a real localhost socket.
  *
  * The tenant ([[ODataTestServer]] behind [[ODataHttpServer]]) holds 3,755
  * schema-only entities, the reference's published metadata-refresh size,
  * plus `ORDERS` with its line items as the `$expand` subform `ORDERITEMS`,
  * read through the `ODataHttpSource` connector with `pageSize` 2000. One
  * closed-loop client runs, in order: metadata refreshes (GET `$metadata`,
  * `MetadataXml.parse`, `EdmTypes` mapping, parquet metadata-store
  * overwrite), full loads through `Bootstrap.initialDataLoad`, and
  * incremental cycles through `Refresh.refreshAll(incremental = true)`,
  * each preceded (untimed) by a seeded delta of new orders and line items
  * whose event times lie after the current watermark. */
object EltWorkload {
  val SchemaOnlyEntities = 3755
  val PageSize = 2000
  /** Orders of the sf0.1 `orders` table served by the tenant (the first
    * `TenantOrders` order keys, with all of their line items). */
  val TenantOrders = 20000
  val DeltaOrders = 1500
  val MetadataRefreshes = 3
  val FullLoads = 2
  /** Untimed incremental cycles in set-up, after which cycle times settle. */
  val WarmCycles = 3
  /** Incremental cycles per run: 0.4 per second of `--seconds`. */
  def cycles(seconds: Int): Int = math.max(4, math.round(0.4 * seconds).toInt)

  private val Entity = "ORDERS"
  private val Subform = "ORDERITEMS"
  private val ChildTable = s"${Entity}_$Subform"
  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  private val keyMeta = new MetadataBuilder().putBoolean("keyFlag", true).build()

  /** The schema-only entities' shape: a key and seven typed fields. */
  private val schemaOnly: StructType = StructType(
    StructField("K", StringType, nullable = false, keyMeta) +:
      (0 until 7).map { f =>
        StructField(s"F$f", f % 4 match {
          case 0 => StringType
          case 1 => DecimalType(15, 2)
          case 2 => TimestampType
          case _ => LongType
        })
      })

  final class Tenant(spark: SparkSession, data: String) {
    val orders: DataFrame = spark.read.parquet(s"$data/orders.parquet")
      .filter(col("o_orderkey") < TenantOrders)
    val lines: DataFrame = spark.read.parquet(s"$data/lineitem.parquet")
      .filter(col("l_orderkey") < TenantOrders)

    /** Registers every entity and materializes `ORDERS`' rows. */
    def register(): Unit = {
      val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), schemaOnly)
      (0 until SchemaOnlyEntities).foreach(i => ODataTestServer.registerDf(f"ENT$i%04d", empty))
      ODataTestServer.registerDf(Entity, nested(orders, lines))
      ODataTestServer.rowCount(Entity)
    }

    /** Orders with their line items nested, `o_orderkey` flagged as key. */
    def nested(o: DataFrame, l: DataFrame): DataFrame = {
      val n = Relational.nestChild(o, l, "o_orderkey", "l_orderkey", Subform, Seq("l_linenumber"))
      n.select(n.columns.toIndexedSeq.map(c =>
        if (c == "o_orderkey") col(c).as(c, keyMeta) else col(c)): _*)
    }
  }

  /** Request-log kinds, counted from the delta of `ODataHttpServer.requestLog`. */
  final class Requests {
    private val MaxLog = 10000
    private var seen = 0
    def take(): Vector[String] = {
      val all = ODataHttpServer.requestLog.asScala.toVector
      // the log drops its oldest lines past MaxLog, after which a delta
      // would silently undercount
      require(all.size < MaxLog - 1000,
        s"request log holds ${all.size} lines, near its $MaxLog cap; counts would be wrong")
      val fresh = all.drop(seen)
      seen = all.size
      fresh
    }
  }

  def run(spark: SparkSession, probe: Probe, a: Args, sessionS: Double): Outcome = {
    import spark.implicits._
    val endpoint = ODataHttpServer.endpoint
    val (user, pass) = (ODataHttpServer.user, ODataHttpServer.pass)
    val tenant = new Tenant(spark, a.data)
    val work = new File(a.work, "elt").getAbsolutePath

    def source(): DataFrame = spark.read.format("graft.sources.ODataHttpSource")
      .option("endpoint", endpoint).option("entity", Entity)
      .option("user", user).option("pass", pass)
      .option("pageSize", PageSize.toString).load()
    val config = ExtractionConfig("perfbench", endpoint, "perfbench", "UTC", "priority",
      Seq(EntityConfig(Entity, filterFlag = true, filterField = "o_orderdate",
        expand = Seq(ChildTable), lastRun = None,
        dataStartDate = Some("1995-01-01 00:00:00"))))
    val subforms: String => Map[String, String] = _ => Map(Subform -> ChildTable)

    val requests = new Requests
    def countRequests(): Unit = {
      val fresh = requests.take()
      if (probe.traced) {
        probe.add("sources.metadata_gets", fresh.count(_.contains("$metadata")))
        probe.add("sources.preflights", fresh.count(_.contains("preflight")))
        probe.add("sources.page_gets", fresh.count(l =>
          l.startsWith("GET /odata/") && !l.contains("$metadata") && !l.contains("preflight")))
        // page latency and size: replay two of the step's page requests
        // through the public client call, outside the timed step
        val base = endpoint.stripSuffix("/odata")
        fresh.filter(l => l.startsWith("GET /odata/") && l.contains("skiptoken") &&
          !l.contains("preflight")).take(2).foreach { l =>
          val t0 = System.nanoTime()
          val body = ODataHttpServer.getRaw(base + l.stripPrefix("GET "), user, pass)
          probe.add("sources.page_ms_sum", Main.secondsSince(t0) * 1000)
          probe.add("sources.page_replays", 1)
          val rows = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(body).get("value").size()
          probe.add("sources.page_bytes", body.length)
          probe.add("sources.page_rows", rows)
        }
        // the replays are logged too; drop them so the next step's delta
        // holds only its own requests
        requests.take()
      }
      fresh.filter(_.startsWith("ERROR")).foreach(l => sys.error(s"server error: $l"))
    }

    /** Parquet files under the sink, by path, with their sizes. */
    def sinkFiles(dir: String): Map[String, Long] = {
      val d = new File(dir)
      if (!d.exists) Map.empty
      else java.nio.file.Files.walk(d.toPath).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> p.toFile.length).toMap
    }

    /** One metadata refresh; returns the entity count and the EDMX. */
    def metadataRefresh(store: String): (Int, String) = {
      val xml = new String(ODataHttpServer.getRaw(s"$endpoint/$$metadata", user, pass), UTF_8)
      val t0 = System.nanoTime()
      val metas = probe.span("schema.parse", "schema")(MetadataXml.parse(xml, "priority"))
      val t1 = System.nanoTime()
      val rows = probe.span("types.map", "types")(metas.flatMap { m =>
        EdmTypes.toStructType(m).fields.toSeq.map(f => (m.entityName, f.name, f.dataType.sql,
          f.nullable, m.entityPk.contains(f.name)))
      })
      val t2 = System.nanoTime()
      probe.span("pipeline.meta_store", "pipeline")(
        rows.toDF("entity", "field", "sql_type", "nullable", "is_key")
          .coalesce(1).write.mode(SaveMode.Overwrite).parquet(store))
      if (probe.traced) {
        probe.add("schema.parse_ms", (t1 - t0) / 1e6)
        probe.add("schema.entities", metas.size)
        probe.add("types.map_ms", (t2 - t1) / 1e6)
        probe.add("pipeline.meta_store_ms", Main.secondsSince(t2) * 1000)
      }
      (metas.size, xml)
    }

    def fullLoad(xml: String, sink: String, state: StateStore, run: String): Seq[EntityReport] =
      Bootstrap.initialDataLoad(spark, config, xml, _ => source(), subforms,
        sink, state, run, "2026-01-01 00:00:00").loadReports

    def incremental(sink: String, state: StateStore, run: String): Seq[EntityReport] =
      Refresh.refreshAll(config, incremental = true, _ => source(), subforms,
        _ => Seq("o_orderkey"), sink, state, run, "2026-01-01 00:00:00")

    // seeded deltas: DeltaOrders new orders with their line items, event
    // times on the next day after everything already served
    val rnd = new java.util.Random(a.seed)
    var nextKey = TenantOrders.toLong + 1000000L
    var day = LocalDateTime.parse("2001-08-02T00:00:00")
    var servedLines = 0L
    /** Appends one delta to the tenant; returns the watermark the next
      * incremental refresh must reach and the delta's line count. */
    def appendDelta(): (String, Long) = {
      val oRows = (0 until DeltaOrders).map { i =>
        val ts = day.plusSeconds(rnd.nextInt(86400).toLong).plusNanos(rnd.nextInt(1000000) * 1000L)
        Row(nextKey + i, rnd.nextInt(15000).toLong, "O",
          (rnd.nextInt(49900000) + 100000) / 100.0, ts, "3-MEDIUM")
      }
      val lRows = oRows.flatMap { o =>
        (1 to 1 + rnd.nextInt(7)).map { ln =>
          Row(o.getLong(0), rnd.nextInt(20000).toLong, rnd.nextInt(1000).toLong, ln,
            (1 + rnd.nextInt(50)).toDouble, (rnd.nextInt(10410000) + 90000) / 100.0,
            rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, "N", "O", o.get(4))
        }
      }
      nextKey += DeltaOrders; day = day.plusDays(1); servedLines += lRows.size
      val delta = tenant.nested(
        spark.createDataFrame(oRows.asJava, tenant.orders.schema),
        spark.createDataFrame(lRows.asJava, tenant.lines.schema))
      // typed to the served schema: appendRows does not check types
      val served = ODataTestServer.schemaOf(Entity)
      ODataTestServer.appendRows(Entity,
        delta.select(served.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*))
      requests.take()
      (oRows.map(_.getAs[LocalDateTime](4)).max.plusNanos(1000).format(TsFormat), lRows.size.toLong)
    }

    // ---- set-up, cold: tenant registration + materialization, then every
    // refresh plan shape once: a metadata refresh, a full load and
    // incremental cycles until the JIT has settled ------------------------
    val (registerS, warmS) = probe.span("setup", "setup") {
      val t0 = System.nanoTime(); tenant.register(); val reg = Main.secondsSince(t0)
      servedLines = tenant.lines.count()
      val t1 = System.nanoTime()
      val warm = s"$work/warmup"
      val (_, xml) = metadataRefresh(s"$warm/meta")
      val state = new StateStore(s"$warm/state.json")
      fullLoad(xml, s"$warm/sink", state, "warm-full")
      (1 to WarmCycles).foreach { c =>
        appendDelta()
        incremental(s"$warm/sink", state, s"warm-incr-$c")
      }
      (reg, Main.secondsSince(t1))
    }
    val fullOrders = ODataTestServer.rowCount(Entity)
    val fullLines = servedLines
    requests.take()

    // ---- measured section ------------------------------------------------
    val sink = s"$work/sink"
    val state = new StateStore(s"$work/state.json")
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val ops = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0
    probe.measuring(true)
    val before = { probe.drain(); probe.snapshot() }
    var gapMs = 0.0

    /** Times one step; a thrown error or a failed check counts as failed,
      * and its time still counts. */
    def step[T](name: String, pipeline: Boolean)(body: => T)(check: T => Seq[String]): Double = {
      attempted += 1
      val files0 = if (probe.traced) sinkFiles(sink) else Map.empty[String, Long]
      val jobs0 = probe.counter("sched.jobs")
      val t0 = System.nanoTime()
      val (r, id) = probe.span(name, "elt.step")((scala.util.Try(body), probe.current))
      val s = Main.secondsSince(t0)
      val problems = (r match {
        case scala.util.Success(v) => scala.util.Try(check(v)).fold(e => Seq(e.toString), identity)
        case scala.util.Failure(e) => Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }) ++ scala.util.Try(countRequests()).failed.toOption.map(_.getMessage)
      if (probe.traced) {
        probe.drain()
        gapMs += probe.driverGapMs(id)
        if (pipeline) {
          probe.add("pipeline.refresh_ms", s * 1000)
          probe.add("pipeline.write_jobs", probe.counter("sched.jobs") - jobs0)
          val files1 = sinkFiles(sink)
          val fresh = files1.keySet -- files0.keySet
          probe.add("pipeline.files_written", fresh.size)
          probe.add("pipeline.bytes_written", fresh.toSeq.map(files1).sum.toDouble)
        }
      }
      failures ++= problems.map(p => s"$name: $p")
      ops += f"$name%-22s $s%7.3f s${if (problems.nonEmpty) " FAILED" else ""}"
      s
    }

    def reportProblems(reports: Seq[EntityReport], orders: Long, lines: Long): Seq[String] = {
      val byTable = reports.map(r => r.tableName -> r).toMap
      if (probe.traced) probe.add("pipeline.rows_written", reports.map(_.recordsWritten).sum.toDouble)
      reports.filterNot(_.status == "success").map(r => s"${r.tableName}: ${r.status}") ++
        Seq(s"stg_${Entity.toLowerCase}" -> orders, s"stg_${ChildTable.toLowerCase}" -> lines)
          .flatMap { case (t, want) =>
            val got = byTable.get(t).map(_.recordsWritten)
            if (got.contains(want)) Nil else Seq(s"$t wrote $got rows, tenant has $want")
          }
    }

    val metaS = (1 to MetadataRefreshes).map { i =>
      step(s"metadata_refresh_$i", pipeline = false)(metadataRefresh(s"$work/meta")) {
        case (n, _) => if (n == SchemaOnlyEntities + 2) Nil
          else Seq(s"parsed $n entities, expected ${SchemaOnlyEntities + 2}")
      }
    }
    val xml = new String(ODataHttpServer.getRaw(s"$endpoint/$$metadata", user, pass), UTF_8)
    requests.take()
    val fullS = (1 to FullLoads).map { i =>
      step(s"full_load_$i", pipeline = true)(fullLoad(xml, sink, state, s"full-$i"))(
        reportProblems(_, fullOrders, fullLines))
    }

    // incremental cycles: each preceded by an untimed, seeded delta
    val incrS = (1 to cycles(a.seconds)).map { c =>
      val (wantMark, lines) = appendDelta()
      step(s"incremental_$c", pipeline = true)(incremental(sink, state, s"incr-$c")) { reports =>
        reportProblems(reports, DeltaOrders, lines) ++
          (if (state.get(Entity).contains(wantMark)) Nil
           else Seq(s"watermark ${state.get(Entity)}, expected $wantMark"))
      }
    }
    probe.measuring(false)
    val after = probe.snapshot()

    // untimed invariant over the whole run: no order staged twice
    attempted += 1
    scala.util.Try {
      val staged = Sinks.readStaged(spark, s"$sink/stg_${Entity.toLowerCase}")
      val r = staged.agg(count(lit(1)), countDistinct(col("o_orderkey"))).collect()(0)
      val want = ODataTestServer.rowCount(Entity)
      if (r.getLong(0) != want || r.getLong(1) != want)
        sys.error(s"staged orders ${r.getLong(0)} (${r.getLong(1)} distinct), expected $want")
    }.failed.foreach(e => failures += s"final check: ${e.getMessage}")

    val layers = Layers.delta(before, after)
    val replays = layers.getOrElse("sources.page_replays", 0.0)
    val all = metaS ++ fullS ++ incrS
    ops += f"setup: session $sessionS%.3f s, tenant $registerS%.3f s, warm-up $warmS%.3f s"
    ops += f"metadata refresh median ${Main.median(metaS)}%.3f s = ${(SchemaOnlyEntities + 2) / Main.median(metaS)}%.0f docs/s (reference: 172 docs/s)"
    ops += f"full load median ${Main.median(fullS)}%.3f s, incremental median ${Main.median(incrS)}%.3f s"
    Outcome(
      attempted = attempted,
      failures = failures.toSeq,
      e2e = Seq(
        ("setup_s", sessionS + registerS + warmS, "s"),
        ("board_s", all.sum, "s"),
        ("op_p50_s", Main.median(incrS), "s")),
      layers = layers ++ Map(
        "sched.driver_gap_ms" -> gapMs,
        "sources.page_ms" -> (if (replays > 0) layers("sources.page_ms_sum") / replays else 0.0),
        "sources.bytes_per_row" -> (if (layers.getOrElse("sources.page_rows", 0.0) > 0)
          layers("sources.page_bytes") / layers("sources.page_rows") else 0.0),
        "pipeline.metadata_refresh_ms" -> Main.median(metaS) * 1000,
        "pipeline.full_load_ms" -> Main.median(fullS) * 1000,
        "pipeline.incr_refresh_ms" -> Main.median(incrS) * 1000),
      ops = ops.toSeq)
  }
}
