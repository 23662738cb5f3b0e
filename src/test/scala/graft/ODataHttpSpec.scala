package graft

import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ODataHttpServer, ODataTestServer}

/** The HTTP transport is REAL: these tests drive the localhost OData
  * endpoint with a raw HTTP client (no connector in the loop) and then
  * the DSv2 source end-to-end, asserting auth, paging, and pushdown all
  * cross the socket. */
class ODataHttpSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val mapper = new ObjectMapper()
  private lazy val http = HttpClient.newHttpClient()

  private def rawResponse(url: String, auth: Option[(String, String)],
      headers: (String, String)*): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(java.net.URI.create(url)).GET()
    auth.foreach { case (u, p) =>
      b.header("Authorization", "Basic " + java.util.Base64.getEncoder
        .encodeToString(s"$u:$p".getBytes(UTF_8)))
    }
    headers.foreach { case (k, v) => b.header(k, v) }
    http.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def rawGet(url: String, auth: Option[(String, String)]): (Int, String) = {
    val r = rawResponse(url, auth)
    (r.statusCode(), r.body())
  }

  private def register(entity: String): String = {
    ODataTestServer.register(spark, entity, s"$sf/nation.parquet")
    s"${ODataHttpServer.endpoint}/$entity"
  }

  test("unauthenticated and wrong-password requests get 401 with a challenge") {
    val url = register("nation_http_auth")
    assert(rawGet(url, None)._1 == 401)
    assert(rawGet(url, Some((ODataHttpServer.user, "wrong")))._1 == 401)
    val (ok, _) = rawGet(url, Some((ODataHttpServer.user, ODataHttpServer.pass)))
    assert(ok == 200)
  }

  test("$metadata serves EDMX; the connector schema comes from that wire document") {
    register("nation_http_schema")
    val (code, body) = rawGet(s"${ODataHttpServer.endpoint}/$$metadata",
      Some((ODataHttpServer.user, ODataHttpServer.pass)))
    assert(code == 200)
    assert(body.startsWith("<?xml") && body.contains("edmx:Edmx"), body.take(200))
    // the SAME parser the catalog bootstrap uses reads the wire document
    val metas = graft.schema.MetadataXml.parse(body, "priority")
    val nation = metas.find(_.entityName == "nation_http_schema").get
    assert(nation.fields.map(_.fieldName) ==
      H.tbl(spark, sf, "nation").schema.fieldNames.toSeq)
    // and the DSv2 source's inferSchema resolves the NATIVE types from it
    val viaSource = spark.read.format("graft.sources.ODataHttpSource")
      .options(ODataHttpServer.tenantOptions)
      .option("entity", "nation_http_schema").load().schema
    assert(viaSource.map(f => (f.name, f.dataType)) ==
      H.tbl(spark, sf, "nation").schema.map(f => (f.name, f.dataType)))
  }

  test("$metadata round-trips a composite-PK entity with typed columns") {
    import graft.model.{EntityMeta, FieldMeta}
    import graft.types.EdmTypes
    // a composite-key entity in the reference's own shape (ORDERS + line):
    // schema built through the Edm dictionary, so keyFlag metadata is real
    val meta = EntityMeta("orders_pk_http", "priority",
      Seq(FieldMeta("ordname", "Edm.String", keyFlag = true),
        FieldMeta("line", "Edm.Int64", keyFlag = true),
        FieldMeta("qprice", "Edm.Decimal", keyFlag = false)),
      Seq("ordname", "line"))
    val schema = org.apache.spark.sql.types.StructType(
      EdmTypes.toStructType(meta).fields.filterNot(f =>
        EdmTypes.auditColumns.exists(_._1 == f.name)))
    val rows = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row("A1", "1", new java.math.BigDecimal("10.500")),
        org.apache.spark.sql.Row("A1", "2", new java.math.BigDecimal("3.250"))),
      schema)
    ODataTestServer.registerDf("orders_pk_http", rows)
    val (_, body) = rawGet(s"${ODataHttpServer.endpoint}/$$metadata",
      Some((ODataHttpServer.user, ODataHttpServer.pass)))
    val m = graft.schema.MetadataXml.parse(body, "priority")
      .find(_.entityName == "orders_pk_http").get
    assert(m.entityPk == Seq("ordname", "line")) // composite <Key> survives
    val got = spark.read.format("graft.sources.ODataHttpSource")
      .options(ODataHttpServer.tenantOptions)
      .option("entity", "orders_pk_http").load()
    assert(got.schema("qprice").dataType ==
      org.apache.spark.sql.types.DecimalType(38, 3)) // facets round-trip
    // field ORDER survives the wire (the reference preserves declaration
    // order, priorityDataSource.py:390-399), and BOTH key fields carry the
    // keyFlag metadata stamp after the EDMX → StructType rebuild — this is
    // what the DDL generator and JDBC sink read to place the PK columns
    assert(got.schema.fieldNames.toSeq.take(3) ==
      Seq("ordname", "line", "qprice"))
    assert(got.schema.fields.filter(f =>
      f.metadata.contains("keyFlag") && f.metadata.getBoolean("keyFlag"))
      .map(_.name).toSeq == Seq("ordname", "line"))
    assert(got.orderBy("ordname", "line").collect().map(_.toSeq).toSeq ==
      rows.orderBy("ordname", "line").collect().map(_.toSeq).toSeq)
  }

  /** The `$metadata` response code and ETag for an optional If-None-Match. */
  private def metadataGet(ifNoneMatch: Option[String]): (Int, String, Option[String]) = {
    val r = rawResponse(s"${ODataHttpServer.endpoint}/$$metadata",
      Some((ODataHttpServer.user, ODataHttpServer.pass)),
      ifNoneMatch.map("If-None-Match" -> _).toSeq: _*)
    (r.statusCode(), r.body(), Option(r.headers().firstValue("ETag").orElse(null)))
  }

  private def inferSchema(entity: String): org.apache.spark.sql.types.StructType = {
    import scala.jdk.CollectionConverters._
    new graft.sources.ODataHttpSource().inferSchema(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        (ODataHttpServer.tenantOptions + ("entity" -> entity)).asJava))
  }

  test("$metadata ETag: a matching If-None-Match gets a body-less 304, any other a full 200") {
    register("nation_http_etag_wire")
    val (code, body, etag) = metadataGet(None)
    assert(code == 200 && body.contains("nation_http_etag_wire") && etag.nonEmpty)
    assert(metadataGet(etag) == ((304, "", etag)))
    val (stale, staleBody, _) = metadataGet(Some("\"not-the-tag\""))
    assert(stale == 200 && staleBody == body)
  }

  test("$metadata ETag: a second load revalidates with one conditional GET and reuses the schema") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.MetadataBuilder
    val key = new MetadataBuilder().putBoolean("keyFlag", true).build()
    val nation = H.tbl(spark, sf, "nation")
    ODataTestServer.registerDf("nation_http_etag",
      nation.select(nation.columns.toIndexedSeq.map(c =>
        if (c == "n_nationkey") col(c).as(c, key) else col(c)): _*))
    val first = inferSchema("nation_http_etag")
    ODataHttpServer.requestLog.clear()
    val second = inferSchema("nation_http_etag")
    val meta = ODataHttpServer.requestLog.asScala.toList.filter(_.contains("$metadata"))
    assert(meta.size == 1, meta)
    // the very schema object read the first time: the GET was answered 304
    assert(second eq first)
    val loaded = spark.read.format("graft.sources.ODataHttpSource")
      .options(ODataHttpServer.tenantOptions)
      .option("entity", "nation_http_etag").load().schema
    assert(loaded == first)
    assert(loaded("n_nationkey").metadata.getBoolean("keyFlag"))
    assert(!loaded("n_name").metadata.getBoolean("keyFlag"))
  }

  test("$metadata ETag: re-registration changes it and the next load sees the new column; appendRows keeps it") {
    register("nation_http_etag_v2")
    assert(!inferSchema("nation_http_etag_v2").fieldNames.contains("n_extra"))
    val before = metadataGet(None)._3
    val wider = H.tbl(spark, sf, "nation").withColumn("n_extra", lit(7L))
    ODataTestServer.registerDf("nation_http_etag_v2", wider)
    val after = metadataGet(None)._3
    assert(after != before)
    assert(inferSchema("nation_http_etag_v2").fieldNames.contains("n_extra"))
    ODataTestServer.appendRows("nation_http_etag_v2", wider.limit(1))
    assert(metadataGet(None)._3 == after)
    assert(metadataGet(after)._1 == 304)
  }

  test("an entity absent from $metadata fails the load with a plain message") {
    val e = intercept[RuntimeException](
      spark.read.format("graft.sources.ODataHttpSource")
        .options(ODataHttpServer.tenantOptions)
        .option("entity", "nation_http_never_registered").load())
    assert(e.getMessage ==
      "odata-http: entity 'nation_http_never_registered' absent from $metadata")
  }

  test("a scan preflights once: one collect() and one pushed aggregate each send one $preflight GET") {
    import scala.jdk.CollectionConverters._
    register("nation_http_preflight")
    def preflights(action: => Unit): List[String] = {
      ODataHttpServer.requestLog.clear()
      action
      ODataHttpServer.requestLog.asScala.toList
        .filter(l => l.contains("nation_http_preflight") && l.contains("%24preflight=true"))
    }
    val scan = spark.read.format("graft.sources.ODataHttpSource")
      .options(ODataHttpServer.tenantOptions)
      .option("entity", "nation_http_preflight").option("pageSize", "7").load()
    val paged = preflights(assert(scan.collect().length == 25))
    assert(paged.size == 1, paged)
    val agg = scan.agg(max(col("n_name")))
    val pushed = preflights(assert(agg.collect().length == 1))
    assert(pushed.size == 1 && pushed.head.contains("%24applyaggs="), pushed)
    assert(agg.queryExecution.executedPlan.toString.contains("ODataHttpAggScan"))
  }

  test("transient 503s are absorbed by reader retry, not task failure") {
    register("nation_http_retry")
    // local master runs with task maxFailures=1: ANY task-level failure
    // kills the job, so a successful read with injected 503s proves the
    // retry happened inside the page reader (reference behavior: isolate
    // and continue on non-200, priorityDataSource.py:185-195)
    ODataHttpServer.failNext = 2
    val got = spark.read.format("graft.sources.ODataHttpSource")
      .options(ODataHttpServer.tenantOptions)
      .option("entity", "nation_http_retry").load().count()
    assert(got == 25)
    assert(ODataHttpServer.failNext == 0) // the injected failures were served
    // a deterministic 4xx still fails fast (wrong-credentials test covers
    // the no-retry-on-auth-error path)
  }

  test("nextLink paging walks every row exactly once via $skiptoken") {
    val url = register("nation_http_page")
    val creds = Some((ODataHttpServer.user, ODataHttpServer.pass))
    var next = Option(s"$url?%24pagesize=7")
    var rows = 0
    var pages = 0
    while (next.isDefined) {
      val (code, body) = rawGet(next.get, creds)
      assert(code == 200)
      val node = mapper.readTree(body)
      rows += node.get("value").size()
      pages += 1
      next = Option(node.get("@odata.nextLink")).map(_.asText)
      next.foreach(l => assert(l.contains("%24skiptoken="), l))
    }
    assert(rows == 25 && pages == 4, s"rows=$rows pages=$pages") // 7+7+7+4
  }

  test("paging parity: HTTP transport and in-memory registry serve identical pages for one $skiptoken walk") {
    // Pins the simulation boundary (the ODataTestServer scaladoc): the
    // server answers every page GET from the registry's preflight/
    // page, so the HTTP walk and the registry's own pages must agree
    // page-BY-page — same page count, same rows per page, same in-page
    // order — not merely row-set-wise, under a walk that exercises
    // projection + filter + $orderby + a partial final page.
    import graft.sources.{ODataFilterSyntax, ODataJson, ODataSortKey}
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    import org.apache.spark.sql.types.StructType
    ODataTestServer.register(spark, "nation_parity", s"$sf/nation.parquet")
    val full = ODataTestServer.schemaOf("nation_parity")
    val required = StructType(Seq(
      full("n_nationkey"), full("n_name"), full("n_regionkey")))
    val filters: Array[org.apache.spark.sql.sources.Filter] =
      Array(GreaterThanOrEqual("n_nationkey", 3L))
    val orderBy = Seq(ODataSortKey("n_name", asc = true, nullsFirst = true))
    val pageSize = 7 // 22 matching rows -> pages of 7,7,7,1
    // transport 1: the in-memory registry, called directly; its internal
    // rows, like the wire's decoded rows, read back as external values
    val (nPages, gen) = ODataTestServer.preflight(
      "nation_parity", filters, None, pageSize)
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(required)
    val direct = (0 until nPages).map { pn =>
      ODataTestServer.page("nation_parity", required,
        filters, orderBy, 0, None, pn, pageSize, Some(gen))
        .map(r => toRow(r).asInstanceOf[org.apache.spark.sql.Row].toSeq).toVector
    }
    // transport 2: the HTTP endpoint, following @odata.nextLink
    import ODataHttpServer.enc
    var next = Option(s"${ODataHttpServer.endpoint}/nation_parity?" +
      s"%24select=${enc(required.fieldNames.mkString(","))}" +
      s"&%24filter=${enc(ODataFilterSyntax.render(filters.toSeq))}" +
      s"&%24orderby=${enc(ODataFilterSyntax.renderOrderBy(orderBy))}" +
      s"&%24pagesize=$pageSize")
    val viaHttp = scala.collection.mutable.ArrayBuffer.empty[Vector[Seq[Any]]]
    while (next.isDefined) {
      val node = ODataHttpServer.get(next.get,
        ODataHttpServer.user, ODataHttpServer.pass)
      import scala.jdk.CollectionConverters._
      viaHttp += node.get("value").elements().asScala
        .map(n => toRow(ODataJson.readRow(required, n))
          .asInstanceOf[org.apache.spark.sql.Row].toSeq).toVector
      next = Option(node.get("@odata.nextLink")).map(_.asText)
    }
    // the HTTP walk may end with one empty trailing page on an exact
    // multiple; here the last page is partial, so counts match exactly
    assert(viaHttp.length == direct.length,
      s"page counts differ: http=${viaHttp.length} direct=${direct.length}")
    direct.indices.foreach { i =>
      assert(viaHttp(i) == direct(i),
        s"page $i differs:\nhttp=${viaHttp(i)}\ndirect=${direct(i)}")
    }
    assert(direct.map(_.size) == Seq(7, 7, 7, 1), direct.map(_.size))
  }

  test("DSv2 over HTTP: pushdown crosses the wire and results match parquet") {
    ODataTestServer.register(spark, "nation_http_scan", s"$sf/nation.parquet")
    ODataHttpServer.requestLog.clear()
    val df = spark.read.format("graft.sources.ODataHttpSource")
      .options(ODataHttpServer.tenantOptions)
      .option("entity", "nation_http_scan")
      .option("pageSize", "5").load()
      .filter(col("n_regionkey") >= 2L && col("n_name") > "B")
      .select("n_nationkey", "n_name")
    val got = df.orderBy("n_nationkey").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getString(1))).toSeq
    val want = H.tbl(spark, sf, "nation")
      .filter(col("n_regionkey") >= 2L && col("n_name") > "B")
      .select("n_nationkey", "n_name").orderBy("n_nationkey").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getString(1))).toSeq
    assert(got == want && got.nonEmpty)
    // the filter reached the scan (Spark side): the DSv2 scan description
    // renders the pushed query options, and no Filter node remains above it
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("$filter=") && plan.contains("n_regionkey ge 2"), plan)
    // ...and the WIRE carried $filter/$select/$skiptoken (server side)
    import scala.jdk.CollectionConverters._
    val served = ODataHttpServer.requestLog.asScala.toList
      .filter(_.contains("nation_http_scan"))
    assert(served.exists(r => r.contains("%24filter=") && r.contains("ge+2")),
      served.mkString("\n"))
    assert(served.exists(_.contains("%24select=n_nationkey%2Cn_name")),
      served.mkString("\n"))
    assert(served.count(_.contains("%24skiptoken=")) >= 2, // multiple page GETs
      served.mkString("\n"))
  }

  test("pages become parallel input partitions; bare count() survives full pruning") {
    ODataTestServer.register(spark, "nation_http_part", s"$sf/nation.parquet")
    val df = spark.read.format("graft.sources.ODataHttpSource")
      .options(ODataHttpServer.tenantOptions)
      .option("entity", "nation_http_part")
      .option("pageSize", "7").load()
    // 25 rows at 7/page → 4 pages → 4 concurrent page GETs
    assert(df.rdd.getNumPartitions == 4, df.rdd.getNumPartitions.toString)
    // count() prunes EVERY column ($select is empty) — the server must
    // answer zero-column rows, not 500
    assert(df.count() == 25)
  }

  test("$metadata EDMX over the wire round-trips through MetadataXml.parse (O8 loop)") {
    import org.apache.spark.sql.types._
    val spark0 = spark
    import spark0.implicits._
    // an ORDERS-shaped entity whose schema carries keyFlag metadata (the
    // same channel EdmTypes.toStructType stamps)
    val keyMeta = new MetadataBuilder().putBoolean("keyFlag", true).build()
    val schema = StructType(Seq(
      StructField("ordname", StringType, nullable = false, keyMeta),
      StructField("curdate", TimestampType),
      StructField("qprice", DecimalType(38, 3)),
      StructField("ord", LongType)))
    val rows = java.util.List.of(
      org.apache.spark.sql.Row("SO25000001",
        java.sql.Timestamp.valueOf("2024-06-12 08:00:00"),
        new java.math.BigDecimal("100.500"), 7L))
    ODataTestServer.registerDf("orders_meta_http",
      spark.createDataFrame(rows, schema))
    val xml = new String(graft.sources.ODataHttpServer.getRaw(
      s"${ODataHttpServer.endpoint}/$$metadata",
      ODataHttpServer.user, ODataHttpServer.pass), UTF_8)
    val metas = graft.schema.MetadataXml.parse(xml, "priority")
    val m = metas.find(_.entityName == "orders_meta_http").get
    assert(m.fields.map(f => (f.fieldName, f.sourceDataType, f.keyFlag)) == Seq(
      ("ordname", "Edm.String", true),
      ("curdate", "Edm.DateTimeOffset", false),
      ("qprice", "Edm.Decimal", false),
      ("ord", "Edm.Int64", false)))
    assert(m.entityPk == Seq("ordname"))
    // and the parsed metadata rebuilds the same Spark types the reference's
    // dictionary maps these EDM types to
    val st = graft.types.EdmTypes.toStructType(m)
    assert(st("curdate").dataType == TimestampType)
    assert(st("ord").dataType == LongType)
  }

  test("streaming pull over HTTP: cursor resumes from checkpoint, appends fetch only new rows") {
    import org.apache.spark.sql.streaming.Trigger
    val spark0 = spark
    import spark0.implicits._
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val b = Seq((3L, "z")).toDF("id", "v")
    ODataTestServer.registerDf("stream_http_spec", a)
    val tmp = java.nio.file.Files.createTempDirectory("odata_http_stream").toString
    val sink = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
    ODataHttpServer.requestLog.clear()
    def pull(): Unit = {
      val q = spark.readStream.format("graft.sources.ODataHttpSource")
        .options(ODataHttpServer.tenantOptions)
        .option("entity", "stream_http_spec")
        .option("pageSize", "10").load()
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    pull()
    assert(spark.read.parquet(sink).count() == 2)
    ODataTestServer.appendRows("stream_http_spec", b)
    pull()
    val got = spark.read.parquet(sink).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "x"), (2L, "y"), (3L, "z"))) // no re-fetch, no dupes
    // the second pull's range GET asked for ONLY the appended row
    import scala.jdk.CollectionConverters._
    val ranges = ODataHttpServer.requestLog.asScala.toList
      .filter(r => r.contains("stream_http_spec") && r.contains("%24skip="))
    assert(ranges.exists(_.contains("%24skip=2&%24top=1")), ranges.mkString("\n"))
  }

  test("TopN pushes completely: $orderby + $top in the page GET, no Spark sort") {
    ODataTestServer.register(spark, "nation_http_topn", s"$sf/nation.parquet")
    ODataHttpServer.requestLog.clear()
    val df = spark.read.format("graft.sources.ODataHttpSource")
      .options(ODataHttpServer.tenantOptions)
      .option("entity", "nation_http_topn")
      .option("pageSize", "100").load()
      .select("n_nationkey", "n_name")
      .orderBy(col("n_name").desc).limit(3)
    val got = df.collect().map(_.getString(1)).toSeq
    val want = H.tbl(spark, sf, "nation").select("n_name")
      .orderBy(col("n_name").desc).limit(3).collect().map(_.getString(0)).toSeq
    assert(got == want)
    // complete pushdown: the ONLY sort in the plan is the service's
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("TakeOrderedAndProject") && !plan.contains("Sort "),
      plan)
    assert(plan.contains("$orderby=n_name desc nullslast"), plan)
    import scala.jdk.CollectionConverters._
    val served = ODataHttpServer.requestLog.asScala.toList
      .filter(_.contains("nation_http_topn"))
    assert(served.exists(r => r.contains("%24orderby=") && r.contains("%24top=3")),
      served.mkString("\n"))
  }

  test("grouped aggregate pushes completely: one $applyaggs GET, no Spark aggregation") {
    ODataTestServer.register(spark, "nation_http_agg", s"$sf/nation.parquet")
    ODataHttpServer.requestLog.clear()
    val df = spark.read.format("graft.sources.ODataHttpSource")
      .options(ODataHttpServer.tenantOptions)
      .option("entity", "nation_http_agg")
      .load()
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n"), max(col("n_name")).as("max_name"))
      .orderBy("n_regionkey")
    val got = df.collect().map(r =>
      (r.getAs[Number](0).longValue, r.getLong(1), r.getString(2))).toSeq
    val want = H.tbl(spark, sf, "nation")
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n"), max(col("n_name")).as("max_name"))
      .orderBy("n_regionkey").collect().map(r =>
        (r.getAs[Number](0).longValue, r.getLong(1), r.getString(2))).toSeq
    assert(got == want && got.length == 5)
    // complete pushdown: no HashAggregate in the plan, the scan answers groups
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"), plan)
    assert(plan.contains("ODataHttpAggScan"), plan)
    import scala.jdk.CollectionConverters._
    val served = ODataHttpServer.requestLog.asScala.toList
      .filter(_.contains("nation_http_agg"))
    assert(served.exists(r => r.contains("%24applyaggs=") &&
      r.contains("%24applygroups=n_regionkey")), served.mkString("\n"))
  }

  test("zero-aggregate groupby (pushed DISTINCT) works over the wire") {
    ODataTestServer.register(spark, "nation_http_distinct", s"$sf/nation.parquet")
    val df = spark.read.format("graft.sources.ODataHttpSource")
      .options(ODataHttpServer.tenantOptions)
      .option("entity", "nation_http_distinct")
      .load()
      .select("n_regionkey").distinct()
    assert(df.count() == 5) // the count() shape that pushes groupby-with-no-aggs
  }

  test("wrong credentials fail the DSv2 read with a pointed HTTP 401 error") {
    ODataTestServer.register(spark, "nation_http_badauth", s"$sf/nation.parquet")
    val e = intercept[Exception] {
      spark.read.format("graft.sources.ODataHttpSource")
        .option("endpoint", ODataHttpServer.endpoint)
        .option("entity", "nation_http_badauth")
        .option("user", ODataHttpServer.user).option("pass", "stale-rotated-secret")
        .load()
    }
    assert(e.getMessage.contains("HTTP 401"), e.getMessage)
  }

  test("timestamps, decimals, and nested $expand arrays survive the JSON wire") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 10:30:00.123456"),
        new java.math.BigDecimal("12345.678"),
        Seq((10L, "a'b\"c"), (11L, "παράθυρο"))),
      (2L, null.asInstanceOf[java.sql.Timestamp],
        null.asInstanceOf[java.math.BigDecimal],
        Seq.empty[(Long, String)]))
      .toDF("id", "ts", "amount", "items")
      .withColumn("amount", col("amount").cast("decimal(12,3)"))
    ODataTestServer.registerDf("typed_http", df)
    val back = spark.read.format("graft.sources.ODataHttpSource")
      .options(ODataHttpServer.tenantOptions)
      .option("entity", "typed_http")
      .load().orderBy("id").collect()
    assert(back(0).getTimestamp(1) == java.sql.Timestamp.valueOf("2024-03-01 10:30:00.123456"))
    assert(back(0).getDecimal(2) == new java.math.BigDecimal("12345.678"))
    val items = back(0).getSeq[org.apache.spark.sql.Row](3)
    assert(items.map(r => (r.getLong(0), r.getString(1))) ==
      Seq((10L, "a'b\"c"), (11L, "παράθυρο")))
    assert(back(1).isNullAt(1) && back(1).isNullAt(2))
    assert(back(1).getSeq[org.apache.spark.sql.Row](3).isEmpty)
  }

  test("$batch: N entity pulls in ONE POST round-trip; failures isolate per sub-request") {
    import graft.sources.ODataBatchClient
    import scala.jdk.CollectionConverters._
    ODataTestServer.register(spark, "batch_nation", s"$sf/nation.parquet")
    ODataTestServer.register(spark, "batch_region", s"$sf/region.parquet")
    ODataHttpServer.requestLog.clear()
    val resp = ODataBatchClient.pull(ODataHttpServer.endpoint,
      ODataHttpServer.user, ODataHttpServer.pass, Seq(
        ODataBatchClient.SubRequest("n", "batch_nation?%24select=n_nationkey,n_name"),
        ODataBatchClient.SubRequest("r", "batch_region")))
    val served = ODataHttpServer.requestLog.asScala.toList
    // exactly ONE request hit the socket; the sub-requests are log lines
    // tagged BATCH, not HTTP round-trips
    assert(served.count(_.startsWith("POST /odata/$batch")) == 1, served)
    assert(!served.exists(_.startsWith("GET /odata/batch_")), served)
    assert(served.count(_.startsWith("BATCH GET")) == 2, served)
    assert(resp("n").get("value").size() == 25)
    assert(resp("r").get("value").size() == 5)
    // $select projected inside the batch
    val first = resp("n").get("value").elements().next()
    assert(first.has("n_nationkey") && first.has("n_name") && !first.has("n_comment"))
    // a bad sub-request fails ITS slot with a 404 envelope, not the batch:
    // the client surfaces it as an error naming the sub-request id
    val e = intercept[RuntimeException] {
      ODataBatchClient.pull(ODataHttpServer.endpoint,
        ODataHttpServer.user, ODataHttpServer.pass, Seq(
          ODataBatchClient.SubRequest("ok", "batch_region"),
          ODataBatchClient.SubRequest("bad", "no_such_entity")))
    }
    assert(e.getMessage.contains("'bad'") && e.getMessage.contains("404"),
      e.getMessage)
  }

  test("$batch: the POST retries an injected 503 like a page GET does") {
    import graft.sources.ODataBatchClient
    import scala.jdk.CollectionConverters._
    ODataTestServer.register(spark, "batch_retry", s"$sf/region.parquet")
    ODataHttpServer.requestLog.clear()
    ODataHttpServer.failNext = 1
    val resp = ODataBatchClient.pull(ODataHttpServer.endpoint,
      ODataHttpServer.user, ODataHttpServer.pass,
      Seq(ODataBatchClient.SubRequest("r", "batch_retry")))
    assert(ODataHttpServer.failNext == 0) // the injected failure was served
    assert(resp("r").get("value").size() == 5)
    val served = ODataHttpServer.requestLog.asScala.toList
    assert(served.count(_.startsWith("POST /odata/$batch")) == 2, served)
  }

  test("refused requests answer 4xx once and are not retried") {
    import scala.jdk.CollectionConverters._
    val url = register("nation_http_refused")
    def refused(u: String): (String, List[String]) = {
      ODataHttpServer.requestLog.clear()
      val e = intercept[RuntimeException](
        ODataHttpServer.getRaw(u, ODataHttpServer.user, ODataHttpServer.pass))
      val path = u.stripPrefix(ODataHttpServer.endpoint.stripSuffix("/odata"))
      (e.getMessage, ODataHttpServer.requestLog.asScala.toList.filter(_.contains(path)))
    }
    // a $filter the grammar cannot parse, and one naming an unknown column
    for (f <- Seq("n_name+is+%27x%27", "no_such_col+eq+1")) {
      val (msg, log) = refused(s"$url?%24filter=$f")
      assert(msg.contains("HTTP 400") && !msg.contains("attempts"), msg)
      assert(log.count(_.startsWith("GET ")) == 1, log)
      // the server still logs the error line the benchmark harness fails on
      assert(log.count(_.startsWith("ERROR ")) == 1, log)
    }
    val (msg, log) = refused(s"${ODataHttpServer.endpoint}/no_such_entity")
    assert(msg.contains("HTTP 404"), msg)
    assert(log.count(_.startsWith("GET ")) == 1, log)
  }

  test("$batch: a paginated sub-response fails loudly instead of returning one page as complete") {
    // The r9 guard: the server still paginates at $pagesize inside a
    // $batch slot; an entity bigger than one page must NOT silently
    // truncate to its first page. The client refuses any sub-response
    // carrying @odata.nextLink with a pointed message — and succeeds
    // when the sub-request's own $pagesize covers the entity.
    import graft.sources.ODataBatchClient
    ODataTestServer.register(spark, "batch_cust", s"$sf/customer.parquet")
    val total = spark.read.parquet(s"$sf/customer.parquet").count()
    assert(total > 7, s"fixture too small: $total")
    val e = intercept[IllegalArgumentException] {
      ODataBatchClient.pull(ODataHttpServer.endpoint,
        ODataHttpServer.user, ODataHttpServer.pass, Seq(
          ODataBatchClient.SubRequest("c", "batch_cust?%24pagesize=7")))
    }
    assert(e.getMessage.contains("paginated") &&
      e.getMessage.contains("'c'"), e.getMessage)
    // explicit $pagesize covering the entity: the same pull succeeds whole
    val ok = ODataBatchClient.pull(ODataHttpServer.endpoint,
      ODataHttpServer.user, ODataHttpServer.pass, Seq(
        ODataBatchClient.SubRequest("c",
          s"batch_cust?%24pagesize=${total + 1}")))
    assert(ok("c").get("value").size().toLong == total)
    assert(!ok("c").has("@odata.nextLink"))
  }
}
