package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ODataHttpServer, ODataTestServer}

/** The connector's pushdown surface, read back from the requests the
  * server logged. */
class ODataSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def read(entity: String, pageSize: Int = 1000) =
    spark.read.format("graft.sources.ODataHttpSource")
      .options(ODataHttpServer.tenantOptions)
      .option("entity", entity).option("pageSize", pageSize.toString).load()

  private def load() = {
    ODataTestServer.register(spark, "customer", s"$sf/customer.parquet")
    read("customer", 200)
  }

  /** Entity GETs served since the log was last cleared. */
  private def served(entity: String): List[String] = {
    import scala.jdk.CollectionConverters._
    ODataHttpServer.requestLog.asScala.toList
      .filter(_.startsWith(s"GET /odata/$entity?"))
  }

  test("DSv2 scan returns the same rows as a direct parquet read") {
    val viaOData = load()
    val direct = H.tbl(spark, sf, "customer")
    assert(viaOData.count() == direct.count())
    assert(viaOData.columns.toSeq == direct.columns.toSeq)
  }

  test("filter + column pushdown reach the service ($filter/$select)") {
    val df = load()
      .filter(col("c_acctbal") >= 1000.0)
      .select("c_custkey", "c_name")
    ODataHttpServer.requestLog.clear()
    val n = df.collect().length
    assert(n == H.tbl(spark, sf, "customer")
      .filter(col("c_acctbal") >= 1000.0).count())
    val log = served("customer")
    assert(log.exists(r => r.contains("%24filter=") &&
      r.contains("c_acctbal+ge+1000.0")), log.mkString("\n"))
    // $select pruned to the needed columns
    assert(log.nonEmpty && log.forall(r =>
      r.contains("%24select=c_custkey%2Cc_name") && !r.contains("c_mktsegment")),
      log.mkString("\n"))
    // and the plan shows the pushdown
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ODataHttpScan"), plan)
  }

  test("limit pushdown reaches the service ($top) and pages partition the read") {
    val df = load().limit(7)
    ODataHttpServer.requestLog.clear()
    assert(df.count() == 7)
    assert(served("customer").exists(_.contains("%24top=7")),
      served("customer").mkString("\n"))

    // paging: full scan of 150 rows at pageSize 200 → 1 partition; pageSize 40 → 4
    ODataTestServer.register(spark, "customer", s"$sf/customer.parquet")
    val paged = read("customer", 40)
    assert(paged.rdd.getNumPartitions >= 3, paged.rdd.getNumPartitions.toString)
  }

  test("top-N pushdown: ORDER BY + LIMIT become $orderby&$top with no Spark sort") {
    val df = load()
      .select("c_custkey", "c_acctbal")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
      .limit(5)
    ODataHttpServer.requestLog.clear()
    val rows = df.collect()
    val log = served("customer")
    assert(log.exists(r => r.contains(
      "%24orderby=c_acctbal+desc+nullslast%2Cc_custkey+asc+nullsfirst") &&
      r.contains("%24top=5")), log.mkString("\n"))
    // completely pushed: the physical plan contains no sort operator
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("sort"), plan)
    val expected = H.tbl(spark, sf, "customer")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
      .limit(5).select("c_custkey", "c_acctbal").collect()
    assert(rows.map(_.toString).toSeq == expected.map(_.toString).toSeq)
  }

  test("top-N larger than a page falls back to Spark's own TakeOrdered over the paged scan") {
    val df = load() // pageSize = 200
      .select("c_custkey", "c_acctbal")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
      .limit(201)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    val expected = H.tbl(spark, sf, "customer")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
      .limit(201).select("c_custkey", "c_acctbal").collect()
    assert(df.collect().map(_.toString).toSeq == expected.map(_.toString).toSeq)
  }

  test("aggregate pushdown: count/min/max answered by the service ($apply=aggregate)") {
    val df = load()
    val agg = df.agg(count(lit(1)).as("n"), min(col("c_acctbal")).as("lo"),
      max(col("c_acctbal")).as("hi"))
    ODataHttpServer.requestLog.clear()
    val row = agg.collect()(0)
    assert(served("customer").exists(r => r.contains("%24applyaggs=") &&
      !r.contains("%24applygroups")), served("customer").mkString("\n"))
    val direct = H.tbl(spark, sf, "customer")
      .agg(count(lit(1)), min(col("c_acctbal")), max(col("c_acctbal"))).collect()(0)
    assert(row.getLong(0) == direct.getLong(0))
    assert(row.getDouble(1) == direct.getDouble(1))
    assert(row.getDouble(2) == direct.getDouble(2))
    // filtered aggregate: filter is pushed along with the aggregation
    val filtered = load().filter(col("c_acctbal") >= 1000.0).agg(count(lit(1)))
    ODataHttpServer.requestLog.clear()
    val n = filtered.collect()(0).getLong(0)
    assert(n == H.tbl(spark, sf, "customer").filter(col("c_acctbal") >= 1000.0).count())
    assert(served("customer").exists(r => r.contains("%24applyaggs=") &&
      r.contains("%24filter=")), served("customer").mkString("\n"))
  }

  test("grouped aggregate pushdown: $apply=groupby answers per-group rows, no Spark agg") {
    val grouped = load().groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("sc"))
    val direct = H.tbl(spark, sf, "customer").groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("sc"))
    ODataHttpServer.requestLog.clear()
    assert(grouped.exceptAll(direct).isEmpty && direct.exceptAll(grouped).isEmpty)
    assert(served("customer").exists(_.contains("%24applygroups=c_nationkey")),
      served("customer").mkString("\n"))
    grouped.collect()
    val plan = grouped.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"aggregation was not completely pushed:\n$plan")

    // an aggregate outside the service's vocabulary (avg) keeps the WHOLE
    // aggregation in Spark — no partial claims
    val avgDf = load().groupBy("c_nationkey").agg(avg(col("c_acctbal")).as("a"))
    avgDf.collect()
    assert(avgDf.queryExecution.executedPlan.toString.contains("Aggregate"))
  }

  test("limit/top-N pushdown refuses once an aggregate is pushed") {
    // ODataHttpAggScan ignores limit/topSort, and isPartiallyPushed=false
    // makes Spark delete its own Sort/Limit on acceptance — so the builder
    // must refuse the claim when an aggregate owns the scan (ADVICE r03).
    import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, NullOrdering}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType)))
    def builder = new graft.sources.ODataHttpScanBuilder(ODataHttpServer.endpoint,
      "customer", schema, ODataHttpServer.user, ODataHttpServer.pass, 200)
    val countAll = new Aggregation(Array(new CountStar), Array.empty)
    val sort = Array(Expressions.sort(Expressions.column("k"),
      SortDirection.ASCENDING, NullOrdering.NULLS_FIRST))
    val b1 = builder
    assert(b1.pushAggregation(countAll))
    assert(!b1.pushLimit(5))
    assert(!b1.pushTopN(sort, 5))
    // without the aggregate the same claims are accepted
    val b2 = builder
    assert(b2.pushLimit(5))
    assert(b2.pushTopN(sort, 5))
  }

  test("reader converts decimal and date columns (not just strings/timestamps)") {
    val dir = java.nio.file.Files.createTempDirectory("odata_dec").toString + "/t"
    spark.sql("SELECT 1L AS id, CAST(12.345 AS DECIMAL(10,3)) AS amount, " +
        "DATE '2024-06-01' AS d " +
        "UNION ALL SELECT 2L, CAST(0.001 AS DECIMAL(10,3)), DATE '2024-06-02'")
      .write.mode("overwrite").parquet(dir)
    ODataTestServer.register(spark, "typed", dir)
    val got = read("typed").orderBy("id").collect()
    assert(got(0).getDecimal(1).toPlainString == "12.345")
    assert(got(1).getDate(2).toString == "2024-06-02")
  }

  test("$expand serves nested subform columns and prunes them when unused") {
    ODataTestServer.registerExpanded(spark, "orders_x",
      s"$sf/orders.parquet", s"$sf/lineitem.parquet",
      parentKey = "o_orderkey", childKey = "l_orderkey",
      subformName = "lineitems_subform", sortCols = Seq("l_linenumber"))
    val scan = read("orders_x", 200)

    // expanded read: nested children match the flat child table
    val exploded = graft.ops.Relational
      .explodeSubform("lineitems_subform", Seq("o_orderkey"))(scan)
    ODataHttpServer.requestLog.clear()
    assert(exploded.count() == H.tbl(spark, sf, "lineitem").count())
    assert(served("orders_x").exists(_.contains("lineitems_subform")),
      served("orders_x").mkString("\n"))

    // nested values are correct, not just counted
    // (l_linenumber is not unique per order in the synthetic data, so sort
    // on the full tuple for a stable comparison)
    val viaExpand = exploded
      .select("o_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .orderBy("o_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .collect().toSeq
    val direct = H.tbl(spark, sf, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_quantity"))
      .orderBy("o_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .collect().toSeq
    assert(viaExpand == direct)

    // parent-only projection drops the subform from the request's $select
    ODataHttpServer.requestLog.clear()
    scan.select("o_orderkey", "o_totalprice").collect()
    val log = served("orders_x")
    assert(log.nonEmpty && log.forall(r =>
      r.contains("%24select=") && !r.contains("lineitems_subform")), log.mkString("\n"))
  }

  test("scan partitions carry page refs, not rows") {
    ODataTestServer.register(spark, "customer", s"$sf/customer.parquet")
    val df = read("customer", 40)
    val parts = df.queryExecution.executedPlan.collectLeaves().flatMap {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.partitions.flatten
      case _ => Nil
    }
    assert(parts.nonEmpty)
    assert(parts.forall(_.isInstanceOf[graft.sources.ODataHttpPageRef]),
      parts.map(_.getClass).toString)
  }

  test("re-registering an entity after planning fails the fetch instead of shifting pages") {
    ODataTestServer.register(spark, "gen_probe", s"$sf/customer.parquet")
    val df = read("gen_probe", 40)
    assert(df.count() == 150) // same generation: pages serve fine
    // new registration between planning and execution: page boundaries
    // counted against the old generation must not silently apply
    val preSwap = read("gen_probe", 40).queryExecution.executedPlan.execute()
    preSwap.partitions // forces planInputPartitions → preflight snapshots the generation
    ODataTestServer.register(spark, "gen_probe", s"$sf/nation.parquet")
    val ex = intercept[org.apache.spark.SparkException](preSwap.count())
    assert(ex.getMessage.contains("re-registered"), ex.getMessage)
    assert(ex.getMessage.contains("HTTP 409"), ex.getMessage)
  }

  test("unsupported predicates stay residual and results remain correct") {
    val df = load().filter(col("c_name").contains("42")) // StringContains: not pushed
    val expected = H.tbl(spark, sf, "customer")
      .filter(col("c_name").contains("42")).count()
    ODataHttpServer.requestLog.clear()
    assert(df.count() == expected)
    val log = served("customer")
    val pushed = log.flatMap(_.split('&').filter(_.contains("%24filter=")))
    assert(log.nonEmpty && !pushed.exists(_.contains("42")), log.mkString("\n"))
  }
}
