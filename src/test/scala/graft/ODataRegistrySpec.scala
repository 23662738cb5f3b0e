package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ODataHttpServer, ODataTestServer}

/** The registry's storage contract: registrations and appends stay lazy,
  * an append keeps the row prefix and refuses a frame of other column
  * types, and grouped aggregates answer in first-appearance order. */
class ODataRegistrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("registration and appends collect nothing until the first read; an append keeps the row prefix") {
    val collected = spark.sparkContext.longAccumulator("registry_rows")
    val counted = udf { (id: Long) => collected.add(1); id }.asNondeterministic()
    def frame(from: Long, until: Long) =
      spark.range(from, until).select(counted(col("id")).as("id"), (col("id") * 2).as("v"))
    ODataTestServer.registerDf("registry_lazy", frame(0, 3))
    assert(collected.value == 0)
    val rows = () => ODataTestServer.page("registry_lazy",
      ODataTestServer.schemaOf("registry_lazy"), Array.empty, Nil, 0, None, 0, 10, None)
      .map(r => (r.getLong(0), r.getLong(1))).toList
    assert(rows() == List((0L, 0L), (1L, 2L), (2L, 4L)))
    assert(collected.value == 3)
    // the append materializes the rows it extends, but not its own frame
    ODataTestServer.appendRows("registry_lazy", frame(3, 5))
    assert(collected.value == 3)
    assert(ODataTestServer.rowCount("registry_lazy") == 5)
    assert(collected.value == 5)
    assert(rows() == List((0L, 0L), (1L, 2L), (2L, 4L), (3L, 6L), (4L, 8L)))
  }

  test("appendRows refuses a frame whose column types differ from the entity's") {
    ODataTestServer.registerDf("registry_typed", spark.range(2).select(col("id"), lit("a").as("s")))
    val e = intercept[IllegalArgumentException](ODataTestServer.appendRows("registry_typed",
      spark.range(2).select(col("id").cast(IntegerType).as("id"), lit("b").as("s"))))
    assert(e.getMessage.contains("registry_typed"), e.getMessage)
    assert(ODataTestServer.rowCount("registry_typed") == 2)
  }

  test("grouped $apply answers its groups in the order each first appears") {
    import scala.jdk.CollectionConverters._
    ODataWireFixture.register()
    val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      ODataHttpServer.getRaw(s"${ODataHttpServer.endpoint}/${ODataWireFixture.entity}" +
        "?%24applyaggs=count&%24applygroups=l", ODataHttpServer.user, ODataHttpServer.pass))
    val keys = body.get("value").elements().asScala
      .map(n => if (n.get("l").isNull) "null" else n.get("l").asText).toList
    assert(keys == ODataWireFixture.rows.map(r => if (r.isNullAt(4)) "null" else r.getLong(4).toString))
  }
}
