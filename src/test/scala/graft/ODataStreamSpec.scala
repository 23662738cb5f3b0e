package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ODataHttpServer, ODataTestServer}

/** The connector's MICRO_BATCH_READ face: row-cursor offsets, checkpointed
  * resume, delta-only fetches, exactly-once across runs. */
class ODataStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def stream(entity: String) =
    spark.readStream.format("graft.sources.ODataHttpSource")
      .options(ODataHttpServer.tenantOptions)
      .option("entity", entity).option("pageSize", "4").load()

  /** The `$skip/$top` row-range GETs served since the log was last cleared. */
  private def ranges(entity: String): List[String] = {
    import scala.jdk.CollectionConverters._
    ODataHttpServer.requestLog.asScala.toList
      .filter(r => r.startsWith(s"GET /odata/$entity?") && r.contains("%24skip="))
      .map(_.replaceAll(".*%24skip=", "%24skip="))
  }

  test("incremental pull: run 2 fetches only the rows appended after run 1") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_odstream").toString
    val sink = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
    ODataTestServer.registerDf("stream_ent",
      spark.range(0L, 10L).select($"id", ($"id" * 2).as("v")))

    def pull(): Unit = {
      ODataHttpServer.requestLog.clear()
      val q = stream("stream_ent")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    pull()
    assert(spark.read.parquet(sink).count() === 10L)
    assert(ranges("stream_ent").sorted == List(
      "%24skip=0&%24top=4", "%24skip=4&%24top=4", "%24skip=8&%24top=2"),
      ranges("stream_ent"))

    ODataTestServer.appendRows("stream_ent",
      spark.range(10L, 15L).select($"id", ($"id" * 2).as("v")))
    pull()
    // delta fetch started exactly at the committed cursor and read only
    // the 5 appended rows, one range per page...
    assert(ranges("stream_ent").sorted == List(
      "%24skip=10&%24top=4", "%24skip=14&%24top=1"), ranges("stream_ent"))
    // ...and the sink holds every row exactly once
    val rows = spark.read.parquet(sink)
    assert(rows.count() === 15L)
    assert(rows.select("id").distinct().count() === 15L)
    assert(rows.agg(sum($"v")).as[Long].head() === (0L until 15L).map(_ * 2).sum)

    // idle run: nothing new, nothing re-read
    pull()
    assert(spark.read.parquet(sink).count() === 15L)
    assert(ranges("stream_ent").isEmpty, ranges("stream_ent"))
  }

  test("pages split a micro-batch into multiple partitions") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_odstream2").toString
    ODataTestServer.registerDf("stream_ent2",
      spark.range(0L, 9L).select($"id"))
    val q = stream("stream_ent2")
      .writeStream.format("parquet")
      .option("path", s"$tmp/sink").option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val files = spark.read.parquet(s"$tmp/sink")
    assert(files.count() === 9L)
    // 9 rows / pageSize 4 -> 3 range partitions -> >= 3 output files
    val n = java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmp/sink"))
      .filter(f => f.toString.endsWith(".parquet")).count()
    assert(n >= 3, s"expected >=3 part files, got $n")
  }

  test("a range longer than the server's default 1000-row page arrives in one body") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_odstream3").toString
    ODataTestServer.registerDf("stream_wide", spark.range(0L, 5003L).select($"id"))
    ODataHttpServer.requestLog.clear()
    val q = spark.readStream.format("graft.sources.ODataHttpSource")
      .options(ODataHttpServer.tenantOptions)
      .option("entity", "stream_wide").option("pageSize", "2500").load()
      .writeStream.format("parquet")
      .option("path", s"$tmp/sink").option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(ranges("stream_wide").sorted == List(
      "%24skip=0&%24top=2500", "%24skip=2500&%24top=2500", "%24skip=5000&%24top=3"),
      ranges("stream_wide"))
    val rows = spark.read.parquet(s"$tmp/sink")
    assert(rows.count() === 5003L)
    assert(rows.select("id").distinct().count() === 5003L)
  }
}
