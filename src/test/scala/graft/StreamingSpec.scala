package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingRefresh

final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def t(s: String) = Timestamp.valueOf(s)

  test("windowed streaming aggregation over MemoryStream produces per-window counts") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val agg = StreamingRefresh.windowedCounts(in.toDF(), "5 minutes", "10 minutes")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try {
      in.addData(
        Ev(1, t("2024-01-01 00:01:00"), 1, "click", 1.0),
        Ev(2, t("2024-01-01 00:02:00"), 1, "click", 2.0),
        Ev(3, t("2024-01-01 00:06:00"), 2, "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select("wstart", "event_type", "n").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
      assert(rows == Set(
        ("2024-01-01 00:00:00.0", "click", 2L),
        ("2024-01-01 00:05:00.0", "view", 1L)))
    } finally q.stop()
  }

  test("watermark drops events later than the lateness bound") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Ev]
    val agg = StreamingRefresh.windowedCounts(in.toDF(), "5 minutes", "10 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      in.addData(Ev(1, t("2024-01-01 00:01:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // advance watermark to 01:00 - 10min = 00:50
      in.addData(Ev(2, t("2024-01-01 01:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // this event is 40+ minutes behind the watermark → dropped
      in.addData(Ev(3, t("2024-01-01 00:02:00"), 1, "click", 100.0))
      q.processAllAvailable()
      in.addData(Ev(4, t("2024-01-01 02:00:00"), 1, "click", 1.0)) // close windows
      q.processAllAvailable()
      val first = spark.table("late_out")
        .filter(col("wstart") === t("2024-01-01 00:00:00"))
        .select("n").collect()
      assert(first.length == 1)
      assert(first(0).getLong(0) == 1L) // late event not counted
    } finally q.stop()
  }

  // Pins the semantics stream_late_drop's oracle depends on (empirically
  // observed on Spark 4.1, not contractual): the late-data FILTER for
  // micro-batch N uses batch N-1's watermark while EVICTION uses batch N's
  // — the filter lags eviction by exactly one batch. If a Spark upgrade
  // changes watermark propagation, THIS test fails with a pointed message
  // instead of stream_late_drop failing with an opaque hash mismatch.
  test("watermark late-data filter lags eviction by one batch (query-progress pin)") {
    import spark.implicits._
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    import org.apache.spark.sql.{DataFrame, Row}
    val tmp = Files.createTempDirectory("graft_lag_pin").toString
    val in = s"$tmp/in"
    def writeBatch(df: DataFrame, i: Int): Unit = {
      import java.nio.file.Paths
      val stage = s"$tmp/stage_$i"
      df.coalesce(1).write.parquet(stage)
      val listing = java.nio.file.Files.list(Paths.get(stage))
      val part =
        try listing.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
        finally listing.close()
      java.nio.file.Files.createDirectories(Paths.get(in))
      java.nio.file.Files.move(part, Paths.get(s"$in/batch$i.parquet"))
    }
    // window 5 min, lateness 10 min; batch0 fixes the watermark at 00:50
    val b0 = Seq(Ev(1, t("2024-01-01 01:00:00"), 1, "click", 1.0),
      Ev(2, t("2024-01-01 01:00:00"), 2, "click", 1.0)).toDF()
    // batch1: 00:30 — far below the final watermark, but filtered with the
    // PREVIOUS batch's watermark (initial 0) → accepted, window emitted
    val b1 = Seq(Ev(3, t("2024-01-01 00:30:00"), 1, "click", 1.0)).toDF()
    // batch2: 00:20 — filtered with the advanced watermark → dropped
    val b2 = Seq(Ev(4, t("2024-01-01 00:20:00"), 1, "click", 1.0)).toDF()
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) => writeBatch(b, i) }
    val q = StreamingRefresh
      .fileStream(ss, b0.schema, in, maxFilesPerTrigger = Some(1))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("n"))
      .writeStream.outputMode("append")
      .format("memory").queryName("lag_pin_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // per-batch progress, data batches only, in batch order
    val prog = q.recentProgress.toSeq
      .filter(_.numInputRows > 0).sortBy(_.batchId)
    assert(prog.map(_.numInputRows) == Seq(2L, 1L, 1L),
      s"expected 3 data batches of 2/1/1 rows, got ${prog.map(p => (p.batchId, p.numInputRows))}")
    def dropped(i: Int): Long =
      prog(i).stateOperators.map(_.numRowsDroppedByWatermark).sum
    assert(dropped(0) == 0, "bulk batch must not drop")
    assert(dropped(1) == 0,
      "one-batch filter lag broken: the straggler batch right after the " +
        "watermark-advancing batch must still be ACCEPTED (filter uses the " +
        "previous batch's watermark) — stream_late_drop's oracle relies on this")
    assert(dropped(2) > 0,
      "second straggler batch must be dropped by the advanced watermark")
    // observable output: the accepted straggler's window is present, the
    // dropped one's absent, the open 01:00 window unemitted (append mode)
    val wins = ss.table("lag_pin_out").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1))).toSet
    assert(wins == Set(("2024-01-01 00:30:00.0", 1L)), s"got $wins")
  }

  // The production-shaped twin of the lag pin above: the EXACT replay
  // stream_late_drop runs (events table, event-time-sliced batches, 1-day
  // windows, 10-day lateness), with the per-batch StreamingQueryProgress
  // contract asserted. If Spark's watermark propagation changes, these
  // assertions name the broken batch and metric; the judged query would
  // only report an opaque oracle hash mismatch.
  test("stream_late_drop replay: per-batch input/drop metrics match the contract") {
    val sf = "/root/testdata/sf0.001"
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val ev = H.events(ss, sf)
      .select("event_id", "user_id", "event_type", "ts")
      .filter(pmod(col("event_id"), lit(5)) === 3)
    val j4 = lit("2024-01-04").cast("timestamp")
    val j6 = lit("2024-01-06").cast("timestamp")
    val slices = Seq(
      ev.filter(col("ts") >= j6), // bulk: fixes the watermark
      ev.filter(col("ts") >= j4 && col("ts") < j6), // accepted stragglers
      ev.filter(col("ts") < j4)) // dropped stragglers
    val expectRows = slices.map(_.count())
    assert(expectRows.forall(_ > 0), s"fixture slices must be non-empty: $expectRows")
    // numRowsDroppedByWatermark meters the STATE operator, which sits
    // above the map-side partial aggregation — batch 2's input rows are
    // combined into (day-window, event_type) partial rows first, and THOSE
    // are what the watermark drops (the single small replay file reads as
    // one partition, so partial rows == distinct groups)
    val expectDroppedGroups = slices(2)
      .select(date_trunc("day", col("ts")), col("event_type")).distinct().count()
    val tmp = Files.createTempDirectory("graft_late_pin").toString
    val in = s"$tmp/in"
    slices.zipWithIndex.foreach { case (b, i) =>
      val stage = s"$tmp/stage_$i"
      b.coalesce(1).write.parquet(stage)
      val listing = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
      val part =
        try listing.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
        finally listing.close()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$in/batch$i.parquet"))
    }
    val q = StreamingRefresh
      .fileStream(ss, ev.schema, in, maxFilesPerTrigger = Some(1))
      .withWatermark("ts", "10 days")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("append")
      .format("memory").queryName("late_pin_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
    assert(prog.map(_.numInputRows) == expectRows,
      s"batch input rows drifted: expected $expectRows, " +
        s"got ${prog.map(p => (p.batchId, p.numInputRows))} — the replay no " +
        "longer splits on event time the way the oracle assumes")
    def dropped(i: Int): Long =
      prog(i).stateOperators.map(_.numRowsDroppedByWatermark).sum
    assert(dropped(0) == 0, "bulk batch must not drop rows")
    assert(dropped(1) == 0,
      "batch 1 stragglers must be ACCEPTED (late-data filter uses the " +
        "PREVIOUS batch's watermark) — if this fails, Spark's one-batch " +
        "filter lag changed and stream_late_drop's oracle must be rebuilt")
    assert(dropped(2) == expectDroppedGroups,
      s"batch 2 must drop ALL $expectDroppedGroups partially-aggregated " +
        s"groups below the advanced watermark, dropped ${dropped(2)} — " +
        "eviction/filter semantics (or the partial-agg metering point) changed")
    // cross-check the observable consequence the oracle encodes: nothing
    // from batch 2 ever reaches the sink
    val minOut = ss.table("late_pin_out")
      .agg(min(col("window.start"))).collect()(0).getTimestamp(0)
    assert(!minOut.before(Timestamp.valueOf("2024-01-04 00:00:00")), minOut.toString)
  }

  test("AvailableNow file-stream refresh with foreachBatch upsert is idempotent across retries") {
    import spark.implicits._
    val src = Files.createTempDirectory("stream_src").toString
    val out = Files.createTempDirectory("stream_out").toString
    val ck = Files.createTempDirectory("stream_ck").toString
    Seq(Ev(1, t("2024-01-01 00:01:00"), 1, "click", 1.0),
      Ev(1, t("2024-01-01 00:03:00"), 1, "click", 2.0), // newer version of key 1
      Ev(2, t("2024-01-01 00:02:00"), 2, "view", 3.0))
      .toDF().write.mode("overwrite").parquet(src)

    val stream = StreamingRefresh.fileStream(spark,
      spark.read.parquet(src).schema, src)
    val q = stream.writeStream
      .foreachBatch(StreamingRefresh.upsertBatch(Seq("event_id"), "ts", out) _)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val got = spark.read.parquet(out)
    assert(got.count() == 2) // key 1 deduped to latest
    val v1 = got.filter(col("event_id") === 1).select("value").collect()(0).getDouble(0)
    assert(v1 == 2.0)

    // re-run with same checkpoint: no new batches, no duplicate rows
    val q2 = stream.writeStream
      .foreachBatch(StreamingRefresh.upsertBatch(Seq("event_id"), "ts", out) _)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(60000)
    assert(spark.read.parquet(out).count() == 2)

    // a LATER micro-batch updating an existing key must upsert, not append:
    // new source file -> new batch under the same checkpoint
    Seq(Ev(2, t("2024-01-01 00:09:00"), 2, "view", 99.0))
      .toDF().write.mode("append").parquet(src)
    val q3 = stream.writeStream
      .foreachBatch(StreamingRefresh.upsertBatch(Seq("event_id"), "ts", out) _)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q3.awaitTermination(60000)
    val after = spark.read.parquet(out)
    assert(after.count() == 2) // still one row per key
    val v2 = after.filter(col("event_id") === 2).select("value").collect()(0).getDouble(0)
    assert(v2 == 99.0) // cross-batch key update replaced the old version
  }

  test("tuneCheckpointConf keeps a session-level checksum setting") {
    val k = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    val src = Files.createTempDirectory("stream_conf").toString
    val schema = org.apache.spark.sql.Encoders.product[Ev].schema
    val set = spark.newSession()
    set.conf.set(k, "true")
    StreamingRefresh.fileStream(set, schema, src)
    assert(set.conf.get(k) == "true")
    // a session that set nothing still gets the harness default
    val unset = spark.newSession()
    StreamingRefresh.fileStream(unset, schema, src)
    assert(unset.conf.get(k) == "false")
  }
}
