package graft.queries

import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** State for [[TtlCountsProcessor]]: cumulative and TTL'd per-user counts. */
final case class TtlCounts(user_id: Long, cum_n: Long, ttl_n: Long)

/** transformWithState processor with TWO ValueStates on the same key: a
  * cumulative count with TTLConfig.NONE and a count whose entries expire
  * after 200 ms of processing time (TimeMode.ProcessingTime — the mode TTL
  * requires). When the harness feeds a second batch after a >1 s wall gap,
  * the TTL'd state reads as absent (expired) while the cumulative state
  * survives — state TTL made observable and oracle-checkable. */
final class TtlCountsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, EvSlim, TtlCounts] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig}
  import org.apache.spark.sql.{Encoders => E}

  @transient private var cum: org.apache.spark.sql.streaming.ValueState[Long] = _
  @transient private var ttl: org.apache.spark.sql.streaming.ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    cum = getHandle.getValueState[Long]("cum", E.scalaLong, TTLConfig.NONE)
    ttl = getHandle.getValueState[Long]("ttl", E.scalaLong,
      TTLConfig(java.time.Duration.ofMillis(200)))
  }

  override def handleInputRows(key: Long, rows: Iterator[EvSlim],
      timers: org.apache.spark.sql.streaming.TimerValues): Iterator[TtlCounts] = {
    val k = rows.size.toLong
    val c = (if (cum.exists()) cum.get() else 0L) + k
    val t = (if (ttl.exists()) ttl.get() else 0L) + k
    cum.update(c)
    ttl.update(t)
    Iterator.single(TtlCounts(key, c, t))
  }
}

/** Round-10 wave 150: PNG decode (the DEFLATE-entropy-coded codec the
  * multimodal family lacked next to JPEG/GIF/BMP — real zlib via the JDK's
  * Inflater, CRC-32 chunk validation, and all five scanline filters
  * reversed) and Spark 4 state TTL (transformWithState ValueState entries
  * expiring on processing time, observed across a checkpoint restart).
  */
object PngTtlOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // PNG DECODE: synthesize a spec-complete 8-bit greyscale PNG per
    // document (IHDR/IDAT/IEND with per-chunk CRC-32; zlib-wrapped
    // scanlines; filter type cycling row % 5 so None/Sub/Up/Average/Paeth
    // are ALL on the wire for every document), decode it with an
    // independent chunk-walking decoder (CRC re-computed per chunk, IDAT
    // inflated with java.util.zip.Inflater, filters reversed per spec),
    // and profile the recovered pixels. Dims/content are closed-form in
    // (doc_id, n_chars) so the oracle reproduces the pixel stream without
    // any codec. Per-row data-parallel, executor-side only. Scale: pure
    // map, zero shuffle before the final sort.
    Q("multimodal_png",
      Some("WITH dims AS (SELECT doc_id, 5 + doc_id % 29 AS w, " +
        "5 + (doc_id * 7 + n_chars) % 31 AS h FROM documents), " +
        "px AS (SELECT doc_id, list_transform(range(0, w * h), " +
        "i -> (doc_id * 11 + (i % w) * 3 + (i // w) * 13) % 256) " +
        "AS vs FROM dims) " +
        "SELECT doc_id, CAST(len(vs) AS BIGINT) AS n_px, " +
        "md5(array_to_string(vs, ',')) AS px_md5, " +
        "CAST(list_sum(vs) AS BIGINT) AS px_sum, " +
        "CAST(list_min(vs) AS BIGINT) AS px_min, " +
        "CAST(list_max(vs) AS BIGINT) AS px_max FROM px ORDER BY doc_id"),
      (s, dir) =>
        graft.functions.PngCodec.transformPng(s, tbl(s, dir, "documents"))
          .toDF().orderBy("doc_id")),

    // STATE TTL, executed LIVE: one long-running query (ProcessingTime
    // time mode — the mode TTL requires; note neither
    // awaitTermination(AvailableNow) NOR processAllAvailable() ever
    // returns in this mode on Spark 4.1: the engine runs empty
    // clock-advance micro-batches forever — measured ~2/s, 117 commits
    // in 60 s — and each one resets the no-new-data latch. The harness
    // therefore syncs on the CHECKPOINT ITSELF: wait until the file
    // source's metadata log admits the fed file, then until that batch's
    // commit lands, then stop()). Batch A (first half) writes both
    // states; the
    // harness sleeps 6x past the 200 ms TTL; batch B (second half)
    // arrives and reads the TTL'd ValueState as EXPIRED while the
    // cumulative ValueState (TTLConfig.NONE) is intact. The keyed
    // keep-latest upsert sink therefore holds, per user: cum_n = all rows
    // ever seen, ttl_n = rows in the user's LAST active burst — the exact
    // bounded-state semantics production pipelines buy with TTL, and a
    // closed-form oracle over the two halves.
    Q("stream_tws_state_ttl",
      Some("WITH sub AS (SELECT * FROM events WHERE event_id % 11 = 3), " +
        "h AS (SELECT user_id, " +
        "CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
        "CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2 " +
        "FROM sub GROUP BY 1) " +
        "SELECT user_id, n1 + n2 AS cum_n, " +
        "CASE WHEN n2 > 0 THEN n2 ELSE n1 END AS ttl_n " +
        "FROM h ORDER BY user_id"),
      (s, dir) => {
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import graft.streaming.StreamingRefresh
        val tmp = H.tmpDir("graft_twsttl")
        val in = s"$tmp/in"; val sink = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
        val ev = H.events(s, dir)
          .select("event_id", "user_id", "ts", "value")
          .filter(pmod(col("event_id"), lit(11)) === 3)
        val halves = (0 until 2).map(i =>
          ev.filter(pmod(col("event_id"), lit(2)) === i))
        val ss = s.newSession()
        ss.conf.set("spark.sql.shuffle.partitions", "4")
        ss.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        import ss.implicits._
        // the first half must exist before the source is DEFINED — the
        // DataStreamReader validates the path eagerly
        WindowingQueries.writeReplay(Seq(halves(0)), tmp, in)
        val src = StreamingRefresh
          .fileStream(ss, ev.schema, in, maxFilesPerTrigger = Some(1))
          .select(col("event_id"), col("user_id"), col("value"))
          .as[EvSlim]
        val counts = src.groupByKey(_.user_id)
          .transformWithState(new TtlCountsProcessor,
            TimeMode.ProcessingTime(), OutputMode.Update())
        // Σ cum_n of the sink as each upsert left it, read on the stream's
        // own thread after the swap, so the poll below never reads the
        // sink while an upsert renames it
        val sinkMass = new java.util.concurrent.atomic.AtomicLong(-1L)
        def upsertAndWeigh(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
          StreamingRefresh.upsertBatch(Seq("user_id"), "cum_n", sink)(batch, id)
          val r = batch.sparkSession.read.parquet(sink).agg(sum("cum_n")).collect()(0)
          sinkMass.set(if (r.isNullAt(0)) 0L else r.getLong(0))
        }
        val q = counts.toDF().writeStream
          .outputMode("update")
          .foreachBatch(upsertAndWeigh _)
          .option("checkpointLocation", ckpt)
          .start()
        // engine-driven sync: a fed file is "reflected" once the keyed
        // upsert sink carries the file's ROW MASS — Σ cum_n over users
        // equals the number of input rows processed, because cum_n is
        // each user's cumulative count and the upsert keeps the latest.
        // (The r11 fix: the previous barrier waited on USER COVERAGE,
        // which returns instantly when a later file introduces no new
        // users — at sf0.001 both halves cover the same user set, so the
        // stream was stopped before batch B processed; sf0.01 only passed
        // by stop-latency luck. The targets are computed from the INPUT
        // frames, never from the oracle. The checkpoint's source/commit
        // logs are NOT a sufficient barrier either: the admitting batch
        // can commit with zero input rows and the data materializes a
        // batch later — observed at 4 cores.)
        def waitSinkMass(expect: Long): Unit = {
          val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
          while (sinkMass.get < expect && q.isActive && System.nanoTime() < deadline)
            Thread.sleep(200)
          q.exception.foreach(e => throw e)
          val seen = sinkMass.get
          require(seen >= expect, s"sink carries $seen rows, expected $expect")
        }
        val mass0 = halves(0).count()
        val massAll = ev.count()
        try {
          waitSinkMass(mass0) // batch A: writes both states
          // sleep 6x past the 200 ms TTL — the idle gap every real
          // pipeline has between a user's activity bursts
          Thread.sleep(1200)
          WindowingQueries.writeReplay(Seq(halves(1)), tmp, in, startAt = 1)
          waitSinkMass(massAll) // batch B: ttl expired, cum intact
        } finally q.stop()
        s.read.parquet(sink)
          .select(col("user_id"), col("cum_n"), col("ttl_n"))
          .orderBy("user_id")
      })
  )
}
