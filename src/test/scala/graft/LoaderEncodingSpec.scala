package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** The driver has re-provisioned /root/testdata with a different physical
  * timestamp encoding twice (TIMESTAMP(NANOS) in r1, TIMESTAMP_NTZ micros in
  * r6), and each time an un-normalized loader broke the whole event-time
  * query family. This spec pins the loader contract: the SAME logical fixture
  * written in every encoding the driver has ever shipped must come out of
  * H.events with the SAME schema and the SAME values. The reference avoids
  * the problem by never trusting file encodings at all — schema always comes
  * from $metadata (reference/resources/priorityDataSource.py:375-458);
  * H.canonicalTypes/H.events are this engine's equivalent boundary.
  */
class LoaderEncodingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def writeFixture(encode: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
    import spark.implicits._
    val base = Seq(
      (1L, "2024-03-01 10:30:00.123456", 7L, "click", 1.5, "{}"),
      (2L, "2024-03-01 10:30:01.000001", 8L, "view", 2.5, "{}"),
      (3L, "2024-12-31 23:59:59.999999", 7L, "click", 3.5, "{}")
    ).toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", to_timestamp($"ts_s"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = H.cleanupOnExit(
      java.nio.file.Files.createTempDirectory("enc_fix").toString)
    encode(base).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def loadNormalized(dir: String): Seq[String] = {
    val ev = H.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType,
      s"ts not canonicalized in $dir: ${ev.schema("ts").dataType}")
    ev.select(H.fmtTs(col("ts"))).orderBy("event_id")
      .collect().map(_.getString(0)).toSeq
  }

  test("same fixture in micros-UTC, NTZ-micros, and nanos-as-long encodings loads identically") {
    // encoding 1: plain TIMESTAMP (isAdjustedToUTC=true, micros) — the default
    val utcDir = writeFixture(identity)
    // encoding 2: TIMESTAMP_NTZ (isAdjustedToUTC=false, micros) — the r6 shape
    val ntzDir = writeFixture(df =>
      df.withColumn("ts", col("ts").cast("timestamp_ntz")))
    // encoding 3: TIMESTAMP(NANOS) surfaces as LongType under
    // spark.sql.legacy.parquet.nanosAsLong (set by graft.Session) — the r1 shape.
    // Spark can't WRITE nanos parquet, so write the post-read shape directly:
    // a BIGINT nanos column, exactly what H.events receives from the flag.
    val nanosDir = writeFixture(df =>
      df.withColumn("ts", expr("unix_micros(ts) * 1000L")))

    val utc = loadNormalized(utcDir)
    assert(utc == loadNormalized(ntzDir), "NTZ-micros encoding diverged")
    assert(utc == loadNormalized(nanosDir), "nanos-as-long encoding diverged")
    assert(utc.head == "2024-03-01 10:30:00.123456")
  }

  test("bare-integer epoch units (nanos/micros/millis/seconds) and ISO strings all normalize") {
    import spark.implicits._
    // whole-second fixture values so every unit represents them exactly
    def fix(encode: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
      val base = Seq(
        (1L, "2024-03-01 10:30:00", 7L), (2L, "2024-03-01 10:30:01", 8L),
        (3L, "2024-12-31 23:59:59", 7L))
        .toDF("event_id", "ts_s", "user_id")
        .select($"event_id", to_timestamp($"ts_s").as("ts"), $"user_id")
      val dir = H.cleanupOnExit(
        java.nio.file.Files.createTempDirectory("enc_unit").toString)
      encode(base).write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    def loaded(dir: String): Seq[String] = {
      val ev = H.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType,
        s"ts not canonicalized in $dir: ${ev.schema("ts").dataType}")
      ev.select(H.fmtTsSec(col("ts"))).orderBy("event_id")
        .collect().map(_.getString(0)).toSeq
    }
    val expect = loaded(fix(identity))
    assert(expect.head == "2024-03-01 10:30:00")
    val variants = Seq(
      "nanos" -> ((df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("ts", expr("unix_micros(ts) * 1000L"))),
      "micros" -> ((df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("ts", expr("unix_micros(ts)"))),
      "millis" -> ((df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("ts", expr("unix_millis(ts)"))),
      "seconds" -> ((df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("ts", expr("unix_seconds(ts)"))),
      "iso-string" -> ((df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("ts", H.fmtTsSec(col("ts")))))
    variants.foreach { case (name, enc) =>
      assert(loaded(fix(enc)) == expect, s"$name encoding diverged")
    }
  }

  test("INT96 and TIMESTAMP_MILLIS physical writes load identically") {
    import spark.implicits._
    def fix(outType: String): String = {
      val base = Seq((1L, "2024-03-01 10:30:00"), (2L, "2024-12-31 23:59:59"))
        .toDF("event_id", "ts_s")
        .select($"event_id", to_timestamp($"ts_s").as("ts"))
      val dir = H.cleanupOnExit(
        java.nio.file.Files.createTempDirectory("enc_phys").toString)
      val key = "spark.sql.parquet.outputTimestampType"
      val prev = spark.conf.get(key)
      try {
        spark.conf.set(key, outType)
        base.write.mode("overwrite").parquet(s"$dir/events.parquet")
      } finally spark.conf.set(key, prev)
      dir
    }
    val expect = Seq("2024-03-01 10:30:00", "2024-12-31 23:59:59")
    Seq("INT96", "TIMESTAMP_MILLIS", "TIMESTAMP_MICROS").foreach { t =>
      val ev = H.events(spark, fix(t))
      assert(ev.schema("ts").dataType == TimestampType, s"$t type")
      assert(ev.select(H.fmtTsSec(col("ts"))).orderBy("event_id")
        .collect().map(_.getString(0)).toSeq == expect, s"$t values")
    }
  }

  test("parquet DATE columns load as midnight timestamps (future-provision guard)") {
    import spark.implicits._
    val dir = H.cleanupOnExit(
      java.nio.file.Files.createTempDirectory("enc_date").toString)
    Seq((1L, "1995-03-15"), (2L, "1998-12-01"))
      .toDF("id", "d_s")
      .select($"id", to_date($"d_s").as("o_orderdate"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val back = H.tbl(spark, dir, "t")
    assert(back.schema("o_orderdate").dataType == TimestampType)
    // the comparisons the relational queries actually run must keep working
    assert(back.filter(col("o_orderdate") >=
      lit("1995-01-01").cast("timestamp")).count() == 2)
    assert(back.select(date_format(col("o_orderdate"), "yyyy-MM"))
      .orderBy("id").collect().map(_.getString(0)).toSeq ==
      Seq("1995-03", "1998-12"))
  }

  test("property: any epoch instant 1975-2200, in any integer unit, round-trips the dispatch") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    // the dispatch is pure SQL; evaluate it once per generated batch via a
    // DataFrame instead of per-sample sessions (keeps the property fast)
    val epochGen = Gen.choose(157766400L, 7258118400L) // 1975..2200, seconds
    val samples = Gen.listOfN(200, epochGen).sample.get
    val df = samples.zipWithIndex
      .flatMap { case (sec, i) =>
        Seq((i * 4L, sec * 1000000000L), (i * 4L + 1, sec * 1000000L),
          (i * 4L + 2, sec * 1000L), (i * 4L + 3, sec))
      }
      .toDF("event_id", "ts")
    val dir = H.cleanupOnExit(
      java.nio.file.Files.createTempDirectory("enc_prop").toString)
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val back = H.events(spark, dir)
      .select(col("event_id"), expr("unix_seconds(ts)").as("s"))
      .orderBy("event_id").collect()
    samples.zipWithIndex.foreach { case (sec, i) =>
      (0 until 4).foreach { u =>
        val row = back(i * 4 + u)
        assert(row.getLong(1) == sec,
          s"epoch $sec unit#$u came back as ${row.getLong(1)}")
      }
    }
    // and the boundary property: planesFor is monotone, floored at the
    // oracle's 8 planes through 16384 vectors, and capped
    val vsProp = Prop.forAll(Gen.choose(0L, 1L << 40)) { n =>
      val p = graft.functions.VectorSim.planesFor(n)
      val oracleParity = n > graft.functions.VectorSim.TargetBucket * 256 || p == 8
      val bounded = p >= 8 && p <= 24
      val occupancyOk = p == 24 || (n >> p) <= graft.functions.VectorSim.TargetBucket
      oracleParity && bounded && occupancyOk
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), vsProp)
    assert(r.passed, r.status.toString)
  }

  test("canonicalTypes coerces every NTZ column, not just events.ts") {
    import spark.implicits._
    val dir = H.cleanupOnExit(
      java.nio.file.Files.createTempDirectory("enc_multi").toString)
    Seq((1L, "2024-06-12 08:00:00", "2024-06-12 09:00:00"))
      .toDF("id", "a_s", "b_s")
      .select($"id",
        to_timestamp($"a_s").cast("timestamp_ntz").as("created"),
        to_timestamp($"b_s").cast("timestamp_ntz").as("updated"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val back = H.tbl(spark, dir, "t")
    assert(back.schema("created").dataType == TimestampType)
    assert(back.schema("updated").dataType == TimestampType)
    val r = back.select(H.fmtTsSec($"created"), H.fmtTsSec($"updated")).collect()(0)
    assert(r.getString(0) == "2024-06-12 08:00:00")
    assert(r.getString(1) == "2024-06-12 09:00:00")
  }

  test("parquet DECIMAL measure columns load as the canonical doubles") {
    // future-provision guard: the numeric measures have always shipped as
    // DOUBLE; a DECIMAL(12,2) re-encode must load with an identical schema
    // and identical values (2-dp values are exactly representable both ways)
    import spark.implicits._
    val dir = H.cleanupOnExit(
      java.nio.file.Files.createTempDirectory("enc_dec").toString)
    val base = Seq((1L, 901.04, 31.0), (2L, 123.45, 2.0))
      .toDF("l_orderkey", "l_extendedprice", "l_quantity")
    base.select($"l_orderkey",
        $"l_extendedprice".cast(DecimalType(12, 2)).as("l_extendedprice"),
        $"l_quantity".cast(DecimalType(12, 2)).as("l_quantity"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val back = H.tbl(spark, dir, "lineitem")
    assert(back.schema("l_extendedprice").dataType == DoubleType,
      back.schema.treeString)
    assert(back.schema("l_quantity").dataType == DoubleType)
    val rows = back.orderBy("l_orderkey")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, 901.04, 31.0), (2L, 123.45, 2.0)))
  }
}
