package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Seventieth wave: streaming SCD2 maintenance, partial
  * autocorrelation (Durbin-Levinson), seeded randomized response, and
  * Pareto-front document selection.
  *
  * Signed fixed-point divisions in the Levinson fold use the
  * positive-shift floor FDIV(x, d) = (x + K*d)/d - K (numerator kept
  * positive, so Spark's truncating `div` and DuckDB's flooring `//`
  * agree).
  */
object Scd2StreamOpsQueries extends QueryModule {

  /** foreachBatch merge: incoming (user_id, from_us, cents) versions
    * union the sink's existing versions, dedupe (max cents on a tied
    * timestamp), recompute exclusive valid_to via lead, atomic-swap
    * write. Retries re-merge to the identical state (set semantics).
    * At scale the recompute narrows to the touched users (partition
    * overwrite by user bucket); the interval logic is unchanged.
    */
  private def scd2Merge(outDir: String)(batch: DataFrame,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val out = new org.apache.hadoop.fs.Path(outDir)
    val bak = new org.apache.hadoop.fs.Path(outDir + "_bak")
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(out) && fs.exists(bak)) fs.rename(bak, out)
    val existing =
      if (fs.exists(out) && fs.listStatus(out).nonEmpty)
        Some(spark.read.parquet(outDir)
          .select(col("user_id"), col("valid_from_us"), col("cents")))
      else None
    val versions = existing
      .map(batch.select(col("user_id"), col("valid_from_us"),
        col("cents")).unionByName(_))
      .getOrElse(batch)
      .groupBy("user_id", "valid_from_us")
      .agg(max("cents").as("cents"))
    val dim = versions.withColumn("valid_to_us",
      lead("valid_from_us", 1).over(
        Window.partitionBy("user_id").orderBy("valid_from_us")))
    val tmp = new org.apache.hadoop.fs.Path(outDir + s"_tmp_batch$batchId")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    dim.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(bak)) fs.delete(bak, true)
    if (fs.exists(out)) fs.rename(out, bak)
    fs.rename(tmp, out)
    if (fs.exists(bak)) fs.delete(bak, true)
  }

  def all: Seq[Q] = Seq(

    // Streaming CDC -> SCD2: purchase events stream in three replayed
    // micro-batches; every batch MERGEs new attribute versions into
    // the dimension sink, closing the previous version's validity
    // interval (exclusive lead timestamp) inside foreachBatch. Version
    // identity is the EVENT time, so batch boundaries cannot change
    // the final dimension — the oracle states it as one lead() window
    // over the same versions.
    Q("stream_scd2_apply",
      Some(
        """WITH v AS (SELECT user_id, epoch_us(ts) AS valid_from_us,
          |  max(CAST(floor(value*100 + 0.5) AS BIGINT)) AS cents
          |  FROM events WHERE event_type = 'purchase'
          |  GROUP BY 1, 2)
          |SELECT user_id, valid_from_us,
          |  lead(valid_from_us) OVER (PARTITION BY user_id
          |    ORDER BY valid_from_us) AS valid_to_us,
          |  cents
          |FROM v ORDER BY user_id, valid_from_us
          |""".stripMargin),
      (s, dir) => {
        import java.nio.file.Files
        val ev = H.events(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("valid_from_us"),
            floor(col("value") * 100 + lit(0.5)).cast("long")
              .as("cents"))
        val tmp = H.tmpDir("graft_scd2s")
        val in = s"$tmp/in"; val sink = s"$tmp/sink"
        val ckpt = s"$tmp/ckpt"
        WindowingQueries.writeReplay(
          (0 until 3).map(i =>
            ev.filter(pmod(col("event_id"), lit(3)) === i)), tmp, in)
        val ss = s.newSession()
        ss.conf.set("spark.sql.shuffle.partitions", "4")
        val src = graft.streaming.StreamingRefresh
          .fileStream(ss, ev.schema, in, maxFilesPerTrigger = Some(1))
        val q = src.writeStream
          .outputMode("update")
          .foreachBatch(scd2Merge(sink) _)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(sink)
          .select(col("user_id"), col("valid_from_us"),
            col("valid_to_us"), col("cents"))
          .orderBy("user_id", "valid_from_us")
      }),

    // Partial autocorrelation (lags 1-4) of daily clicks by the
    // Durbin-Levinson recursion in micro fixed point: autocovariances
    // are exact integer products of floor-mean-centered counts (unit
    // scale keeps c0 * 1e6 under 2^63 through sf1); each reflection
    // coefficient is one shifted-floor division, applied identically
    // in the chained order-2..4 steps of both engines.
    Q("stats_pacf_levinson",
      Some(
        """WITH dom AS (SELECT unnest(range(1, 31)) AS day),
          |d AS MATERIALIZED (SELECT dom.day,
          |  CAST(coalesce(s.y, 0) AS BIGINT) AS y
          |  FROM dom LEFT JOIN (
          |    SELECT CAST(strftime(ts, '%d') AS BIGINT) AS day,
          |      count(*) AS y FROM events WHERE event_type = 'click'
          |    GROUP BY 1) s ON s.day = dom.day),
          |mu AS (SELECT CAST(sum(y) // 30 AS BIGINT) AS m FROM d),
          |cv AS (SELECT k.k, CAST(sum((a.y - mu.m) * (b.y - mu.m))
          |    AS BIGINT) AS c
          |  FROM (SELECT unnest(range(0, 5)) AS k) k, mu, d a
          |  JOIN d b ON b.day = a.day + k.k
          |  GROUP BY k.k),
          |rho AS (SELECT k.k,
          |  CAST((SELECT c FROM cv WHERE cv.k = k.k) * 1000000
          |    // (SELECT c FROM cv WHERE cv.k = 0) AS BIGINT) AS r
          |  FROM (SELECT unnest(range(1, 5)) AS k) k),
          |rl AS (SELECT list(r ORDER BY k) AS rs FROM rho),
          |s1 AS (SELECT [rs[1]] AS phi, [rs[1]] AS pacf FROM rl),
          |s2 AS (
          |  SELECT
          |    [ t.phi[j+1] - ((t.pk * t.phi[1 - j] + 10000000000000)
          |        // 1000000 - 10000000) FOR j IN range(0, 1) ]
          |      || [t.pk] AS phi,
          |    t.pacf || [t.pk] AS pacf
          |  FROM (
          |    SELECT p.phi, p.pacf,
          |      ((p.num * 1000000 + 1000000 * p.den) // p.den - 1000000) AS pk
          |    FROM (
          |      SELECT prev.phi, prev.pacf,
          |        rl.rs[2]*1000000 - list_sum([prev.phi[j+1] * rl.rs[1 - j]
          |          FOR j IN range(0, 1)]) AS num,
          |        greatest(1000000000000 - list_sum([prev.phi[j+1] * rl.rs[j+1]
          |          FOR j IN range(0, 1)]), 1) AS den
          |      FROM s1 prev, rl) p) t),
          |s3 AS (
          |  SELECT
          |    [ t.phi[j+1] - ((t.pk * t.phi[2 - j] + 10000000000000)
          |        // 1000000 - 10000000) FOR j IN range(0, 2) ]
          |      || [t.pk] AS phi,
          |    t.pacf || [t.pk] AS pacf
          |  FROM (
          |    SELECT p.phi, p.pacf,
          |      ((p.num * 1000000 + 1000000 * p.den) // p.den - 1000000) AS pk
          |    FROM (
          |      SELECT prev.phi, prev.pacf,
          |        rl.rs[3]*1000000 - list_sum([prev.phi[j+1] * rl.rs[2 - j]
          |          FOR j IN range(0, 2)]) AS num,
          |        greatest(1000000000000 - list_sum([prev.phi[j+1] * rl.rs[j+1]
          |          FOR j IN range(0, 2)]), 1) AS den
          |      FROM s2 prev, rl) p) t),
          |s4 AS (
          |  SELECT
          |    [ t.phi[j+1] - ((t.pk * t.phi[3 - j] + 10000000000000)
          |        // 1000000 - 10000000) FOR j IN range(0, 3) ]
          |      || [t.pk] AS phi,
          |    t.pacf || [t.pk] AS pacf
          |  FROM (
          |    SELECT p.phi, p.pacf,
          |      ((p.num * 1000000 + 1000000 * p.den) // p.den - 1000000) AS pk
          |    FROM (
          |      SELECT prev.phi, prev.pacf,
          |        rl.rs[4]*1000000 - list_sum([prev.phi[j+1] * rl.rs[3 - j]
          |          FOR j IN range(0, 3)]) AS num,
          |        greatest(1000000000000 - list_sum([prev.phi[j+1] * rl.rs[j+1]
          |          FOR j IN range(0, 3)]), 1) AS den
          |      FROM s3 prev, rl) p) t)
          |SELECT CAST(p.i + 1 AS BIGINT) AS lag,
          |  CAST(rl.rs[CAST(p.i AS INTEGER) + 1] AS BIGINT) AS rho_micro,
          |  CAST(s4.pacf[CAST(p.i AS INTEGER) + 1] AS BIGINT) AS pacf_micro
          |FROM s4, rl, (SELECT unnest(range(0, 4)) AS i) p
          |ORDER BY lag
          |""".stripMargin),
      (s, dir) => {
        val daily = H.events(s, dir)
          .filter(col("event_type") === "click")
          .groupBy(date_format(col("ts"), "d").cast("long").as("day"))
          .agg(count(lit(1)).cast("long").as("y"))
        val d = s.range(1, 31).select(col("id").as("day"))
          .join(daily, Seq("day"), "left")
          .select(col("day"), coalesce(col("y"), lit(0L)).as("y"))
        d.agg(array_sort(collect_list(struct(col("day"), col("y"))))
            .as("arr"), (sum("y") / 30).cast("long").as("m"))
          .withColumn("rs", expr(
            """transform(sequence(1, 4), k ->
              |  aggregate(sequence(1, 30 - k), 0L, (a, i) ->
              |    a + (element_at(arr, CAST(i AS INT)).y - m)
              |      * (element_at(arr, CAST(i AS INT) + k).y - m)) * 1000000L
              |  div aggregate(sequence(1, 30), 0L, (a, i) ->
              |    a + (element_at(arr, CAST(i AS INT)).y - m)
              |      * (element_at(arr, CAST(i AS INT)).y - m)))""".stripMargin))
          .withColumn("phi", expr("array(element_at(rs, 1))"))
          .withColumn("pf", expr("array(element_at(rs, 1))"))
          .withColumn("num", expr(
            "element_at(rs, 2) * 1000000L - aggregate(sequence(0, 0), 0L, " +
              "(a, j) -> a + element_at(phi, CAST(j AS INT) + 1) * element_at(rs, 1 - CAST(j AS INT)))"))
          .withColumn("den", expr(
            "greatest(1000000000000L - aggregate(sequence(0, 0), 0L, " +
              "(a, j) -> a + element_at(phi, CAST(j AS INT) + 1) * element_at(rs, CAST(j AS INT) + 1)), 1L)"))
          .withColumn("pk", expr(
            "(num * 1000000L + 1000000L * den) div den - 1000000L"))
          .withColumn("phi", expr(
            "transform(sequence(0, 0), j -> element_at(phi, CAST(j AS INT) + 1) " +
              "- ((pk * element_at(phi, 1 - CAST(j AS INT)) + 10000000000000L) div 1000000L " +
              "- 10000000L)) || array(pk)"))
          .withColumn("pf", expr("pf || array(pk)"))
          .withColumn("num", expr(
            "element_at(rs, 3) * 1000000L - aggregate(sequence(0, 1), 0L, " +
              "(a, j) -> a + element_at(phi, CAST(j AS INT) + 1) * element_at(rs, 2 - CAST(j AS INT)))"))
          .withColumn("den", expr(
            "greatest(1000000000000L - aggregate(sequence(0, 1), 0L, " +
              "(a, j) -> a + element_at(phi, CAST(j AS INT) + 1) * element_at(rs, CAST(j AS INT) + 1)), 1L)"))
          .withColumn("pk", expr(
            "(num * 1000000L + 1000000L * den) div den - 1000000L"))
          .withColumn("phi", expr(
            "transform(sequence(0, 1), j -> element_at(phi, CAST(j AS INT) + 1) " +
              "- ((pk * element_at(phi, 2 - CAST(j AS INT)) + 10000000000000L) div 1000000L " +
              "- 10000000L)) || array(pk)"))
          .withColumn("pf", expr("pf || array(pk)"))
          .withColumn("num", expr(
            "element_at(rs, 4) * 1000000L - aggregate(sequence(0, 2), 0L, " +
              "(a, j) -> a + element_at(phi, CAST(j AS INT) + 1) * element_at(rs, 3 - CAST(j AS INT)))"))
          .withColumn("den", expr(
            "greatest(1000000000000L - aggregate(sequence(0, 2), 0L, " +
              "(a, j) -> a + element_at(phi, CAST(j AS INT) + 1) * element_at(rs, CAST(j AS INT) + 1)), 1L)"))
          .withColumn("pk", expr(
            "(num * 1000000L + 1000000L * den) div den - 1000000L"))
          .withColumn("phi", expr(
            "transform(sequence(0, 2), j -> element_at(phi, CAST(j AS INT) + 1) " +
              "- ((pk * element_at(phi, 3 - CAST(j AS INT)) + 10000000000000L) div 1000000L " +
              "- 10000000L)) || array(pk)"))
          .withColumn("pf", expr("pf || array(pk)"))
          .select(posexplode(expr(
            "zip_with(rs, pf, (r, p) -> struct(r, p))")))
          .select((col("pos") + 1).cast("long").as("lag"),
            col("col.r").as("rho_micro"), col("col.p").as("pacf_micro"))
          .orderBy("lag")
      }),

    Q("privacy_randomized_response",
      Some {
        val fold = H.md5PrefixSql("CAST(event_id AS VARCHAR)", 15)
        s"""WITH e AS (SELECT event_type, ($fold) AS h,
           |  CASE WHEN floor(value*100 + 0.5) > 25000 THEN 1 ELSE 0 END
           |    AS truth FROM events),
           |r AS (SELECT event_type, truth,
           |  CASE WHEN h & 1 = 1 THEN truth
           |    ELSE CAST((h >> 1) & 1 AS INTEGER) END AS reported
           |  FROM e)
           |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(truth) AS BIGINT) AS true_cnt,
           |  CAST(sum(reported) AS BIGINT) AS reported_cnt,
           |  CAST(sum(truth) * 1000000 // count(*) AS BIGINT)
           |    AS true_micro,
           |  CAST(2 * sum(reported) * 1000000 // count(*) - 500000
           |    AS BIGINT) AS est_micro
           |FROM r GROUP BY event_type ORDER BY event_type
           |""".stripMargin
      },
      (s, dir) => {
        H.events(s, dir)
          .select(col("event_type"),
            H.md5Prefix(col("event_id").cast("string"), 15).as("h"),
            when(floor(col("value") * 100 + lit(0.5)) > 25000, 1L)
              .otherwise(0L).as("truth"))
          .withColumn("reported",
            when(col("h").bitwiseAND(1) === 1, col("truth"))
              .otherwise(shiftright(col("h"), 1).bitwiseAND(1)))
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            sum("truth").cast("long").as("true_cnt"),
            sum("reported").cast("long").as("reported_cnt"))
          .select(col("event_type"), col("n"), col("true_cnt"),
            col("reported_cnt"),
            expr("true_cnt * 1000000 div n").as("true_micro"),
            expr("2 * reported_cnt * 1000000 div n - 500000")
              .as("est_micro"))
          .orderBy("event_type")
      }),

    // Pareto-front document selection on (length, vocabulary ratio):
    // a doc survives curation iff nothing is at least as long AND at
    // least as lexically rich with one strict improvement. Computed
    // with a per-length group max plus one running max over the
    // length-descending order — O(n log n), no pairwise join; the
    // oracle states the same front as NOT EXISTS dominance.
    Q("select_pareto_docs",
      Some(
        """WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS nc,
          |  CAST(len(list_distinct(string_split(text, ' '))) * 1000000
          |    // greatest(len(string_split(text, ' ')), 1) AS BIGINT)
          |    AS ratio
          |  FROM documents WHERE doc_id % 5 = 0)
          |SELECT d.doc_id, d.nc, d.ratio FROM d
          |WHERE NOT EXISTS (SELECT 1 FROM d e
          |  WHERE e.nc >= d.nc AND e.ratio >= d.ratio
          |    AND (e.nc > d.nc OR e.ratio > d.ratio))
          |ORDER BY d.doc_id
          |""".stripMargin),
      (s, dir) => {
        val d = tbl(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(5)) === 0)
          .select(col("doc_id"), col("n_chars").cast("long").as("nc"),
            expr("""size(array_distinct(split(text, ' '))) * 1000000L
              div greatest(size(split(text, ' ')), 1)""").as("ratio"))
        // group max per length, then a running max over strictly
        // longer groups: dominance tests collapse to two comparisons
        val g = d.groupBy("nc").agg(max("ratio").as("gmax"))
          .withColumn("prevmax", max("gmax").over(Window
            .orderBy(col("nc").desc)
            .rowsBetween(Window.unboundedPreceding, -1)))
        d.join(g.select(col("nc").as("nc2"), col("gmax"),
            col("prevmax")), col("nc2") === col("nc"))
          .filter((col("prevmax").isNull ||
            col("prevmax") < col("ratio")) &&
            col("gmax") <= col("ratio"))
          .select(col("doc_id"), col("nc"), col("ratio"))
          .orderBy("doc_id")
      }))
}
