package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.{H, SparkEntry}

/** One registry query of a frozen pool. `calS` is its time in the
  * calibration passes (its source-board time before calibration);
  * `golden` its expected `rows:digest`. */
final case class PoolQuery(name: String, calS: Double, golden: Option[String])

object Pools {
  /** The pool's queries and its measured seconds per query in a run. */
  def load(path: String, workload: String): (Seq[PoolQuery], Double) = {
    val w = new ObjectMapper().readTree(new File(path)).get(workload)
    val qs = w.get("queries").elements().asScala.map { q =>
      PoolQuery(q.get("name").asText,
        Option(q.get("cal_s")).getOrElse(q.get("board_s")).asDouble,
        Option(q.get("golden")).map(_.asText))
    }.toSeq
    (qs, w.get("run_s_per_query").asDouble)
  }

  /** `n` queries spanning the pool's cost range: the pool sorted by
    * calibration time is cut into `n` strata of equal size and the middle
    * query of each is taken. */
  def spread(pool: Seq[PoolQuery], n: Int): Seq[PoolQuery] = {
    val sorted = pool.sortBy(q => (q.calS, q.name))
    val k = n.min(sorted.size)
    (0 until k).map(i => sorted((2 * i + 1) * sorted.size / (2 * k)))
  }
}

/** `queries_light` / `queries_heavy`: one closed-loop client runs a fixed
  * set of a pool's registry queries once each in one shared session
  * (codegen cold per query, as in `graft.Bench`). Each query is timed from the call
  * into its `SparkEntry.queries` function to the end of one check action
  * that reads every output column. */
object QueryWorkload {

  /** `graft.Bench`'s warm-up: scheduler, parquet footers, codegen and
    * shuffle machinery, and the catalog's first-use cost. */
  def warmup(spark: SparkSession, dir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Seq("lineitem", "orders", "customer", "documents", "embeddings")
      .foreach(t => H.tbl(spark, dir, t).count())
    H.events(spark, dir).count()
    spark.sql("DROP DATABASE IF EXISTS perfbench_warmup CASCADE")
    val loc = new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "perfbench_warmup.db")
    if (loc.isDirectory)
      Files.walk(loc.toPath).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => Files.deleteIfExists(p))
    spark.sql("CREATE DATABASE perfbench_warmup")
    spark.range(10L).write.mode("overwrite").saveAsTable("perfbench_warmup.t")
    spark.sql("DROP DATABASE perfbench_warmup CASCADE")
  }

  def run(spark: SparkSession, probe: Probe, a: Args, sessionS: Double): Outcome = {
    val (pool, perQuery) = Pools.load(a.pools, a.workload)
    // The measured set and its order are fixed by `--seconds` alone; the
    // seed does not change them. Seed-drawn samples and seed-drawn orders
    // were both tried: in a fresh JVM a query's cost depends on what ran
    // before it, and either moved the pass total and the median between
    // seeds by more than the metrics' bounds (see perfbench/README.md).
    val picks = scala.util.Random.javaRandomToRandom(new java.util.Random(7))
      .shuffle(Pools.spread(pool, math.max(3, math.round(a.seconds / perQuery).toInt)))
    // one cold warm-up, the first-use cost a real start-up pays
    val setup = probe.span("setup", "setup") {
      val t0 = System.nanoTime(); warmup(spark, a.data); Main.secondsSince(t0)
    }

    probe.measuring(true)
    val before = { probe.drain(); probe.snapshot() }
    var gapMs = 0.0
    val results = picks.map { q =>
      val fn = SparkEntry.queries(q.name)
      var df: org.apache.spark.sql.DataFrame = null
      val t0 = System.nanoTime()
      var buildS, actionS = 0.0
      val res = probe.span(q.name, "query") {
        val id = probe.current
        val r = scala.util.Try {
          val jobs0 = probe.counter("sched.jobs")
          df = probe.span("queries.build", "queries.build")(fn(spark, a.data))
          buildS = Main.secondsSince(t0)
          if (probe.traced) {
            probe.drain()
            probe.add("queries.build_jobs", probe.counter("sched.jobs") - jobs0)
          }
          val t1 = System.nanoTime()
          val digest = probe.span("queries.action", "queries.action")(Digest.compute(df))
          actionS = Main.secondsSince(t1)
          if (probe.traced) probe.analysisPhase(df.queryExecution.tracker)
          digest
        }
        (r, id)
      }
      val total = Main.secondsSince(t0)
      if (df != null) scala.util.Try(H.freeLocalCheckpoint(df))
      val (r, id) = res
      if (probe.traced) {
        probe.drain()
        gapMs += probe.driverGapMs(id)
        probe.add("queries.build_ms", buildS * 1000)
        probe.add("queries.action_ms", actionS * 1000)
      }
      val failure = r match {
        case scala.util.Failure(e) => Some(s"${q.name}: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(300))
        case scala.util.Success(d) if !q.golden.contains(d) =>
          Some(s"${q.name}: wrong output digest $d, golden ${q.golden.getOrElse("missing")}")
        case _ => None
      }
      (q.name, total, buildS, actionS, failure)
    }
    probe.measuring(false)
    val after = probe.snapshot()
    val lats = results.map(_._2)
    Outcome(
      attempted = results.size,
      failures = results.flatMap(_._5),
      e2e = Seq(
        ("setup_s", sessionS + setup, "s"),
        ("board_s", lats.sum, "s"),
        ("op_p50_s", Main.median(lats), "s")),
      layers = Layers.delta(before, after) + ("sched.driver_gap_ms" -> gapMs),
      ops = results.map { case (n, t, b, ac, f) =>
        f"$n%-32s $t%7.3f s (build $b%.3f, action $ac%.3f)${if (f.isDefined) " FAILED" else ""}"
      } ++ Seq(
        f"setup: session $sessionS%.3f s, cold warm-up $setup%.3f s",
        f"pass: ${lats.sum}%.3f s over ${lats.size} of ${pool.size} pool queries"))
  }

  /** Calibration: every query of the pool once, in pool order, with its
    * time and output digest, one JSON object per line in `out`. */
  def calibrate(spark: SparkSession, a: Args, out: String): Unit = {
    warmup(spark, a.data)
    val w = new java.io.PrintWriter(new File(out))
    try Pools.load(a.pools, a.workload)._1.foreach { q =>
      val t0 = System.nanoTime()
      var df: org.apache.spark.sql.DataFrame = null
      val r = scala.util.Try { df = SparkEntry.queries(q.name)(spark, a.data); Digest.compute(df) }
      val s = Main.secondsSince(t0)
      if (df != null) scala.util.Try(H.freeLocalCheckpoint(df))
      val line = r match {
        case scala.util.Success(d) =>
          s"""{"name":${Json.str(q.name)},"s":$s,"digest":${Json.str(d)}}"""
        case scala.util.Failure(e) =>
          s"""{"name":${Json.str(q.name)},"s":$s,"error":${Json.str(String.valueOf(e.getMessage).take(300))}}"""
      }
      w.println(line); w.flush()
      System.err.println(s"[calibrate] $line")
    } finally w.close()
  }
}
