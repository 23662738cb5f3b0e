package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** What one workload run reports back to [[Main]]. `e2e` holds the
  * end-to-end metrics (name -> value, unit); `layers` the per-layer counter
  * totals of the measured section (traced runs only). */
final case class Outcome(
    attempted: Int,
    failures: Seq[String],
    e2e: Seq[(String, Double, String)],
    layers: Map[String, Double],
    ops: Seq[String])

final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, work: String, traceDir: String, pools: String, cores: Int,
    launchMs: Long, calibrate: Option[String])

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("data"), m("work"), m("trace-dir"), m("pools"),
      m("cores").toInt, m("launch-ms").toLong, m.get("calibrate"))
  }
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --data DIR --work DIR --trace-dir DIR --pools FILE --cores N
  * --launch-ms EPOCH_MS`.
  * Prints a human report on stderr and the result object as the last line
  * of stdout. `perfbench/run.py` builds the classpath and passes the paths. */
object Main {

  /** Same conf as `graft.Bench`, except that Spark's local dir and the
    * warehouse live in the benchmark's own work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val local = new File(work, "spark-local"); local.mkdirs()
    val wh = new File(work, "warehouse"); wh.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", wh.getAbsolutePath)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Heap in use after a full collection, in MB: the least of three
    * readings, each after a collection and a pause in which Spark's
    * context cleaner can drop the blocks of collected RDDs. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc(); Thread.sleep(300); System.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val code =
      try { run(a); 0 }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] aborted: $e")
        e.printStackTrace()
        1
      }
    // exit explicitly: shutdown hooks delete the program's scratch dirs,
    // and no helper thread the program left running can keep the JVM up
    System.exit(code)
  }

  def run(a: Args): Unit = {
    val spark = session(a.cores, a.work)
    val sessionS = (System.currentTimeMillis() - a.launchMs) / 1000.0
    a.calibrate match {
      case Some(out) => QueryWorkload.calibrate(spark, a, out)
      case None => measure(spark, a, sessionS)
    }
    spark.stop()
  }

  private def measure(spark: SparkSession, a: Args, sessionS: Double): Unit = {
    val probe = new Probe(spark, a.trace)
    val out = probe.span("run", "run") {
      a.workload match {
        case "queries_light" | "queries_heavy" =>
          QueryWorkload.run(spark, probe, a, sessionS)
        case "elt_refresh" => EltWorkload.run(spark, probe, a, sessionS)
        case w => sys.error(s"unknown workload '$w'")
      }
    }
    val heap = liveHeapMb()
    val e2e = out.e2e :+ (("live_heap_mb", heap, "MB"))
    val err = System.err
    err.println(s"[perfbench] ${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"cores=${a.cores} trace=${a.trace}")
    out.ops.foreach(o => err.println(s"[perfbench]   $o"))
    e2e.foreach { case (k, v, u) => err.println(f"[perfbench] $k%-22s $v%12.4f $u") }
    err.println(f"[perfbench] failed_ratio           ${out.failures.size.toDouble / out.attempted}%12.4f " +
      s"(${out.failures.size}/${out.attempted})")
    out.failures.foreach(f => err.println(s"[perfbench]   FAILED $f"))

    val metrics =
      if (!a.trace) e2e.map { case (k, v, u) => k -> (v, u) }
      else {
        val self = probe.selfTimeByLayer()
        err.println("[perfbench] self time by layer (ms):")
        self.toSeq.sortBy(-_._2).foreach { case (k, v) =>
          err.println(f"[perfbench]   $k%-18s $v%12.1f") }
        val traceDir = new File(a.traceDir); traceDir.mkdirs()
        val f = new File(traceDir, s"${a.workload}-seed${a.seed}.json")
        val e2eJson = e2e.map { case (k, v, _) => s"${Json.str(k)}:${Json.num(v)}" }
          .mkString("{", ",", "}")
        val selfJson = self.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
          .mkString("{", ",", "}")
        val layerJson = out.layers.toSeq.sorted
          .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
        Files.writeString(f.toPath,
          s"""{"workload":${Json.str(a.workload)},"seed":${a.seed},""" +
            s""""traced_e2e":$e2eJson,"self_ms":$selfJson,"layers":$layerJson,""" +
            s""""spans":${probe.spansJson()}}""" + "\n")
        err.println(s"[perfbench] spans written to $f")
        Layers.all.map { case (k, u) => k -> (out.layers.getOrElse(k, 0.0), u) }
      }
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":${out.failures.isEmpty},"attempted":${out.attempted},""" +
      s""""failed":${out.failures.size},"metrics":$ms}""")
  }
}

/** The per-layer metrics every traced run reports, with their units; a
  * layer a workload does not reach reports 0. */
object Layers {
  /** Counter growth between two snapshots. */
  def delta(before: Map[String, Double], after: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }

  val all: Seq[(String, String)] = Seq(
    "queries.build_ms" -> "ms", "queries.build_jobs" -> "count", "queries.action_ms" -> "ms",
    "storage.blocks_put" -> "count", "storage.bytes_put" -> "bytes",
    "plan.analysis_ms" -> "ms", "plan.optimizer_ms" -> "ms", "plan.planning_ms" -> "ms",
    "codegen.compile_ms" -> "ms", "codegen.compiles" -> "count",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.driver_gap_ms" -> "ms",
    "task.run_ms" -> "ms", "task.cpu_ms" -> "ms", "task.gc_ms" -> "ms", "jvm.gc_ms" -> "ms",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_ms" -> "ms", "shuffle.spill_bytes" -> "bytes",
    "streaming.batches" -> "count", "streaming.batch_ms" -> "ms", "streaming.commit_ms" -> "ms",
    "schema.parse_ms" -> "ms", "schema.entities" -> "count", "types.map_ms" -> "ms",
    "sources.metadata_gets" -> "count", "sources.preflights" -> "count",
    "sources.page_gets" -> "count", "sources.page_ms" -> "ms", "sources.bytes_per_row" -> "bytes",
    "pipeline.refresh_ms" -> "ms", "pipeline.write_jobs" -> "count",
    "pipeline.rows_written" -> "count", "pipeline.files_written" -> "count",
    "pipeline.bytes_written" -> "bytes", "pipeline.meta_store_ms" -> "ms",
    "pipeline.metadata_refresh_ms" -> "ms", "pipeline.full_load_ms" -> "ms",
    "pipeline.incr_refresh_ms" -> "ms")
}
