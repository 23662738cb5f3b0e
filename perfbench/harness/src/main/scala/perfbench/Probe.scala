package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is the span that caused it (-1 for the
  * root); times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startMs: Double, var endMs: Double)

/** Counters and spans recorded from outside the program: Spark listeners,
  * the codegen counters and the calls the benchmark itself makes.
  *
  * Untraced runs create a Probe with `traced = false`: spans, listeners and
  * listener-bus drains are all off, and only the workload's own timings are
  * taken. Traced runs register every listener, keep spans in memory and
  * write them out once, at exit. Jobs are attributed to the benchmark span
  * that was open on the calling thread through the `perfbench.span` local
  * property, which Spark copies onto each job it starts. */
final class Probe(spark: SparkSession, val traced: Boolean) {
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  @volatile private var inMeasure = false

  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }

  def counter(key: String): Double = synchronized(counters.getOrElse(key, 0.0))

  /** Every counter, including the JVM-wide ones read on demand. Call
    * [[drain]] first so the listener-fed counters are complete. */
  def snapshot(): Map[String, Double] = synchronized {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
    counters.toMap ++ Map(
      "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
      "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "jvm.gc_ms" -> gcMs)
  }

  def drain(): Unit =
    if (traced) PerfbenchAccess.drainListeners(spark.sparkContext)

  /** Runs `body` inside a span; jobs it starts are attributed to the span. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!traced) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty("perfbench.span")
      val s = synchronized {
        val parent = open.get.headOption.getOrElse(-1)
        val sp = Span(spans.length, parent, name, layer, nowMs, Double.NaN)
        spans += sp; sp
      }
      open.set(s.id :: open.get)
      sc.setLocalProperty("perfbench.span", s.id.toString)
      try body
      finally {
        s.endMs = nowMs
        open.set(open.get.tail)
        sc.setLocalProperty("perfbench.span", prev)
      }
    }

  /** Storage blocks and plan phases count only inside measured sections,
    * not during set-up: neither event carries the job's local properties,
    * so they cannot be attributed by span. */
  def measuring(on: Boolean): Unit = { drain(); inMeasure = on }

  private def phaseMs(tracker: QueryPlanningTracker, phase: String): Double =
    tracker.phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)

  /** Adds one executed action's plan-phase times. */
  private def planPhases(tracker: QueryPlanningTracker): Unit = {
    add("plan.analysis_ms", phaseMs(tracker, QueryPlanningTracker.ANALYSIS))
    add("plan.optimizer_ms", phaseMs(tracker, QueryPlanningTracker.OPTIMIZATION))
    add("plan.planning_ms", phaseMs(tracker, QueryPlanningTracker.PLANNING))
  }

  /** Adds the analysis time of a frame that no action executed itself (a
    * query's result, which the check action wraps in a new plan). */
  def analysisPhase(tracker: QueryPlanningTracker): Unit =
    add("plan.analysis_ms", phaseMs(tracker, QueryPlanningTracker.ANALYSIS))

  if (traced) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
        val parent = Option(e.properties).flatMap(p =>
          Option(p.getProperty("perfbench.span"))).map(_.toInt).getOrElse(-1)
        val sp = Span(spans.length, parent, s"job ${e.jobId}", "spark.job",
          e.time.toDouble, Double.NaN)
        spans += sp
        jobSpan(e.jobId) = sp.id
        e.stageIds.foreach(stageJob(_) = e.jobId)
        if (parent >= 0) add("sched.jobs", 1)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
        jobSpan.get(e.jobId).foreach(i => spans(i).endMs = e.time.toDouble)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Probe.this.synchronized {
          val si = e.stageInfo
          val job = stageJob.get(si.stageId)
          val parent = job.flatMap(jobSpan.get).getOrElse(-1)
          if (parent >= 0 && spans(parent).parent >= 0) {
            add("sched.stages", 1)
            val start = si.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
            val end = si.completionTime.map(_.toDouble).getOrElse(Double.NaN)
            spans += Span(spans.length, parent, s"stage ${si.stageId}",
              "spark.stage", start, end)
          }
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val attributed = Probe.this.synchronized {
          stageJob.get(e.stageId).flatMap(jobSpan.get)
            .exists(i => spans(i).parent >= 0)
        }
        val m = e.taskMetrics
        if (attributed && m != null) {
          add("sched.tasks", 1)
          add("task.run_ms", m.executorRunTime.toDouble)
          add("task.cpu_ms", m.executorCpuTime / 1e6)
          add("task.gc_ms", m.jvmGCTime.toDouble)
          add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val b = e.blockUpdatedInfo
        if (inMeasure && b.blockId.isRDD && b.storageLevel.isValid) {
          add("storage.blocks_put", 1)
          add("storage.bytes_put", (b.memSize + b.diskSize).toDouble)
        }
      }
    })
    // every executed action's plan phases, including the eager checkpoint
    // actions a query function runs while it builds its plan
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (inMeasure) planPhases(qe.tracker)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        if (inMeasure) planPhases(qe.tracker)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (inMeasure) {
          val d = e.progress.durationMs.asScala
          def ms(k: String) = d.get(k).map(_.doubleValue).getOrElse(0.0)
          add("streaming.batches", 1)
          add("streaming.batch_ms", ms("triggerExecution"))
          add("streaming.commit_ms", ms("walCommit") + ms("commitOffsets"))
        }
    })
  }

  /** Per-layer self time: a span's duration minus the part of it that its
    * child spans cover. Job and stage times come from the listener bus
    * clock, which matches the harness clock to within a millisecond. */
  def selfTimeByLayer(): Map[String, Double] = synchronized {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.filter(s => !s.endMs.isNaN && !s.startMs.isNaN).map { s =>
      val covered = Probe.union(kids.getOrElse(s.id, Nil).toSeq
        .filter(k => !k.endMs.isNaN && !k.startMs.isNaN)
        .map(k => (k.startMs max s.startMs, k.endMs min s.endMs)))
      s.layer -> ((s.endMs - s.startMs) - covered).max(0.0)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Wall time of `spanId` during which no job attributed to it (or to one
    * of its descendants) was running. */
  def driverGapMs(spanId: Int): Double = synchronized {
    val s = spans(spanId)
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    def jobs(id: Int): Seq[Span] = kids.getOrElse(id, Nil).toSeq.flatMap { k =>
      if (k.layer == "spark.job") Seq(k) else if (k.layer == "spark.stage") Nil else jobs(k.id)
    }
    val covered = Probe.union(jobs(spanId).filter(!_.endMs.isNaN)
      .map(k => (k.startMs max s.startMs, k.endMs min s.endMs)))
    ((s.endMs - s.startMs) - covered).max(0.0)
  }

  /** The innermost span open on this thread, -1 outside any span. */
  def current: Int = open.get.headOption.getOrElse(-1)

  def spansJson(): String = synchronized {
    spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Probe {
  /** Total length covered by a set of intervals (overlaps counted once). */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = curE max b
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Just enough JSON writing for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
