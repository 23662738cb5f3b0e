package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart}

/** Empirical profiler (guide §1): after Bench's warm-up, runs each listed
  * query `reps` times through one shared session, splits its wall time into
  * driver-side plan construction (with any eager work inside the query
  * function) vs the final count, and prints per-stage task-time/shuffle
  * metrics so the hot stage is visible without the UI. Ends with the total
  * over each query's best rep and the JVM's codegen-compiler telemetry;
  * `reps = 1` over a query list is the A/B mini-bench (codegen cold per
  * query, as in Bench). `runMain graft.Profile <q1[,q2,...]> [sfDir] [reps]`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Session()
    Bench.warmUp(spark, sfDir)

    final case class StageRow(id: Int, name: String, tasks: Int, taskMs: Long,
        gcMs: Long, shRead: Long, shWrite: Long, wallMs: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages.add(StageRow(si.stageId, si.name.takeWhile(_ != '\n'),
          si.numTasks, m.executorRunTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          (for { a <- si.completionTime; b <- si.submissionTime } yield a - b).getOrElse(-1L)))
      }
    }

    val best = names.map { name =>
      name -> (1 to reps).map { r =>
        stages.clear(); jobs.set(0)
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val t1 = System.nanoTime() // fn() returned: plan built + any eager work inside
        val (n, t2) = H.actThenFree(df)(d => (d.count(), System.nanoTime()))
        Thread.sleep(300) // let the listener bus drain
        spark.sparkContext.removeSparkListener(listener)
        println(f"[profile] $name rep $r: total ${(t2 - t0) / 1e9}%.2f s  (fn+eager ${(t1 - t0) / 1e9}%.2f s, count ${(t2 - t1) / 1e9}%.2f s), $n rows, ${jobs.get()} jobs")
        import scala.jdk.CollectionConverters._
        val rows = stages.asScala.toSeq.sortBy(-_.wallMs)
        println(f"[profile]   stages=${rows.size} wallSum=${rows.map(_.wallMs).sum / 1e3}%.2f s taskSum=${rows.map(_.taskMs).sum / 1e3}%.2f s gcSum=${rows.map(_.gcMs).sum / 1e3}%.2f s shRead=${rows.map(_.shRead).sum / 1e6}%.1f MB")
        rows.take(12).foreach { s =>
          println(f"[profile]   stage ${s.id}%4d wall=${s.wallMs}%6d ms task=${s.taskMs}%6d ms gc=${s.gcMs}%4d ms tasks=${s.tasks}%3d shR=${s.shRead / 1024}%6d KB shW=${s.shWrite / 1024}%6d KB  ${s.name.take(90)}")
        }
        (t2 - t0) / 1e9
      }.min
    }
    println(f"[profile] TOTAL ${best.map(_._2).sum}%.2f s over ${names.size} queries")
    // Codegen-compiler telemetry (drift-free A/B evidence): total janino
    // compilations and wall ms spent compiling this JVM. The bench runs 742
    // queries through ONE session, so the global codegen cache's hit rate —
    // not per-run host luck — decides how much of this is paid repeatedly.
    val cg = org.apache.spark.metrics.source.CodegenMetrics
    println(s"[profile] codegen: compiled=${cg.METRIC_COMPILATION_TIME.getCount} " +
      s"totalMs=${cg.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum} " +
      s"generatedClasses=${cg.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount}")
    spark.stop()
  }
}
