package graft

import org.apache.spark.sql.SparkSession
import scala.concurrent.duration._

/** One shared local session for the whole test JVM: graft's session conf
  * at 4 cores, the shuffle-partition count PlanGuardsSpec was written
  * against. */
object TestSpark {
  lazy val spark: SparkSession = Session(cores = 4, warehouse = Some(
    // swept at JVM exit — bucketed-table specs write real data here,
    // and java.io.tmpdir is RAM-backed tmpfs (see H.cleanupOnExit)
    H.cleanupOnExit(
      java.nio.file.Files.createTempDirectory("graft_wh").toString)))
}

/** ONE pooled execution of every registered query at sf0.001, shared by
  * QueriesSmokeSpec (asserts the counts) and PlanGuardsSpec (asserts the
  * plans). Before r12 each suite ran the full registry sequentially on its
  * own — together they were ~19 of the suite's 24 minutes, which overran
  * the round driver's `sbt test` budget (r11 verdict item 2).
  *
  * It runs on graft.Verify's pool (`Verify.pooled`): par=6, one
  * `spark.newSession()` per query (isolated temp views / session state),
  * and a sequential alone-on-the-session retry for the shared-CacheManager
  * unpersist race Verify documents. Plan strings are captured BEFORE the
  * count so AQE still prints the same pre-execution plan the guard
  * assertions were written against. */
object QueryRuns {
  final case class RunInfo(
      rows: Long,
      executedPlan: String,
      optimizedPlan: String,
      analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)

  lazy val all: Map[String, scala.util.Try[RunInfo]] = {
    val session = TestSpark.spark // resolve OUTSIDE the pool (lazy-val lock)
    val sf = "/root/testdata/sf0.001"
    def runOnce(name: String): RunInfo =
      H.actThenFree(SparkEntry.queries(name)(session.newSession(), sf)) { df =>
        val qe = df.queryExecution
        val info = RunInfo(-1L, qe.executedPlan.toString,
          qe.optimizedPlan.toString, qe.analyzed)
        info.copy(rows = df.count())
      }
    Verify.pooled(SparkEntry.queries.keys.toSeq, par = 6, 2.hours)(runOnce)
  }
}
