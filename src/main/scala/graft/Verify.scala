package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit.MILLISECONDS
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Two r10 hardenings (the official CORRECTNESS_r10.json came back `{}`
  * because the sequential dump overran the driver's budget and the oracle
  * file was written LAST — a kill left parquet dirs but no oracle map, which
  * the compare reads as an empty round):
  *   1. `oracle_sql.json` is written FIRST — it depends only on
  *      `SparkEntry.oracleSql`, so even a mid-dump kill yields a partial,
  *      comparable record instead of a zeroed one.
  *   2. The dump runs on a small worker POOL, longest-first. The wall-time
  *      dominators are the ~28 executed-streaming queries, and their cost is
  *      micro-batch cadence + state-store I/O — wall-clock, not CPU — so they
  *      overlap almost perfectly. Each query gets its OWN child session
  *      (`spark.newSession()`): temp views, conf mutations, UDF registration
  *      and the streaming query manager are per-session; the shared
  *      persistent catalog is touched only under query-unique names; every
  *      file sink goes through H.tmpDir (unique dirs). Query programs hold
  *      no singleton mutable state (round-11 sweep: every `var` in
  *      functions/queries is method-local).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Verify <sfDir> <outDir> [queryName...]")
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only these queries (dev loop; the driver
    // always passes exactly two args and gets the full dump)
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val spark = Session()

    // Longest-first scheduling (classic LPT): order by the clean bench
    // reference when present so the streaming heavies launch immediately
    // instead of trailing the makespan. Unknown queries go first (unknown
    // cost is the risk; schedule it early).
    val refSec = Bench.committedBoard().map(_.queries).getOrElse(Map.empty)
    val work = SparkEntry.queries.keys.toSeq
      .filter(name => only.isEmpty || only(name))
      .sortBy(name => -refSec.getOrElse(name, 1e9))

    val par = math.max(1, sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "6").toInt)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val t00 = System.nanoTime()
    def dump(name: String): Unit = {
      val t0 = System.nanoTime()
      try {
        H.actThenFree(SparkEntry.queries(name)(spark.newSession(), sfDir)) {
          _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        }
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[verify] $name%-32s ${sec}%7.2f s  (${done.incrementAndGet()}/${work.size}, wall ${(System.nanoTime() - t00) / 1e9}%.0f s)")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        throw e
      }
    }
    val failed = pooled(work, par, 24.hours)(dump)
      .collect { case (name, Failure(_)) => name }.toSeq.sorted
    val wall = (System.nanoTime() - t00) / 1e9
    System.err.println(f"[verify] dump complete: ${work.size - failed.size}/${work.size} ok, wall ${wall}%.1f s, par=$par")
    spark.stop()
    if (failed.nonEmpty)
      System.err.println(s"[verify] FAILED: ${failed.mkString(", ")}")
  }

  /** Runs `run` for every name on a pool of `par` threads, in the given
    * order, then retries each failure once, alone, in name order: pooled
    * queries share the session-wide CacheManager, so two queries caching
    * IDENTICAL subplans share one InMemoryRelation — the first query's
    * unpersist can drop it mid-read for the second, whose rebuild then
    * needs a localCheckpoint that was freed with it ("Block rdd_N does not
    * exist", observed once in ~6 full boards on the dedup family). Alone
    * on the session, the retry cannot hit the race.
    *
    * A pool that misses `deadline` throws, naming the names that did not
    * finish, rather than returning a partial map. */
  def pooled[A](names: Seq[String], par: Int, deadline: FiniteDuration)(
      run: String => A): Map[String, Try[A]] = {
    def attempt(name: String): Try[A] =
      try Success(run(name)) catch { case e: Throwable => Failure(e) }
    val out = new java.util.concurrent.ConcurrentHashMap[String, Try[A]]()
    // daemon workers: a task stuck past the deadline must not keep the
    // JVM alive after the throw
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par, r => {
      val t = new Thread(r); t.setDaemon(true); t
    })
    names.foreach(name => pool.execute(() => { out.put(name, attempt(name)); () }))
    pool.shutdown()
    if (!pool.awaitTermination(deadline.toMillis, MILLISECONDS)) {
      // read before interrupting: an interrupted task records a Failure
      val unfinished = names.filterNot(out.containsKey).sorted
      pool.shutdownNow()
      throw new IllegalStateException(s"pool missed its $deadline deadline; " +
        s"${unfinished.size} unfinished: ${unfinished.mkString(", ")}")
    }
    names.sorted.map { name =>
      name -> (if (out.get(name).isFailure) attempt(name) else out.get(name))
    }.toMap
  }
}
