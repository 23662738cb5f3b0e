package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft Spark session is built. Every main and the test
  * suite go through [[apply]], so the bench, the correctness dump and the
  * plan guards all run under the same [[conf]] table; only the deployment
  * settings below vary between callers.
  *
  * No session extensions are installed here: each query installs what it
  * needs through the idempotent per-session path (`AsOfJoin.install`,
  * `CustomExpressions.registerTemp`), which also reaches sessions graft
  * does not build. */
object Session {

  /** Every setting graft runs under, except the deployment ones (master
    * cores, shuffle partitions, warehouse dir) that [[apply]] takes. */
  val conf: Seq[(String, String)] = Seq(
    // shuffle and spill scratch on tmpfs when available (H.scratchDir)
    "spark.local.dir" -> H.scratchDir,
    "spark.sql.session.timeZone" -> "UTC",
    // a NANOS parquet timestamp degrades to LongType (H.events handles it)
    // instead of failing the read with PARQUET_TYPE_ILLEGAL
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false")

  /** `SPARK_GRAFT_CPUS` if set, else the machine's cores bounded at 32. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  /** A `local[cores]` session with one shuffle partition per core. Plans
    * print to stdout and logs go to stderr, so one log level serves every
    * caller. */
  def apply(cores: Int = defaultCores,
      warehouse: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
    conf.foreach { case (k, v) => b.config(k, v) }
    warehouse.foreach(b.config("spark.sql.warehouse.dir", _))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
