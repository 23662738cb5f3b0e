package graft.pipeline

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.{ExecutionException, FutureTask}
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.storage.StorageLevel
import graft.model.{EntityConfig, ExtractionConfig}
import graft.ops.Relational._
import graft.sources.ODataHttpTable

/** Watermark state store — the reference keeps per-entity `lastRun` inside
  * the Mongo config document (updateLastRun, priorityDataSource.py:594-633).
  * Here: a tiny driver-side JSON file updated strictly AFTER a successful
  * load (write-then-advance ordering), so a crash between load and advance
  * re-extracts rather than losing rows; the keep-latest dedup on promotion
  * makes the retry idempotent (the exactly-once gap in the reference).
  */
final class StateStore(path: String) {
  import com.fasterxml.jackson.databind.ObjectMapper
  import scala.jdk.CollectionConverters._

  private val mapper = new ObjectMapper()

  def get(entity: String): Option[String] = read().get(entity)

  def advance(entity: String, ts: String): Unit = {
    val m = read() + (entity -> ts)
    val node = mapper.createObjectNode()
    m.toSeq.sorted.foreach { case (k, v) => node.put(k, v) }
    // write-temp-then-atomic-move: a crash mid-write can never leave a
    // truncated state file (which would silently re-extract everything)
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, mapper.writeValueAsBytes(node),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, Paths.get(path),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def read(): Map[String, String] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Map.empty
    else {
      val root = mapper.readTree(Files.readAllBytes(p))
      root.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    }
  }
}

final case class EntityReport(
    entityName: String,
    tableName: String,
    recordsWritten: Long,
    status: String)

/** Watermark-advance policy (SURVEY §7.3): `EventTimeMax` advances to the
  * max observed event time (no late-data loss; the default), `WallClock`
  * reproduces the reference's advance-to-now behavior
  * (priorityDataSource.py:605) for byte-compatible migrations. */
sealed trait WatermarkAdvance
object WatermarkAdvance {
  case object EventTimeMax extends WatermarkAdvance
  case object WallClock extends WatermarkAdvance
}

/** Batch refresh lifecycle — SURVEY §3.1 re-expressed as per-entity Spark
  * plans: watermark filter → parent/child subform split → lowercase →
  * lineage stamp → sink write (Append if incremental, Overwrite if full) →
  * watermark advance. Per-entity failure isolation matches the reference's
  * try/continue loop (priorityDataSource.py:179-195).
  */
object Refresh {

  final case class EntityResult(
      reports: Seq[EntityReport],
      maxEventTime: Option[String])

  /** One entity: returns a report per written table (parent + one per
    * subform) plus the watermark advance target. Run counts AND the max
    * event time are collected via `Dataset.observe` DURING the sink write —
    * the metrics describe exactly the rows the write job persisted (same
    * job, same snapshot), with NO re-read of the staging table at all: on
    * a long-lived 100 TB sink the report is free. (The sink is still
    * PARTITIONED by `extractionid`, so later lineage-filtered reads prune
    * to one run's files.) The advance target is max(observed)+1µs:
    * everything <= max is in the sink, so the next `>= lastRun`
    * incremental doesn't re-extract the boundary rows forever.
    * `subforms` maps nested array-of-struct column → child table name.
    *
    * An OData entity with subforms is extracted ONCE, like the reference's
    * one `$expand` GET per entity (priorityDataSource.py:639-746), and its
    * child writes run alongside the parent write: see [[sharesExtraction]]. */
  def refreshEntity(
      entity: EntityConfig,
      incremental: Boolean,
      source: DataFrame,
      subforms: Map[String, String],
      parentPk: Seq[String],
      sinkDir: String,
      runId: String,
      runTs: String,
      needEventTimeMax: Boolean = true): EntityResult = {

    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions._

    val filtered = watermarkFilter(entity, incremental)(source)
    // one scan feeds the parent and child writes; released whatever the
    // writes' outcome
    val shared = sharesExtraction(filtered, subforms)
    if (shared) filtered.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val stage = (df: DataFrame) =>
        stampLineage(runId, runTs)(lowercaseAll(df))
      val mode = if (incremental) SaveMode.Append else SaveMode.Overwrite

      val wantMax =
        needEventTimeMax && entity.filterFlag && entity.filterField.nonEmpty

      val parentObs = Observation()
      val parent0 = stage(parentProjection(subforms.keys.toSeq)(filtered))
      val parent =
        if (wantMax)
          parent0.observe(parentObs, count(lit(1)).as("rows"),
            // formatted IN the job (session tz semantics), not afterwards in Scala
            date_format(
              max(col(entity.filterField.toLowerCase)) + expr("INTERVAL 1 MICROSECOND"),
              "yyyy-MM-dd HH:mm:ss.SSSSSS").as("maxev"))
        else parent0.observe(parentObs, count(lit(1)).as("rows"))
      val parentTable = s"stg_${entity.entityId.toLowerCase}"

      val writeParent = () => {
        Sinks.writeStaged(parent, s"$sinkDir/$parentTable", mode)
        parentObs.get
      }
      val childWrites = subforms.toSeq.map { case (colName, childName) => () =>
        val obs = Observation()
        val child = stage(explodeSubform(colName, parentPk)(filtered))
          .observe(obs, count(lit(1)).as("rows"))
        val childTable = s"stg_${childName.toLowerCase}"
        Sinks.writeStaged(child, s"$sinkDir/$childTable", mode)
        EntityReport(s"${entity.entityId}_${childName}_SUBFORM".toLowerCase,
          childTable, obs.get("rows").asInstanceOf[Long], "success")
      }
      val (parentMetrics, childReports) =
        if (shared) {
          // the child writes run alongside the parent write: whichever task
          // reaches a page first caches it and the other waits for that
          // block, not for the other job's commit
          val children = childWrites.map(w => forked(w()))
          val p = Try(writeParent())
          val cs = children.map(joined) // all ended before a failure leaves
          (p.get, cs.map(_.get))
        } else {
          val p = writeParent()
          (p, childWrites.map(_()))
        }
      val parentN = parentMetrics("rows").asInstanceOf[Long]

      val maxEventTime =
        if (wantMax) Option(parentMetrics("maxev")).map(_.asInstanceOf[String])
        else None

      EntityResult(
        EntityReport(entity.entityId.toLowerCase, parentTable, parentN, "success") +:
          childReports,
        maxEventTime)
    } finally if (shared) filtered.unpersist(blocking = true)
  }

  /** Runs `body` on a fresh daemon thread, which inherits this thread's
    * Spark local properties and active session (a pooled thread would
    * carry those of whichever thread created it). */
  private def forked[T](body: => T): FutureTask[T] = {
    val task = new FutureTask[T](() => body)
    val t = new Thread(task, "graft-refresh-subform")
    t.setDaemon(true)
    t.start()
    task
  }

  private def joined[T](task: FutureTask[T]): Try[T] =
    Try(task.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) }

  /** Whether one refresh persists `filtered` so its parent and child writes
    * share one scan: only for an entity with subforms read through the
    * OData connector, where each recomputation is a second round of HTTP
    * page GETs. A relational source (e.g. a `nestChild` over parquet)
    * keeps recomputing the nest per write: persisting it measured no
    * faster and costs one more Spark job. */
  private[graft] def sharesExtraction(
      filtered: DataFrame, subforms: Map[String, String]): Boolean =
    subforms.nonEmpty && filtered.queryExecution.analyzed.exists {
      case r: DataSourceV2Relation => r.table.isInstanceOf[ODataHttpTable]
      case _ => false
    }

  /** All entities with per-entity failure isolation and write-then-advance
    * watermark ordering: the watermark moves only AFTER a successful load,
    * and (under EventTimeMax) only to the max event time actually observed —
    * never past data that hasn't been read (the reference's wall-clock
    * advance loses rows committed between fetch and advance). `sources`
    * resolves an entity id to its (possibly nested) DataFrame. */
  def refreshAll(
      config: ExtractionConfig,
      incremental: Boolean,
      sources: String => DataFrame,
      subformsOf: String => Map[String, String],
      pkOf: String => Seq[String],
      sinkDir: String,
      state: StateStore,
      runId: String,
      runTs: String,
      advance: WatermarkAdvance = WatermarkAdvance.EventTimeMax): Seq[EntityReport] =
    config.entities.flatMap { e0 =>
      // the state store is the live watermark; the config's lastRun is only
      // the initial seed (the reference reads-and-advances the same Mongo
      // doc — here the loop closes through StateStore)
      val e = e0.copy(lastRun = state.get(e0.entityId).orElse(e0.lastRun))
      Try(refreshEntity(e, incremental, sources(e.entityId), subformsOf(e.entityId),
        pkOf(e.entityId), sinkDir, runId, runTs,
        needEventTimeMax = advance == WatermarkAdvance.EventTimeMax)) match {
        case Success(result) =>
          val newMark = advance match {
            case WatermarkAdvance.WallClock => Some(runTs)
            case WatermarkAdvance.EventTimeMax => result.maxEventTime
            // no rows / no filter field -> leave lastRun untouched
          }
          newMark.foreach(state.advance(e.entityId, _)) // after load only
          result.reports
        case Failure(ex) =>
          Seq(EntityReport(e.entityId.toLowerCase,
            s"stg_${e.entityId.toLowerCase}", 0L,
            s"error: ${ex.getClass.getSimpleName}: ${ex.getMessage}"))
      }
    }
}

/** Sinks — parquet for the harness; JDBC writer config for the production
  * Azure SQL target (reference: to_sql at priorityDataSource.py:891-896 and
  * typed DDL at sqlDwh.py:320-390). */
object Sinks {

  /** Parquet write, optionally hive-partitioned. Run-report counts never
    * re-read the sink: `Dataset.observe` collects them during the write
    * job itself (see Refresh.refreshEntity), so they count exactly the rows
    * persisted. Staged tables are partitioned by `extractionid`, so a later
    * lineage-filtered read prunes to one run's files. */
  def writeParquet(
      df: DataFrame,
      path: String,
      mode: SaveMode,
      partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(mode)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }

  /** Staged-table write, partitioned by `extractionid` — with a LEGACY
    * LAYOUT GUARD: appending partition directories into a directory whose
    * data files sit at the root (the pre-partitioning layout) would make
    * the next read fail partition discovery ("conflicting directory
    * structures"), so an existing flat table keeps its flat layout; only
    * fresh or already-partitioned tables get run partitions. Layout
    * consistency within a directory beats the pruning optimization. */
  def writeStaged(df: DataFrame, path: String, mode: SaveMode): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val legacyFlat = mode == SaveMode.Append && fs.exists(p) &&
      fs.listStatus(p).exists(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
    writeParquet(df, path, mode,
      partitionCols = if (legacyFlat) Nil else Seq("extractionid"))
  }

  /** Read back a staged table with the write-side contract restored.
    * `extractionid` is hive-partitioned on write, so a bare read would run
    * partition-value TYPE INFERENCE on it — a run id that parses as a
    * number or date (e.g. '0123') would come back non-string and corrupted
    * ('123'). Pinning the column to STRING via an explicit schema makes
    * partition values parse verbatim from the directory names. (Partition
    * columns still sort to the end of the schema — that part IS the staged
    * read-back contract.) */
  def readStaged(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructType}
    val inferred = spark.read.parquet(path).schema
    val pinned = StructType(inferred.map(f =>
      if (f.name == "extractionid") f.copy(dataType = StringType) else f))
    spark.read.schema(pinned).parquet(path)
  }

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** Bounded file sizes for long-lived staging tables: at 100 TB an
    * unbounded append sink degenerates into either giant or tiny files;
    * maxRecordsPerFile caps the former, a pre-write coalesce the latter. */
  def writeParquetSized(
      df: DataFrame,
      path: String,
      mode: SaveMode,
      maxRecordsPerFile: Long = 5000000L,
      numFiles: Option[Int] = None): Unit = {
    val shaped = numFiles.map(df.coalesce).getOrElse(df)
    shaped.write.mode(mode)
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .parquet(path)
  }

  /** Stat-clustered write: sort within partitions on the filter columns so
    * parquet row-group min/max stats become selective (query-time row-group
    * skipping — the poor man's Z-order for a single sort key). */
  def writeClustered(df: DataFrame, path: String, sortCols: Seq[String]): Unit =
    df.sortWithinPartitions(sortCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Spark JDBC writer options for a typed warehouse load: explicit column
    * types (PKs VARCHAR(255), audit columns) and batched rewrites. The
    * production target is Azure SQL (reference: to_sql at
    * priorityDataSource.py:891-896); `dialect = "derby"` renders the same
    * metadata for the embedded Derby the test harness executes against
    * (JdbcRoundTripSpec). */
  def jdbcOptions(
      meta: graft.model.EntityMeta,
      url: String,
      table: String,
      dialect: String = "azuresql"): Map[String, String] =
    Map(
      "url" -> url,
      "dbtable" -> table,
      "createTableColumnTypes" -> graft.types.EdmTypes.createTableColumnTypes(meta, dialect),
      "batchsize" -> "10000",
      "isolationLevel" -> "READ_COMMITTED",
      "rewriteBatchedStatements" -> "true")

  /** Partitioned JDBC *scan* options (readback of what the pipeline wrote,
    * SURVEY §2.2): stride the table over `numPartitions` ranges of a numeric
    * key so the read parallelizes instead of single-streaming the JDBC
    * cursor. */
  def jdbcScanOptions(
      url: String,
      table: String,
      partitionColumn: String,
      lowerBound: Long,
      upperBound: Long,
      numPartitions: Int = 32): Map[String, String] =
    Map(
      "url" -> url,
      "dbtable" -> table,
      "partitionColumn" -> partitionColumn,
      "lowerBound" -> lowerBound.toString,
      "upperBound" -> upperBound.toString,
      "numPartitions" -> numPartitions.toString,
      "fetchsize" -> "10000")
}
