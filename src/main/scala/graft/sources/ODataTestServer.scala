package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Aggregates the service can compute itself (OData `$apply=aggregate`). */
sealed trait ODataAgg
object ODataAgg {
  case object CountAll extends ODataAgg
  final case class MinOf(col: String) extends ODataAgg
  final case class MaxOf(col: String) extends ODataAgg
  /** Sum over integral/double columns (server adds in Long resp. Double —
    * the same machine arithmetic Spark's own partial sum would use). */
  final case class SumOf(col: String) extends ODataAgg
}

/** One `$orderby` key: column, ascending?, nulls-first? */
final case class ODataSortKey(col: String, asc: Boolean, nullsFirst: Boolean)

/** One page of a pushed query as a page GET asks for it
  * (`$skiptoken=pageNo*pageSize`), with the registry generation its scan
  * was planned against. */
final case class ODataPageRef(
    entity: String,
    required: StructType,
    filters: Array[Filter],
    limit: Option[Int],
    pageNo: Int,
    pageSize: Int,
    generation: Long,
    orderBy: Seq[ODataSortKey] = Nil)

/** A request the service refuses: answered with `status` (404 unknown
  * entity, 400 bad query option, 405 wrong method, 409 stale generation),
  * never retried. */
final class ODataRequestError(val status: Int, message: String)
    extends RuntimeException(message)

/** The simulated Priority OData service behind [[ODataHttpServer]]: the
  * entity registry and the query evaluator the server answers every
  * `$select/$filter/$orderby/$top/$skiptoken/$apply` request from.
  * Entities are read over the socket only ([[ODataHttpSource]] scans and
  * streams, [[ODataBatchClient]] pulls); the server's `requestLog` is the
  * record of what was asked.
  *
  * SIMULATION BOUNDARY: the registry holds the tenant's dataset in THIS
  * JVM's memory — it stands in for the remote ERP database, so its size is
  * bounded by the harness box exactly as a demo tenant is bounded by its
  * DB. Registration is LAZY (nothing materializes until a scan's preflight,
  * driver-side at plan time) and scan partitions carry only page URLs, so
  * the connector — plan, task binaries, readers — never ships the
  * dataset. */
object ODataTestServer {

  /** Lazily-materialized entity: schema is known at registration (logical
    * plan only); rows collect on first preflight — never at register time.
    * `gen` identifies this registration: scans planned against one
    * generation refuse to fetch pages from another (see [[fetchPage]]). */
  private final class Entry(val schema: StructType,
      provider: () => IndexedSeq[Seq[Any]], val gen: Long) {
    lazy val rows: IndexedSeq[Seq[Any]] = provider()
  }

  private def collectRows(df: DataFrame): IndexedSeq[Seq[Any]] =
    df.collect().iterator.map(r => (0 until r.length).map(r.get).toVector)
      .toVector

  private val entities = new ConcurrentHashMap[String, Entry]()
  private val generation = new java.util.concurrent.atomic.AtomicLong(0L)
  private val schemas = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Version of the registry's schemas, the `$metadata` document's ETag:
    * every registration bumps it, an append (same schema) does not. */
  def schemaVersion: Long = schemas.get

  /** Installs a registration, then bumps [[schemaVersion]]: a `$metadata`
    * render that reads the version first can only tag a document OLDER
    * than its content, never newer, so a client never revalidates a stale
    * schema. */
  private def put(entity: String, df: DataFrame): Unit = {
    entities.put(entity,
      new Entry(df.schema, () => collectRows(df), generation.incrementAndGet()))
    schemas.incrementAndGet()
  }

  /** Register an entity from a parquet table. Schema-only at call time; the
    * "tenant data" materializes on the first scan's preflight. */
  def register(spark: SparkSession, entity: String, path: String): Unit =
    put(entity, spark.read.parquet(path))

  /** Register directly from a frame (harness-side row injection). */
  def registerDf(entity: String, df: DataFrame): Unit = put(entity, df)

  /** Append rows to a registered entity, PRESERVING the existing row
    * prefix (the already-materialized rows stay at their indexes, new rows
    * land after) — the property a streaming row-cursor offset depends on:
    * rows [0, oldCount) mean the same thing before and after the append,
    * so a checkpointed cursor resumes exactly where it stopped. The schema
    * stays, so [[schemaVersion]] does too; the generation moves, because
    * page boundaries do. */
  def appendRows(entity: String, df: DataFrame): Unit = {
    val old = entry(entity)
    val oldRows = old.rows // force materialization NOW, then capture
    entities.put(entity, new Entry(old.schema,
      () => oldRows ++ collectRows(df), generation.incrementAndGet()))
  }

  /** Current row count (the streaming cursor's latest offset). */
  def rowCount(entity: String): Long = entry(entity).rows.size.toLong

  /** Serve a half-open row RANGE of the entity (streaming micro-batch
    * fetch — the `$skiptoken` position read of an incremental pull). */
  def fetchRange(
      entity: String,
      required: StructType,
      from: Long,
      until: Long): Iterator[Seq[Any]] = {
    val e = entry(entity)
    val idx = e.schema.fieldNames.zipWithIndex.toMap
    val proj = required.fieldNames.map(idx).toSeq
    e.rows.iterator.slice(from.toInt, until.toInt).map(r => proj.map(r))
  }

  /** Register a parent entity WITH an expandable child subform — the
    * reference's `$expand` navigation property
    * (resources/priorityDataSource.py:697-703): child rows arrive nested
    * inside the parent response as an array-of-struct column. Modeled from
    * flat parquet tables via [[graft.ops.Relational.nestChild]]. */
  def registerExpanded(
      spark: SparkSession,
      entity: String,
      parentPath: String,
      childPath: String,
      parentKey: String,
      childKey: String,
      subformName: String,
      sortCols: Seq[String]): Unit = {
    val nested = graft.ops.Relational.nestChild(
      spark.read.parquet(parentPath), spark.read.parquet(childPath),
      parentKey, childKey, subformName, sortCols)
    put(entity, nested)
  }

  private def entry(entity: String): Entry =
    Option(entities.get(entity))
      .getOrElse(throw new ODataRequestError(404, s"entity not registered: $entity"))

  /** Current registration generation of an entity — cheap (no row
    * materialization), for stamping `$apply` responses and serving pages
    * requested without a planned generation. */
  def generationOf(entity: String): Long = entry(entity).gen

  /** Names of all registered entities (the `$metadata` document scope). */
  def registeredEntities: Seq[String] = {
    import scala.jdk.CollectionConverters._
    entities.keySet().asScala.toSeq
  }

  def schemaOf(entity: String): StructType = entry(entity).schema

  def isSubform(dt: DataType): Boolean = dt match {
    case ArrayType(_: StructType, _) => true
    case _ => false
  }

  /** Column types whose pushed-filter comparison the service implements;
    * filters on anything else (incl. subform arrays) stay residual. */
  def comparableType(dt: DataType): Boolean = dt match {
    case StringType | TimestampType | TimestampNTZType | DateType |
         BooleanType | _: DecimalType => true
    case _: NumericType => true
    case _ => false
  }

  private def isIntegral(n: Number): Boolean = n match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
         _: java.lang.Byte => true
    case _ => false
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    case (x: java.sql.Timestamp, y: java.time.Instant) =>
      x.toInstant.compareTo(y)
    case (x: java.time.LocalDateTime, y: java.time.LocalDateTime) =>
      x.compareTo(y)
    case (x: java.time.LocalDateTime, y: java.sql.Timestamp) =>
      x.compareTo(y.toLocalDateTime)
    case (x: java.sql.Date, y: java.sql.Date) => x.compareTo(y)
    case (x: java.sql.Date, y: java.time.LocalDate) =>
      x.toLocalDate.compareTo(y)
    case (x: java.time.LocalDate, y: java.time.LocalDate) => x.compareTo(y)
    case (x: java.lang.Boolean, y: java.lang.Boolean) => x.compareTo(y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case (x: Number, y: Number) if isIntegral(x) && isIntegral(y) =>
      java.lang.Long.compare(x.longValue(), y.longValue()) // exact past 2^53
    case (x: java.math.BigDecimal, y: Number) =>
      x.compareTo(new java.math.BigDecimal(y.toString))
    case (x: Number, y: java.math.BigDecimal) =>
      new java.math.BigDecimal(x.toString).compareTo(y)
    case (x: Number, y: Number) =>
      java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    // UTF-8 binary order (what Spark's UTF8String and DuckDB use) — Java's
    // UTF-16 compareTo disagrees for non-BMP characters, which would make a
    // completely-pushed $orderby return a different top-N than Spark's own
    // sort would
    case (x: String, y: String) =>
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case (x: UTF8String, y) => cmp(x.toString, y)
    case (x, y: UTF8String) => cmp(x, y.toString)
    case _ => sys.error(s"incomparable: $a vs $b")
  }

  private def evalFilter(f: Filter, row: Seq[Any], idx: Map[String, Int]): Boolean = {
    def value(col: String): Any = row(idx(col))
    f match {
      case EqualTo(c, v) => value(c) != null && cmp(value(c), v) == 0
      case GreaterThan(c, v) => value(c) != null && cmp(value(c), v) > 0
      case GreaterThanOrEqual(c, v) => value(c) != null && cmp(value(c), v) >= 0
      case LessThan(c, v) => value(c) != null && cmp(value(c), v) < 0
      case LessThanOrEqual(c, v) => value(c) != null && cmp(value(c), v) <= 0
      case IsNotNull(c) => value(c) != null
      case other => sys.error(s"unsupported pushed filter: $other")
    }
  }

  def supportsFilter(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: IsNotNull => true
    case _ => false
  }

  /** Evaluate a completely-pushed aggregation (OData `$apply=aggregate`,
    * grouped via `$apply=groupby`). Returns one row per group — group key
    * values first, aggregates after, matching ODataFilterSyntax.aggSchema.
    * Long sums use Long machine addition and double sums add in stable
    * registry order, so repeated calls are bit-identical. */
  def aggregate(
      entity: String,
      filters: Array[Filter],
      specs: Seq[ODataAgg],
      groupCols: Seq[String] = Nil): Seq[Seq[Any]] = {
    val e = entry(entity)
    val idx = e.schema.fieldNames.zipWithIndex.toMap
    val kept = e.rows.filter(r => filters.forall(evalFilter(_, r, idx)))

    def aggRow(rows: Seq[Seq[Any]]): Seq[Any] = specs.map {
      case ODataAgg.CountAll => rows.size.toLong
      case ODataAgg.MinOf(c) =>
        val vs = rows.map(_(idx(c))).filter(_ != null)
        if (vs.isEmpty) null else vs.reduce((a, b) => if (cmp(a, b) <= 0) a else b)
      case ODataAgg.MaxOf(c) =>
        val vs = rows.map(_(idx(c))).filter(_ != null)
        if (vs.isEmpty) null else vs.reduce((a, b) => if (cmp(a, b) >= 0) a else b)
      case ODataAgg.SumOf(c) =>
        val vs = rows.map(_(idx(c))).filter(_ != null)
        if (vs.isEmpty) null
        else vs.head match {
          case _: java.lang.Double =>
            java.lang.Double.valueOf(
              vs.foldLeft(0.0)((acc, v) => acc + v.asInstanceOf[Number].doubleValue))
          case _ =>
            java.lang.Long.valueOf(
              vs.foldLeft(0L)((acc, v) => acc + v.asInstanceOf[Number].longValue))
        }
    }

    if (groupCols.isEmpty) Seq(aggRow(kept))
    else kept.groupBy(r => groupCols.map(c => r(idx(c))))
      .toSeq.map { case (key, rows) => key ++ aggRow(rows) }
  }

  /** Count the pages answering a pushed query (driver-side, at plan time —
    * this is also where lazy registration materializes). Returns the page
    * count AND the registry generation the count was taken against — both
    * read from one Entry reference, so they are mutually consistent even if
    * a concurrent re-registration races this call. */
  def preflight(
      entity: String,
      filters: Array[Filter],
      limit: Option[Int],
      pageSize: Int): (Int, Long) = {
    val e = entry(entity)
    val idx = e.schema.fieldNames.zipWithIndex.toMap
    val matched = e.rows.count(r => filters.forall(evalFilter(_, r, idx)))
    val n = limit.fold(matched)(math.min(_, matched))
    (((n + pageSize - 1) / pageSize).max(0), e.gen)
  }

  /** Fails with 409 if the entity was re-registered after a scan planned
    * against `planned`: the planned page boundaries no longer describe the
    * registry's rows, and serving them would drop or duplicate rows
    * silently. */
  def requireGeneration(entity: String, planned: Long): Unit =
    checkGeneration(entity, entry(entity), planned)

  private def checkGeneration(entity: String, e: Entry, planned: Long): Unit =
    if (e.gen != planned)
      throw new ODataRequestError(409, s"entity '$entity' was re-registered " +
        s"(generation ${e.gen}) after this scan was planned (generation " +
        s"$planned); page boundaries are stale — re-plan the scan")

  /** Serve ONE page of a pushed query (the server's page GET). The
    * generation is checked against the same registry entry the rows come
    * from, so a concurrent re-registration cannot slip between the two. */
  def fetchPage(ref: ODataPageRef): Iterator[Seq[Any]] = {
    val e = entry(ref.entity)
    checkGeneration(ref.entity, e, ref.generation)
    val idx = e.schema.fieldNames.zipWithIndex.toMap
    val proj = ref.required.fieldNames.map(idx).toSeq
    val matched = e.rows.iterator
      .filter(r => ref.filters.forall(evalFilter(_, r, idx)))
    // $orderby: sort BEFORE $top/$skiptoken — OData applies ordering to the
    // result set, then pages it
    val ordered =
      if (ref.orderBy.isEmpty) matched
      else matched.toVector.sorted(rowOrdering(ref.orderBy, idx)).iterator
    val limited = ref.limit.map(n => ordered.take(n)).getOrElse(ordered)
    limited.slice(ref.pageNo * ref.pageSize, (ref.pageNo + 1) * ref.pageSize)
      .map(r => proj.map(r))
  }

  /** Multi-key row ordering with Spark's null-ordering semantics (nulls
    * placed per key BEFORE direction is considered). */
  private def rowOrdering(
      keys: Seq[ODataSortKey], idx: Map[String, Int]): Ordering[Seq[Any]] =
    new Ordering[Seq[Any]] {
      override def compare(a: Seq[Any], b: Seq[Any]): Int = {
        keys.foreach { k =>
          val (x, y) = (a(idx(k.col)), b(idx(k.col)))
          val c = (x, y) match {
            case (null, null) => 0
            case (null, _) => if (k.nullsFirst) -1 else 1
            case (_, null) => if (k.nullsFirst) 1 else -1
            case _ => if (k.asc) cmp(x, y) else -cmp(x, y)
          }
          if (c != 0) return c
        }
        0
      }
    }
}
