package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.SQLExecution
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
    * the same machine arithmetic Spark's own partial sum would use); a sum
    * over any other column is refused ([[ODataFilterSyntax.sumType]]). */
  final case class SumOf(col: String) extends ODataAgg
}

/** One `$orderby` key: column, ascending?, nulls-first? */
final case class ODataSortKey(col: String, asc: Boolean, nullsFirst: Boolean)

/** A request the service refuses: answered with `status` (404 unknown
  * entity, 400 bad query option, 405 wrong method, 409 stale generation),
  * never retried. */
final class ODataRequestError(val status: Int, message: String)
    extends RuntimeException(message)

/** The simulated Priority OData service behind [[ODataHttpServer]]: the
  * entity registry and the query evaluator the server answers every
  * `$select/$filter/$orderby/$skip/$top/$skiptoken/$apply` request from:
  * one [[select]] picks the rows of every page, preflight and stream
  * range. Entities are read over the socket only ([[ODataHttpSource]]
  * scans and streams, [[ODataBatchClient]] pulls); the server's
  * `requestLog` is the record of what was asked.
  *
  * SIMULATION BOUNDARY: the registry holds the tenant's dataset in THIS
  * JVM's memory — it stands in for the remote ERP database, so its size is
  * bounded by the harness box exactly as a demo tenant is bounded by its
  * DB. Rows are held as Spark `UnsafeRow`s (one compact byte array per
  * row, nested subforms included), and every reader — filters, `$orderby`,
  * aggregates, the page writer — works on those internal values.
  * Registration is LAZY (nothing materializes until a scan's preflight,
  * driver-side at plan time) and scan partitions carry only page URLs, so
  * the connector — plan, task binaries, readers — never ships the
  * dataset. */
object ODataTestServer {

  /** Lazily-materialized entity: schema is known at registration (logical
    * plan only); rows collect on first preflight — never at register time.
    * Once they have, the loader, and with it the source frame or the
    * previous generation's row array, is dropped. `gen` identifies this
    * registration: scans planned against one generation refuse to fetch
    * pages from another (see [[page]]). */
  private final class Entry(val schema: StructType,
      load: () => Array[UnsafeRow], val gen: Long) {
    private var pending = load
    lazy val rows: Array[UnsafeRow] = { val r = pending(); pending = null; r }
  }

  /** The frame's rows as `UnsafeRow`s: its physical plan collected under
    * an SQL execution id, as `Dataset.collect` runs it, without the
    * conversion to external `Row`s. */
  private def collectRows(df: DataFrame): Array[UnsafeRow] = {
    val qe = df.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
    lazy val toUnsafe = UnsafeProjection.create(df.schema)
    rows.map {
      case u: UnsafeRow => u
      case r => toUnsafe(r).copy()
    }
  }

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
    * page boundaries do. The frame's column types must be the entity's:
    * its rows are stored in the entity's binary layout. */
  def appendRows(entity: String, df: DataFrame): Unit = {
    val old = entry(entity)
    require(DataType.equalsStructurally(df.schema, old.schema, ignoreNullability = true),
      s"appendRows($entity): frame types ${df.schema.simpleString} differ from " +
        s"the entity's ${old.schema.simpleString}")
    val oldRows = old.rows // force materialization NOW, then capture
    entities.put(entity, new Entry(old.schema,
      () => oldRows ++ collectRows(df), generation.incrementAndGet()))
  }

  /** Current row count (the streaming cursor's latest offset). */
  def rowCount(entity: String): Long = entry(entity).rows.length.toLong

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
    * materialization), for stamping `$apply` responses. */
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

  /** `required`'s columns of a row of `schema`, as a view (no copy). */
  private def projection(schema: StructType,
      required: StructType): InternalRow => InternalRow = {
    val ordinals = required.fieldNames.map(schema.fieldIndex).toIndexedSeq
    r => { val p = ProjectingInternalRow(required, ordinals); p.project(r); p }
  }

  // ---- comparisons on internal values ------------------------------------
  //
  // The rules are those of the external values the registry once held
  // (java.sql.Timestamp/Date, BigDecimal, boxed numbers, String):
  //   - two integral numbers compare exactly, as longs (past 2^53 too);
  //   - a decimal and any other number compare as BigDecimals, the other
  //     one read from its `toString` (so a NaN or infinite double fails);
  //   - any other pair of numbers compares by `Double.compare` (-0.0 below
  //     0.0, NaN above everything and equal to itself);
  //   - strings compare in UTF-8 byte order, Spark's and DuckDB's order
  //     (Java's UTF-16 order disagrees for non-BMP characters, which would
  //     make a completely-pushed $orderby return a different top-N than
  //     Spark's own sort);
  //   - a TIMESTAMP compares as its stored micros, the proleptic-Gregorian
  //     instant, against the instant Spark means by a java.sql.Timestamp
  //     literal ([[ODataFilterSyntax.sparkInstant]]); a DATE compares as
  //     its java.sql.Date, a TIMESTAMP_NTZ as its LocalDateTime;
  //   - any other pair fails on the first non-null value it meets.

  private def isIntegral(n: Any): Boolean = n match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
         _: java.lang.Byte => true
    case _ => false
  }

  private def isIntegralType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  private def longAt(dt: DataType, i: Int): InternalRow => Long = dt match {
    case LongType => _.getLong(i)
    case IntegerType => _.getInt(i).toLong
    case ShortType => _.getShort(i).toLong
    case ByteType => _.getByte(i).toLong
  }

  private def doubleAt(dt: DataType, i: Int): InternalRow => Double = dt match {
    case DoubleType => _.getDouble(i)
    case FloatType => _.getFloat(i).toDouble
    case _ => longAt(dt, i).andThen(_.toDouble)
  }

  /** The boxed value's `toString`, which its BigDecimal reading starts from. */
  private def numberTextAt(dt: DataType, i: Int): InternalRow => String = dt match {
    case DoubleType => r => java.lang.Double.toString(r.getDouble(i))
    case FloatType => r => java.lang.Float.toString(r.getFloat(i))
    case _ => longAt(dt, i).andThen(java.lang.Long.toString)
  }

  private def decimalAt(d: DecimalType, i: Int): InternalRow => java.math.BigDecimal =
    _.getDecimal(i, d.precision, d.scale).toJavaBigDecimal

  /** An instant (epoch second + nano) against row micros: whole micros, and
    * the sign of the sub-micro rest. Out of the micros range it lies
    * beyond every row. */
  private def microsCmp(sec: Long, nano: Int): Long => Int = {
    val (whole, rest) =
      try (Math.addExact(Math.multiplyExact(sec, 1000000L), (nano / 1000).toLong), nano % 1000)
      catch { case _: ArithmeticException => if (sec > 0) (Long.MaxValue, 1) else (Long.MinValue, -1) }
    m => {
      val c = java.lang.Long.compare(m, whole)
      if (c != 0) c else -Integer.signum(rest)
    }
  }

  private def incomparable(dt: DataType, i: Int, lit: Any): InternalRow => Int = {
    val toScala = CatalystTypeConverters.createToScalaConverter(dt)
    r => sys.error(s"incomparable: ${toScala(r.get(i, dt))} vs $lit")
  }

  /** Column `i` (of type `dt`, non-null) against a pushed literal, the
    * literal converted once. */
  private def compareTo(dt: DataType, i: Int, lit: Any): InternalRow => Int =
    (dt, lit) match {
      case (StringType, s @ (_: String | _: UTF8String)) =>
        val u = UTF8String.fromString(s.toString)
        _.getUTF8String(i).compareTo(u)
      case (BooleanType, b: java.lang.Boolean) =>
        val y = b.booleanValue
        r => java.lang.Boolean.compare(r.getBoolean(i), y)
      case (d: DecimalType, y: java.math.BigDecimal) =>
        decimalAt(d, i).andThen(_.compareTo(y))
      case (d: DecimalType, y: Number) =>
        // lazy: a NaN or infinite literal fails on the first non-null value
        lazy val yb = new java.math.BigDecimal(y.toString)
        decimalAt(d, i).andThen(_.compareTo(yb))
      case (_: NumericType, y: java.math.BigDecimal) =>
        numberTextAt(dt, i).andThen(new java.math.BigDecimal(_).compareTo(y))
      case (_, y: Number) if isIntegralType(dt) && isIntegral(y) =>
        val (g, l) = (longAt(dt, i), y.longValue)
        r => java.lang.Long.compare(g(r), l)
      case (_: NumericType, y: Number) =>
        val (g, d) = (doubleAt(dt, i), y.doubleValue)
        r => java.lang.Double.compare(g(r), d)
      case (TimestampType, y @ (_: java.sql.Timestamp | _: java.time.Instant)) =>
        val t = y match {
          case ts: java.sql.Timestamp => ODataFilterSyntax.sparkInstant(ts)
          case in: java.time.Instant => in
        }
        val c = microsCmp(t.getEpochSecond, t.getNano)
        r => c(r.getLong(i))
      case (TimestampNTZType, y @ (_: java.time.LocalDateTime | _: java.sql.Timestamp)) =>
        val t = y match {
          case ts: java.sql.Timestamp => ts.toLocalDateTime
          case ldt: java.time.LocalDateTime => ldt
        }
        val c = microsCmp(t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano)
        r => c(r.getLong(i))
      case (DateType, y: java.sql.Date) =>
        r => DateTimeUtils.toJavaDate(r.getInt(i)).compareTo(y)
      case (DateType, y: java.time.LocalDate) =>
        r => DateTimeUtils.toJavaDate(r.getInt(i)).toLocalDate.compareTo(y)
      case _ => incomparable(dt, i, lit)
    }

  /** Two non-null values of column `i`, by the same rules. */
  private def ordering(dt: DataType, i: Int): (InternalRow, InternalRow) => Int =
    dt match {
      case StringType => (a, b) => a.getUTF8String(i).compareTo(b.getUTF8String(i))
      case BooleanType => (a, b) => java.lang.Boolean.compare(a.getBoolean(i), b.getBoolean(i))
      case d: DecimalType =>
        (a, b) => a.getDecimal(i, d.precision, d.scale).compare(b.getDecimal(i, d.precision, d.scale))
      case _ if isIntegralType(dt) =>
        val g = longAt(dt, i)
        (a, b) => java.lang.Long.compare(g(a), g(b))
      case FloatType | DoubleType =>
        val g = doubleAt(dt, i)
        (a, b) => java.lang.Double.compare(g(a), g(b))
      case TimestampType | TimestampNTZType =>
        (a, b) => java.lang.Long.compare(a.getLong(i), b.getLong(i))
      case DateType => (a, b) =>
        DateTimeUtils.toJavaDate(a.getInt(i)).compareTo(DateTimeUtils.toJavaDate(b.getInt(i)))
      case _ =>
        val toScala = CatalystTypeConverters.createToScalaConverter(dt)
        (a, b) => sys.error(s"incomparable: ${toScala(a.get(i, dt))} vs ${toScala(b.get(i, dt))}")
    }

  /** A pushed filter compiled against a schema: column ordinal resolved,
    * literal converted once. A null never passes a comparison. */
  private def compile(f: Filter, schema: StructType): InternalRow => Boolean = {
    def test(c: String, v: Any)(ok: Int => Boolean): InternalRow => Boolean = {
      val i = schema.fieldIndex(c)
      val cmp = compareTo(schema(i).dataType, i, v)
      r => !r.isNullAt(i) && ok(cmp(r))
    }
    f match {
      case EqualTo(c, v) => test(c, v)(_ == 0)
      case GreaterThan(c, v) => test(c, v)(_ > 0)
      case GreaterThanOrEqual(c, v) => test(c, v)(_ >= 0)
      case LessThan(c, v) => test(c, v)(_ < 0)
      case LessThanOrEqual(c, v) => test(c, v)(_ <= 0)
      case IsNotNull(c) =>
        val i = schema.fieldIndex(c)
        !_.isNullAt(i)
      case other => sys.error(s"unsupported pushed filter: $other")
    }
  }

  /** The conjunction of pushed filters, compiled once per request. */
  private def matcher(filters: Array[Filter], schema: StructType): InternalRow => Boolean = {
    val tests = filters.map(compile(_, schema))
    r => tests.forall(_(r))
  }

  def supportsFilter(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: IsNotNull => true
    case _ => false
  }

  /** Evaluate a completely-pushed aggregation (OData `$apply=aggregate`,
    * grouped via `$apply=groupby`). Returns one row per group, in the order
    * each group first appears in the registry — group key values first,
    * aggregates after, matching ODataFilterSyntax.aggSchema. Groups are
    * keyed as Spark's `NormalizeFloatingNumbers` keys them: every NaN in
    * one group, -0.0 with 0.0 in one group reported as 0.0. Long sums use
    * Long machine addition and double sums add in stable registry order,
    * so repeated calls are bit-identical. */
  def aggregate(
      entity: String,
      filters: Array[Filter],
      specs: Seq[ODataAgg],
      groupCols: Seq[String] = Nil): Seq[InternalRow] = {
    val e = entry(entity)
    val keep = matcher(filters, e.schema)
    val kept = e.rows.filter(keep)
    def col(c: String): (Int, DataType) = {
      val i = e.schema.fieldIndex(c)
      (i, e.schema(i).dataType)
    }

    /** The value of `c` in the row `better` prefers, or null. */
    def pick(rows: Seq[InternalRow], c: String)(better: Int => Boolean): Any = {
      val (i, dt) = col(c)
      val ord = ordering(dt, i)
      var best: InternalRow = null
      rows.foreach { r =>
        if (!r.isNullAt(i) && (best == null || better(ord(r, best)))) best = r
      }
      if (best == null) null else best.get(i, dt)
    }

    def sum(rows: Seq[InternalRow], c: String): Any = {
      val (i, dt) = col(c)
      val vs = rows.filterNot(_.isNullAt(i))
      if (vs.isEmpty) null
      else dt match {
        case DoubleType => vs.foldLeft(0.0)((acc, r) => acc + r.getDouble(i))
        case _ if isIntegralType(dt) =>
          val g = longAt(dt, i)
          vs.foldLeft(0L)((acc, r) => acc + g(r))
        case other => sys.error(s"sum over $other column '$c'")
      }
    }

    def aggRow(rows: Seq[InternalRow]): Seq[Any] = specs.map {
      case ODataAgg.CountAll => rows.size.toLong
      case ODataAgg.MinOf(c) => pick(rows, c)(_ < 0)
      case ODataAgg.MaxOf(c) => pick(rows, c)(_ > 0)
      case ODataAgg.SumOf(c) => sum(rows, c)
    }

    if (groupCols.isEmpty) Seq(new GenericInternalRow(aggRow(kept.toSeq).toArray))
    else {
      val keys = groupCols.map { c => val (i, dt) = col(c); groupValueAt(dt, i) }
      val groups = mutable.LinkedHashMap.empty[Seq[Any], mutable.ArrayBuffer[InternalRow]]
      kept.foreach { r =>
        groups.getOrElseUpdate(keys.map(k => groupKey(k(r))), mutable.ArrayBuffer.empty) += r
      }
      groups.values.map { rows =>
        val keyValues = keys.map(_(rows.head))
        new GenericInternalRow((keyValues ++ aggRow(rows.toSeq)).toArray): InternalRow
      }.toSeq
    }
  }

  /** A group key column's internal value, -0.0 read as 0.0, as Spark's
    * `NormalizeFloatingNumbers` reads grouping keys. */
  private def groupValueAt(dt: DataType, i: Int): InternalRow => Any = {
    val get: InternalRow => Any = dt match {
      case DoubleType => r => { val v = r.getDouble(i); if (v == 0.0) 0.0 else v }
      case FloatType => r => { val v = r.getFloat(i); if (v == 0.0f) 0.0f else v }
      case _ => _.get(i, dt)
    }
    r => if (r.isNullAt(i)) null else get(r)
  }

  /** A group value as a hash key: floating point by its bits, one
    * canonical pattern for every NaN (boxed equality never matches a
    * NaN). */
  private def groupKey(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case f: Float => java.lang.Float.floatToIntBits(f)
    case other => other
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
      pageSize: Int,
      skip: Int = 0): (Int, Long) = {
    val e = entry(entity)
    val n = select(e, filters, Nil, skip, limit).size
    ((n + pageSize - 1) / pageSize, e.gen)
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

  /** The rows a request selects, in the order it answers them: filter →
    * `$orderby` → `$skip` → `$top`. OData orders the result set before it
    * skips, limits and pages it. */
  private def select(e: Entry, filters: Array[Filter], orderBy: Seq[ODataSortKey],
      skip: Int, top: Option[Int]): Iterator[InternalRow] = {
    val matched: Iterator[InternalRow] =
      e.rows.iterator.filter(matcher(filters, e.schema))
    val ordered =
      if (orderBy.isEmpty) matched
      else matched.toVector.sorted(rowOrdering(orderBy, e.schema)).iterator
    val skipped = ordered.drop(skip)
    top.fold(skipped)(skipped.take)
  }

  /** Serve ONE page of a request (the server's page GET): the page window
    * `[pageNo * pageSize, (pageNo + 1) * pageSize)` of its [[select]]ed
    * rows, as rows of `required`. A planned `generation` is checked
    * against the same registry entry the rows come from, so a concurrent
    * re-registration cannot slip between the two. */
  def page(
      entity: String,
      required: StructType,
      filters: Array[Filter],
      orderBy: Seq[ODataSortKey],
      skip: Int,
      top: Option[Int],
      pageNo: Int,
      pageSize: Int,
      generation: Option[Long]): Iterator[InternalRow] = {
    val e = entry(entity)
    generation.foreach(checkGeneration(entity, e, _))
    select(e, filters, orderBy, skip, top)
      .slice(pageNo * pageSize, (pageNo + 1) * pageSize)
      .map(projection(e.schema, required))
  }

  /** Multi-key row ordering with Spark's null-ordering semantics (nulls
    * placed per key BEFORE direction is considered); a stable sort keeps
    * ties in registry order. */
  private def rowOrdering(
      keys: Seq[ODataSortKey], schema: StructType): Ordering[InternalRow] = {
    val ks = keys.toIndexedSeq
    val cols = ks.map(k => schema.fieldIndex(k.col)).toArray
    val ords = cols.map(i => ordering(schema(i).dataType, i))
    new Ordering[InternalRow] {
      override def compare(a: InternalRow, b: InternalRow): Int = {
        var c = 0
        var k = 0
        while (c == 0 && k < cols.length) {
          val key = ks(k)
          val aNull = a.isNullAt(cols(k))
          val bNull = b.isNullAt(cols(k))
          c =
            if (aNull && bNull) 0
            else if (aNull) { if (key.nullsFirst) -1 else 1 }
            else if (bNull) { if (key.nullsFirst) 1 else -1 }
            else if (key.asc) ords(k)(a, b) else -ords(k)(a, b)
          k += 1
        }
        c
      }
    }
  }
}
