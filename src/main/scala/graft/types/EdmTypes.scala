package graft.types

import org.apache.spark.sql.types._
import graft.model.{EntityMeta, FieldMeta}

/** Source-type → warehouse/Spark type mapping.
  *
  * Re-expresses the reference's datatype dictionary
  * (resources/static/datatypesConvert.json:1-55, looked up per field at
  * resources/priorityDataSource.py:523-563) as a pure, total Scala map keyed
  * by (sourceSystem, sourceDataType) — the reference's own composite key
  * (priorityDataSource.py:546-552), i.e. the design is multi-source.
  *
  * The PK override (every key column lands as VARCHAR(255) regardless of its
  * source type — resources/sqlDwh.py:368-370,479) and the two audit columns
  * (sqlDwh.py:380-381) are modeled as explicit rules, not data.
  */
object EdmTypes {

  final case class Target(azureSql: String, spark: DataType)

  /** (sourceSystem, sourceType) → target types. `SBO` rows mirror the
    * reference's second source system (datatypesConvert.json:38-55). */
  val mapping: Map[(String, String), Target] = Map(
    ("priority", "Edm.String") -> Target("VARCHAR", StringType),
    ("priority", "Edm.Decimal") -> Target("NUMERIC", DecimalType(38, 3)),
    ("priority", "Edm.DateTimeOffset") -> Target("DATETIMEOFFSET", TimestampType),
    ("priority", "Edm.Int64") -> Target("BIGINT", LongType),
    ("SBO", "SBO_text") -> Target("VARCHAR", StringType),
    ("SBO", "SBO_num") -> Target("NUMERIC", DecimalType(38, 3)))

  /** Edm → NATIVE Spark type, the DSv2 connector's schema channel, and read
    * backwards its `$metadata` render ([[edmOf]]): one table for both
    * sides, lossless over every scalar the wire serves. Deliberately
    * distinct from `mapping`, which is the reference's WAREHOUSE dictionary
    * (keys→VARCHAR(255), every number →NUMERIC): a connector schema must
    * reproduce the source table exactly, not its DWH landing shape.
    * Edm.Decimal is not in the table: its bounds ride as Precision/Scale
    * facets ([[nativeSparkOf]]). */
  val nativeSpark: Map[String, DataType] = Map(
    "Edm.String" -> StringType,
    "Edm.Int64" -> LongType,
    "Edm.Int32" -> IntegerType,
    "Edm.Int16" -> ShortType,
    "Edm.SByte" -> ByteType,
    "Edm.Double" -> DoubleType,
    "Edm.Single" -> FloatType,
    "Edm.DateTimeOffset" -> TimestampType,
    // OData v4 has no naive-datetime scalar; v2's Edm.DateTime is the
    // established wire name for one (still emitted by legacy producers),
    // and collapsing NTZ into DateTimeOffset would silently shift values
    "Edm.DateTime" -> TimestampNTZType,
    "Edm.Date" -> DateType,
    "Edm.Boolean" -> BooleanType,
    "Edm.Binary" -> BinaryType)

  private val edmNames: Map[DataType, String] = nativeSpark.map(_.swap)

  /** The Edm type a native Spark type is served as. A type outside the
    * table goes out as Edm.String, which the parse side reads as text, as
    * the reference degrades unknown types ([[targetFor]]). */
  def edmOf(dt: DataType): String = dt match {
    case _: DecimalType => "Edm.Decimal"
    case _ => edmNames.getOrElse(dt, "Edm.String")
  }

  /** The native Spark type of an Edm type and its Decimal facets: a
    * facet-less Edm.Decimal is DECIMAL(38,18), an unknown type text. */
  def nativeSparkOf(edm: String, precision: Option[Int], scale: Option[Int]): DataType =
    (edm, precision, scale) match {
      case ("Edm.Decimal", Some(p), Some(s)) => DecimalType(p, s)
      case ("Edm.Decimal", _, _) => DecimalType(38, 18)
      case _ => nativeSpark.getOrElse(edm, StringType)
    }

  /** PK columns are uniformly stringly-typed, length 255
    * (reference rule, sqlDwh.py:368-370). */
  val pkAzureType = "VARCHAR(255)"
  val pkSparkType: DataType = StringType

  /** Run-lineage audit columns appended to every table
    * (sqlDwh.py:380-381; stamped at priorityDataSource.py:770-771). */
  val auditColumns: Seq[(String, String, DataType)] = Seq(
    ("extractionid", "VARCHAR(36)", StringType),
    ("extractiontimestamputc", "DATETIME", TimestampType))

  def targetFor(sourceSystem: String, f: FieldMeta): Target =
    if (f.keyFlag) Target(pkAzureType, pkSparkType)
    else mapping.getOrElse(
      (sourceSystem, f.sourceDataType),
      Target("VARCHAR", StringType)) // unknown types degrade to text

  /** Metadata → deterministic Spark schema (fixes the reference's
    * set-difference column-order nondeterminism, priorityDataSource.py:781-783:
    * field order is the metadata order, audit columns last). */
  def toStructType(meta: EntityMeta): StructType = {
    val fields = meta.fields.map { f =>
      val t = targetFor(meta.sourceSystem, f)
      StructField(
        f.fieldName.toLowerCase, t.spark, nullable = !f.keyFlag,
        new MetadataBuilder()
          .putBoolean("keyFlag", f.keyFlag)
          .putString("sourceDataType", f.sourceDataType)
          .putString("desc", f.desc)
          .build())
    }
    val audit = auditColumns.map { case (n, _, t) => StructField(n, t) }
    StructType(fields ++ audit)
  }

  /** `CREATE TABLE` DDL string for the JDBC sink — the reference generates the
    * same shape through SQLAlchemy `Table` objects (sqlDwh.py:320-390).
    * Azure-authored; `renderType(_, "azuresql")` is the identity, so this
    * is `ddlDialect(meta, tablePrefix, "azuresql")`. */
  def ddl(meta: EntityMeta, tablePrefix: String = ""): String =
    ddlDialect(meta, tablePrefix, "azuresql")

  /** The warehouse types are authored in the Azure SQL dialect (reference
    * target); render them for another ANSI target. `derby` is the embedded
    * stand-in the harness can actually execute against; `tsql` is the
    * production Azure SQL render with every type explicitly bounded
    * (T-SQL quirk: an unlengthed VARCHAR in DDL means VARCHAR(1), and an
    * unlengthed NUMERIC means NUMERIC(18,0) — both silent data loss, so
    * the engine always renders the bound).
    *
    * `mysql`/`postgres` render the OTHER TWO target columns the reference's
    * type dictionary carries (resources/static/datatypesConvert.json:4-36:
    * `MySQLDatatype` "TEXT(255)"/"Numeric(scale=3)"/"DateTime"/"BigInteger",
    * `postgresDatatype` "VARCHAR"/"NUMERIC"/"TIMESTAMP"/"BIGINT") — declared
    * surface the reference never executes (priorityDataSource.py:546-552
    * reads only `AzureSQLDatatype`), but a user pointing a config at those
    * targets would hit it. The dictionary's MySQL strings are SQLAlchemy
    * constructor expressions (it `eval()`s them); the engine renders what
    * they MEAN as executable DDL, applying the same explicit-bound rule as
    * `tsql` where the bare type would silently lose data:
    *   - `Numeric(scale=3)` → NUMERIC(38,3) (MySQL's bare NUMERIC defaults
    *     to (10,0) — integer rounding, same failure class as T-SQL's);
    *   - bare postgres VARCHAR/NUMERIC stay bare: in Postgres those are
    *     UNLIMITED length/precision — no silent default, nothing to bound. */
  def renderType(azureSql: String, dialect: String): String = dialect match {
    case "derby" => azureSql match {
      case "DATETIME" | "DATETIMEOFFSET" => "TIMESTAMP"
      case "VARCHAR" => "VARCHAR(4000)" // Derby requires an explicit length
      case "NUMERIC" => "NUMERIC(31,3)" // Derby max precision is 31
      case other => other
    }
    case "tsql" => azureSql match {
      case "VARCHAR" => "VARCHAR(max)" // matches SQLAlchemy mssql String-without-length
      case "NUMERIC" => "NUMERIC(38, 3)" // DecimalType(38,3): NOT the reference's bare
        // NUMERIC, which Azure SQL defaults to (18,0) and silently rounds to integers
      case other => other
    }
    case "mysql" => azureSql match {
      case "VARCHAR" => "TEXT(255)"   // datatypesConvert.json:9 (MySQLDatatype)
      case "NUMERIC" => "NUMERIC(38,3)" // "Numeric(scale=3)" with the bound explicit
      case "DATETIMEOFFSET" => "DATETIME" // json:27; MySQL has no offset type
      case other => other // DATETIME, BIGINT, VARCHAR(n) carry over
    }
    case "postgres" => azureSql match {
      case "DATETIMEOFFSET" | "DATETIME" => "TIMESTAMP" // json:28
      case other => other // VARCHAR/NUMERIC bare = unlimited in PG; BIGINT
    }
    case _ => azureSql
  }

  /** `CREATE TABLE` DDL rendered for a named dialect — `ddl` is the
    * azure-authored shape; this is the same column walk with every type
    * passed through `renderType`. `ddl(m, p)` == `ddlDialect(m, p,
    * "azuresql")` byte-for-byte. */
  def ddlDialect(meta: EntityMeta, tablePrefix: String, dialect: String): String = {
    val cols = meta.fields.map { f =>
      val t = targetFor(meta.sourceSystem, f)
      s"${f.fieldName.toLowerCase} ${renderType(t.azureSql, dialect)}"
    } ++ auditColumns.map { case (n, sqlT, _) => s"$n ${renderType(sqlT, dialect)}" }
    val pk =
      if (meta.entityPk.nonEmpty)
        Seq(s"PRIMARY KEY (${meta.entityPk.map(_.toLowerCase).mkString(", ")})")
      else Seq.empty
    s"CREATE TABLE IF NOT EXISTS ${tablePrefix}${meta.entityName.toLowerCase} " +
      (cols ++ pk).mkString("(", ", ", ")")
  }

  /** The full T-SQL `CREATE TABLE` in the exact shape the reference's
    * SQLAlchemy mssql dialect emits when `sqlDwh.createTable` runs
    * `table.create(engine)` (sqlDwh.py:355-390 builds the Table from entity
    * metadata; the mssql DDL compiler renders it): bracket-quoted
    * identifiers in source casing, every KeyFlag column forced to
    * VARCHAR(255) NOT NULL (sqlDwh.py:368-370), unbounded String as
    * VARCHAR(max), bare NUMERIC (the reference's `eval('NUMERIC')` carries
    * no precision — a faithfully-reproduced quirk: Azure SQL defaults that
    * to NUMERIC(18,0)), explicit NULL/NOT NULL per column, the
    * extractionId/extractionTimestampUTC audit columns appended
    * (sqlDwh.py:380-381), and a table-level PRIMARY KEY constraint.
    * Line shape mirrors SQLAlchemy's one-column-per-line layout, minus its
    * trailing space after each comma (normalized away: trailing whitespace
    * doesn't survive editors or code review, and T-SQL ignores it). */
  def tsqlDdl(meta: EntityMeta): String = {
    val cols = meta.fields.map { f =>
      val t = targetFor(meta.sourceSystem, f)
      val sqlType = if (f.keyFlag) pkAzureType else t.azureSql match {
        case "VARCHAR" => "VARCHAR(max)"
        case other => other
      }
      val nullness = if (f.keyFlag) "NOT NULL" else "NULL"
      s"[${f.fieldName}] $sqlType $nullness"
    } ++ Seq(
      "[extractionId] VARCHAR(36) NULL",
      "[extractionTimestampUTC] DATETIME NULL")
    val pkCols = meta.fields.filter(_.keyFlag).map(f => s"[${f.fieldName}]")
    val constraint =
      if (pkCols.nonEmpty) Seq(s"PRIMARY KEY (${pkCols.mkString(", ")})")
      else Seq.empty
    s"CREATE TABLE [${meta.entityName}] (\n\t" +
      (cols ++ constraint).mkString(",\n\t") + "\n)\n"
  }

  /** Spark JDBC writer `createTableColumnTypes` option value. */
  def createTableColumnTypes(meta: EntityMeta, dialect: String = "azuresql"): String =
    (meta.fields.map { f =>
      s"${f.fieldName.toLowerCase} ${renderType(targetFor(meta.sourceSystem, f).azureSql, dialect)}"
    } ++ auditColumns.map { case (n, sqlT, _) =>
      s"$n ${renderType(sqlT, dialect)}"
    }).mkString(", ")
}
