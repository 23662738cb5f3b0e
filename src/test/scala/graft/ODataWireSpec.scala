package graft

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ODataHttpServer, ODataTestServer}

/** One entity holding every type the service writes, and the requests the
  * service answers over it. [[ODataWireSpec]] pins the wire bytes and the
  * evaluator's answers to these fixed values. */
object ODataWireFixture {
  val entity = "typed_wire"

  private val item = StructType(Seq(
    StructField("ln", LongType), StructField("q", DoubleType),
    StructField("note", StringType)))

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("i", IntegerType), StructField("sh", ShortType),
    StructField("by", ByteType), StructField("l", LongType),
    StructField("d", DoubleType), StructField("f", FloatType),
    StructField("b", BooleanType), StructField("s", StringType),
    StructField("dec", DecimalType(12, 4)),
    StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
    StructField("dt", DateType), StructField("bin", BinaryType),
    StructField("items", ArrayType(item))))

  private def ts(s: String) = java.time.Instant.parse(s)
  private def ntz(s: String) = java.time.LocalDateTime.parse(s)
  private def dt(s: String) = java.time.LocalDate.parse(s)
  private def dec(s: String) = new java.math.BigDecimal(s)
  private def bytes(xs: Int*) = xs.map(_.toByte).toArray

  val rows: Seq[Row] = Seq(
    Row(1L, 1, 1.toShort, 1.toByte, 9007199254740993L, 1.5, 1.5f, true,
      "alpha", dec("10.5000"), ts("2024-03-01T10:30:00.123456Z"),
      ntz("2024-03-01T10:30:00.654321"), dt("2024-02-29"), bytes(0, 1, 2, 255),
      Seq(Row(1L, 2.5, "x"), Row(2L, null, null))),
    Row(2L, null, null, null, null, null, null, null, null, null, null, null,
      null, null, null),
    Row(3L, -7, (-7).toShort, (-7).toByte, -5L, -0.0, -0.0f, false,
      "😀 non-BMP 𝄞", dec("-3.1000"),
      ts("1969-12-31T23:59:59.999999Z"), ntz("1900-01-01T00:00:00"),
      dt("1200-03-01"), bytes(), Seq.empty[Row]),
    Row(4L, Int.MaxValue, Short.MaxValue, Byte.MaxValue, 9007199254740992L,
      Double.NaN, Float.NaN, true, "", dec("99999999.9999"),
      ts("1000-06-15T12:00:00Z"), ntz("1000-06-15T12:00:00"), dt("1582-10-04"),
      bytes(255, 254), Seq(Row(3L, -0.0, "ü"))),
    Row(5L, 0, 0.toShort, 0.toByte, 0L, 0.0, 0.0f, false,
      "Zeta \"quoted\" \\ line\nbreak\ttab", dec("0.0100"),
      ts("2001-09-09T01:46:40Z"), ntz("2001-09-09T01:46:40"), dt("1970-01-01"),
      bytes(10), null),
    Row(6L, Int.MinValue, Short.MinValue, Byte.MinValue, Long.MinValue, 1e300,
      Float.MaxValue, null, "￿", dec("-99999999.9999"),
      ts("2262-04-11T23:47:16.854775Z"), ntz("9999-12-31T23:59:59.999999"),
      dt("9999-12-31"), null, Seq(Row(4L, Double.NaN, ""))),
    Row(7L, 3, 3.toShort, 3.toByte, Long.MaxValue, 1.5, 1.5f, true, "alpha",
      dec("10.5000"), ts("2024-03-01T10:30:00.123456Z"),
      ntz("2024-03-01T10:30:00.654321"), dt("2024-02-29"), bytes(0),
      Seq(Row(5L, 1.0, "y"))),
    Row(8L, -1, (-1).toShort, (-1).toByte, 2L, Double.NaN, -1.5f, false,
      "alpha", dec("0.0000"), ts("0001-01-01T00:00:00Z"),
      ntz("0001-01-01T00:00:00"), dt("0001-01-01"), bytes(1), Seq.empty[Row]))

  def ids: Seq[Long] = rows.map(_.getLong(0))

  /** The fixture rows as a plain Spark frame. */
  def frame(): DataFrame =
    TestSpark.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  def register(): Unit = ODataTestServer.registerDf(entity, frame())

  /** The entity read through the connector. */
  def load(): DataFrame = TestSpark.spark.read.format("graft.sources.ODataHttpSource")
    .options(ODataHttpServer.tenantOptions).option("entity", entity).load()

  private val creds = (ODataHttpServer.user, ODataHttpServer.pass)

  /** A GET's body, with this JVM's endpoint replaced by `ENDPOINT`. */
  def body(query: String): String = {
    val raw = new String(ODataHttpServer.getRaw(
      s"${ODataHttpServer.endpoint}/$entity?$query", creds._1, creds._2), UTF_8)
    raw.replace(ODataHttpServer.endpoint, "ENDPOINT")
  }

  private val mapper = new ObjectMapper()

  /** The ids a wire query answers, in the order it answers them. */
  def wireIds(query: String): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    mapper.readTree(body(s"%24select=id&%24pagesize=100&$query"))
      .get("value").elements().asScala.map(_.get("id").asLong).toSeq
  }

  /** An `$apply` answer as a set of its rows' JSON texts. */
  def rowSet(query: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    mapper.readTree(body(query)).get("value").elements().asScala
      .map(mapper.writeValueAsString).toSet
  }

  /** Per row id, whether `f` keeps it ("y"/"n"), or the evaluator's error
    * class ("!Name"): one `preflight` per id with `id = k` conjoined. */
  def verdicts(f: Filter): String = ids.map { k =>
    try {
      val (n, _) = ODataTestServer.preflight(entity, Array(EqualTo("id", k), f), None, 1)
      if (n == 1) "y" else "n"
    } catch { case e: Exception => "!" + e.getClass.getSimpleName }
  }.mkString(" ")

  private def ts_(s: String) = java.sql.Timestamp.from(ts(s))

  /** Pushed filters over every comparable column, literals of the column's
    * own type and of other types the evaluator accepts. */
  val filters: Seq[Filter] = Seq(
    EqualTo("l", 9007199254740993L), EqualTo("l", 9007199254740992L),
    GreaterThan("l", 2.5), LessThan("l", 1), EqualTo("l", 2.0),
    LessThan("d", 2L), EqualTo("d", 0L), EqualTo("d", -0.0),
    GreaterThan("d", 1.0), EqualTo("d", Double.NaN), LessThan("d", 0.0f),
    LessThan("i", 3), GreaterThanOrEqual("sh", 1L), LessThanOrEqual("by", 0.5),
    GreaterThan("f", 1.4), EqualTo("f", -0.0),
    EqualTo("dec", dec("10.5")), GreaterThan("dec", 10L),
    LessThan("dec", 0.5), GreaterThan("i", dec("1.5")),
    LessThan("d", dec("2")), GreaterThanOrEqual("l", dec("9007199254740993")),
    GreaterThan("s", "alpha"), LessThan("s", "￿"), EqualTo("s", ""),
    GreaterThanOrEqual("s", UTF8String.fromString("Zeta")),
    EqualTo("b", true), GreaterThan("b", false),
    GreaterThan("ts", ts_("2000-01-01T00:00:00Z")),
    LessThan("ts", ts("1970-01-01T00:00:00Z")),
    EqualTo("ts", ts_("2024-03-01T10:30:00.123456Z")),
    GreaterThan("ts", ts_("2024-03-01T10:30:00.123455999Z")),
    LessThan("ts", ts_("2024-03-01T10:30:00.123456001Z")),
    LessThan("ts", ts_("1500-01-01T00:00:00Z")),
    GreaterThan("ntz", ntz("2000-01-01T00:00")),
    LessThanOrEqual("ntz", java.sql.Timestamp.valueOf("1900-01-01 00:00:00")),
    EqualTo("ntz", ntz("2024-03-01T10:30:00.654321")),
    GreaterThan("ntz", ntz("2024-03-01T10:30:00.654320999")),
    LessThan("ntz", java.time.LocalDateTime.MAX),
    GreaterThan("ntz", java.time.LocalDateTime.MIN),
    EqualTo("l", 9007199254740992.0),
    GreaterThan("dt", java.sql.Date.valueOf("2000-01-01")),
    LessThan("dt", dt("1500-01-01")),
    EqualTo("dt", java.sql.Date.valueOf("1200-03-01")),
    EqualTo("dt", dt("1582-10-04")),
    IsNotNull("s"), IsNotNull("items"),
    EqualTo("s", 5L), GreaterThan("i", "x"), EqualTo("ts", ntz("2000-01-01T00:00")))

  /** Wire `$filter` terms, parsed by the server against the schema. */
  val wireFilters: Seq[String] = Seq(
    "d gt 0.0", "d le -0.0", "f ge 1.5", "i lt 0", "l ge 9007199254740993",
    "sh eq 1", "by gt 0", "b eq false", "s ge 'a'", "s lt 'alpha'",
    "dec le 10.50", "dec gt -3.1", "ts ge datetime'2000-01-01T00:00:00Z'",
    "ts lt datetime'1582-10-15T00:00:00Z'", "ntz lt datetime'2000-01-01T00:00'",
    "dt ge date'1582-10-15'", "dt lt date'1582-10-15'", "items ne null",
    "l ne null and d lt 100.0")

  /** Every comparable column, for the `$orderby` corpus. */
  val sortCols: Seq[String] =
    Seq("i", "sh", "by", "l", "d", "f", "b", "s", "dec", "ts", "ntz", "dt")

  def orderQuery(col: String, asc: Boolean, nullsFirst: Boolean): String =
    ODataHttpServer.enc(s"$col ${if (asc) "asc" else "desc"} " +
      (if (nullsFirst) "nullsfirst" else "nullslast"))

  val applyAggs: String = ODataHttpServer.enc(Seq("count") ++
    Seq("i", "sh", "by", "l", "d", "f", "b", "s", "dec", "ts", "ntz", "dt")
      .flatMap(c => Seq(s"min:$c", s"max:$c")) ++
    Seq("i", "sh", "by", "l", "d").map(c => s"sum:$c") mkString ",")

  val groupedQueries: Seq[String] = Seq(
    s"%24applyaggs=${ODataHttpServer.enc("count,min:d,max:s,sum:i")}&%24applygroups=b",
    s"%24applyaggs=${ODataHttpServer.enc("count,sum:l")}&%24applygroups=d",
    s"%24applyaggs=${ODataHttpServer.enc("count,max:ts")}&%24applygroups=${ODataHttpServer.enc("s,dec")}",
    s"%24applyaggs=&%24applygroups=${ODataHttpServer.enc("ntz,dt")}",
    s"%24applyaggs=count&%24applygroups=f&%24filter=${ODataHttpServer.enc("i ne null")}")
}

/** Pins what the service answers over [[ODataWireFixture]]'s entity: the
  * exact bytes of page, `$skip` and `$apply` bodies, the verdict of every
  * pushed filter on every row, the rows wire `$filter` terms select, the
  * `$orderby` order of every comparable column both ways with nulls first
  * and last, and grouped `$apply` answers as row sets. Grouped pushdown
  * over floating-point keys and TIMESTAMPs before 1582 are checked
  * against Spark itself. */
class ODataWireSpec extends AnyFunSuite {
  import ODataWireFixture._

  private lazy val registered: Unit = register()

  /** The `$apply` generation stamp depends on how many registrations this
    * JVM made before; everything else in a body is fixed. */
  private def normalized(query: String): String = {
    registered
    body(query).replaceAll("\"@graft\\.generation\":\\d+,", "\"@graft.generation\":G,")
  }

  test("page, $skip and $apply bodies are byte-exact") {
    assert(normalized("%24pagesize=5") ==
      "{\"@graft.rowcount\":8,\"value\":[{\"id\":1,\"i\":1,\"sh\":1,\"by\":1,\"l\":9007199254740993,\"d\":1.5,\"f\":1.5,\"b\":true,\"s\":\"alpha\",\"dec\":\"10.5000\",\"ts\":\"2024-03-01T10:30:00.123456Z\",\"ntz\":\"2024-03-01T10:30:00.654321\",\"dt\":\"2024-02-29\",\"bin\":\"AAEC/w==\",\"items\":[{\"ln\":1,\"q\":2.5,\"note\":\"x\"},{\"ln\":2,\"q\":null,\"note\":null}]},{\"id\":2,\"i\":null,\"sh\":null,\"by\":null,\"l\":null,\"d\":null,\"f\":null,\"b\":null,\"s\":null,\"dec\":null,\"ts\":null,\"ntz\":null,\"dt\":null,\"bin\":null,\"items\":null},{\"id\":3,\"i\":-7,\"sh\":-7,\"by\":-7,\"l\":-5,\"d\":-0.0,\"f\":-0.0,\"b\":false,\"s\":\"\\uD83D\\uDE00 non-BMP \\uD834\\uDD1E\",\"dec\":\"-3.1000\",\"ts\":\"1969-12-31T23:59:59.999999Z\",\"ntz\":\"1900-01-01T00:00\",\"dt\":\"1200-03-01\",\"bin\":\"\",\"items\":[]},{\"id\":4,\"i\":2147483647,\"sh\":32767,\"by\":127,\"l\":9007199254740992,\"d\":\"NaN\",\"f\":\"NaN\",\"b\":true,\"s\":\"\",\"dec\":\"99999999.9999\",\"ts\":\"1000-06-15T12:00:00Z\",\"ntz\":\"1000-06-15T12:00\",\"dt\":\"1582-10-04\",\"bin\":\"//4=\",\"items\":[{\"ln\":3,\"q\":-0.0,\"note\":\"ü\"}]},{\"id\":5,\"i\":0,\"sh\":0,\"by\":0,\"l\":0,\"d\":0.0,\"f\":0.0,\"b\":false,\"s\":\"Zeta \\\"quoted\\\" \\\\ line\\nbreak\\ttab\",\"dec\":\"0.0100\",\"ts\":\"2001-09-09T01:46:40Z\",\"ntz\":\"2001-09-09T01:46:40\",\"dt\":\"1970-01-01\",\"bin\":\"Cg==\",\"items\":null}],\"@odata.nextLink\":\"ENDPOINT/typed_wire?%24pagesize=5&%24skiptoken=5\"}")
    assert(normalized("%24pagesize=5&%24skiptoken=5") ==
      "{\"@graft.rowcount\":8,\"value\":[{\"id\":6,\"i\":-2147483648,\"sh\":-32768,\"by\":-128,\"l\":-9223372036854775808,\"d\":1.0E300,\"f\":3.4028235E38,\"b\":null,\"s\":\"￿\",\"dec\":\"-99999999.9999\",\"ts\":\"2262-04-11T23:47:16.854775Z\",\"ntz\":\"9999-12-31T23:59:59.999999\",\"dt\":\"9999-12-31\",\"bin\":null,\"items\":[{\"ln\":4,\"q\":\"NaN\",\"note\":\"\"}]},{\"id\":7,\"i\":3,\"sh\":3,\"by\":3,\"l\":9223372036854775807,\"d\":1.5,\"f\":1.5,\"b\":true,\"s\":\"alpha\",\"dec\":\"10.5000\",\"ts\":\"2024-03-01T10:30:00.123456Z\",\"ntz\":\"2024-03-01T10:30:00.654321\",\"dt\":\"2024-02-29\",\"bin\":\"AA==\",\"items\":[{\"ln\":5,\"q\":1.0,\"note\":\"y\"}]},{\"id\":8,\"i\":-1,\"sh\":-1,\"by\":-1,\"l\":2,\"d\":\"NaN\",\"f\":-1.5,\"b\":false,\"s\":\"alpha\",\"dec\":\"0.0000\",\"ts\":\"0001-01-01T00:00:00Z\",\"ntz\":\"0001-01-01T00:00\",\"dt\":\"0001-01-01\",\"bin\":\"AQ==\",\"items\":[]}]}")
    assert(normalized("%24skip=2&%24top=4") ==
      "{\"@graft.rowcount\":8,\"value\":[{\"id\":3,\"i\":-7,\"sh\":-7,\"by\":-7,\"l\":-5,\"d\":-0.0,\"f\":-0.0,\"b\":false,\"s\":\"\\uD83D\\uDE00 non-BMP \\uD834\\uDD1E\",\"dec\":\"-3.1000\",\"ts\":\"1969-12-31T23:59:59.999999Z\",\"ntz\":\"1900-01-01T00:00\",\"dt\":\"1200-03-01\",\"bin\":\"\",\"items\":[]},{\"id\":4,\"i\":2147483647,\"sh\":32767,\"by\":127,\"l\":9007199254740992,\"d\":\"NaN\",\"f\":\"NaN\",\"b\":true,\"s\":\"\",\"dec\":\"99999999.9999\",\"ts\":\"1000-06-15T12:00:00Z\",\"ntz\":\"1000-06-15T12:00\",\"dt\":\"1582-10-04\",\"bin\":\"//4=\",\"items\":[{\"ln\":3,\"q\":-0.0,\"note\":\"ü\"}]},{\"id\":5,\"i\":0,\"sh\":0,\"by\":0,\"l\":0,\"d\":0.0,\"f\":0.0,\"b\":false,\"s\":\"Zeta \\\"quoted\\\" \\\\ line\\nbreak\\ttab\",\"dec\":\"0.0100\",\"ts\":\"2001-09-09T01:46:40Z\",\"ntz\":\"2001-09-09T01:46:40\",\"dt\":\"1970-01-01\",\"bin\":\"Cg==\",\"items\":null},{\"id\":6,\"i\":-2147483648,\"sh\":-32768,\"by\":-128,\"l\":-9223372036854775808,\"d\":1.0E300,\"f\":3.4028235E38,\"b\":null,\"s\":\"￿\",\"dec\":\"-99999999.9999\",\"ts\":\"2262-04-11T23:47:16.854775Z\",\"ntz\":\"9999-12-31T23:59:59.999999\",\"dt\":\"9999-12-31\",\"bin\":null,\"items\":[{\"ln\":4,\"q\":\"NaN\",\"note\":\"\"}]}]}")
    assert(normalized(s"%24applyaggs=$applyAggs") ==
      "{\"@graft.generation\":G,\"value\":[{\"agg_0\":8,\"agg_1\":-2147483648,\"agg_2\":2147483647,\"agg_3\":-32768,\"agg_4\":32767,\"agg_5\":-128,\"agg_6\":127,\"agg_7\":-9223372036854775808,\"agg_8\":9223372036854775807,\"agg_9\":-0.0,\"agg_10\":\"NaN\",\"agg_11\":-1.5,\"agg_12\":\"NaN\",\"agg_13\":false,\"agg_14\":true,\"agg_15\":\"\",\"agg_16\":\"\\uD83D\\uDE00 non-BMP \\uD834\\uDD1E\",\"agg_17\":\"-99999999.9999\",\"agg_18\":\"99999999.9999\",\"agg_19\":\"0001-01-01T00:00:00Z\",\"agg_20\":\"2262-04-11T23:47:16.854775Z\",\"agg_21\":\"0001-01-01T00:00\",\"agg_22\":\"9999-12-31T23:59:59.999999\",\"agg_23\":\"0001-01-01\",\"agg_24\":\"9999-12-31\",\"agg_25\":-5,\"agg_26\":-5,\"agg_27\":-5,\"agg_28\":18014398509481981,\"agg_29\":\"NaN\"}]}")
    assert(normalized(s"%24applyaggs=$applyAggs&%24filter=${ODataHttpServer.enc("i ge 0")}") ==
      "{\"@graft.generation\":G,\"value\":[{\"agg_0\":4,\"agg_1\":0,\"agg_2\":2147483647,\"agg_3\":0,\"agg_4\":32767,\"agg_5\":0,\"agg_6\":127,\"agg_7\":0,\"agg_8\":9223372036854775807,\"agg_9\":0.0,\"agg_10\":\"NaN\",\"agg_11\":0.0,\"agg_12\":\"NaN\",\"agg_13\":false,\"agg_14\":true,\"agg_15\":\"\",\"agg_16\":\"alpha\",\"agg_17\":\"0.0100\",\"agg_18\":\"99999999.9999\",\"agg_19\":\"1000-06-15T12:00:00Z\",\"agg_20\":\"2024-03-01T10:30:00.123456Z\",\"agg_21\":\"1000-06-15T12:00\",\"agg_22\":\"2024-03-01T10:30:00.654321\",\"agg_23\":\"1582-10-04\",\"agg_24\":\"2024-02-29\",\"agg_25\":2147483651,\"agg_26\":32771,\"agg_27\":131,\"agg_28\":-9205357638345293824,\"agg_29\":\"NaN\"}]}")
  }

  test("every pushed filter keeps, drops or refuses each row as pinned") {
    registered
    val want = Seq(
      "y n n n n n n n",
      "n n n y n n n n",
      "y n n y n n y n",
      "n n y n y y n n",
      "n n n n n n n y",
      "y n y n y n y n",
      "n n n n y n n n",
      "n n y n n n n n",
      "y n n y n y y y",
      "n n n y n n n y",
      "n n y n n n n n",
      "y n y n y y n y",
      "y n n y n n y n",
      "n n y n y y n y",
      "y n n y n y y n",
      "n n y n n n n n",
      "y n n n n n y n",
      "y n n y n n y n",
      "n n y n y y n y",
      "n n n y n n y n",
      "y n y !NumberFormatException y n y !NumberFormatException",
      "y n n n n n y n",
      "n n y n n y n n",
      "y n n y y n y y",
      "n n n y n n n n",
      "y n y n y y y y",
      "y n n y n n y n",
      "y n n y n n y n",
      "y n n n y y y n",
      "n n y y n n n y",
      "y n n n n n y n",
      "y n n n n y y n",
      "y n y y y n y y",
      "n n n y n n n y",
      "y n n n y y y n",
      "n n y y n n n y",
      "y n n n n n y n",
      "y n n n n y y n",
      "y n y y y y y y",
      "y n y y y y y y",
      "y n n y n n n n",
      "y n n n n y y n",
      "n n y n n n n y",
      "n n y n n n n n",
      "n n n y n n n n",
      "y n y y y y y y",
      "y n y y n y y y",
      "!RuntimeException n !RuntimeException !RuntimeException !RuntimeException !RuntimeException !RuntimeException !RuntimeException",
      "!RuntimeException n !RuntimeException !RuntimeException !RuntimeException !RuntimeException !RuntimeException !RuntimeException",
      "!RuntimeException n !RuntimeException !RuntimeException !RuntimeException !RuntimeException !RuntimeException !RuntimeException")
    assert(want.size == filters.size)
    filters.zip(want).foreach { case (f, w) => assert(verdicts(f) == w, f) }
  }

  test("wire $filter terms select the pinned rows") {
    registered
    val want = Seq(
      Seq(1, 4, 6, 7, 8),
      Seq(3),
      Seq(1, 4, 6, 7),
      Seq(3, 6, 8),
      Seq(1, 7),
      Seq(1),
      Seq(1, 4, 7),
      Seq(3, 5, 8),
      Seq(1, 3, 6, 7, 8),
      Seq(4, 5),
      Seq(1, 3, 5, 6, 7, 8),
      Seq(1, 4, 5, 7, 8),
      Seq(1, 5, 6, 7),
      Seq(4, 8),
      Seq(3, 4, 8),
      Seq(1, 5, 6, 7),
      Seq(3, 4, 8),
      Seq(1, 3, 4, 6, 7, 8),
      Seq(1, 3, 5, 7))
    assert(want.size == wireFilters.size)
    wireFilters.zip(want).foreach { case (f, w) =>
      assert(wireIds(s"%24filter=${ODataHttpServer.enc(f)}") == w, f)
    }
  }

  test("$orderby orders every comparable column both ways, nulls first and last") {
    registered
    val want = Map(
      ("i", true, true) -> Seq(2, 6, 3, 8, 5, 1, 7, 4),
      ("i", true, false) -> Seq(6, 3, 8, 5, 1, 7, 4, 2),
      ("i", false, true) -> Seq(2, 4, 7, 1, 5, 8, 3, 6),
      ("i", false, false) -> Seq(4, 7, 1, 5, 8, 3, 6, 2),
      ("sh", true, true) -> Seq(2, 6, 3, 8, 5, 1, 7, 4),
      ("sh", true, false) -> Seq(6, 3, 8, 5, 1, 7, 4, 2),
      ("sh", false, true) -> Seq(2, 4, 7, 1, 5, 8, 3, 6),
      ("sh", false, false) -> Seq(4, 7, 1, 5, 8, 3, 6, 2),
      ("by", true, true) -> Seq(2, 6, 3, 8, 5, 1, 7, 4),
      ("by", true, false) -> Seq(6, 3, 8, 5, 1, 7, 4, 2),
      ("by", false, true) -> Seq(2, 4, 7, 1, 5, 8, 3, 6),
      ("by", false, false) -> Seq(4, 7, 1, 5, 8, 3, 6, 2),
      ("l", true, true) -> Seq(2, 6, 3, 5, 8, 4, 1, 7),
      ("l", true, false) -> Seq(6, 3, 5, 8, 4, 1, 7, 2),
      ("l", false, true) -> Seq(2, 7, 1, 4, 8, 5, 3, 6),
      ("l", false, false) -> Seq(7, 1, 4, 8, 5, 3, 6, 2),
      ("d", true, true) -> Seq(2, 3, 5, 1, 7, 6, 4, 8),
      ("d", true, false) -> Seq(3, 5, 1, 7, 6, 4, 8, 2),
      ("d", false, true) -> Seq(2, 4, 8, 6, 1, 7, 5, 3),
      ("d", false, false) -> Seq(4, 8, 6, 1, 7, 5, 3, 2),
      ("f", true, true) -> Seq(2, 8, 3, 5, 1, 7, 6, 4),
      ("f", true, false) -> Seq(8, 3, 5, 1, 7, 6, 4, 2),
      ("f", false, true) -> Seq(2, 4, 6, 1, 7, 5, 3, 8),
      ("f", false, false) -> Seq(4, 6, 1, 7, 5, 3, 8, 2),
      ("b", true, true) -> Seq(2, 6, 3, 5, 8, 1, 4, 7),
      ("b", true, false) -> Seq(3, 5, 8, 1, 4, 7, 2, 6),
      ("b", false, true) -> Seq(2, 6, 1, 4, 7, 3, 5, 8),
      ("b", false, false) -> Seq(1, 4, 7, 3, 5, 8, 2, 6),
      ("s", true, true) -> Seq(2, 4, 5, 1, 7, 8, 6, 3),
      ("s", true, false) -> Seq(4, 5, 1, 7, 8, 6, 3, 2),
      ("s", false, true) -> Seq(2, 3, 6, 1, 7, 8, 5, 4),
      ("s", false, false) -> Seq(3, 6, 1, 7, 8, 5, 4, 2),
      ("dec", true, true) -> Seq(2, 6, 3, 8, 5, 1, 7, 4),
      ("dec", true, false) -> Seq(6, 3, 8, 5, 1, 7, 4, 2),
      ("dec", false, true) -> Seq(2, 4, 1, 7, 5, 8, 3, 6),
      ("dec", false, false) -> Seq(4, 1, 7, 5, 8, 3, 6, 2),
      ("ts", true, true) -> Seq(2, 8, 4, 3, 5, 1, 7, 6),
      ("ts", true, false) -> Seq(8, 4, 3, 5, 1, 7, 6, 2),
      ("ts", false, true) -> Seq(2, 6, 1, 7, 5, 3, 4, 8),
      ("ts", false, false) -> Seq(6, 1, 7, 5, 3, 4, 8, 2),
      ("ntz", true, true) -> Seq(2, 8, 4, 3, 5, 1, 7, 6),
      ("ntz", true, false) -> Seq(8, 4, 3, 5, 1, 7, 6, 2),
      ("ntz", false, true) -> Seq(2, 6, 1, 7, 5, 3, 4, 8),
      ("ntz", false, false) -> Seq(6, 1, 7, 5, 3, 4, 8, 2),
      ("dt", true, true) -> Seq(2, 8, 3, 4, 5, 1, 7, 6),
      ("dt", true, false) -> Seq(8, 3, 4, 5, 1, 7, 6, 2),
      ("dt", false, true) -> Seq(2, 6, 1, 7, 5, 4, 3, 8),
      ("dt", false, false) -> Seq(6, 1, 7, 5, 4, 3, 8, 2))
    for (c <- sortCols; asc <- Seq(true, false); nf <- Seq(true, false))
      assert(wireIds(s"%24orderby=${orderQuery(c, asc, nf)}") == want((c, asc, nf)), (c, asc, nf))
  }

  test("grouped $apply answers the pinned row sets") {
    registered
    val want = Seq(
      Set("{\"b\":false,\"agg_0\":3,\"agg_1\":-0.0,\"agg_2\":\"😀 non-BMP 𝄞\",\"agg_3\":-8}", "{\"b\":null,\"agg_0\":2,\"agg_1\":1.0E300,\"agg_2\":\"￿\",\"agg_3\":-2147483648}", "{\"b\":true,\"agg_0\":3,\"agg_1\":1.5,\"agg_2\":\"alpha\",\"agg_3\":2147483651}"),
      Set("{\"d\":\"NaN\",\"agg_0\":2,\"agg_1\":9007199254740994}", "{\"d\":0.0,\"agg_0\":2,\"agg_1\":-5}", "{\"d\":1.0E300,\"agg_0\":1,\"agg_1\":-9223372036854775808}", "{\"d\":1.5,\"agg_0\":2,\"agg_1\":-9214364837600034816}", "{\"d\":null,\"agg_0\":1,\"agg_1\":null}"),
      Set("{\"s\":\"\",\"dec\":\"99999999.9999\",\"agg_0\":1,\"agg_1\":\"1000-06-15T12:00:00Z\"}", "{\"s\":\"Zeta \\\"quoted\\\" \\\\ line\\nbreak\\ttab\",\"dec\":\"0.0100\",\"agg_0\":1,\"agg_1\":\"2001-09-09T01:46:40Z\"}", "{\"s\":\"alpha\",\"dec\":\"0.0000\",\"agg_0\":1,\"agg_1\":\"0001-01-01T00:00:00Z\"}", "{\"s\":\"alpha\",\"dec\":\"10.5000\",\"agg_0\":2,\"agg_1\":\"2024-03-01T10:30:00.123456Z\"}", "{\"s\":\"😀 non-BMP 𝄞\",\"dec\":\"-3.1000\",\"agg_0\":1,\"agg_1\":\"1969-12-31T23:59:59.999999Z\"}", "{\"s\":\"￿\",\"dec\":\"-99999999.9999\",\"agg_0\":1,\"agg_1\":\"2262-04-11T23:47:16.854775Z\"}", "{\"s\":null,\"dec\":null,\"agg_0\":1,\"agg_1\":null}"),
      Set("{\"ntz\":\"0001-01-01T00:00\",\"dt\":\"0001-01-01\"}", "{\"ntz\":\"1000-06-15T12:00\",\"dt\":\"1582-10-04\"}", "{\"ntz\":\"1900-01-01T00:00\",\"dt\":\"1200-03-01\"}", "{\"ntz\":\"2001-09-09T01:46:40\",\"dt\":\"1970-01-01\"}", "{\"ntz\":\"2024-03-01T10:30:00.654321\",\"dt\":\"2024-02-29\"}", "{\"ntz\":\"9999-12-31T23:59:59.999999\",\"dt\":\"9999-12-31\"}", "{\"ntz\":null,\"dt\":null}"),
      Set("{\"f\":\"NaN\",\"agg_0\":1}", "{\"f\":0.0,\"agg_0\":2}", "{\"f\":-1.5,\"agg_0\":1}", "{\"f\":1.5,\"agg_0\":2}", "{\"f\":3.4028235E38,\"agg_0\":1}"))
    groupedQueries.zip(want).foreach { case (q, w) => assert(rowSet(q) == w, q) }
  }

  test("a pushed groupBy over DOUBLE and FLOAT keys answers what Spark's own groupBy does") {
    registered
    for (key <- Seq("d", "f")) {
      def grouped(df: DataFrame) = df.groupBy(key)
        .agg(count(lit(1)).as("n"), sum("i").as("si"), sum("d").as("sd"))
      val pushed = grouped(load())
      val plan = pushed.queryExecution.executedPlan.toString
      assert(plan.contains("ODataHttpAggScan") && !plan.contains("HashAggregate"), plan)
      assert(pushed.collect().map(_.mkString("|")).sorted.toSeq ==
        grouped(frame()).collect().map(_.mkString("|")).sorted.toSeq, key)
    }
  }

  test("a sum over a FLOAT or DECIMAL column is refused with 400") {
    registered
    for (c <- Seq("f", "dec")) {
      val e = intercept[RuntimeException](body(s"%24applyaggs=${ODataHttpServer.enc(s"sum:$c")}"))
      assert(e.getMessage.contains("HTTP 400"), e.getMessage)
    }
  }

  test("$skip applies after $filter and $orderby, before $top and the page window") {
    registered
    import ODataHttpServer.enc
    assert(wireIds(s"%24filter=${enc("i ge 0")}&%24skip=2") == Seq(5, 7))
    assert(wireIds(s"%24orderby=${orderQuery("i", asc = true, nullsFirst = false)}" +
      "&%24skip=2&%24top=3") == Seq(8, 5, 1))
    assert(wireIds(s"%24filter=${enc("i ge 0")}" +
      s"&%24orderby=${orderQuery("i", asc = false, nullsFirst = false)}&%24skip=1") == Seq(7, 1, 5))
    // server-driven paging walks the rows past $skip
    assert(body("%24select=id&%24skip=1&%24pagesize=3") ==
      "{\"@graft.rowcount\":8,\"value\":[{\"id\":2},{\"id\":3},{\"id\":4}]," +
      "\"@odata.nextLink\":\"ENDPOINT/typed_wire?%24select=id&%24skip=1&%24pagesize=3&%24skiptoken=3\"}")
    assert(body("%24select=id&%24skip=1&%24pagesize=3&%24skiptoken=6") ==
      "{\"@graft.rowcount\":8,\"value\":[{\"id\":8}]}")
  }

  test("every type decodes back to the registered value, through a scan and through $batch") {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import graft.sources.ODataBatchClient
    registered
    // internal values, class-tagged: -0.0, NaN, a decimal's scale, micros
    // and days are told apart where external equality would merge them
    def canon(dt: DataType, v: Any): String = (dt, v) match {
      case (_, null) => "null"
      case (st: StructType, r: InternalRow) =>
        st.fields.indices.map(i => canon(st(i).dataType, r.get(i, st(i).dataType)))
          .mkString("{", ",", "}")
      case (ArrayType(et, _), a: ArrayData) =>
        a.toSeq[Any](et).map(canon(et, _)).mkString("[", ",", "]")
      case (_, b: Array[Byte]) => b.map(x => f"$x%02x").mkString("0x", "", "")
      case (_, x) => s"${x.getClass.getSimpleName}:$x"
    }
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    def rowsOf(rs: Seq[Row]): Seq[String] = rs.map(r => canon(schema, toCatalyst(r)))
    val want = rowsOf(frame().collect().toSeq)
    assert(want.size == rows.size)
    assert(rowsOf(load().collect().toSeq) == want)
    val resp = ODataBatchClient.pull(ODataHttpServer.endpoint, ODataHttpServer.user,
      ODataHttpServer.pass, Seq(ODataBatchClient.SubRequest("t", entity)))
    assert(rowsOf(ODataBatchClient.rows(schema, resp("t"))) == want)
  }

  test("a TIMESTAMP before 1582 goes out as the stored instant and round-trips a pushed filter") {
    registered
    // a plain HTTP GET, as any OData client makes it
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(
      s"${ODataHttpServer.endpoint}/$entity?%24select=id,ts&%24filter=" +
        ODataHttpServer.enc("ts lt datetime'1582-10-15T00:00:00Z'")))
      .header("Authorization", "Basic " + java.util.Base64.getEncoder.encodeToString(
        s"${ODataHttpServer.user}:${ODataHttpServer.pass}".getBytes(UTF_8))).build()
    val raw = java.net.http.HttpClient.newHttpClient()
      .send(req, java.net.http.HttpResponse.BodyHandlers.ofString()).body()
    assert(raw == "{\"@graft.rowcount\":8,\"value\":[" +
      "{\"id\":4,\"ts\":\"1000-06-15T12:00:00Z\"},{\"id\":8,\"ts\":\"0001-01-01T00:00:00Z\"}]}")
    // the connector: every stored instant reads back, and a pushed literal
    // before 1582 selects the row that holds it
    assert(load().select("id", "ts").collect().toSeq == frame().select("id", "ts").collect().toSeq)
    ODataHttpServer.requestLog.clear()
    val hit = load().filter(col("ts") === lit(java.time.Instant.parse("1000-06-15T12:00:00Z")))
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(hit == Seq(4L))
    import scala.jdk.CollectionConverters._
    val served = ODataHttpServer.requestLog.asScala.toList
    assert(served.exists(_.contains(ODataHttpServer.enc("ts eq datetime'1000-06-15T12:00:00Z'"))),
      served.mkString("\n"))
  }
}
