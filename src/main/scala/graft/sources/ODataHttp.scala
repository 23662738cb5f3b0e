package graft.sources

import java.net.{InetSocketAddress, URLDecoder, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import com.fasterxml.jackson.core.{JsonEncoding, JsonGenerator}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.Row
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, SpecializedGetters}
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.types.EdmTypes

/** The OData connector, over HTTP — the reference's one transport
  * (HTTPS GETs with basic auth and OData query options,
  * resources/priorityDataSource.py:246-256,639-746), in pure-JDK machinery:
  *
  *   - [[ODataHttpServer]]: an actual `com.sun.net.httpserver.HttpServer`
  *     bound to 127.0.0.1 on an ephemeral port, fronting the
  *     [[ODataTestServer]] entity registry. Speaks OData-shaped JSON:
  *     `value` row arrays, `@odata.nextLink` continuation with
  *     `$skiptoken`, basic-auth 401 challenges, `$select/$filter/$orderby/
  *     $skip/$top/$apply` query options parsed server-side from the URL,
  *     and 4xx for requests it refuses.
  *   - [[ODataHttpSource]]: the DataSource V2 provider. Catalyst pushdowns
  *     (`$filter`, `$select`, `$top`, complete top-N, complete `$apply`
  *     aggregates) become query options; scan planning does an HTTP
  *     preflight (page count + registry generation) and readers fetch
  *     their page with `java.net.http.HttpClient` — EXECUTOR-side, over a
  *     real TCP socket, with auth headers — and decode its JSON straight
  *     into Catalyst rows ([[ODataJson.readRow]], the mirror of the
  *     server's `writeRow`). The same provider is a Structured Streaming
  *     source (row-cursor offsets, `$skip/$top`).
  *
  * What stays simulated: the dataset behind the server (a demo tenant in
  * this JVM's memory). The schema channel is the real contract
  * end-to-end: `GET $metadata` serves EDMX (entity Properties + Key refs +
  * NavigationProperty subforms), and [[ODataHttpSource.inferSchema]] walks
  * that wire document with [[graft.schema.MetadataXml]] — the reference's
  * discovery loop (priorityDataSource.py:347-458) over an actual socket.
  * The document carries the registry's schema version as its ETag, and a
  * schema the connector read before is revalidated with a body-less 304.
  */
object ODataJson {

  /** One row as a JSON object, schema-driven, in OData v4 literal shapes:
    * ISO-8601 timestamps, decimals as strings to keep exactness, binary as
    * base64. A timestamp prints the proleptic-Gregorian instant of
    * Spark's internal micros, the instant any OData client reads; a date
    * prints its own year-month-day. */
  def writeRow(gen: JsonGenerator, schema: StructType, row: InternalRow): Unit = {
    gen.writeStartObject()
    var i = 0
    while (i < schema.length) {
      val f = schema(i)
      gen.writeFieldName(f.name)
      writeValue(gen, f.dataType, row, i)
      i += 1
    }
    gen.writeEndObject()
  }

  private def writeValue(gen: JsonGenerator, dt: DataType,
      v: SpecializedGetters, i: Int): Unit =
    if (v.isNullAt(i)) gen.writeNull()
    else dt match {
      case LongType => gen.writeNumber(v.getLong(i))
      case IntegerType => gen.writeNumber(v.getInt(i))
      case ShortType => gen.writeNumber(v.getShort(i).toInt)
      case ByteType => gen.writeNumber(v.getByte(i).toInt)
      case DoubleType => gen.writeNumber(v.getDouble(i))
      case FloatType => gen.writeNumber(v.getFloat(i))
      case BooleanType => gen.writeBoolean(v.getBoolean(i))
      case StringType => gen.writeString(v.getUTF8String(i).toString)
      case d: DecimalType =>
        gen.writeString(v.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toPlainString)
      case TimestampType =>
        gen.writeString(DateTimeUtils.microsToInstant(v.getLong(i)).toString)
      case TimestampNTZType =>
        gen.writeString(DateTimeUtils.microsToLocalDateTime(v.getLong(i)).toString)
      case DateType =>
        gen.writeString(DateTimeUtils.toJavaDate(v.getInt(i)).toLocalDate.toString)
      case BinaryType => gen.writeBinary(v.getBinary(i))
      case ArrayType(et, _) =>
        val a = v.getArray(i)
        gen.writeStartArray()
        var k = 0
        while (k < a.numElements()) { writeValue(gen, et, a, k); k += 1 }
        gen.writeEndArray()
      case st: StructType => writeRow(gen, st, v.getStruct(i, st.length))
      case other => sys.error(s"odata-http serde: unsupported type $other")
    }

  /** One JSON row object as a Catalyst row of `schema`, the inverse of
    * [[writeRow]]: a field the object lacks reads as null. */
  def readRow(schema: StructType, n: JsonNode): InternalRow =
    new GenericInternalRow(schema.fields.map(f => readValue(f.dataType, n.get(f.name))))

  /** JSON → Catalyst value (`UTF8String`, micros, days, `Decimal`,
    * `GenericArrayData`, `GenericInternalRow`). A date reads back through
    * `java.sql.Date`, as [[writeRow]] printed it. */
  private def readValue(dt: DataType, n: JsonNode): Any =
    if (n == null || n.isNull) null
    else dt match {
      case LongType => n.asLong
      case IntegerType => n.asInt
      case ShortType => n.asInt.toShort
      case ByteType => n.asInt.toByte
      case DoubleType => n.asDouble
      // a non-finite float arrives quoted ("NaN"), which `floatValue` reads as 0
      case FloatType => if (n.isTextual) java.lang.Float.parseFloat(n.asText) else n.floatValue
      case BooleanType => n.asBoolean
      case StringType => UTF8String.fromString(n.asText)
      case d: DecimalType => Decimal(new java.math.BigDecimal(n.asText), d.precision, d.scale)
      case TimestampType => DateTimeUtils.instantToMicros(java.time.Instant.parse(n.asText))
      case TimestampNTZType =>
        DateTimeUtils.localDateTimeToMicros(java.time.LocalDateTime.parse(n.asText))
      case DateType =>
        DateTimeUtils.fromJavaDate(java.sql.Date.valueOf(java.time.LocalDate.parse(n.asText)))
      case BinaryType => n.binaryValue
      case ArrayType(et, _) =>
        new GenericArrayData(Array.tabulate[Any](n.size)(k => readValue(et, n.get(k))))
      case st: StructType => readRow(st, n)
      case other => sys.error(s"odata-http serde: unsupported type $other")
    }
}

/** OData `$filter` expression syntax: the CLIENT renders Spark pushed
  * filters into the wire grammar; the SERVER parses the wire grammar back
  * against the entity schema. Conjunctions of binary comparisons plus the
  * `ne null` existence probe — exactly the subset the registry evaluator
  * implements ([[ODataTestServer.supportsFilter]]). */
object ODataFilterSyntax {

  def render(filters: Seq[Filter]): String = filters.map(term).mkString(" and ")

  private def term(f: Filter): String = f match {
    case EqualTo(c, v) => s"$c eq ${lit(v)}"
    case GreaterThan(c, v) => s"$c gt ${lit(v)}"
    case GreaterThanOrEqual(c, v) => s"$c ge ${lit(v)}"
    case LessThan(c, v) => s"$c lt ${lit(v)}"
    case LessThanOrEqual(c, v) => s"$c le ${lit(v)}"
    case IsNotNull(c) => s"$c ne null"
    case other => sys.error(s"odata-http: unrenderable filter $other")
  }

  private def lit(v: Any): String = v match {
    case s: String => "'" + s.replace("'", "''") + "'"
    case s: UTF8String =>
      "'" + s.toString.replace("'", "''") + "'"
    case t: java.sql.Timestamp => s"datetime'${sparkInstant(t)}'"
    case i: java.time.Instant => s"datetime'$i'"
    case d: java.time.LocalDateTime => s"datetime'$d'" // TIMESTAMP_NTZ literal
    case d: java.sql.Date => s"date'${d.toLocalDate}'"
    case d: java.time.LocalDate => s"date'$d'"
    case b: java.lang.Boolean => b.toString
    case d: java.math.BigDecimal => d.toPlainString
    case n: Number => n.toString
    case other => sys.error(s"odata-http: unrenderable literal $other")
  }

  /** The instant Spark means by a java.sql.Timestamp: the proleptic-
    * Gregorian instant of the micros `fromJavaTimestamp` gives it (which
    * undoes the hybrid-calendar rebase of instants before 1582), sub-micro
    * nanos kept. */
  def sparkInstant(t: java.sql.Timestamp): java.time.Instant =
    DateTimeUtils.microsToInstant(DateTimeUtils.fromJavaTimestamp(t))
      .plusNanos(t.getNanos % 1000)

  /** Split on top-level " and " (string literals may contain the word). */
  private def splitConjuncts(s: String): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var inQuote = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') { inQuote = !inQuote; cur += c; i += 1 }
      else if (!inQuote && s.startsWith(" and ", i)) {
        out += cur.toString; cur.clear(); i += 5
      } else { cur += c; i += 1 }
    }
    if (cur.nonEmpty) out += cur.toString
    out.toList
  }

  private val Term = "^(\\w+) (eq|gt|ge|lt|le|ne) (.+)$".r

  def parse(s: String, schema: StructType): Array[Filter] =
    splitConjuncts(s).map {
      case Term(col, "ne", "null") => IsNotNull(col)
      case Term(col, op, rhs) =>
        val v = parseLit(rhs, schema(col).dataType)
        op match {
          case "eq" => EqualTo(col, v)
          case "gt" => GreaterThan(col, v)
          case "ge" => GreaterThanOrEqual(col, v)
          case "lt" => LessThan(col, v)
          case "le" => LessThanOrEqual(col, v)
        }
      case other => sys.error(s"odata-http: bad $$filter term '$other'")
    }.toArray

  /** `$apply` aggregate wire form: "count" | "min:col" | "max:col" |
    * "sum:col", comma-joined (a canonical compaction of OData's
    * `aggregate(col with min as a, ...)` — both ends are ours). */
  def renderAggs(specs: Seq[ODataAgg]): String = specs.map {
    case ODataAgg.CountAll => "count"
    case ODataAgg.MinOf(c) => s"min:$c"
    case ODataAgg.MaxOf(c) => s"max:$c"
    case ODataAgg.SumOf(c) => s"sum:$c"
  }.mkString(",")

  /** An empty spec list is legal: a zero-aggregate groupby is how Spark
    * pushes DISTINCT-on-group-keys (e.g. count() over a grouped result). */
  def parseAggs(s: String): Seq[ODataAgg] =
    s.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map {
      case "count" => ODataAgg.CountAll
      case spec if spec.startsWith("min:") => ODataAgg.MinOf(spec.drop(4))
      case spec if spec.startsWith("max:") => ODataAgg.MaxOf(spec.drop(4))
      case spec if spec.startsWith("sum:") => ODataAgg.SumOf(spec.drop(4))
      case other => sys.error(s"odata-http: bad aggregate spec '$other'")
    }

  /** Result schema of a pushed aggregate: group keys first, aggregates
    * after — the contract both the server's serialization and the
    * client's parse share (`ODataHttpAggScan.readSchema`). */
  def aggSchema(full: StructType, specs: Seq[ODataAgg],
      groupCols: Seq[String]): StructType = StructType(
    groupCols.map(c => full(c)) ++ specs.zipWithIndex.map {
      case (ODataAgg.CountAll, i) => StructField(s"agg_$i", LongType, nullable = false)
      case (ODataAgg.MinOf(c), i) => StructField(s"agg_$i", full(c).dataType)
      case (ODataAgg.MaxOf(c), i) => StructField(s"agg_$i", full(c).dataType)
      case (ODataAgg.SumOf(c), i) => StructField(s"agg_$i",
        sumType(full(c).dataType).getOrElse(
          sys.error(s"sum over ${full(c).dataType.simpleString} column '$c'")))
    })

  /** The type a pushed `sum` adds in and answers: Long machine addition
    * over integral columns, Double over DOUBLE. Any other sum (FLOAT and
    * DECIMAL among them, which Spark widens) is refused. */
  def sumType(dt: DataType): Option[DataType] = dt match {
    case LongType | IntegerType | ShortType | ByteType => Some(LongType)
    case DoubleType => Some(DoubleType)
    case _ => None
  }

  /** `$orderby` wire form: "col asc|desc nullsfirst|nullslast" keys,
    * comma-joined — null placement is explicit so the service's sort is
    * bit-identical to the Spark sort it replaces. */
  def renderOrderBy(keys: Seq[ODataSortKey]): String =
    keys.map(k => s"${k.col} ${if (k.asc) "asc" else "desc"} " +
      (if (k.nullsFirst) "nullsfirst" else "nullslast")).mkString(",")

  def parseOrderBy(s: String): Seq[ODataSortKey] =
    s.split(',').toSeq.map { k =>
      k.trim.split(' ') match {
        case Array(col, dir, nulls) =>
          ODataSortKey(col, dir == "asc", nulls == "nullsfirst")
        case other => sys.error(s"odata-http: bad $$orderby key '$k'")
      }
    }

  private def parseLit(s: String, dt: DataType): Any = dt match {
    case StringType =>
      require(s.length >= 2 && s.head == '\'' && s.last == '\'', s)
      s.substring(1, s.length - 1).replace("''", "'")
    case TimestampType =>
      require(s.startsWith("datetime'") && s.endsWith("'"), s)
      java.time.Instant.parse(s.substring(9, s.length - 1))
    case TimestampNTZType =>
      require(s.startsWith("datetime'") && s.endsWith("'"), s)
      java.time.LocalDateTime.parse(s.substring(9, s.length - 1))
    case DateType =>
      require(s.startsWith("date'") && s.endsWith("'"), s)
      java.sql.Date.valueOf(java.time.LocalDate.parse(s.substring(5, s.length - 1)))
    case LongType => java.lang.Long.valueOf(s)
    case IntegerType => java.lang.Integer.valueOf(s)
    case ShortType => java.lang.Short.valueOf(s)
    case ByteType => java.lang.Byte.valueOf(s)
    case DoubleType => java.lang.Double.valueOf(s)
    case FloatType => java.lang.Float.valueOf(s)
    case BooleanType => java.lang.Boolean.valueOf(s)
    case _: DecimalType => new java.math.BigDecimal(s)
    case other => sys.error(s"odata-http: unfilterable type $other")
  }
}

/** The tenant's OData endpoint as an ACTUAL localhost HTTP service in
  * front of the [[ODataTestServer]] registry and query evaluator: every
  * page crosses a real TCP socket with basic auth, URL-encoded OData query
  * options, JSON bodies, and `@odata.nextLink` continuation. A request it
  * refuses is answered 4xx (404 unknown entity, 400 bad query option, 409
  * page of a re-registered entity); only its own failures are 500. One
  * instance per JVM on an ephemeral port (no fixed-port collisions across
  * concurrently-forked test/bench JVMs). */
object ODataHttpServer {

  val user = "apiuser"
  val pass = "demo-secret"

  private val mapper = new ObjectMapper()

  /** Recent served request lines, oldest first — test observability.
    * Capped so a long bench JVM (hundreds of paged scans) doesn't grow
    * the log without bound. */
  val requestLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val MaxLog = 10000
  // CLQ.size() is an O(n) traversal — track the count separately so the
  // cap costs O(1) per request
  private val logSize = new java.util.concurrent.atomic.AtomicInteger()
  private def logRequest(line: String): Unit = {
    requestLog.add(line)
    if (logSize.incrementAndGet() > MaxLog && requestLog.poll() != null)
      logSize.decrementAndGet()
  }

  private lazy val running: HttpServer = {
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/odata", handle _)
    // EVERY server thread must be daemon, or a `runMain` JVM never exits:
    // sbt's forked run waits for natural JVM death (unlike test forks,
    // which System.exit), and DestroyJavaVM would wait on these threads
    // forever after main returns
    srv.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"odata-http-${n.incrementAndGet()}")
          t.setDaemon(true); t
        }
      }))
    // HttpServer spawns its dispatcher from the thread calling start() and
    // the new thread INHERITS daemon status — start from a daemon thread
    // so the dispatcher can't pin the JVM either
    val starter = new Thread(() => srv.start(), "odata-http-starter")
    starter.setDaemon(true)
    starter.start()
    starter.join()
    srv
  }

  def endpoint: String =
    s"http://127.0.0.1:${running.getAddress.getPort}/odata"

  /** Reader options that point [[ODataHttpSource]] at this in-JVM tenant:
    * endpoint and credentials. Callers add `entity` and `pageSize`. */
  def tenantOptions: Map[String, String] =
    Map("endpoint" -> endpoint, "user" -> user, "pass" -> pass)

  /** The most bytes one write hands the exchange's stream. JDK 17's
    * `sun.net.httpserver` grows a connection's write buffer to twice the
    * largest single write and keeps it while the connection idles in
    * keep-alive, and NIO caches a per-thread direct buffer as large as the
    * largest write: one whole-body write would pin twice the largest
    * response per idle connection. */
  private[graft] val WriteWindow = 64 * 1024

  /** `body` to `os` in slices of at most [[WriteWindow]] bytes. */
  private[graft] def writeWindowed(os: java.io.OutputStream, body: Array[Byte]): Unit = {
    var off = 0
    while (off < body.length) {
      val n = math.min(WriteWindow, body.length - off)
      os.write(body, off, n)
      off += n
    }
  }

  private def respond(x: HttpExchange, code: Int, body: Array[Byte],
      headers: (String, String)*): Unit = {
    headers.foreach { case (k, v) => x.getResponseHeaders.set(k, v) }
    // a 304 carries no body: length -1 tells the exchange so
    x.sendResponseHeaders(code, if (code == 304) -1 else body.length)
    val os = x.getResponseBody
    try writeWindowed(os, body) finally os.close()
  }

  private def authorized(x: HttpExchange): Boolean = {
    val expect = "Basic " + Base64.getEncoder
      .encodeToString(s"$user:$pass".getBytes(UTF_8))
    Option(x.getRequestHeaders.getFirst("Authorization")).contains(expect)
  }

  private def parseQuery(raw: String): Map[String, String] =
    raw.split('&')
      .filter(_.nonEmpty)
      .map { kv =>
        kv.indexOf('=') match {
          // a value-less token ("?$preflight") is a presence flag keyed by
          // its own name, not an empty-string key
          case -1 => URLDecoder.decode(kv, UTF_8) -> ""
          case i => URLDecoder.decode(kv.take(i), UTF_8) ->
            URLDecoder.decode(kv.drop(i + 1), UTF_8)
        }
      }.toMap

  private def queryParams(x: HttpExchange): Map[String, String] =
    parseQuery(Option(x.getRequestURI.getRawQuery).getOrElse(""))

  /** Fault injection for specs: the next N authorized requests are
    * answered 503 before any handling — drives the reader's
    * transient-retry path over a real socket. */
  @volatile var failNext: Int = 0

  private def handle(x: HttpExchange): Unit =
    try {
      logRequest(s"${x.getRequestMethod} ${x.getRequestURI}")
      if (!authorized(x)) {
        respond(x, 401, """{"error":"unauthorized"}""".getBytes(UTF_8),
          "WWW-Authenticate" -> "Basic realm=\"odata\"")
        return
      }
      if (failNext > 0) synchronized {
        if (failNext > 0) {
          failNext -= 1
          respond(x, 503, """{"error":"injected transient failure"}""".getBytes(UTF_8),
            "Content-Type" -> "application/json")
          return
        }
      }
      // path: /odata/$metadata (the ONLY schema channel — EDMX, exactly
      // like a real Priority endpoint) or /odata/<entity>
      val parts = x.getRequestURI.getPath.stripPrefix("/odata/").split('/')
      val entity = parts(0)
      if (entity == "$metadata") {
        // conditional GET: a client holding the current registry's document
        // revalidates with a body-less 304 and nothing is rendered. The
        // version is read BEFORE rendering, so a registration racing the
        // render can only make the tag older than the document.
        val etag = s""""${ODataTestServer.schemaVersion}""""
        if (Option(x.getRequestHeaders.getFirst("If-None-Match")).contains(etag))
          respond(x, 304, Array.emptyByteArray, "ETag" -> etag)
        else
          respond(x, 200, renderMetadataEdmx().getBytes(UTF_8),
            "Content-Type" -> "application/xml", "ETag" -> etag)
        return
      }
      // OData v4.01 JSON batch (POST /odata/$batch): N sub-requests, ONE
      // round-trip — the protocol's multi-entity transfer reducer the
      // reference never uses (it issues one GET per entity,
      // priorityDataSource.py:639-746). Each sub-request is the same
      // entity-serving path as a standalone GET, so every query option
      // ($select/$filter/$top/$orderby/$applyaggs) composes inside a
      // batch; failures are per-sub-request (status in the response
      // envelope), never the whole batch.
      if (entity == "$batch") {
        if (x.getRequestMethod != "POST")
          throw new ODataRequestError(405, "odata-http: $batch is POST-only")
        val req = mapper.readTree(x.getRequestBody)
        val out = mapper.createObjectNode()
        val arr = out.putArray("responses")
        req.get("requests").forEach { r =>
          val node = arr.addObject()
          node.put("id", r.get("id").asText())
          try {
            val m = r.get("method").asText()
            require(m == "GET", s"odata-http: $$batch supports GET only, got $m")
            val url = r.get("url").asText()
            val qi = url.indexOf('?')
            val ent = if (qi < 0) url else url.take(qi)
            val rawQ = if (qi < 0) "" else url.drop(qi + 1)
            logRequest(s"BATCH GET /odata/$url")
            node.put("status", 200)
            node.set[ObjectNode]("body",
              mapper.readTree(serveEntity(ent, parseQuery(rawQ), rawQ)))
          } catch {
            case e: Throwable =>
              node.put("status", statusOf(e))
              node.set[ObjectNode]("body", mapper.createObjectNode()
                .put("error", String.valueOf(e.getMessage)))
          }
        }
        respond(x, 200, mapper.writeValueAsBytes(out),
          "Content-Type" -> "application/json")
        return
      }
      respond(x, 200,
        serveEntity(entity, queryParams(x),
          Option(x.getRequestURI.getRawQuery).getOrElse("")),
        "Content-Type" -> "application/json")
    } catch {
      case e: Throwable =>
        // if the failure struck AFTER sendResponseHeaders committed the
        // response, this second send throws — swallow it so the original
        // error still lands in the request log instead of being replaced
        // by an IllegalStateException and a dropped connection
        logRequest(s"ERROR ${x.getRequestURI}: ${String.valueOf(e.getMessage)}")
        try respond(x, statusOf(e),
          mapper.writeValueAsBytes(
            mapper.createObjectNode().put("error", String.valueOf(e.getMessage))),
          "Content-Type" -> "application/json")
        catch { case _: Throwable => () }
    }

  /** A refused request keeps its own status; anything else is the
    * server's failure (500, which the client retries as transient). */
  private def statusOf(e: Throwable): Int = e match {
    case r: ODataRequestError => r.status
    case _ => 500
  }

  /** Parse a client-supplied query part; a failure is the client's (400). */
  private def bad[T](what: String)(parse: => T): T =
    try parse catch {
      case scala.util.control.NonFatal(e) =>
        throw new ODataRequestError(400, s"odata-http: bad $what: ${e.getMessage}")
    }

  /** Serve one entity request (shared by the GET path and `$batch`
    * sub-requests): returns the JSON body bytes, throws on bad input. */
  private def serveEntity(entity: String, p: Map[String, String],
      rawQuery: String): Array[Byte] = {
      def opt[T](name: String)(parse: String => T): Option[T] =
        p.get(name).map(v => bad(s"$name '$v'")(parse(v)))
      // a page planned against an older registration is refused (409)
      // before any option is resolved against the new schema
      val planned = opt("$generation")(_.toLong)
      planned.foreach(ODataTestServer.requireGeneration(entity, _))
      val full = ODataTestServer.schemaOf(entity)
      val filters = opt("$filter")(ODataFilterSyntax.parse(_, full))
        .getOrElse(Array.empty[Filter])
      // pushed aggregation: the service computes the whole aggregate and
      // answers |groups| rows (group keys first, aggregates after)
      if (p.contains("$applyaggs")) {
        val specs = opt("$applyaggs")(ODataFilterSyntax.parseAggs).get
        val groups = opt("$applygroups")(_.split(',').toSeq.filter(_.nonEmpty))
          .getOrElse(Seq.empty)
        val schema = bad("$apply")(ODataFilterSyntax.aggSchema(full, specs, groups))
        val gen = ODataTestServer.generationOf(entity)
        return jsonBody { body =>
          body.writeNumberField("@graft.generation", gen)
          if (!p.contains("$preflight"))
            writeRows(body, schema,
              ODataTestServer.aggregate(entity, filters, specs, groups).iterator)
        }
      }
      // an EMPTY $select is a pruned-to-zero-columns scan (a bare count():
      // Spark prunes every column and only row existence matters)
      val required = opt("$select") {
        case "" => StructType(Seq.empty[StructField])
        case cols => StructType(cols.split(',').map(full(_)))
      }.getOrElse(full)
      val top = opt("$top")(_.toInt)
      val skip = opt("$skip")(v => { require(v.toInt >= 0, "negative"); v.toInt }).getOrElse(0)
      val orderBy = opt("$orderby")(ODataFilterSyntax.parseOrderBy)
        .getOrElse(Seq.empty)
      // a $skip read is a row range (a stream's micro-batch fetch): its
      // whole $top arrives in one body unless $pagesize says otherwise
      val pageSize = opt("$pagesize")(_.toInt).getOrElse(
        if (p.contains("$skip")) top.fold(1000)(math.max(_, 1)) else 1000)
      val skiptoken = opt("$skiptoken") { v =>
        val t = v.toLong
        require(t % pageSize == 0, s"not a page boundary for $$pagesize=$pageSize")
        t
      }.getOrElse(0L)
      val pageNo = (skiptoken / pageSize).toInt
      if (p.contains("$preflight")) {
        // planner path: one O(rows) count to size the scan's partitions
        val (nPages, gen) = ODataTestServer.preflight(entity, filters, top, pageSize, skip)
        jsonBody { body =>
          body.writeNumberField("@graft.generation", gen)
          body.writeNumberField("@graft.pages", nPages)
          body.writeNumberField("@graft.rowcount", ODataTestServer.rowCount(entity))
        }
      } else {
        // page path: serve the page WITHOUT re-counting the entity — the
        // planner already paid the preflight once; a full page implies a
        // nextLink (worst case one trailing empty page on an exact
        // multiple, which returns no link and ends the walk)
        jsonBody { body =>
          body.writeNumberField("@graft.rowcount", ODataTestServer.rowCount(entity))
          val served = writeRows(body, required, ODataTestServer.page(entity, required,
            filters, orderBy, skip, top, pageNo, pageSize, planned))
          val limitExhausted = top.exists(n => (pageNo + 1).toLong * pageSize >= n)
          if (served == pageSize && !limitExhausted) {
            val nextQ = rawQuery.split('&')
              .filter(_.nonEmpty)
              .filterNot(_.startsWith("%24skiptoken="))
              .filterNot(_.startsWith("$skiptoken=")) :+
              s"%24skiptoken=${(pageNo + 1).toLong * pageSize}"
            body.writeStringField("@odata.nextLink",
              s"$endpoint/$entity?${nextQ.mkString("&")}")
          }
        }
      }
  }

  /** A JSON object body whose fields `write` streams out. */
  private def jsonBody(write: JsonGenerator => Unit): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val gen = mapper.createGenerator(out, JsonEncoding.UTF8)
    try {
      gen.writeStartObject()
      write(gen)
      gen.writeEndObject()
    } finally gen.close()
    out.toByteArray
  }

  /** The `value` array of rows; returns how many were written. */
  private def writeRows(gen: JsonGenerator, schema: StructType,
      rows: Iterator[InternalRow]): Int = {
    gen.writeArrayFieldStart("value")
    var n = 0
    rows.foreach { r => ODataJson.writeRow(gen, schema, r); n += 1 }
    gen.writeEndArray()
    n
  }

  /** Property attributes beyond Type: OData v4 Precision/Scale for
    * Edm.Decimal (so the client rebuilds the exact DecimalType) and
    * Nullable="false" (v4 default is nullable). */
  private def propAttrs(f: org.apache.spark.sql.types.StructField): String = {
    val dec = f.dataType match {
      case d: DecimalType => s""" Precision="${d.precision}" Scale="${d.scale}""""
      case _ => ""
    }
    val nullable = if (f.nullable) "" else " Nullable=\"false\""
    dec + nullable
  }

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** `GET /odata/$metadata` — the EDMX document the reference walks to
    * discover entity schemas (priorityDataSource.py:347-458), rendered
    * from every registered entity. Key columns come from the `keyFlag`
    * StructField metadata ([[graft.types.EdmTypes.toStructType]] stamps
    * it); subform array-of-struct columns are omitted (they ride as
    * NavigationProperty/$expand in the row responses, not as scalar
    * properties). [[graft.schema.MetadataXml.parse]] reads this document
    * back — the full O8 discovery loop over a real socket. */
  def renderMetadataEdmx(): String = {
    val sb = new StringBuilder
    sb ++= "<?xml version=\"1.0\" encoding=\"utf-8\"?>\n"
    sb ++= "<edmx:Edmx Version=\"4.0\" xmlns:edmx=\"http://docs.oasis-open.org/odata/ns/edmx\">\n"
    sb ++= "  <edmx:DataServices>\n"
    sb ++= "    <Schema Namespace=\"Priority.OData\" xmlns=\"http://docs.oasis-open.org/odata/ns/edm\">\n"
    def property(f: org.apache.spark.sql.types.StructField, indent: String): Unit =
      sb ++= s"""$indent<Property Name="${xmlEscape(f.name)}" Type="${EdmTypes.edmOf(f.dataType)}"${propAttrs(f)}/>\n"""
    ODataTestServer.registeredEntities.sorted.foreach { name =>
      val schema = ODataTestServer.schemaOf(name)
      val (subforms, scalar) =
        schema.fields.partition(f => ODataTestServer.isSubform(f.dataType))
      val keys = scalar.filter(f =>
        f.metadata.contains("keyFlag") && f.metadata.getBoolean("keyFlag"))
      sb ++= s"""      <EntityType Name="${xmlEscape(name)}">\n"""
      if (keys.nonEmpty) {
        sb ++= "        <Key>"
        keys.foreach(k => sb ++= s"""<PropertyRef Name="${xmlEscape(k.name)}"/>""")
        sb ++= "</Key>\n"
      }
      scalar.foreach(property(_, "        "))
      // nested subform columns ride as NavigationProperty → a dedicated
      // EntityType, the reference's parent-entity/subform-entity split
      // (subform entities are EntityTypes of their own in Priority's
      // $metadata; readme.md names them <NAME>_SUBFORM)
      subforms.foreach { f =>
        sb ++= s"""        <NavigationProperty Name="${xmlEscape(f.name)}" Type="Collection(Priority.OData.${xmlEscape(s"${name}_${f.name}")})"/>\n"""
      }
      sb ++= "      </EntityType>\n"
      subforms.foreach { f =>
        val child = f.dataType.asInstanceOf[ArrayType]
          .elementType.asInstanceOf[StructType]
        sb ++= s"""      <EntityType Name="${xmlEscape(s"${name}_${f.name}")}">\n"""
        child.fields.foreach(property(_, "        "))
        sb ++= "      </EntityType>\n"
      }
    }
    sb ++= "    </Schema>\n  </edmx:DataServices>\n</edmx:Edmx>\n"
    sb.toString
  }

  // ---- client helpers (shared by planner and readers) --------------------

  private lazy val client: HttpClient = HttpClient.newHttpClient()

  /** Bounded page-GET retries on transient failures. The reference
    * isolates a failed entity and carries on (priorityDataSource.py:
    * 185-195); executor-side this engine additionally absorbs transient
    * 5xx / connection resets INSIDE the reader, so a server blip costs one
    * page re-GET after a short backoff instead of a whole Spark task retry
    * (which would re-fetch the page anyway — with scheduler latency and,
    * at default task-retry limits, query death on the 4th blip). 4xx is
    * never retried: an auth, grammar, unknown-entity or stale-generation
    * error is deterministic and must surface immediately. */
  private val MaxAttempts = 3

  def getRaw(url: String, user: String, pass: String): Array[Byte] =
    send(request(url, user, pass).GET().build()).body()

  /** GET that revalidates a copy tagged `etag`: `None` when the server
    * answers 304 Not Modified, else the fresh body with its ETag. */
  def getIfChanged(url: String, user: String, pass: String,
      etag: Option[String]): Option[(Array[Byte], Option[String])] = {
    val req = request(url, user, pass).GET()
    etag.foreach(req.header("If-None-Match", _))
    val resp = send(req.build())
    if (resp.statusCode == 304) None
    else Some((resp.body(), Option(resp.headers().firstValue("ETag").orElse(null))))
  }

  def get(url: String, user: String, pass: String): JsonNode =
    mapper.readTree(getRaw(url, user, pass))

  /** POST with a JSON body and the same retry discipline as [[getRaw]]. */
  def postRaw(url: String, user: String, pass: String,
      payload: Array[Byte]): Array[Byte] =
    send(request(url, user, pass).header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofByteArray(payload)).build()).body()

  private def request(url: String, user: String, pass: String): HttpRequest.Builder =
    HttpRequest.newBuilder(java.net.URI.create(url))
      .header("Authorization", "Basic " + Base64.getEncoder
        .encodeToString(s"$user:$pass".getBytes(UTF_8)))

  /** One request with the retry discipline above. 200 and 304 (an answer
    * to a conditional GET) are results; any other 4xx throws. */
  private def send(req: HttpRequest): HttpResponse[Array[Byte]] = {
    val what = s"odata-http ${req.method} ${req.uri}"
    var attempt = 1
    while (true) {
      val failure: String =
        try {
          val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
          val code = resp.statusCode()
          if (code == 200 || code == 304) return resp
          val detail = s"HTTP $code: " + new String(resp.body(), UTF_8).take(200)
          if (code < 500) sys.error(s"$what -> $detail")
          detail // 5xx: transient until proven otherwise
        } catch {
          case e: java.io.IOException => // connect reset / refused / EOF
            s"${e.getClass.getSimpleName}: ${e.getMessage}"
        }
      if (attempt >= MaxAttempts)
        sys.error(s"$what failed after $MaxAttempts attempts (last: $failure)")
      Thread.sleep(50L << (attempt - 1)) // 50 ms, 100 ms
      attempt += 1
    }
    throw new IllegalStateException("unreachable")
  }

  def enc(s: String): String = URLEncoder.encode(s, UTF_8)
}

/** DataSource V2 provider for the OData service. Options: `endpoint`
  * (http://host:port/odata), `entity`, `user`, `pass`, `pageSize`.
  * Pushdown surface: `$select` (column prune; a subform column is its
  * `$expand`), `$filter` (comparison conjunctions), `$top` (limit),
  * `$orderby` + `$top` (complete top-N), `$apply` (complete aggregates,
  * grouped or not); pages become input partitions fetched executor-side
  * over the socket.
  *
  * Usage, against the in-JVM tenant:
  * {{{
  *   spark.read.format("graft.sources.ODataHttpSource")
  *     .options(ODataHttpServer.tenantOptions)
  *     .option("entity", "customer").option("pageSize", "1000").load()
  * }}}
  */
class ODataHttpSource extends TableProvider {

  private def opt(o: CaseInsensitiveStringMap, k: String): String =
    Option(o.get(k)).getOrElse(sys.error(s"odata-http: missing option '$k'"))

  /** Schema discovery over the wire: GET `$metadata`, walk the EDMX with
    * [[graft.schema.MetadataXml]] (the same parser the catalog bootstrap
    * judged by o08 uses — reference contract
    * priorityDataSource.py:347-458), then rebuild the NATIVE Spark schema:
    * scalar Properties via [[EdmTypes.nativeSparkOf]] (Decimal re-bounded
    * from the wire's Precision/Scale), NavigationProperty subforms as
    * array-of-struct columns resolved against their own EntityType.
    *
    * A schema read before is revalidated, not re-read: the GET carries the
    * ETag of the document it came from, and a 304 reuses it. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val endpoint = opt(options, "endpoint")
    val entity = opt(options, "entity")
    val key = (endpoint, entity)
    val cached = Option(ODataHttpSource.schemas.get(key))
    ODataHttpServer.getIfChanged(s"$endpoint/$$metadata",
        opt(options, "user"), opt(options, "pass"), cached.map(_._1)) match {
      case None => cached.get._2 // 304 answers only an If-None-Match we sent
      case Some((body, etag)) =>
        val schema = ODataHttpSource.schemaFrom(new String(body, UTF_8), entity)
        etag.foreach(t => ODataHttpSource.schemas.put(key, (t, schema)))
        schema
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val o = new CaseInsensitiveStringMap(properties)
    new ODataHttpTable(opt(o, "endpoint"), opt(o, "entity"), schema,
      opt(o, "user"), opt(o, "pass"),
      Option(o.get("pageSize")).map(_.toInt).getOrElse(1000))
  }

  override def supportsExternalMetadata(): Boolean = true
}

object ODataHttpSource {

  /** Schemas read from `$metadata` by (endpoint, entity), each with the
    * ETag of its document: only the entities asked for, never the parsed
    * document. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (String, StructType)]()

  /** One entity's native Spark schema out of an EDMX document. */
  private def schemaFrom(xml: String, entity: String): StructType = {
    val all = graft.schema.MetadataXml.parse(xml, "priority")
    val byName = all.map(e => e.entityName -> e).toMap
    val meta = byName.getOrElse(entity,
      sys.error(s"odata-http: entity '$entity' absent from $$metadata"))
    def scalarFields(m: graft.model.EntityMeta): Seq[StructField] =
      m.fields.map { f =>
        StructField(f.fieldName,
          EdmTypes.nativeSparkOf(f.sourceDataType, f.precision, f.scale),
          nullable = f.nullable,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putBoolean("keyFlag", f.keyFlag).build())
      }
    val navFields = meta.navs.map { nav =>
      val child = byName.getOrElse(nav.target,
        sys.error(s"odata-http: subform EntityType '${nav.target}' missing"))
      StructField(nav.navName,
        org.apache.spark.sql.types.ArrayType(StructType(scalarFields(child))))
    }
    StructType(scalarFields(meta) ++ navFields)
  }
}

final class ODataHttpTable(endpoint: String, entity: String,
    schema0: StructType, user: String, pass: String, pageSize: Int)
    extends Table with SupportsRead {
  override def name(): String = s"odata-http:$entity"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ODataHttpScanBuilder(endpoint, entity, schema0, user, pass, pageSize)
}

final class ODataHttpScanBuilder(endpoint: String, entity: String,
    full: StructType, user: String, pass: String, pageSize: Int)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownLimit
    with SupportsPushDownTopN
    with SupportsPushDownAggregates {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var topSort: Seq[ODataSortKey] = Seq.empty
  private var aggs: Option[Seq[ODataAgg]] = None
  private var groupCols: Seq[String] = Seq.empty

  private def translateGroupBy(agg: Aggregation): Option[Seq[String]] = {
    val cols = agg.groupByExpressions.toSeq.map {
      case n: NamedReference if n.fieldNames.length == 1 &&
          full.fields.find(_.name == n.fieldNames.head)
            .exists(f => ODataTestServer.comparableType(f.dataType)) =>
        Some(n.fieldNames.head)
      case _ => None
    }
    if (cols.forall(_.isDefined)) Some(cols.flatten) else None
  }

  private def sumType(col: String): Option[DataType] =
    full.fields.find(_.name == col).flatMap(f => ODataFilterSyntax.sumType(f.dataType))

  private def translateAggs(agg: Aggregation): Option[Seq[ODataAgg]] = {
    val specs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(ODataAgg.CountAll)
      case m: Min => m.column match {
        case n: NamedReference if n.fieldNames.length == 1 =>
          Some(ODataAgg.MinOf(n.fieldNames.head))
        case _ => None
      }
      case m: Max => m.column match {
        case n: NamedReference if n.fieldNames.length == 1 =>
          Some(ODataAgg.MaxOf(n.fieldNames.head))
        case _ => None
      }
      case sm: Sum if !sm.isDistinct => sm.column match {
        case n: NamedReference if n.fieldNames.length == 1 &&
            sumType(n.fieldNames.head).isDefined =>
          Some(ODataAgg.SumOf(n.fieldNames.head))
        case _ => None
      }
      case _ => None
    }
    if (specs.forall(_.isDefined)) Some(specs.flatten) else None
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    translateAggs(agg).isDefined && translateGroupBy(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    (translateAggs(agg), translateGroupBy(agg)) match {
      case (some @ Some(_), Some(g)) => aggs = some; groupCols = g; true
      case _ => false
    }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // A filter only rides the wire if its rendered $filter string parses
    // back to the same render — the server speaks exactly the grammar
    // ODataFilterSyntax.parse accepts, so a literal the Term regex can't
    // round-trip (a newline in a string literal, a non-\w column name)
    // must stay a Spark-side residual instead of dying as an HTTP 500
    // after pushdown promised the source would apply it.
    def roundTrips(f: Filter): Boolean = scala.util.Try {
      val wire = ODataFilterSyntax.render(Seq(f))
      ODataFilterSyntax.render(
        ODataFilterSyntax.parse(wire, full).toSeq) == wire
    }.getOrElse(false)
    val (accepted, residual) = filters.partition(f =>
      ODataTestServer.supportsFilter(f) &&
        f.references.forall(c => full.fields.find(_.name == c)
          .exists(sf => ODataTestServer.comparableType(sf.dataType))) &&
        roundTrips(f))
    pushed = accepted
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fields.filter(f =>
      full.fieldNames.contains(f.name)))

  override def pushLimit(n: Int): Boolean =
    if (aggs.nonEmpty) false // a limit over a pushed aggregate must run in Spark
    else { limit = Some(n); true }

  /** ORDER BY + LIMIT → `$orderby=...&$top=n` over the wire, COMPLETELY
    * pushed (isPartiallyPushed=false): accepted only when the top-N fits
    * one page, so the single resulting partition serves the exact sorted
    * prefix and Spark plans no Sort at all. Larger top-Ns or sorts on
    * non-comparable / nested columns fall back to Spark's own
    * TakeOrderedAndProject over the paged scan. */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    if (aggs.nonEmpty) return false // see pushLimit
    val keys = orders.toSeq.map { so =>
      so.expression() match {
        case nr: NamedReference if nr.fieldNames.length == 1 &&
            full.fields.find(_.name == nr.fieldNames.head)
              .exists(f => ODataTestServer.comparableType(f.dataType)) =>
          Some(ODataSortKey(nr.fieldNames.head,
            so.direction() == SortDirection.ASCENDING,
            so.nullOrdering() == NullOrdering.NULLS_FIRST))
        case _ => None
      }
    }
    if (keys.forall(_.isDefined) && keys.nonEmpty && n <= pageSize) {
      topSort = keys.flatten
      limit = Some(n)
      true
    } else false
  }

  override def isPartiallyPushed(): Boolean = false

  override def build(): Scan = aggs match {
    case Some(specs) =>
      new ODataHttpAggScan(endpoint, entity, full, pushed, specs, groupCols,
        user, pass)
    case None =>
      new ODataHttpScan(endpoint, entity, required, pushed, limit,
        user, pass, pageSize, topSort)
  }
}

/** A completely-pushed aggregate over the wire: ONE partition whose
  * executor-side GET carries `$applyaggs`/`$applygroups` (+ `$filter`)
  * and receives |groups| result rows — a per-status rollup over a
  * billion-row entity moves |groups| rows, not a scan. */
final class ODataHttpAggScan(endpoint: String, entity: String,
    full: StructType, filters: Array[Filter], specs: Seq[ODataAgg],
    groupCols: Seq[String], user: String, pass: String)
    extends Scan with Batch {

  override def readSchema(): StructType =
    ODataFilterSyntax.aggSchema(full, specs, groupCols)

  override def description(): String =
    s"ODataHttpAggScan(endpoint=$endpoint, entity=$entity, " +
      s"$$apply=${ODataFilterSyntax.renderAggs(specs)}" +
      (if (groupCols.isEmpty) "" else s" groupby ${groupCols.mkString(",")}") +
      (if (filters.isEmpty) ""
       else s", $$filter=${ODataFilterSyntax.render(filters.toSeq)}") + ")"

  override def toBatch: Batch = this

  private def aggUrl(tail: String): String = {
    import ODataHttpServer.enc
    val qs = Seq(
      Some(s"%24applyaggs=${enc(ODataFilterSyntax.renderAggs(specs))}"),
      if (groupCols.isEmpty) None
      else Some(s"%24applygroups=${enc(groupCols.mkString(","))}"),
      if (filters.isEmpty) None
      else Some(s"%24filter=${enc(ODataFilterSyntax.render(filters.toSeq))}"),
      Some(tail)).flatten
    s"$endpoint/$entity?${qs.mkString("&")}"
  }

  /** Planned once per scan: Spark asks again from every copy of the
    * physical scan node, and each ask would be another preflight GET. */
  private lazy val partitions: Array[InputPartition] = {
    val node = ODataHttpServer.get(aggUrl("%24preflight=true"), user, pass)
    val gen = node.get("@graft.generation").asLong
    Array(ODataHttpPageRef(aggUrl(s"%24generation=$gen"), readSchema(),
      user, pass))
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    ODataHttpPageRef.readerFactory
}

final class ODataHttpScan(endpoint: String, entity: String,
    required: StructType, filters: Array[Filter], limit: Option[Int],
    user: String, pass: String, pageSize: Int,
    orderBy: Seq[ODataSortKey] = Seq.empty) extends Scan with Batch {

  override def readSchema(): StructType = required

  /** The incremental pull (reference: `POST /refreshData?incremental=true`)
    * over the wire: the offset is a row cursor into the entity, each
    * micro-batch fetches its `$skip/$top` row ranges by HTTP GET —
    * checkpointed cursor + the registry's append-preserves-prefix contract
    * make the pull exactly-once across restarts. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // Spark's current pushdown rules never push filters/limit/orderBy into
    // a streaming scan (it applies them downstream of the source) — but if
    // that ever changes, streaming the FULL entity here would silently
    // return rows Spark believes were already filtered at the source.
    // Fail loudly instead of returning wrong rows.
    require(filters.isEmpty && limit.isEmpty && orderBy.isEmpty,
      "odata-http streaming scan cannot honor pushed " +
        s"filters=${filters.mkString(",")} limit=$limit orderBy=$orderBy — " +
        "the micro-batch cursor reads raw row ranges")
    new ODataHttpMicroBatchStream(endpoint, entity, required, user, pass, pageSize)
  }

  override def description(): String =
    s"ODataHttpScan(endpoint=$endpoint, entity=$entity, " +
      s"$$select=${required.fieldNames.mkString(",")}" +
      (if (filters.isEmpty) ""
       else s", $$filter=${ODataFilterSyntax.render(filters.toSeq)}") +
      (if (orderBy.isEmpty) ""
       else s", $$orderby=${ODataFilterSyntax.renderOrderBy(orderBy)}") +
      limit.map(n => s", $$top=$n").getOrElse("")

  override def toBatch: Batch = this

  private def pageUrl(pageNo: Int, tail: String): String = {
    import ODataHttpServer.enc
    val qs = Seq(
      Some(s"%24select=${enc(required.fieldNames.mkString(","))}"),
      if (filters.isEmpty) None
      else Some(s"%24filter=${enc(ODataFilterSyntax.render(filters.toSeq))}"),
      if (orderBy.isEmpty) None
      else Some(s"%24orderby=${enc(ODataFilterSyntax.renderOrderBy(orderBy))}"),
      limit.map(n => s"%24top=$n"),
      Some(s"%24pagesize=$pageSize"),
      Some(s"%24skiptoken=${pageNo.toLong * pageSize}"),
      Some(tail)).flatten
    s"$endpoint/$entity?${qs.mkString("&")}"
  }

  /** HTTP preflight: page count + registry generation, no rows. Every
    * page GET carries the generation its boundaries were counted against;
    * the server refuses it (409) once the entity is re-registered. Planned
    * once per scan, like [[ODataHttpAggScan]]'s. */
  private lazy val partitions: Array[InputPartition] = {
    val node = ODataHttpServer.get(pageUrl(0, "%24preflight=true"), user, pass)
    val nPages = node.get("@graft.pages").asInt
    val gen = node.get("@graft.generation").asLong
    (0 until nPages)
      .map(i => ODataHttpPageRef(pageUrl(i, s"%24generation=$gen"), required,
        user, pass): InputPartition)
      .toArray
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    ODataHttpPageRef.readerFactory
}

/** One fetch, shipped to the executor: the URL (a `$skiptoken` page with
  * its planned generation, an `$apply` result, or a streaming `$skip/$top`
  * row range), the schema the rows parse by, and auth. A row range
  * carries no generation: the registry's append contract keeps row
  * indexes below the committed cursor stable, which is exactly what the
  * cursor offset relies on. */
final case class ODataHttpPageRef(url: String, required: StructType,
    user: String, pass: String) extends InputPartition

object ODataHttpPageRef {
  /** Executor-side fetch shared by row scans, aggregate scans and stream
    * ranges: GET the ref's URL over the socket, then decode each `value`
    * row straight into a Catalyst row of the ref's schema. */
  val readerFactory: PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val ref = p.asInstanceOf[ODataHttpPageRef]
      val rows = ODataHttpServer.get(ref.url, ref.user, ref.pass).get("value").elements()
      new PartitionReader[InternalRow] {
        private var current: InternalRow = _
        override def next(): Boolean =
          rows.hasNext && { current = ODataJson.readRow(ref.required, rows.next()); true }
        override def get(): InternalRow = current
        override def close(): Unit = ()
      }
    }
  }
}

/** Row-cursor offset: how many entity rows the stream has consumed. */
final case class ODataOffset(rowIdx: Long) extends Offset {
  override def json(): String = "{\"rowIdx\":" + rowIdx + "}"
}

final class ODataHttpMicroBatchStream(endpoint: String, entity: String,
    required: StructType, user: String, pass: String, pageSize: Int)
    extends MicroBatchStream {

  private val selectUrl =
    s"$endpoint/$entity?%24select=${ODataHttpServer.enc(required.fieldNames.mkString(","))}"

  override def initialOffset(): Offset = ODataOffset(0L)

  override def latestOffset(): Offset = {
    val node = ODataHttpServer.get(
      s"$selectUrl&%24pagesize=$pageSize&%24preflight=true", user, pass)
    ODataOffset(node.get("@graft.rowcount").asLong)
  }

  override def deserializeOffset(json: String): Offset = {
    val pat = "\\{\"rowIdx\":(\\d+)\\}".r
    json.trim match {
      case pat(n) => ODataOffset(n.toLong)
      case other => sys.error(s"bad odata offset: $other")
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[ODataOffset].rowIdx
    val until = end.asInstanceOf[ODataOffset].rowIdx
    (from until until by pageSize.toLong)
      .map { lo =>
        val hi = math.min(lo + pageSize, until)
        ODataHttpPageRef(s"$selectUrl&%24skip=$lo&%24top=${hi - lo}",
          required, user, pass): InputPartition
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ODataHttpPageRef.readerFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** OData v4.01 JSON-batch client: N entity requests in ONE HTTP round-trip
  * (`POST $batch`, json batch format) — the protocol's multi-entity
  * transfer reducer. The reference refresh loop issues one GET per entity
  * per cycle (resources/priorityDataSource.py:639-746); for the config/
  * dimension snapshot that loop re-pulls every cycle, batching collapses
  * K requests into one round-trip. Scale note: this is the DIMENSION
  * channel — small entities that land driver-side and broadcast into
  * joins. Facts keep the paged, partitioned [[ODataHttpSource]] scan;
  * a batch response is one JSON document and must stay small. */
object ODataBatchClient {

  final case class SubRequest(id: String, url: String)

  private val mapper = new ObjectMapper()

  /** POST the batch; returns sub-request id → response body. Throws if any
    * sub-request reports a non-200 status (per-sub-request failure is the
    * protocol contract — the envelope itself is always 200). */
  def pull(endpoint: String, user: String, pass: String,
      reqs: Seq[SubRequest]): Map[String, JsonNode] = {
    val body = mapper.createObjectNode()
    val arr = body.putArray("requests")
    reqs.foreach { r =>
      val n = arr.addObject()
      n.put("id", r.id); n.put("method", "GET"); n.put("url", r.url)
    }
    val resp = mapper.readTree(ODataHttpServer.postRaw(
      s"$endpoint/$$batch", user, pass, mapper.writeValueAsBytes(body)))
    import scala.jdk.CollectionConverters._
    resp.get("responses").elements().asScala.map { r =>
      val id = r.get("id").asText()
      val status = r.get("status").asInt()
      require(status == 200,
        s"odata-http $$batch sub-request '$id' failed: HTTP $status ${r.get("body")}")
      val body = r.get("body")
      // the server still paginates at $pagesize inside a $batch
      // sub-response; silently returning the first page would hand back
      // partial data as if complete — fail loudly instead. Batch is the
      // DIMENSION channel: an entity too big for one page belongs on the
      // paged, partitioned ODataHttpSource scan (or pass an explicit
      // $pagesize covering the entity in the sub-request url).
      require(!body.has("@odata.nextLink"),
        s"odata-http $$batch sub-response '$id' is paginated " +
          "(@odata.nextLink present): the entity exceeds one page — raise " +
          "$pagesize on the sub-request or use the paged source scan")
      id -> body
    }.toMap
  }

  /** A sub-response's `value` rows as external Rows against a schema. */
  def rows(schema: StructType, body: JsonNode): Seq[Row] = {
    import scala.jdk.CollectionConverters._
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    body.get("value").elements().asScala
      .map(n => toRow(ODataJson.readRow(schema, n)).asInstanceOf[Row]).toVector
  }
}
