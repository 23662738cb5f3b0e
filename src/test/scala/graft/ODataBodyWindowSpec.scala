package graft

import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ODataHttpServer, ODataTestServer}

/** The server writes every response body through a fixed window: no single
  * write to the exchange is larger than [[ODataHttpServer.WriteWindow]],
  * and bodies many windows long still arrive byte for byte. */
class ODataBodyWindowSpec extends AnyFunSuite {
  private val window = ODataHttpServer.WriteWindow

  /** An output stream that records the length of every write. */
  private final class Recording extends java.io.OutputStream {
    val bytes = new java.io.ByteArrayOutputStream()
    val writes = scala.collection.mutable.ArrayBuffer.empty[Int]
    override def write(b: Int): Unit = { writes += 1; bytes.write(b) }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      writes += len; bytes.write(b, off, len)
    }
  }

  test("the body writer slices at the window and the slices join back into the body") {
    val rnd = new scala.util.Random(7)
    for (len <- Seq(0, 1, window - 1, window, window + 1, 3 * window + 17)) {
      val body = Array.fill(len)(rnd.nextInt(256).toByte)
      val os = new Recording
      ODataHttpServer.writeWindowed(os, body)
      assert(os.writes.forall(_ <= window), (len, os.writes))
      assert(os.writes.size == (len + window - 1) / window, (len, os.writes))
      assert(java.util.Arrays.equals(os.bytes.toByteArray, body), len)
    }
  }

  private lazy val http = HttpClient.newHttpClient()

  private def get(url: String, headers: (String, String)*): HttpResponse[Array[Byte]] = {
    val b = HttpRequest.newBuilder(java.net.URI.create(url)).GET()
      .header("Authorization", "Basic " + java.util.Base64.getEncoder.encodeToString(
        s"${ODataHttpServer.user}:${ODataHttpServer.pass}".getBytes(UTF_8)))
    headers.foreach { case (k, v) => b.header(k, v) }
    http.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
  }

  private def contentLength(r: HttpResponse[_]): Long =
    r.headers().firstValueAsLong("Content-Length").orElse(-1L)

  test("a $metadata several windows long arrives byte-identical; a conditional GET still gets 304") {
    val spark = TestSpark.spark
    val schema = StructType(Seq(
      StructField("ID", LongType, nullable = false), StructField("NAME", StringType),
      StructField("AMOUNT", DecimalType(12, 2)), StructField("AT", TimestampType)))
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    (0 until 1000).foreach(k => ODataTestServer.registerDf(f"window_meta_$k%04d", empty))
    val r = get(s"${ODataHttpServer.endpoint}/$$metadata")
    val want = ODataHttpServer.renderMetadataEdmx().getBytes(UTF_8)
    assert(r.statusCode == 200)
    assert(want.length > 4 * window, want.length)
    assert(java.util.Arrays.equals(r.body, want))
    assert(contentLength(r) == want.length)
    val etag = r.headers().firstValue("ETag").get
    val again = get(s"${ODataHttpServer.endpoint}/$$metadata", "If-None-Match" -> etag)
    assert(again.statusCode == 304 && again.body.isEmpty)
  }

  test("a 2,000-row page several windows long arrives byte-identical") {
    val spark = TestSpark.spark
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false), StructField("s", StringType)))
    def text(k: Int) = f"row-$k%05d-" + "x" * 90
    val rows = (0 until 2000).map(k => Row(k.toLong, text(k)))
    ODataTestServer.registerDf("window_page", spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema))
    val r = get(s"${ODataHttpServer.endpoint}/window_page?%24pagesize=5000")
    val want = (0 until 2000).map(k => s"""{"id":$k,"s":"${text(k)}"}""")
      .mkString("""{"@graft.rowcount":2000,"value":[""", ",", "]}").getBytes(UTF_8)
    assert(r.statusCode == 200)
    assert(want.length > 3 * window, want.length)
    assert(java.util.Arrays.equals(r.body, want), new String(r.body, UTF_8).take(200))
    assert(contentLength(r) == want.length)
  }
}
