package graft

import java.io.File
import java.sql.{Driver, DriverManager}
import java.util.ServiceLoader

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.avro.SchemaConverters
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.PosixLocalFileSystem

/** build.sbt puts on every classpath only the jars of the Spark
  * distribution that `project/spark-jars.txt` names. These tests pin that
  * the test JVM got exactly that set, that the list still fits the image,
  * and that what graft takes from the kept jars, classes or not, resolves. */
class ClasspathSpec extends AnyFunSuite {
  private val sparkJars = new File("/opt/spark/jars").getCanonicalFile
  // a jar's name without its version, as build.sbt computes it
  private val Versioned = """^(.+)-(\d+\.[\w.]*(?:-\d+)?)(?:-([A-Za-z].*))?\.jar$""".r
  private def key(jar: String): String = jar match {
    case Versioned(name, _, null) => name
    case Versioned(name, _, classifier) => s"$name-$classifier"
    case other => other.stripSuffix(".jar")
  }
  private lazy val listed: Set[String] = {
    val src = Source.fromFile("project/spark-jars.txt")
    try src.getLines().map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty).toSet
    finally src.close()
  }
  private lazy val onClasspath: Seq[String] =
    sys.props("java.class.path").split(File.pathSeparator).toSeq.map(new File(_))
      .filter(f => f.getParentFile != null && f.getParentFile.getCanonicalFile == sparkJars)
      .map(_.getName)

  test("the test JVM's classpath holds the listed Spark jars and no dropped family") {
    assert(onClasspath.map(key).toSet == listed)
    // ORC reads through hive-storage-api, so that one hive jar stays
    val dropped = """hive-(?!storage-api).*|spark-hive.*|(spark-)?kubernetes.*|
      |spark-connect_.*|spark-mllib.*|breeze.*|spire.*|curator-.*|zookeeper.*|
      |datanucleus-.*|jersey-.*|hk2-.*|vertx-.*|
      |netty-.*-(osx|windows|linux-aarch_64|linux-riscv64)(-.*)?\.jar""".stripMargin
      .replace("\n", "").r
    val leaked = onClasspath.filter(dropped.matches)
    assert(leaked.isEmpty, leaked.mkString(", "))
  }

  test("every name on the list matches a jar of the Spark distribution") {
    val jars = sparkJars.list().toSeq.filter(_.endsWith(".jar")).map(key).toSet
    val unknown = listed -- jars
    assert(unknown.isEmpty,
      s"project/spark-jars.txt names jars /opt/spark/jars does not hold: $unknown")
  }

  test("the DataSourceRegister, FileSystem and JDBC Driver registries iterate") {
    val loader = Thread.currentThread.getContextClassLoader
    for (service <- Seq(classOf[DataSourceRegister], classOf[FileSystem], classOf[Driver])) {
      // instantiates every registered provider; a provider whose class or a
      // dependency of it is off the classpath throws ServiceConfigurationError
      val providers = ServiceLoader.load(service, loader).iterator().asScala.toList
      assert(providers.nonEmpty, service.getName)
    }
  }

  test("every data source format graft reads or writes resolves") {
    val conf = TestSpark.spark.sessionState.conf
    for (format <- Seq("parquet", "orc", "csv", "json", "text", "xml",
        "binaryFile", "jdbc", "graft.sources.ODataHttpSource"))
      assert(DataSource.lookupDataSource(format, conf) != null, format)
    // no spark-avro in the image, so no `avro` format; graft's Avro is the
    // state store's row encoding, built on Spark's schema converter
    val avro = SchemaConverters.toAvroType(new StructType().add("k", "long"))
    assert(avro.getFields.size == 1)
    val home = java.nio.file.Files.createTempDirectory("derby").toString
    System.setProperty("derby.system.home", home) // keeps derby.log out of the repo
    DriverManager.getConnection("jdbc:derby:memory:classpath_spec;create=true").close()
  }

  test("file: is graft's local file system, and RocksDB's native library loads") {
    assert(FileSystem.getFileSystemClass("file", new Configuration()) ==
      classOf[PosixLocalFileSystem])
    org.rocksdb.RocksDB.loadLibrary()
    new org.rocksdb.Options().close()
  }
}
