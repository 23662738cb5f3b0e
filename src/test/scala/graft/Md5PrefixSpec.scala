package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The md5-prefix hash — the deterministic bucket a Spark query and its
  * DuckDB oracle agree on — has one home: `H.md5Prefix` and its twin
  * `H.md5PrefixSql`. */
class Md5PrefixSpec extends AnyFunSuite {

  test("md5Prefix is the conv(substring(md5)) expression and reads 0x900150983cd2 for 'abc'") {
    val abc = TestSpark.spark.range(1).select(lit("abc").as("k"))
    // analyzed, so call-site origins drop out and only the tree compares
    def plan(c: Column) = abc.select(c.as("h")).queryExecution.analyzed
    val k = col("k")
    assert(plan(H.md5Prefix(k, 12))
      .sameResult(plan(conv(substring(md5(k), 1, 12), 16, 10).cast("long"))))
    assert(plan(H.md5Digits(k, 1))
      .sameResult(plan(conv(substring(md5(k), 1, 1), 16, 10))))
    assert(!plan(H.md5Prefix(k, 12))
      .sameResult(plan(conv(substring(md5(k), 1, 12), 16, 10).cast("int"))))
    val v = abc.select(H.md5Prefix(k, 12)).head().getLong(0)
    assert(v == 158335321521362L && v == 0x900150983cd2L)
  }

  test("the DuckDB twin renders the hex cast and rejects prefixes that overflow BIGINT") {
    assert(H.md5PrefixSql("CAST(doc_id AS VARCHAR)", 12) ==
      "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)")
    assert(H.hexSql("substr(h, 9, 4)") == "CAST('0x' || substr(h, 9, 4) AS BIGINT)")
    assert(H.md5PrefixSql("x", 15).contains(", 1, 15)"))
    Seq(0, 16).foreach { n =>
      intercept[IllegalArgumentException](H.md5PrefixSql("x", n))
      intercept[IllegalArgumentException](H.md5Prefix(col("x"), n))
    }
  }

  test("exactly one file under src/main spells the md5-prefix hash") {
    // split so this file cannot match either needle
    val needles = Seq("0123456789" + "abcdef", "conv(substring" + "(md5")
    val src = new java.io.File("src/main")
    assert(src.isDirectory, src.getAbsolutePath)
    import scala.jdk.CollectionConverters._
    val hits = java.nio.file.Files.walk(src.toPath).iterator().asScala
      .filter { p =>
        p.toString.endsWith(".scala") && {
          val text = java.nio.file.Files.readString(p)
          needles.exists(text.contains)
        }
      }
      .map(p => src.toPath.relativize(p).toString).toSeq
    assert(hits == Seq("scala/graft/Q.scala"), hits)
  }
}
