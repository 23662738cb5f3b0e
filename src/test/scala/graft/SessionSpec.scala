package graft

import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** graft builds its Spark session in one place (graft.Session), runs
  * query pools in one place (Verify.pooled), frees a query result's
  * checkpoint in one place (H.actThenFree) and reads OData through one
  * connector (ODataHttpSource); these pin all four. */
class SessionSpec extends AnyFunSuite {

  test("the test session carries every entry of graft.Session's conf table") {
    val spark = TestSpark.spark
    Session.conf.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k drifted from graft.Session")
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("exactly one file under src/ calls the SparkSession builder") {
    val needle = "SparkSession" + ".builder()" // this file must not match
    val src = new java.io.File("src")
    assert(src.isDirectory, src.getAbsolutePath)
    import scala.jdk.CollectionConverters._
    val hits = java.nio.file.Files.walk(src.toPath).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        java.nio.file.Files.readString(p).contains(needle))
      .map(p => src.toPath.relativize(p).toString).toSeq
    assert(hits == Seq("main/scala/graft/Session.scala"), hits)
  }

  test("exactly one TableProvider under graft.sources") {
    val dir = new java.io.File("src/main/scala/graft/sources")
    assert(dir.isDirectory, dir.getAbsolutePath)
    val providers = dir.listFiles().toSeq.filter(_.getName.endsWith(".scala"))
      .flatMap(f => "(extends|with)\\s+TableProvider\\b".r
        .findAllMatchIn(java.nio.file.Files.readString(f.toPath)).map(_ => f.getName))
    assert(providers == Seq("ODataHttp.scala"), providers)
  }

  test("a pool that misses its deadline throws, naming the unfinished work") {
    val e = intercept[IllegalStateException] {
      Verify.pooled(Seq("quick", "sleeper"), par = 2, 200.millis) { name =>
        if (name == "sleeper") Thread.sleep(60000)
      }
    }
    assert(e.getMessage.contains("sleeper"), e.getMessage)
    assert(!e.getMessage.contains("quick"), e.getMessage)
  }

  test("actThenFree frees the result's checkpoint when the action succeeds or throws") {
    val sc = TestSpark.spark.sparkContext
    def checkpointed() = TestSpark.spark.range(100).toDF().localCheckpoint()
    val before = sc.getPersistentRDDs.keySet
    assert(H.actThenFree(checkpointed())(_.count()) == 100)
    val e = intercept[RuntimeException] {
      H.actThenFree(checkpointed()) { df =>
        df.count()
        throw new RuntimeException("action failed after the checkpoint")
      }
    }
    assert(e.getMessage == "action failed after the checkpoint")
    assert(sc.getPersistentRDDs.keySet.diff(before).isEmpty)
  }

  test("a pool retries each failure once, alone, after the pool finishes") {
    val calls = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val got = Verify.pooled(Seq("a", "flaky", "broken"), par = 3, 1.minute) { name =>
      val n = calls.merge(name, 1, (x, y) => x + y)
      if (name == "broken" || (name == "flaky" && n == 1))
        throw new RuntimeException(s"$name #$n")
      n.intValue
    }
    assert(got("a").get == 1 && got("flaky").get == 2)
    assert(got("broken").failed.get.getMessage == "broken #2")
  }
}
