package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CustomExpressions => CE}

class CustomExpressionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("rolling_hash: known fold value, null-safe, SQL-callable") {
    import spark.implicits._
    val df = Seq((1L, "abc"), (2L, null.asInstanceOf[String])).toDF("id", "t")
    val out = df.select(col("id"), CE.rolling_hash(col("t")).as("h"))
      .orderBy("id").collect()
    assert(out(0).getLong(1) == 304891L) // ((7*31+97)*31+98)*31+99 mod 1e9+7
    assert(out(1).isNullAt(1))

    CE.registerTemp(spark)
    df.createOrReplaceTempView("rh_in")
    val viaSql = spark.sql("SELECT rolling_hash(t) AS h FROM rh_in WHERE id = 1")
      .collect()(0).getLong(0)
    assert(viaSql == 304891L)
  }

  test("rolling_hash participates in whole-stage codegen (no fallback)") {
    // parquet-backed input: local Seqs constant-fold into LocalTableScan
    val df = H.tbl(spark, "/root/testdata/sf0.001", "documents")
      .select(CE.rolling_hash(col("text")).as("h"))
    // WholeStageCodegen shows as the "*(n)" prefix in the executed plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [rollinghash("), plan)
    assert(df.count() == 500)
  }

  test("cosine_sim: identity = 1, orthogonal = 0, matches unrolled tree bit-for-bit") {
    import spark.implicits._
    val a = Array(3.0, 4.0) // |a|² = 25, sqrt exact → identity is exactly 1.0
    val b = Array(-4.0, 3.0)
    val df = Seq((a, a), (a, b)).toDF("x", "y")
    val sims = df.select(CE.cosine_sim(col("x"), col("y"))).collect().map(_.getDouble(0))
    assert(sims(0) == 1.0)
    assert(sims(1) == 0.0)

    // bit-equality vs the unrolled left-assoc formulation on real embeddings,
    // production shape: norms precomputed before the join (keeps the joined
    // projection small enough for whole-stage codegen)
    import graft.functions.{VectorSim => VS}
    val e = H.tbl(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(20)
      .withColumn("nrm", VS.norm2("v"))
    val q = e.select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("vid"), col("v").as("cv"), col("nrm").as("cn"))
    val pairs = c.join(q, col("vid") =!= col("qid"))
    val both = pairs.select(
      CE.cosine_sim(col("qv"), col("cv")).as("fused"),
      (VS.dot("qv", "cv") / (sqrt(col("qn")) * sqrt(col("cn")))).as("unrolled"))
    assert(both.filter(col("fused") =!= col("unrolled")).count() == 0)
  }

  test("SQL surface rejects wrong input types at analysis, wrong arity at parse") {
    import spark.implicits._
    CE.registerTemp(spark)
    Seq((1L, "x")).toDF("id", "t").createOrReplaceTempView("tc_in")
    val typeErr = intercept[Exception](
      spark.sql("SELECT rolling_hash(id) FROM tc_in").collect())
    assert(typeErr.getMessage.contains("rolling_hash expects STRING"), typeErr.getMessage)
    val arityErr = intercept[Exception](
      spark.sql("SELECT cosine_sim(array(1.0)) FROM tc_in").collect())
    assert(arityErr.getMessage.contains("expects 2 argument"), arityErr.getMessage)
  }

  test("plain Scala udf() surface works too (the non-codegen fallback path)") {
    import spark.implicits._
    val double_it = udf((x: Long) => x * 2)
    spark.udf.register("double_it", double_it)
    val viaCol = Seq(21L).toDF("x").select(double_it(col("x"))).collect()(0).getLong(0)
    val viaSql = spark.sql("SELECT double_it(21)").collect()(0).getLong(0)
    assert(viaCol == 42L && viaSql == 42L)
  }

  test("canon_text: NFC-composes, strips accents, ASCII fast path is identity") {
    import spark.implicits._
    // "déjà" is DECOMPOSED (e + combining acute); canon must
    // first NFC-compose, then strip the marks — both forms land on "deja"
    val df = Seq(
      (1L, "plain ascii 42"),
      (2L, "d\u00e9j\u00e0 vu"),        // precomposed é à
      (3L, "de\u0301ja\u0300 vu"),      // decomposed e+mark a+mark
      (4L, "A\u030angstro\u0308m"),     // decomposed ring/diaeresis
      (5L, null.asInstanceOf[String])).toDF("id", "t")
    val out = df.select(col("id"), CE.canon_text(col("t")).as("c"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == "plain ascii 42") // untouched
    assert(out(1).getString(1) == "deja vu")
    assert(out(2).getString(1) == "deja vu")        // same result both forms
    assert(out(3).getString(1) == "Angstrom")
    assert(out(4).isNullAt(1))

    CE.registerTemp(spark)
    df.createOrReplaceTempView("ct_in")
    val viaSql = spark.sql("SELECT canon_text(t) AS c FROM ct_in WHERE id = 3")
      .collect()(0).getString(0)
    assert(viaSql == "deja vu")
  }

  test("canon_text strips ALL combining-mark categories like utf8proc strip_accents") {
    import spark.implicits._
    // DuckDB's strip_accents (utf8proc) drops Mn AND Mc AND Me —
    // verified against DuckDB directly:
    //   'कि' -> 'क' (U+093F vowel sign i, Mc: spacing-combining)
    //   'हिन्दी' -> 'हनद' (matras Mc + virama U+094D Mn)
    //   'a⃝' -> 'a'  (U+20DD enclosing circle, Me)
    // dropping only Mn would diverge from the oracle on these scripts
    val df = Seq(
      (1L, "कि"),                                // कि
      (2L, "हिन्दी"),        // हिन्दी
      (3L, "a⃝")).toDF("id", "t")
    val out = df.select(CE.canon_text(col("t")).as("c")).orderBy("id").collect()
    assert(out(0).getString(0) == "क")
    assert(out(1).getString(0) == "हनद")
    assert(out(2).getString(0) == "a")
  }

  test("canon_text participates in whole-stage codegen (no fallback)") {
    val df = H.tbl(spark, "/root/testdata/sf0.001", "documents")
      .select(CE.canon_text(col("text")).as("c"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [canontext("), plan)
    assert(df.count() == 500)
  }
}
