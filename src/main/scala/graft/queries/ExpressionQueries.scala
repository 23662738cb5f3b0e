package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, QueryModule}
import graft.H.tbl
import graft.functions.{CustomExpressions => CE, VectorSim => VS}

/** Native-Expression-backed queries: the custom codegen'd operators driven
  * through both the Column API and SQL (via function registration). The
  * cosine query shares sim_cosine_topk's oracle — the fused one-loop
  * expression must reproduce the unrolled formulation bit-for-bit.
  */
object ExpressionQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // Custom scalar Expression through the SQL surface (per-session temp
    // registration, CustomExpressions.registerTemp).
    Q("expr_rolling_hash",
      Some("SELECT doc_id, list_reduce(list_prepend(CAST(7 AS BIGINT), " +
        "list_apply(range(1, length(text) + 1), " +
        "i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))), " +
        "(a, b) -> (a * 31 + b) % 1000000007) AS rhash " +
        "FROM documents ORDER BY doc_id"),
      (s, dir) => {
        CE.registerTemp(s)
        tbl(s, dir, "documents").createOrReplaceTempView("documents_rh")
        s.sql("SELECT doc_id, rolling_hash(text) AS rhash " +
          "FROM documents_rh ORDER BY doc_id")
      }),

    // Fused codegen cosine — same oracle text as the unrolled baseline.
    Q("expr_cosine_topk",
      Some("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        s"n AS (SELECT vec_id, v, (${VS.norm2Sql("v")}) AS nrm FROM e), " +
        "p AS (SELECT q.vec_id AS qid, c.vec_id AS vid, " +
        s"(${VS.dotSql("q.v", "c.v")}) / (sqrt(q.nrm) * sqrt(c.nrm)) AS sim " +
        "FROM n q, n c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) " +
        "SELECT qid, vid, CAST(row_number() OVER " +
        "(PARTITION BY qid ORDER BY sim DESC, vid) AS BIGINT) AS rnk, sim " +
        "FROM p QUALIFY rnk <= 5 ORDER BY qid, rnk"),
      (s, dir) => {
        val e = tbl(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val q = e.select(col("vec_id").as("qid"), col("v").as("qv"))
          .filter(col("qid") < 10)
        val c = e.select(col("vec_id").as("vid"), col("v").as("cv"))
        val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vid"))
        c.join(broadcast(q), col("vid") =!= col("qid"))
          .withColumn("sim", CE.cosine_sim(col("qv"), col("cv")))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 5)
          .select("qid", "vid", "rnk", "sim").orderBy("qid", "rnk")
      }))
}
