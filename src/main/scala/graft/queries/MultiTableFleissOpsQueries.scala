package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl
import graft.functions.{VectorSim => VS}

/** Round-9 wave 139: multi-table LSH recall recovery (the OR-construction
  * every production LSH deployment runs — and the documented recall answer
  * to the skew-capped/count-adaptive bucket narrowing) and Fleiss' kappa
  * (the category-marginal multi-rater agreement statistic, the standard
  * companion to Krippendorff's α with a per-category breakdown α lacks).
  */
object MultiTableFleissOpsQueries extends QueryModule {

  private val Tables = 3 // independent 8-plane tables on disjoint LCG ranges

  def all: Seq[Q] = Seq(

    // MULTI-TABLE LSH RECALL RECOVERY: three independent 8-plane tables
    // (disjoint ranges of the same LCG plane stream), candidates OR'd
    // across tables, exact top-10 re-rank, recall measured against the
    // brute-force top-10 per probe — side by side with the single-table
    // recall, so the recovery (and its candidate-count price) lands as
    // data. This is the published answer to "narrower buckets lose
    // recall": more independent tables, not wider buckets (the same
    // argument VS.planesFor and VS.skewCappedKey cite). Scale shape: the
    // probe set is 20 vectors; every leg is probe×bucket-sized joins +
    // one probe-domain reduce — the ground-truth leg (20 × N) is linear
    // and exists because this is an eval.
    Q("sim_ann_multitable",
      Some {
        // every multi-referenced CTE is MATERIALIZED (r10 oracle-memory
        // discipline): e2 carries the unrolled norm (referenced 7×), each
        // n$t is probed twice (candidate leg + correlated bucket lookup),
        // and cand/ex/a* feed correlated per-probe counts — inlining any
        // of them multiplies 64-term expression trees across the plan
        val tableCtes = (0 until Tables).map { t =>
          s"n$t AS MATERIALIZED (SELECT vec_id, v, nrm, " +
            s"${VS.lshBucketSqlRange("v", t * 8, 8)} AS b FROM e2)"
        }.mkString(", ")
        val candLegs = (0 until Tables).map { t =>
          s"SELECT q.qid, c.vec_id AS vid FROM qs q JOIN n$t c ON c.b = " +
            s"(SELECT b FROM n$t WHERE vec_id = q.qid) " +
            "AND c.vec_id <> q.qid"
        }.mkString(" UNION ")
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          s"e2 AS MATERIALIZED (SELECT vec_id, v, (${VS.norm2Sql("v")}) AS nrm FROM e), " +
          s"$tableCtes, " +
          "qs AS MATERIALIZED (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e2 WHERE vec_id < 20), " +
          s"cand1 AS MATERIALIZED (SELECT q.qid, c.vec_id AS vid FROM qs q " +
          "JOIN n0 c ON c.b = (SELECT b FROM n0 WHERE vec_id = q.qid) " +
          "AND c.vec_id <> q.qid), " +
          s"cand3 AS MATERIALIZED ($candLegs), " +
          "ex AS MATERIALIZED (SELECT qid, vid FROM (SELECT q.qid, c.vec_id AS vid, " +
          s"row_number() OVER (PARTITION BY q.qid ORDER BY (${VS.dotSql("q.qv", "c.v")}) / (sqrt(q.qn) * sqrt(c.nrm)) DESC, c.vec_id) AS rnk " +
          "FROM qs q CROSS JOIN e2 c WHERE c.vec_id <> q.qid) WHERE rnk <= 10), " +
          "a1 AS MATERIALIZED (SELECT qid, vid FROM (SELECT q.qid, c.vec_id AS vid, " +
          s"row_number() OVER (PARTITION BY q.qid ORDER BY (${VS.dotSql("q.qv", "c.v")}) / (sqrt(q.qn) * sqrt(c.nrm)) DESC, c.vec_id) AS rnk " +
          "FROM qs q JOIN cand1 ON cand1.qid = q.qid JOIN e2 c ON c.vec_id = cand1.vid) WHERE rnk <= 10), " +
          "a3 AS MATERIALIZED (SELECT qid, vid FROM (SELECT q.qid, c.vec_id AS vid, " +
          s"row_number() OVER (PARTITION BY q.qid ORDER BY (${VS.dotSql("q.qv", "c.v")}) / (sqrt(q.qn) * sqrt(c.nrm)) DESC, c.vec_id) AS rnk " +
          "FROM qs q JOIN cand3 ON cand3.qid = q.qid JOIN e2 c ON c.vec_id = cand3.vid) WHERE rnk <= 10) " +
          "SELECT qs.qid, " +
          "CAST(coalesce((SELECT count(*) FROM cand1 WHERE cand1.qid = qs.qid), 0) AS BIGINT) AS n_cand_1t, " +
          "CAST(coalesce((SELECT count(*) FROM cand3 WHERE cand3.qid = qs.qid), 0) AS BIGINT) AS n_cand_3t, " +
          "CAST(coalesce((SELECT count(*) FROM ex JOIN a1 ON a1.qid = ex.qid AND a1.vid = ex.vid WHERE ex.qid = qs.qid), 0) * 1000000 // 10 AS BIGINT) AS recall1_micro, " +
          "CAST(coalesce((SELECT count(*) FROM ex JOIN a3 ON a3.qid = ex.qid AND a3.vid = ex.vid WHERE ex.qid = qs.qid), 0) * 1000000 // 10 AS BIGINT) AS recall3_micro " +
          "FROM qs ORDER BY qs.qid"
      },
      (s, dir) => {
        import graft.functions.{CustomExpressions => CE}
        val e2 = tbl(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .localCheckpoint()
        // per-table bucket frames (disjoint plane ranges)
        val tables = (0 until Tables).map { t =>
          e2.withColumn("b", VS.lshBucketRange("v", t * 8, 8))
            .select(col("vec_id"), col("b"))
        }
        val qs = e2.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        def candidates(ts: Seq[org.apache.spark.sql.DataFrame]) = {
          ts.map { tdf =>
            val qb = tdf.join(broadcast(qs.select(col("qid"))),
              col("vec_id") === col("qid")).select(col("qid"),
              col("b").as("qbb"))
            tdf.join(broadcast(qb), col("b") === col("qbb") &&
                col("vec_id") =!= col("qid"))
              .select(col("qid"), col("vec_id").as("vid"))
          }.reduce(_ union _).distinct()
        }
        val cand1 = candidates(tables.take(1)).localCheckpoint()
        val cand3 = candidates(tables).localCheckpoint()
        val vecs = e2.select(col("vec_id").as("vid2"), col("v").as("cv"))
        def rerank(cand: org.apache.spark.sql.DataFrame) =
          cand.join(vecs, col("vid") === col("vid2"))
            .join(broadcast(qs), Seq("qid"))
            .withColumn("sim", CE.cosine_sim(col("qv"), col("cv")))
            .select("qid", "vid", "sim")
            .withColumn("rnk", row_number().over(Window.partitionBy("qid")
              .orderBy(col("sim").desc, col("vid"))))
            .filter(col("rnk") <= 10).select("qid", "vid")
        val ex = broadcast(qs).crossJoin(vecs)
          .filter(col("vid2") =!= col("qid"))
          .withColumn("sim", CE.cosine_sim(col("qv"), col("cv")))
          .select(col("qid"), col("vid2").as("vid"), col("sim"))
          .withColumn("rnk", row_number().over(Window.partitionBy("qid")
            .orderBy(col("sim").desc, col("vid"))))
          .filter(col("rnk") <= 10).select("qid", "vid")
          .localCheckpoint()
        val a1 = rerank(cand1)
        val a3 = rerank(cand3)
        def hits(a: org.apache.spark.sql.DataFrame, nm: String) =
          ex.join(a.withColumnRenamed("vid", "avid"),
              ex("qid") === a("qid") && col("vid") === col("avid"))
            .groupBy(ex("qid").as("hq")).agg(count(lit(1)).as(nm))
        val h1 = hits(a1, "h1")
        val h3 = hits(a3, "h3")
        val c1n = cand1.groupBy("qid").agg(count(lit(1)).as("n1"))
        val c3n = cand3.groupBy("qid").agg(count(lit(1)).as("n3"))
        val out = qs.select("qid")
          .join(c1n, Seq("qid"), "left")
          .join(c3n, Seq("qid"), "left")
          .join(h1, col("qid") === col("hq"), "left").drop("hq")
          .join(h3, col("qid") === col("hq"), "left").drop("hq")
          .select(col("qid"),
            coalesce(col("n1"), lit(0L)).cast("long").as("n_cand_1t"),
            coalesce(col("n3"), lit(0L)).cast("long").as("n_cand_3t"),
            // ×10^6/10 — true per-million scale, consistent with the
            // _micro suffix convention everywhere else (r9 advisor: the
            // old ×10^5 was a per-10k value mislabeled as micro)
            expr("CAST(coalesce(h1, 0) * 1000000 div 10 AS BIGINT)")
              .as("recall1_micro"),
            expr("CAST(coalesce(h3, 0) * 1000000 div 10 AS BIGINT)")
              .as("recall3_micro"))
          .orderBy("qid")
        graft.H.materialized(out, Nil, Seq(e2, cand1, cand3, ex))
      }),

    // FLEISS' KAPPA: the category-marginal multi-rater statistic over the
    // same deterministic 3-rater panel as eval_krippendorff_alpha —
    // different estimand (chance agreement from squared category shares,
    // not disagreement coincidences) and the per-category κ_c breakdown α
    // does not give. With m=3 raters everywhere, P̄ and P̄_e are exact
    // rationals: per-unit agreement Σn_c(n_c−1) over m(m−1)=6, chance =
    // Σp_c². Everything lands as exact ppm via one ×(6N·M²) common
    // denominator. Per language: units, observed/chance ppm, κ in ppm
    // (above-chance agreement on its own scale). Scale shape: 3-rows-per-doc
    // bounded fanout, (lang, doc, label) reduce, then (lang × category)
    // domain — the krippendorff shape exactly.
    Q("eval_fleiss_kappa",
      Some(
        s"""WITH r AS (
          |  SELECT doc_id, lang, n_chars, rater,
          |    least(4, greatest(0, least(4, n_chars // 100)
          |      + ${H.md5PrefixSql("CAST(doc_id AS VARCHAR) || '#' || " +
                    "CAST(rater AS VARCHAR)", 1)} % 3 - 1))
          |      AS label
          |  FROM documents, (SELECT unnest([1, 2, 3]) AS rater)),
          |nu AS (SELECT lang, doc_id, label,
          |    CAST(count(*) AS BIGINT) AS nc
          |  FROM r GROUP BY 1, 2, 3),
          |un AS (SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS nu
          |  FROM nu GROUP BY 1),
          |po AS (SELECT lang,
          |    CAST(sum(nc * (nc - 1)) AS BIGINT) AS agree_pairs
          |  FROM nu GROUP BY 1),
          |marg AS (SELECT lang, label, CAST(sum(nc) AS BIGINT) AS mc
          |  FROM nu GROUP BY 1, 2),
          |pe AS (SELECT lang, CAST(sum(mc * mc) AS BIGINT) AS sq
          |  FROM marg GROUP BY 1),
          |k AS (
          |  SELECT un.lang, un.nu,
          |    po.agree_pairs * 1000000 // (un.nu * 6) AS po_ppm,
          |    pe.sq * 1000000 // (un.nu * un.nu * 9) AS pe_ppm
          |  FROM un JOIN po ON po.lang = un.lang
          |  JOIN pe ON pe.lang = un.lang)
          |SELECT lang, nu AS n_units,
          |  CAST(po_ppm AS BIGINT) AS po_ppm,
          |  CAST(pe_ppm AS BIGINT) AS pe_ppm,
          |  CAST((po_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm)
          |    AS BIGINT) AS kappa_ppm
          |FROM k ORDER BY lang
          |""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val raters = Seq(1, 2, 3).toDF("rater")
        val r = tbl(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .crossJoin(broadcast(raters))
          .withColumn("label",
            least(lit(4), greatest(lit(0),
              least(lit(4), expr("n_chars div 100")) +
                pmod(H.md5Prefix(concat(col("doc_id").cast("string"),
                  lit("#"), col("rater").cast("string")), 1), lit(3)) - 1)))
        val nu = r.groupBy("lang", "doc_id", "label")
          .agg(count(lit(1)).cast("long").as("nc"))
          .localCheckpoint() // three per-lang reductions read it
        val un = nu.groupBy("lang")
          .agg(countDistinct("doc_id").cast("long").as("nu"))
        val po = nu.groupBy("lang")
          .agg(sum(expr("nc * (nc - 1)")).cast("long").as("agree_pairs"))
        val pe = nu.groupBy("lang", "label")
          .agg(sum("nc").cast("long").as("mc"))
          .groupBy("lang")
          .agg(sum(expr("mc * mc")).cast("long").as("sq"))
        val out = un.join(po, Seq("lang")).join(pe, Seq("lang"))
          .select(col("lang"), col("nu").as("n_units"),
            expr("CAST(agree_pairs * 1000000 div (nu * 6) AS BIGINT)")
              .as("po_ppm"),
            expr("CAST(sq * 1000000 div (nu * nu * 9) AS BIGINT)")
              .as("pe_ppm"))
          .withColumn("kappa_ppm",
            expr("CAST((po_ppm - pe_ppm) * 1000000 div (1000000 - pe_ppm)" +
              " AS BIGINT)"))
          .orderBy("lang")
        graft.H.materialized(out, Nil, Seq(nu))
      })
  )
}
