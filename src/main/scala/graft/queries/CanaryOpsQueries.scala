package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Eighty-fourth wave: release-safety and robust-estimation operators —
  * a rounding-policy canary diff (line-level vs aggregate-level cent
  * rounding, the cell-by-cell gate a data-pipeline CI runs before
  * promoting a logic change), the Hodges-Lehmann robust location
  * estimate from Walsh averages, a product-quantization distortion
  * audit (per-codeword quantization error), and class-balanced
  * downsampling by seeded hash rank (the equal-per-domain sampling an
  * LLM mixture pipeline runs, vs the proportional stratified sampler).
  */
object CanaryOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // Canary diff between two rounding policies, per market segment:
    // v1 rounds each line's discounted value to cents then sums; v2
    // sums exact 1e-4-dollar integers then rounds once. Both policies
    // are EXACT integer arithmetic (cents and percent both 2-dp), so
    // the drift is the true policy delta, not float noise. Gate:
    // |drift| ≤ 1 cent per 1000 lines. The shape of a data-CI gate:
    // two candidate logics over one scan, one keyed aggregation.
    Q("pipeline_canary_diff",
      Some(
        """WITH l AS (SELECT c.c_mktsegment AS seg,
          |  CAST(floor(li.l_extendedprice * 100 + 0.5) AS BIGINT) *
          |    (100 - CAST(floor(li.l_discount * 100 + 0.5) AS BIGINT))
          |    AS v4
          |  FROM lineitem li JOIN orders o ON o.o_orderkey = li.l_orderkey
          |  JOIN customer c ON c.c_custkey = o.o_custkey),
          |a AS (SELECT seg, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum((v4 + 50) // 100) AS BIGINT) AS v1_cents,
          |  CAST((sum(v4) + 50) // 100 AS BIGINT) AS v2_cents
          |  FROM l GROUP BY 1)
          |SELECT seg AS mktsegment, n, v1_cents, v2_cents,
          |  CAST(v1_cents - v2_cents AS BIGINT) AS drift_cents,
          |  CAST(CASE WHEN abs(v1_cents - v2_cents) * 1000 <= n
          |    THEN 1 ELSE 0 END AS BIGINT) AS within_gate
          |FROM a ORDER BY 1
          |""".stripMargin),
      (s, dir) => {
        val l = tbl(s, dir, "lineitem")
          .select(col("l_orderkey"),
            (floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long") *
              (lit(100L) - floor(col("l_discount") * 100 + lit(0.5))
                .cast("long"))).as("v4"))
          .join(tbl(s, dir, "orders").select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(tbl(s, dir, "customer")
              .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
            col("o_custkey") === col("c_custkey"))
        l.groupBy("seg")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(expr("(v4 + 50) div 100")).cast("long").as("v1_cents"),
            expr("(sum(v4) + 50) div 100").cast("long").as("v2_cents"))
          .select(col("seg").as("mktsegment"), col("n"),
            col("v1_cents"), col("v2_cents"),
            (col("v1_cents") - col("v2_cents")).cast("long")
              .as("drift_cents"),
            when(abs(col("v1_cents") - col("v2_cents")) * 1000 <= col("n"),
              1L).otherwise(0L).cast("long").as("within_gate"))
          .orderBy("mktsegment")
      }),

    // Hodges-Lehmann estimator of daily event volume: the median of
    // all Walsh averages (c_i+c_j)/2, i ≤ j — the robust location
    // estimate whose breakdown beats the mean and whose efficiency
    // beats the median. The day frame is bounded, so the O(days²)
    // Walsh census is a ~500-row join; HL is exact in milli via the
    // two middle order statistics (×250 because w = 2·avg).
    Q("stats_hodges_lehmann",
      Some(
        """WITH d AS (SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP))
          |    // 86400000000 AS BIGINT) AS dy,
          |  CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
          |w AS (SELECT a.dy AS di, b.dy AS dj, a.c + b.c AS w
          |  FROM d a JOIN d b ON b.dy >= a.dy),
          |r AS (SELECT w, row_number() OVER (ORDER BY w, di, dj) AS rk
          |  FROM w),
          |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM w)
          |SELECT m.m AS n_pairs,
          |  CAST((SELECT r1.w FROM r r1, m WHERE r1.rk = (m.m + 1) // 2)
          |    AS BIGINT) AS w_lo,
          |  CAST((SELECT r2.w FROM r r2, m WHERE r2.rk = m.m // 2 + 1)
          |    AS BIGINT) AS w_hi,
          |  CAST(((SELECT r1.w FROM r r1, m WHERE r1.rk = (m.m + 1) // 2)
          |    + (SELECT r2.w FROM r r2, m WHERE r2.rk = m.m // 2 + 1))
          |    * 250 AS BIGINT) AS hl_milli
          |FROM m
          |""".stripMargin),
      (s, dir) => {
        val d = H.events(s, dir)
          .select(expr("unix_micros(ts) div 86400000000").cast("long")
            .as("dy"))
          .groupBy("dy").agg(count(lit(1)).cast("long").as("c"))
          .localCheckpoint() // bounded day frame
        val w = d.select(col("dy").as("di"), col("c").as("ci"))
          .join(d.select(col("dy").as("dj"), col("c").as("cj")),
            col("dj") >= col("di"))
          .select(col("di"), col("dj"), (col("ci") + col("cj")).as("w"))
        // ~500-row Walsh frame: the unpartitioned window is fine
        val r = w.withColumn("rk",
          row_number().over(Window.orderBy("w", "di", "dj")).cast("long"))
          .localCheckpoint()
        val m = r.agg(count(lit(1)).cast("long").as("m"))
        val lo = r.crossJoin(broadcast(m))
          .filter(col("rk") === expr("(m + 1) div 2"))
          .select(col("w").as("w_lo"))
        val hi = r.crossJoin(broadcast(m))
          .filter(col("rk") === expr("m div 2 + 1"))
          .select(col("w").as("w_hi"))
        val out = m.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
          .select(col("m").as("n_pairs"),
            col("w_lo").cast("long").as("w_lo"),
            col("w_hi").cast("long").as("w_hi"),
            ((col("w_lo") + col("w_hi")) * 250).cast("long").as("hl_milli"))
        H.materialized(out, Nil, Seq(d, r))
      }),

    // Product-quantization distortion audit: same construction as
    // sim_pq_topk (4×16-dim subspaces, codebook = first 8 vectors),
    // reporting per (subspace, codeword): assignment count and total /
    // mean quantization error — each row's SSD milli-quantized (floor
    // of the engine-identical double chain) BEFORE the integer sum, so
    // the audit is exact. The "is my codebook any good, which cells
    // are overloaded" check that decides recall at 1e9 vectors.
    Q("emb_pq_distortion",
      Some {
        import graft.functions.{VectorSim => VS}
        val ssdA = VS.ssdSqlN("a.sv", "c.cv", 16)
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "subs AS (SELECT vec_id, s.sub, v[s.sub*16+1 : s.sub*16+16] AS sv " +
          "FROM e, (SELECT unnest([0,1,2,3]) AS sub) s), " +
          "cent AS (SELECT sub, vec_id AS cid, sv AS cv FROM subs WHERE vec_id < 8), " +
          "assign AS (SELECT vec_id, sub, cid, err FROM (" +
          "SELECT a.vec_id, a.sub, c.cid, " +
          s"CAST(floor(($ssdA) * 1000.0) AS BIGINT) AS err, " +
          s"row_number() OVER (PARTITION BY a.vec_id, a.sub ORDER BY ($ssdA), c.cid) AS rn " +
          "FROM subs a JOIN cent c ON a.sub = c.sub) WHERE rn = 1) " +
          "SELECT CAST(sub AS BIGINT) AS sub, CAST(cid AS BIGINT) AS codeword, " +
          "CAST(count(*) AS BIGINT) AS n_assigned, " +
          "CAST(sum(err) AS BIGINT) AS total_err_milli, " +
          "CAST(sum(err) // count(*) AS BIGINT) AS mean_err_milli " +
          "FROM assign GROUP BY 1, 2 ORDER BY 1, 2"
      },
      (s, dir) => {
        import graft.functions.{CustomExpressions => CE}
        val e = tbl(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val subs = e.select(col("vec_id"), posexplode(array(
            (0 until 4).map(sb => slice(col("v"), sb * 16 + 1, 16)): _*))
          .as(Seq("sub", "sv")))
        val cent = subs.filter(col("vec_id") < 8)
          .select(col("sub").as("c_sub"), col("vec_id").as("cid"),
            col("sv").as("cv"))
        val aw = Window.partitionBy("vec_id", "sub")
          .orderBy(col("ssd"), col("cid"))
        val assign = subs.join(broadcast(cent), col("sub") === col("c_sub"))
          .withColumn("ssd", CE.squared_distance(col("sv"), col("cv")))
          .withColumn("rn", row_number().over(aw)).filter(col("rn") === 1)
          .select(col("vec_id"), col("sub"), col("cid"),
            floor(col("ssd") * 1000.0).cast("long").as("err"))
        assign.groupBy(col("sub").cast("long").as("sub"),
            col("cid").cast("long").as("codeword"))
          .agg(count(lit(1)).cast("long").as("n_assigned"),
            sum("err").cast("long").as("total_err_milli"),
            expr("sum(err) div count(*)").cast("long").as("mean_err_milli"))
          .orderBy("sub", "codeword")
      }),

    // Class-balanced downsampling: every language keeps exactly the
    // minority-class count of documents, chosen by seeded 60-bit hash
    // rank (deterministic, layout-independent — the md5 idiom). The
    // equal-per-domain sampler an LLM mixture pipeline uses when
    // proportional sampling would let the head domain drown the rest.
    // Summary output (per-lang kept count + kept-id checksum) keeps
    // the oracle compact while pinning the exact selection.
    Q("sample_balanced_classes",
      Some {
        val h = H.md5PrefixSql("CAST(doc_id AS VARCHAR)", 15)
        s"""WITH d AS (SELECT doc_id, lang, ($h) AS hk FROM documents),
           |mn AS (SELECT min(cnt) AS m FROM
           |  (SELECT lang, count(*) AS cnt FROM d GROUP BY 1)),
           |r AS (SELECT doc_id, lang, row_number() OVER
           |  (PARTITION BY lang ORDER BY hk, doc_id) AS rk FROM d),
           |k AS (SELECT r.lang, r.doc_id FROM r, mn WHERE r.rk <= mn.m)
           |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_total,
           |  CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_kept,
           |  CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN d.doc_id
           |    ELSE 0 END) AS BIGINT) AS kept_docid_sum
           |FROM d LEFT JOIN k ON k.doc_id = d.doc_id
           |GROUP BY 1 ORDER BY 1
           |""".stripMargin
      },
      (s, dir) => {
        val d = tbl(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            H.md5Prefix(col("doc_id").cast("string"), 15).as("hk"))
          .localCheckpoint() // hashed corpus feeds rank + summary
        val mn = d.groupBy("lang").agg(count(lit(1)).as("cnt"))
          .agg(min("cnt").as("m"))
        val r = d.withColumn("rk", row_number().over(
            Window.partitionBy("lang").orderBy("hk", "doc_id")).cast("long"))
          .crossJoin(broadcast(mn))
          .filter(col("rk") <= col("m"))
          .select(col("doc_id").as("kid"))
        val out = d.join(r, col("doc_id") === col("kid"), "left")
          .groupBy("lang")
          .agg(count(lit(1)).cast("long").as("n_total"),
            sum(when(col("kid").isNotNull, 1L).otherwise(0L)).cast("long")
              .as("n_kept"),
            sum(when(col("kid").isNotNull, col("doc_id")).otherwise(0L))
              .cast("long").as("kept_docid_sum"))
          .orderBy("lang")
        H.materialized(out, Nil, Seq(d))
      }))
}
