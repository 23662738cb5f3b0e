package graft.queries

import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Round-9 wave 132: labeling-ops reliability (Krippendorff's α over a
  * deterministic 3-rater panel — the inter-annotator metric any labeling
  * budget is gated on) and Syntetos–Boylan demand-intermittency
  * classification (the ADI × CV² quadrant that decides which forecasting
  * family a part gets — the standard companion to Croston's method).
  * Both exact-integer: α via the ×(m−1)-scaled coincidence matrix,
  * SBC via milli-scaled integer thresholds.
  */
object ReliabilityStatsOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // KRIPPENDORFF'S ALPHA (nominal, 3 raters, complete data): three
    // deterministic pseudo-raters label every document's quality bucket
    // (base bucket from n_chars, rater-specific ±1 perturbation derived
    // from md5(doc_id, rater) — the planted-fixture pattern, identical
    // in both engines). α = 1 − D_o/D_e from the coincidence matrix;
    // with m=3 raters everywhere the 1/(m−1) factor is the constant 2,
    // so the whole computation stays in BIGINTs (the ×2-scaled matrix
    // turns the n−1 factor into n2−2 with n2 = 2n) and α lands as an
    // exact ppm. Per-language panel report: units, raw agreement, α. Scale
    // shape: the rating frame is 3 rows per unit (bounded fanout), the
    // within-unit pair census is a self-join with ≤9 pairs per unit,
    // and everything after is (lang × category²)-domain — bounded.
    Q("eval_krippendorff_alpha",
      Some(
        s"""WITH r AS (
          |  SELECT doc_id, lang, n_chars, rater,
          |    least(4, greatest(0, least(4, n_chars // 100)
          |      + ${H.md5PrefixSql("CAST(doc_id AS VARCHAR) || '#' || " +
                    "CAST(rater AS VARCHAR)", 1)} % 3 - 1))
          |      AS label
          |  FROM documents, (SELECT unnest([1, 2, 3]) AS rater)),
          |nu AS (
          |  SELECT lang, doc_id, label,
          |    CAST(count(*) AS BIGINT) AS nuc
          |  FROM r GROUP BY 1, 2, 3),
          |o AS (
          |  SELECT a.lang, a.label AS c, b.label AS k,
          |    CAST(sum(a.nuc * b.nuc
          |      - CASE WHEN a.label = b.label THEN a.nuc ELSE 0 END)
          |      AS BIGINT) AS ock
          |  FROM nu a JOIN nu b
          |    ON a.doc_id = b.doc_id AND a.lang = b.lang
          |  GROUP BY 1, 2, 3),
          |m AS (
          |  SELECT lang,
          |    CAST(sum(CASE WHEN c <> k THEN ock ELSE 0 END) AS BIGINT)
          |      AS do2,
          |    CAST(sum(ock) AS BIGINT) AS n2
          |  FROM o GROUP BY 1),
          |marg AS (
          |  SELECT lang, c, CAST(sum(ock) AS BIGINT) AS nc
          |  FROM o GROUP BY 1, 2),
          |de AS (
          |  SELECT a.lang,
          |    CAST(sum(CASE WHEN a.c <> b.c THEN a.nc * b.nc ELSE 0 END)
          |      AS BIGINT) AS depair
          |  FROM marg a JOIN marg b ON a.lang = b.lang GROUP BY 1),
          |u AS (SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT)
          |    AS n_units FROM r GROUP BY 1)
          |SELECT m.lang, u.n_units,
          |  CAST((m.n2 - m.do2) * 1000000 // m.n2 AS BIGINT)
          |    AS agreement_ppm,
          |  CAST(1000000 - (m.do2 * (m.n2 - 2) * 1000000)
          |    // de.depair AS BIGINT) AS alpha_ppm
          |FROM m JOIN de ON de.lang = m.lang JOIN u ON u.lang = m.lang
          |ORDER BY m.lang
          |""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val raters = Seq(1, 2, 3).toDF("rater")
        val r = tbl(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .crossJoin(broadcast(raters)) // bounded ×3 fanout
          .withColumn("label",
            least(lit(4), greatest(lit(0),
              least(lit(4), expr("n_chars div 100")) +
                pmod(H.md5Prefix(concat(col("doc_id").cast("string"),
                  lit("#"), col("rater").cast("string")), 1), lit(3)) - 1)))
          .localCheckpoint() // unit counts AND the unit census read it
        val nu = r.groupBy("lang", "doc_id", "label")
          .agg(count(lit(1)).cast("long").as("nuc"))
          .localCheckpoint() // self-joined (≤9 pairs per unit)
        val o = nu.as("a").join(nu.as("b"),
            col("a.doc_id") === col("b.doc_id") &&
              col("a.lang") === col("b.lang"))
          .groupBy(col("a.lang").as("lang"), col("a.label").as("c"),
            col("b.label").as("k"))
          .agg(sum(col("a.nuc") * col("b.nuc") -
            when(col("a.label") === col("b.label"), col("a.nuc"))
              .otherwise(0L)).cast("long").as("ock"))
        val m = o.groupBy("lang")
          .agg(sum(when(col("c") =!= col("k"), col("ock")).otherwise(0L))
            .cast("long").as("do2"),
            sum("ock").cast("long").as("n2"))
        val marg = o.groupBy(col("lang"), col("c"))
          .agg(sum("ock").cast("long").as("nc"))
        val de = marg.as("a").join(marg.as("b"),
            col("a.lang") === col("b.lang"))
          .groupBy(col("a.lang").as("lang"))
          .agg(sum(when(col("a.c") =!= col("b.c"),
            col("a.nc") * col("b.nc")).otherwise(0L)).cast("long")
            .as("depair"))
        val u = r.groupBy("lang")
          .agg(countDistinct("doc_id").cast("long").as("n_units"))
        val out = m.join(de, Seq("lang")).join(u, Seq("lang"))
          .select(col("lang"), col("n_units"),
            expr("CAST((n2 - do2) * 1000000 div n2 AS BIGINT)")
              .as("agreement_ppm"),
            expr("CAST(1000000 - (do2 * (n2 - 2) * 1000000) div depair" +
              " AS BIGINT)").as("alpha_ppm"))
          .orderBy("lang")
        H.materialized(out, caches = Nil, checkpoints = Seq(r, nu))
      }),

    // SYNTETOS–BOYLAN INTERMITTENCY CLASSIFICATION: every part lands in
    // the ADI × CV² quadrant (smooth / intermittent / erratic / lumpy —
    // Syntetos, Boylan & Croston 2005, the public scheme) that decides
    // its forecasting family. ADI = demand-span weeks per demand week;
    // CV² of weekly demand sizes from exact integer moment sums. Both
    // milli-scaled integers compared against the ×1000 thresholds
    // (1320, 490) — no float boundary. Output: the quadrant census with
    // mean ADI/CV² per class. Scale shape: one fact-sized (part, week)
    // reduce, one per-part reduce, then the 4-row class domain.
    Q("part_demand_intermittency",
      Some(
        """WITH w AS (
          |  SELECT l_partkey AS part,
          |    CAST(date_diff('day', TIMESTAMP '1992-01-01',
          |      CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) // 7 AS week,
          |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
          |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          |  GROUP BY 1, 2),
          |p AS (
          |  SELECT part, CAST(count(*) AS BIGINT) AS nw,
          |    CAST(max(week) - min(week) + 1 AS BIGINT) AS span,
          |    CAST(sum(q) AS BIGINT) AS sq,
          |    CAST(sum(q * q) AS BIGINT) AS sqq
          |  FROM w GROUP BY 1),
          |k AS (
          |  SELECT part,
          |    span * 1000 // nw AS adi_milli,
          |    CASE WHEN sq = 0 THEN 0
          |      ELSE ((nw * sqq - sq * sq) * 1000) // (sq * sq) END
          |      AS cv2_milli
          |  FROM p WHERE nw >= 2),
          |c AS (
          |  SELECT part, adi_milli, cv2_milli,
          |    CASE WHEN adi_milli < 1320 AND cv2_milli < 490
          |           THEN 'smooth'
          |         WHEN adi_milli >= 1320 AND cv2_milli < 490
          |           THEN 'intermittent'
          |         WHEN adi_milli < 1320 THEN 'erratic'
          |         ELSE 'lumpy' END AS demand_class
          |  FROM k)
          |SELECT demand_class, CAST(count(*) AS BIGINT) AS n_parts,
          |  CAST(sum(adi_milli) // count(*) AS BIGINT) AS mean_adi_milli,
          |  CAST(sum(cv2_milli) // count(*) AS BIGINT) AS mean_cv2_milli
          |FROM c GROUP BY 1 ORDER BY 1
          |""".stripMargin),
      (s, dir) => {
        val w = tbl(s, dir, "lineitem")
          .join(tbl(s, dir, "orders"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("l_partkey").as("part"),
            (datediff(col("o_orderdate"), lit("1992-01-01")).cast("long")
              / 7).cast("long").as("week"))
          .agg(sum(col("l_quantity").cast("long")).cast("long").as("q"))
        val p = w.groupBy("part")
          .agg(count(lit(1)).cast("long").as("nw"),
            (max("week") - min("week") + 1).cast("long").as("span"),
            sum("q").cast("long").as("sq"),
            sum(col("q") * col("q")).cast("long").as("sqq"))
          .filter(col("nw") >= 2)
        val k = p.select(col("part"),
          expr("span * 1000 div nw").as("adi_milli"),
          when(col("sq") === 0, 0L)
            .otherwise(expr("((nw * sqq - sq * sq) * 1000) div (sq * sq)"))
            .as("cv2_milli"))
        val c = k.withColumn("demand_class",
          when(col("adi_milli") < 1320 && col("cv2_milli") < 490, "smooth")
            .when(col("adi_milli") >= 1320 && col("cv2_milli") < 490,
              "intermittent")
            .when(col("adi_milli") < 1320, "erratic")
            .otherwise("lumpy"))
        c.groupBy("demand_class")
          .agg(count(lit(1)).cast("long").as("n_parts"),
            expr("CAST(sum(adi_milli) div count(1) AS BIGINT)")
              .as("mean_adi_milli"),
            expr("CAST(sum(cv2_milli) div count(1) AS BIGINT)")
              .as("mean_cv2_milli"))
          .orderBy("demand_class")
      })
  )
}
