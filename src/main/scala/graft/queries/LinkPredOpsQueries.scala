package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Hundred-eleventh wave: classifier honesty, pricing response, and
  * link prediction — Matthews correlation for a threshold classifier
  * (the single honest number when classes are imbalanced), the
  * discount-depth response ladder (what each discount band actually
  * buys in volume), and a hidden-edge link-prediction evaluation
  * (common-neighbor scores ranked against held-out edges — AUC via
  * the rank-sum identity, never a sampled simulation).
  *
  * Exactness: MCC assembles from four exact confusion counts with one
  * sqrt chain; the ladder is integer cents/quantities with
  * cross-multiplied milli responses; the link-prediction holdout is a
  * deterministic md5 split, scores are integer common-neighbor
  * counts, and AUC rides HUGEINT U statistics.
  */
object LinkPredOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // Matthews correlation for "long doc (≥300 chars) ⇒ English": confusion counts
    // from one scan, MCC = (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)
    // (TN+FN)) with products in HUGEINT/DECIMAL and ONE final sqrt
    // chain. Accuracy looks great under imbalance; MCC is the number
    // that doesn't.
    Q("clf_mcc_threshold",
      Some(
        """WITH c AS (SELECT
          |  CAST(sum(CASE WHEN n_chars >= 300 AND lang = 'en' THEN 1
          |    ELSE 0 END) AS BIGINT) AS tp,
          |  CAST(sum(CASE WHEN n_chars >= 300 AND lang <> 'en' THEN 1
          |    ELSE 0 END) AS BIGINT) AS fp,
          |  CAST(sum(CASE WHEN n_chars < 300 AND lang = 'en' THEN 1
          |    ELSE 0 END) AS BIGINT) AS fn,
          |  CAST(sum(CASE WHEN n_chars < 300 AND lang <> 'en' THEN 1
          |    ELSE 0 END) AS BIGINT) AS tn FROM documents)
          |SELECT tp, fp, fn, tn,
          |  CAST((tp + tn) * 10000 // (tp + fp + fn + tn) AS BIGINT)
          |    AS accuracy_bps,
          |  CAST(floor((CAST(tp AS DOUBLE)*CAST(tn AS DOUBLE)
          |    - CAST(fp AS DOUBLE)*CAST(fn AS DOUBLE))
          |    / sqrt(CAST((tp+fp) AS DOUBLE) * CAST((tp+fn) AS DOUBLE)
          |      * CAST((tn+fp) AS DOUBLE) * CAST((tn+fn) AS DOUBLE))
          |    * 1000000.0) AS BIGINT) AS mcc_micro
          |FROM c
          |""".stripMargin),
      (s, dir) => {
        tbl(s, dir, "documents")
          .agg(
            sum(when(col("n_chars") >= 300 && col("lang") === "en", 1L)
              .otherwise(0L)).cast("long").as("tp"),
            sum(when(col("n_chars") >= 300 && col("lang") =!= "en", 1L)
              .otherwise(0L)).cast("long").as("fp"),
            sum(when(col("n_chars") < 300 && col("lang") === "en", 1L)
              .otherwise(0L)).cast("long").as("fn"),
            sum(when(col("n_chars") < 300 && col("lang") =!= "en", 1L)
              .otherwise(0L)).cast("long").as("tn"))
          .select(col("tp"), col("fp"), col("fn"), col("tn"),
            expr("(tp + tn) * 10000 div (tp + fp + fn + tn)")
              .cast("long").as("accuracy_bps"),
            floor((col("tp").cast("double") * col("tn").cast("double") -
              col("fp").cast("double") * col("fn").cast("double")) /
              sqrt((col("tp") + col("fp")).cast("double") *
                (col("tp") + col("fn")).cast("double") *
                (col("tn") + col("fp")).cast("double") *
                (col("tn") + col("fn")).cast("double")) * 1000000.0d)
              .cast("long").as("mcc_micro"))
      }),

    // Discount-depth response ladder: per discount band (percent
    // points), line count, quantity, gross and net cents, and the
    // volume response vs the zero-discount band — qty-per-line
    // cross-multiplied into milli. Whether 10% off buys MORE than 10%
    // extra volume is the whole margin question; each band answers it
    // with exact integers.
    Q("orders_discount_depth",
      Some(
        """WITH b AS (SELECT CAST(floor(l_discount*100 + 0.5) AS BIGINT)
          |    AS band,
          |  CAST(l_quantity AS BIGINT) AS qty,
          |  CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS gross,
          |  CAST(floor(l_extendedprice*(1 - l_discount)*100 + 0.5)
          |    AS BIGINT) AS net FROM lineitem),
          |g AS (SELECT band, CAST(count(*) AS BIGINT) AS lines,
          |  CAST(sum(qty) AS BIGINT) AS qty,
          |  CAST(sum(gross) AS BIGINT) AS gross_cents,
          |  CAST(sum(net) AS BIGINT) AS net_cents FROM b GROUP BY 1),
          |z AS (SELECT qty AS q0, lines AS l0 FROM g WHERE band = 0)
          |SELECT g.band AS discount_pct, g.lines, g.qty, g.gross_cents,
          |  g.net_cents,
          |  CAST(CAST(g.qty AS HUGEINT) * z.l0 * 1000
          |    // (CAST(z.q0 AS HUGEINT) * g.lines) AS BIGINT)
          |    AS qty_per_line_vs_base_milli
          |FROM g, z ORDER BY 1
          |""".stripMargin),
      (s, dir) => {
        val g = tbl(s, dir, "lineitem")
          .select(floor(col("l_discount") * 100 + lit(0.5)).cast("long")
            .as("band"),
            col("l_quantity").cast("long").as("qty"),
            floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
              .as("gross"),
            floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
              * 100 + lit(0.5)).cast("long").as("net"))
          .groupBy("band")
          .agg(count(lit(1)).cast("long").as("lines"),
            sum(col("qty")).cast("long").as("qty"),
            sum(col("gross")).cast("long").as("gross_cents"),
            sum(col("net")).cast("long").as("net_cents"))
        val z = g.filter(col("band") === 0)
          .select(col("qty").as("q0"), col("lines").as("l0"))
        g.crossJoin(broadcast(z))
          .select(col("band").as("discount_pct"), col("lines"),
            col("qty"), col("gross_cents"), col("net_cents"),
            expr("CAST(CAST(qty AS DECIMAL(38,0)) * l0 * 1000" +
              " div (CAST(q0 AS DECIMAL(38,0)) * lines) AS BIGINT)")
              .as("qty_per_line_vs_base_milli"))
          .orderBy("discount_pct")
      }),

    // Link prediction on the co-supplier graph: hide the ~33% of edges
    // whose md5 fold says so, score EVERY hidden edge and an equal
    // universe of observed-graph non-edges... in practice: score all
    // wedge-closing candidate pairs of the VISIBLE graph by common
    // neighbors, label each candidate by whether it is a hidden edge,
    // and compute AUC via the rank-sum identity on the score
    // histogram. The evaluation loop behind every "people also bought"
    // model, deterministic end to end.
    Q("graph_linkpred_eval",
      Some {
        val fold = H.md5PrefixSql("CAST(a * 100000 + b AS VARCHAR)", 4)
        s"""WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey
           |  FROM lineitem),
           |e AS (SELECT x.l_suppkey AS a, y.l_suppkey AS b FROM li x
           |  JOIN li y ON x.l_orderkey = y.l_orderkey
           |    AND x.l_suppkey < y.l_suppkey
           |  GROUP BY 1, 2 HAVING count(*) >= 6),
           |s AS (SELECT a, b, ($fold) % 3 = 0 AS hidden FROM e),
           |vis AS (SELECT a, b FROM s WHERE NOT hidden),
           |und AS (SELECT a AS u, b AS v FROM vis
           |  UNION ALL SELECT b, a FROM vis),
           |cand AS (SELECT w1.u AS a, w2.v AS b,
           |  CAST(count(*) AS BIGINT) AS cn
           |  FROM und w1 JOIN und w2 ON w2.u = w1.v AND w1.u < w2.v
           |  WHERE NOT EXISTS (SELECT 1 FROM vis
           |    WHERE vis.a = w1.u AND vis.b = w2.v)
           |  GROUP BY 1, 2),
           |lab AS (SELECT cand.cn,
           |  CASE WHEN s.a IS NOT NULL THEN 1 ELSE 0 END AS pos
           |  FROM cand LEFT JOIN (SELECT a, b FROM s WHERE hidden) s
           |    ON s.a = cand.a AND s.b = cand.b),
           |h AS (SELECT cn, CAST(sum(pos) AS BIGINT) AS n1,
           |  CAST(sum(1 - pos) AS BIGINT) AS n0 FROM lab GROUP BY 1),
           |c AS (SELECT cn, n1, n0,
           |  CAST(coalesce(sum(n0) OVER (ORDER BY cn
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |    AS BIGINT) AS c0 FROM h),
           |u AS (SELECT sum(CAST(n1 AS HUGEINT) * (2*c0 + n0)) AS u2,
           |  CAST(sum(n1) AS BIGINT) AS np, CAST(sum(n0) AS BIGINT)
           |    AS nn FROM c)
           |SELECT np AS hidden_recoverable, nn AS non_edges,
           |  CAST(CASE WHEN np = 0 OR nn = 0 THEN -1
           |    ELSE u2 * 500000 // (CAST(np AS HUGEINT) * nn) END
           |    AS BIGINT) AS auc_micro
           |FROM u
           |""".stripMargin
      },
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .select("l_orderkey", "l_suppkey").distinct()
        val e = li.as("x")
          .join(li.as("y"),
            col("x.l_orderkey") === col("y.l_orderkey") &&
              col("x.l_suppkey") < col("y.l_suppkey"))
          .groupBy(col("x.l_suppkey").as("a"), col("y.l_suppkey").as("b"))
          .agg(count(lit(1)).as("w")).filter(col("w") >= 6)
          .select(col("a"), col("b"),
            (H.md5Prefix((col("a") * 100000 + col("b")).cast("string"), 4)
              % 3 === 0)
              .as("hidden"))
          .localCheckpoint()
        val vis = e.filter(!col("hidden")).select("a", "b")
        val und = vis.select(col("a").as("u"), col("b").as("v"))
          .unionAll(vis.select(col("b").as("u"), col("a").as("v")))
          .localCheckpoint()
        val cand = und.as("w1")
          .join(und.as("w2"), col("w2.u") === col("w1.v") &&
            col("w1.u") < col("w2.v"))
          .select(col("w1.u").as("a"), col("w2.v").as("b"))
          .join(vis.select(col("a").as("va"), col("b").as("vb")),
            col("a") === col("va") && col("b") === col("vb"),
            "left_anti")
          .groupBy("a", "b").agg(count(lit(1)).cast("long").as("cn"))
        val lab = cand
          .join(e.filter(col("hidden"))
              .select(col("a").as("ha"), col("b").as("hb")),
            col("a") === col("ha") && col("b") === col("hb"), "left")
          .select(col("cn"),
            when(col("ha").isNotNull, 1).otherwise(0).as("pos"))
        val h = lab.groupBy("cn")
          .agg(sum(col("pos")).cast("long").as("n1"),
            sum(lit(1) - col("pos")).cast("long").as("n0"))
        val wc = Window.orderBy("cn")
          .rowsBetween(Window.unboundedPreceding, -1)
        val c = h.withColumn("c0",
          coalesce(sum(col("n0")).over(wc), lit(0L)).cast("long"))
        val out = c.agg(
            sum(col("n1").cast("decimal(38,0)") *
              (lit(2) * col("c0") + col("n0"))).cast("decimal(38,0)")
              .as("u2"),
            sum(col("n1")).cast("long").as("np"),
            sum(col("n0")).cast("long").as("nn"))
          .select(col("np").as("hidden_recoverable"),
            col("nn").as("non_edges"),
            expr("CAST(CASE WHEN np = 0 OR nn = 0 THEN -1" +
              " ELSE u2 * 500000 div (CAST(np AS DECIMAL(38,0))" +
              " * nn) END AS BIGINT)").as("auc_micro"))
        H.materialized(out, Nil, Seq(e, und))
      })
  )
}
