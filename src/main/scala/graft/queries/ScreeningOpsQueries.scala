package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Seventy-seventh wave: screening and reliability diagnostics — a
  * Brier-score reliability table over a deterministic pseudo-forecast
  * (the calibration diagnostic for any learned quality scorer), peak
  * prominence over the daily event series (the topographic measure
  * that separates real traffic spikes from ripples), per-node local
  * clustering coefficients on the co-supplier graph (closing the
  * triangle census into the standard cohesion ratio), and
  * sorted-neighborhood blocking for record linkage (the classic SNM
  * alternative to hash blocking, built on the two-phase global row-id
  * so the sort never funnels through one partition).
  */
object ScreeningOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // Brier reliability table: a deterministic pseudo-forecast (length
    // signal + seeded hash noise, clamped to [0, 1e6] micro) against
    // the binary outcome n_chars >= 300, binned into deciles. Per bin:
    // count, mean forecast, observed rate, Brier component — all exact
    // integer arithmetic (squares of micro units fit BIGINT at 1e17
    // for 100k docs; the // chain is identical in both engines on
    // non-negative operands). Shape: one scan, one keyed aggregation.
    Q("eval_brier_reliability",
      Some {
        val h = H.md5PrefixSql("CAST(doc_id AS VARCHAR)", 15)
        s"""WITH p AS (SELECT doc_id,
           |  CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y,
           |  LEAST(1000000, GREATEST(0,
           |    (n_chars - 100) * 2500 + (($h) % 500001) - 250000))
           |    AS pm FROM documents),
           |b AS (SELECT LEAST(pm // 100000, 9) AS bin, pm, y FROM p)
           |SELECT CAST(bin AS BIGINT) AS bin,
           |  CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(pm) // count(*) AS BIGINT) AS mean_p_micro,
           |  CAST(sum(y) * 1000000 // count(*) AS BIGINT)
           |    AS mean_y_micro,
           |  CAST(sum((pm - y * 1000000) * (pm - y * 1000000))
           |    // count(*) // 1000000 AS BIGINT) AS brier_micro
           |FROM b GROUP BY 1 ORDER BY 1
           |""".stripMargin
      },
      (s, dir) => {
        val p = tbl(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"),
            when(col("n_chars") >= 300, 1L).otherwise(0L).as("y"),
            least(lit(1000000L), greatest(lit(0L),
              (col("n_chars") - 100) * 2500 +
                (H.md5Prefix(col("doc_id").cast("string"), 15) % 500001) -
                  250000)).as("pm"))
        p.withColumn("bin", least(expr("pm div 100000"), lit(9L)))
          .groupBy(col("bin").cast("long").as("bin"))
          .agg(count(lit(1)).cast("long").as("n"),
            expr("sum(pm) div count(*)").cast("long").as("mean_p_micro"),
            expr("sum(y) * 1000000 div count(*)").cast("long")
              .as("mean_y_micro"),
            expr("sum((pm - y * 1000000) * (pm - y * 1000000))" +
              " div count(*) div 1000000").cast("long").as("brier_micro"))
          .orderBy("bin")
      }),

    // Peak prominence on the daily event-count series: a peak is a
    // strict local maximum; its prominence is height minus the key
    // col — the higher of the two saddle minima between the peak and
    // the nearest taller day on each side (open sides fall back to the
    // global minimum). The series aggregates to the bounded day domain
    // (~30 rows at any SF) before any window or join runs, so the
    // quadratic-looking bound joins cost O(days^2), not O(events).
    Q("ts_peaks_prominence",
      Some(
        """WITH d AS (SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP))
          |    // 86400000000 AS BIGINT) AS dy,
          |  CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
          |x AS (SELECT dy, c, lag(c) OVER (ORDER BY dy) AS pc,
          |  lead(c) OVER (ORDER BY dy) AS nc FROM d),
          |pk AS (SELECT dy, c FROM x
          |  WHERE pc IS NOT NULL AND nc IS NOT NULL AND c > pc AND c > nc),
          |g AS (SELECT CAST(min(c) AS BIGINT) AS gmin FROM d),
          |lb AS (SELECT p.dy, max(h.dy) AS bd FROM pk p
          |  LEFT JOIN d h ON h.dy < p.dy AND h.c > p.c GROUP BY 1),
          |rb AS (SELECT p.dy, min(h.dy) AS bd FROM pk p
          |  LEFT JOIN d h ON h.dy > p.dy AND h.c > p.c GROUP BY 1),
          |sl AS (SELECT p.dy, min(v.c) AS sv FROM pk p
          |  JOIN lb ON lb.dy = p.dy
          |  LEFT JOIN d v ON v.dy < p.dy AND lb.bd IS NOT NULL
          |    AND v.dy > lb.bd GROUP BY 1),
          |sr AS (SELECT p.dy, min(v.c) AS sv FROM pk p
          |  JOIN rb ON rb.dy = p.dy
          |  LEFT JOIN d v ON v.dy > p.dy AND rb.bd IS NOT NULL
          |    AND v.dy < rb.bd GROUP BY 1)
          |SELECT p.dy, p.c AS height,
          |  CAST(p.c - GREATEST(coalesce(sl.sv, g.gmin),
          |    coalesce(sr.sv, g.gmin)) AS BIGINT) AS prominence
          |FROM pk p JOIN sl ON sl.dy = p.dy JOIN sr ON sr.dy = p.dy, g
          |ORDER BY prominence DESC, p.dy
          |""".stripMargin),
      (s, dir) => {
        val d = H.events(s, dir)
          .select(expr("unix_micros(ts) div 86400000000").cast("long")
            .as("dy"))
          .groupBy("dy").agg(count(lit(1)).cast("long").as("c"))
          .localCheckpoint() // bounded day frame feeds 6 join arms
        // bounded ~30-row frame: the unpartitioned window is fine
        val w = Window.orderBy("dy")
        val pk = d.withColumn("pc", lag("c", 1).over(w))
          .withColumn("nc", lead("c", 1).over(w))
          .filter(col("pc").isNotNull && col("nc").isNotNull &&
            col("c") > col("pc") && col("c") > col("nc"))
          .select(col("dy").as("pdy"), col("c").as("pc0"))
          .localCheckpoint()
        val gmin = d.agg(min("c").cast("long").as("gmin"))
        def bound(cmp: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
            agg: String => org.apache.spark.sql.Column) =
          pk.join(d.select(col("dy").as("hdy"), col("c").as("hc")),
              cmp(col("hdy"), col("pdy")) && col("hc") > col("pc0"), "left")
            .groupBy("pdy", "pc0").agg(agg("hdy").as("bd"))
        val lb = bound(_ < _, max).withColumnRenamed("bd", "lbd")
        val rb = bound(_ > _, min).withColumnRenamed("bd", "rbd")
        def saddle(b: org.apache.spark.sql.DataFrame, bcol: String,
            cmp: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
            inner: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column) =
          b.join(d.select(col("dy").as("vdy"), col("c").as("vc")),
              cmp(col("vdy"), col("pdy")) && col(bcol).isNotNull &&
                inner(col("vdy"), col(bcol)), "left")
            .groupBy("pdy", "pc0").agg(min("vc").as("sv"))
        val sl = saddle(lb, "lbd", _ < _, _ > _)
          .withColumnRenamed("sv", "slv")
        val sr = saddle(rb, "rbd", _ > _, _ < _)
          .withColumnRenamed("sv", "srv")
        val out = pk
          .join(sl.select(col("pdy").as("d1"), col("slv")),
            col("pdy") === col("d1"))
          .join(sr.select(col("pdy").as("d2"), col("srv")),
            col("pdy") === col("d2"))
          .crossJoin(broadcast(gmin))
          .select(col("pdy").as("dy"), col("pc0").as("height"),
            (col("pc0") - greatest(coalesce(col("slv"), col("gmin")),
              coalesce(col("srv"), col("gmin")))).cast("long")
              .as("prominence"))
          .orderBy(col("prominence").desc, col("dy"))
        H.materialized(out, Nil, Seq(d, pk))
      }),

    // Per-node local clustering coefficient on the thresholded
    // co-supplier graph (same edge pipeline as graph_triangles —
    // SurfaceQueries.scala — which carries the degree-ordered
    // orientation argument): lcc = 2*tri / (deg*(deg-1)) in micro via
    // integer division. Zero-triangle nodes stay in the output through
    // the left join, so the coefficient distribution is complete.
    Q("graph_clustering_coeff",
      Some("WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem), " +
        "e AS (SELECT x.l_suppkey AS a, y.l_suppkey AS b FROM li x " +
        "JOIN li y ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey " +
        "GROUP BY 1, 2 HAVING count(*) >= 6), " +
        "deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM " +
        "(SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY 1), " +
        "o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) " +
        "THEN e.a ELSE e.b END AS src, " +
        "CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) " +
        "THEN e.b ELSE e.a END AS dst " +
        "FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b), " +
        "tri AS (SELECT w1.src AS u, w1.dst AS v, w2.dst AS w " +
        "FROM o w1 JOIN o w2 ON w2.src = w1.dst " +
        "JOIN o w3 ON w3.src = w1.src AND w3.dst = w2.dst), " +
        "tc AS (SELECT nd, CAST(count(*) AS BIGINT) AS t FROM " +
        "(SELECT u AS nd FROM tri UNION ALL SELECT v FROM tri " +
        "UNION ALL SELECT w FROM tri) GROUP BY 1) " +
        "SELECT deg.v AS s_suppkey, deg.d AS degree, " +
        "CAST(coalesce(tc.t, 0) AS BIGINT) AS n_triangles, " +
        "CAST(coalesce(tc.t, 0) * 2 * 1000000 // (deg.d * (deg.d - 1)) " +
        "AS BIGINT) AS lcc_micro " +
        "FROM deg LEFT JOIN tc ON tc.nd = deg.v " +
        "WHERE deg.d >= 2 ORDER BY 1"),
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .select("l_orderkey", "l_suppkey").distinct()
        val e = li.as("x").join(li.as("y"),
            col("x.l_orderkey") === col("y.l_orderkey") &&
              col("x.l_suppkey") < col("y.l_suppkey"))
          .groupBy(col("x.l_suppkey").as("a"), col("y.l_suppkey").as("b"))
          .agg(count(lit(1)).as("co"))
          .filter(col("co") >= 6).drop("co")
          .localCheckpoint()
        val deg = e.select(col("a").as("v"))
          .unionAll(e.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).cast("long").as("d"))
          .localCheckpoint()
        val fwd = col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b"))
        val o = e
          .join(broadcast(deg.select(col("v").as("va"), col("d").as("da"))),
            col("va") === col("a"))
          .join(broadcast(deg.select(col("v").as("vb"), col("d").as("db"))),
            col("vb") === col("b"))
          .select(when(fwd, col("a")).otherwise(col("b")).as("src"),
            when(fwd, col("b")).otherwise(col("a")).as("dst"))
          .localCheckpoint()
        val tri = o.as("w1")
          .join(o.as("w2"), col("w2.src") === col("w1.dst"))
          .join(o.as("w3"), col("w3.src") === col("w1.src") &&
            col("w3.dst") === col("w2.dst"))
          .select(col("w1.src").as("u"), col("w1.dst").as("v2"),
            col("w2.dst").as("w"))
        val tc = tri.select(col("u").as("nd"))
          .unionAll(tri.select(col("v2").as("nd")))
          .unionAll(tri.select(col("w").as("nd")))
          .groupBy("nd").agg(count(lit(1)).cast("long").as("t"))
        val out = deg.filter(col("d") >= 2)
          .join(tc, col("v") === col("nd"), "left")
          .select(col("v").as("s_suppkey"), col("d").as("degree"),
            coalesce(col("t"), lit(0L)).cast("long").as("n_triangles"),
            expr("coalesce(t, 0) * 2 * 1000000 div (d * (d - 1))")
              .cast("long").as("lcc_micro"))
          .orderBy("s_suppkey")
        H.materialized(out, Nil, Seq(e, deg, o))
      }),

    // Sorted-neighborhood blocking: order customers by (balance cents,
    // custkey), pair each row with its next 2 neighbors, score the
    // pairs on nation / segment / balance-proximity agreement. The
    // global order comes from the two-phase row-id (range partitions +
    // broadcast offsets — same pattern as layout_global_rowid), and
    // the neighbor join is EQUI on rowid+delta, so neither the sort
    // nor the pairing ever funnels through a single partition: the
    // scale shape SNM needs at 10^9 entities.
    Q("er_sorted_neighborhood",
      Some(
        """WITH c0 AS (SELECT c_custkey AS ck, c_nationkey AS nk,
          |  c_mktsegment AS seg,
          |  CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
          |  FROM customer),
          |r AS (SELECT *, row_number() OVER (ORDER BY cents, ck) AS rid
          |  FROM c0),
          |pr AS (SELECT a.ck AS ck1, b.ck AS ck2,
          |  CASE WHEN a.nk = b.nk THEN 2 ELSE 0 END
          |    + CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END
          |    + CASE WHEN abs(a.cents - b.cents) <= 10000 THEN 3 ELSE 0 END
          |    AS score,
          |  abs(a.cents - b.cents) AS gap
          |  FROM r a JOIN r b ON b.rid - a.rid IN (1, 2))
          |SELECT CAST(score AS BIGINT) AS score,
          |  CAST(count(*) AS BIGINT) AS n_pairs,
          |  CAST(min(gap) AS BIGINT) AS min_gap_cents,
          |  CAST(max(gap) AS BIGINT) AS max_gap_cents
          |FROM pr GROUP BY 1 ORDER BY 1
          |""".stripMargin),
      (s, dir) => {
        val keyed = tbl(s, dir, "customer")
          .select(col("c_custkey").as("ck"), col("c_nationkey").as("nk"),
            col("c_mktsegment").as("seg"),
            floor(col("c_acctbal") * 100 + lit(0.5)).cast("long")
              .as("cents"))
          .repartitionByRange(32, col("cents"), col("ck"))
          .withColumn("pid", spark_partition_id())
          .localCheckpoint()
        val offs = keyed.groupBy("pid").agg(count(lit(1)).as("cnt"))
          .withColumn("off",
            sum("cnt").over(Window.orderBy("pid")) - col("cnt"))
          .select(col("pid").as("pid2"), col("off"))
        val r = keyed
          .withColumn("lrk", row_number().over(
            Window.partitionBy("pid").orderBy("cents", "ck")).cast("long"))
          .join(broadcast(offs), col("pid") === col("pid2"))
          .select(col("ck"), col("nk"), col("seg"), col("cents"),
            (col("off") + col("lrk")).as("rid"))
          .localCheckpoint()
        val probe = r.select(col("ck").as("ck1"), col("nk").as("nk1"),
            col("seg").as("seg1"), col("cents").as("c1"), col("rid"))
          .crossJoin(s.range(1, 3).select(col("id").as("d")))
          .withColumn("nrid", col("rid") + col("d"))
        val out = probe.join(r.select(col("ck").as("ck2"),
              col("nk").as("nk2"), col("seg").as("seg2"),
              col("cents").as("c2"), col("rid").as("rid2")),
            col("nrid") === col("rid2"))
          .select(
            (when(col("nk1") === col("nk2"), 2).otherwise(0) +
              when(col("seg1") === col("seg2"), 1).otherwise(0) +
              when(abs(col("c1") - col("c2")) <= 10000, 3).otherwise(0))
              .cast("long").as("score"),
            abs(col("c1") - col("c2")).as("gap"))
          .groupBy("score")
          .agg(count(lit(1)).cast("long").as("n_pairs"),
            min("gap").cast("long").as("min_gap_cents"),
            max("gap").cast("long").as("max_gap_cents"))
          .orderBy("score")
        H.materialized(out, Nil, Seq(keyed, r))
      }))
}
