package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Ninety-third wave: drift, DP selection, SLO alerting, and
  * cross-price elasticity — the population stability index per feature
  * (the ML-ops drift gate), a differentially-private quantile via the
  * exponential mechanism resolved deterministically by seeded
  * Gumbel-max, multi-window SLO burn-rate alerts (the SRE paging
  * rule), and cross-price elasticity between two part brands from
  * micro-quantized log-difference regression.
  *
  * Exactness: PSI bins are integer-indexed off global min/max with
  * add-one smoothing, each bin's (p−q)·ln(p/q) micro-floored pre-sum.
  * The DP quantile's Gumbel noise derives from an md5 hash of the
  * candidate value — a FIXED IEEE chain per candidate, so "random"
  * selection is bit-reproducible in both engines. Burn rates are exact
  * milli ratios. Elasticity quantizes each Δln to micro before the
  * HUGEINT/DECIMAL moment sums.
  */
object DriftPrivacyOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // Population stability index, 1996 → 1997 ship-year populations,
    // for three lineitem features (quantity, price cents, discount
    // milli): 10 equi-width bins off the GLOBAL min/max, add-one
    // smoothing so empty bins stay finite, per-bin PSI term
    // micro-floored before the cross-bin sum. PSI > 0.2 is the
    // retrain/alert convention. One fact scan, features stacked long,
    // the bin frame is 3×10 rows at any corpus size.
    Q("dq_psi_drift",
      Some(
        """WITH b AS (SELECT year(l_shipdate) AS yr,
          |  CAST(l_quantity AS BIGINT) AS f_qty,
          |  CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS f_price,
          |  CAST(floor(l_discount*1000 + 0.5) AS BIGINT) AS f_disc
          |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)),
          |lng AS (SELECT yr, 'quantity' AS feature, f_qty AS v FROM b
          |  UNION ALL SELECT yr, 'price_cents', f_price FROM b
          |  UNION ALL SELECT yr, 'discount_milli', f_disc FROM b),
          |g AS (SELECT feature, CAST(min(v) AS BIGINT) AS lo,
          |  CAST(max(v) AS BIGINT) AS hi FROM lng GROUP BY 1),
          |k AS (SELECT l.feature,
          |  LEAST(9, (l.v - g.lo) * 10 // (g.hi - g.lo + 1)) AS bin,
          |  l.yr FROM lng l JOIN g ON g.feature = l.feature),
          |c AS (SELECT feature, bin,
          |  CAST(1 + sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END)
          |    AS BIGINT) AS ne,
          |  CAST(1 + sum(CASE WHEN yr = 1997 THEN 1 ELSE 0 END)
          |    AS BIGINT) AS na
          |  FROM k GROUP BY 1, 2),
          |t AS (SELECT feature, CAST(sum(ne) AS BIGINT) AS te,
          |  CAST(sum(na) AS BIGINT) AS ta FROM c GROUP BY 1)
          |SELECT c.feature, c.bin, c.ne - 1 AS n_expected,
          |  c.na - 1 AS n_actual,
          |  CAST(floor((CAST(c.na AS DOUBLE)/CAST(t.ta AS DOUBLE)
          |    - CAST(c.ne AS DOUBLE)/CAST(t.te AS DOUBLE))
          |    * ln((CAST(c.na AS DOUBLE)/CAST(t.ta AS DOUBLE))
          |      / (CAST(c.ne AS DOUBLE)/CAST(t.te AS DOUBLE)))
          |    * 1000000.0) AS BIGINT) AS psi_term_micro
          |FROM c JOIN t ON t.feature = c.feature ORDER BY 1, 2
          |""".stripMargin),
      (s, dir) => {
        val b = tbl(s, dir, "lineitem")
          .filter(year(col("l_shipdate")).isin(1996, 1997))
          .select(year(col("l_shipdate")).as("yr"),
            col("l_quantity").cast("long").as("f_qty"),
            floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
              .as("f_price"),
            floor(col("l_discount") * 1000 + lit(0.5)).cast("long")
              .as("f_disc"))
        val lng = b.select(col("yr"), lit("quantity").as("feature"),
            col("f_qty").as("v"))
          .unionByName(b.select(col("yr"),
            lit("price_cents").as("feature"), col("f_price").as("v")))
          .unionByName(b.select(col("yr"),
            lit("discount_milli").as("feature"), col("f_disc").as("v")))
        val g = lng.groupBy("feature")
          .agg(min(col("v")).cast("long").as("lo"),
            max(col("v")).cast("long").as("hi"))
        val k = lng.join(broadcast(g), Seq("feature"))
          .select(col("feature"),
            least(lit(9L), expr("(v - lo) * 10 div (hi - lo + 1)"))
              .as("bin"), col("yr"))
        val c = k.groupBy("feature", "bin")
          .agg((lit(1L) + sum(when(col("yr") === 1996, 1L).otherwise(0L)))
              .cast("long").as("ne"),
            (lit(1L) + sum(when(col("yr") === 1997, 1L).otherwise(0L)))
              .cast("long").as("na"))
        val t = c.groupBy("feature")
          .agg(sum(col("ne")).cast("long").as("te"),
            sum(col("na")).cast("long").as("ta"))
        c.join(broadcast(t), Seq("feature"))
          .select(col("feature"), col("bin"),
            (col("ne") - 1).as("n_expected"),
            (col("na") - 1).as("n_actual"),
            floor((col("na").cast("double") / col("ta").cast("double") -
              col("ne").cast("double") / col("te").cast("double")) *
              log((col("na").cast("double") / col("ta").cast("double")) /
                (col("ne").cast("double") / col("te").cast("double"))) *
              1000000.0d).cast("long").as("psi_term_micro"))
          .orderBy("feature", "bin")
      }),

    // Differentially-private median via the exponential mechanism
    // (ε = 0.02): utility = −|rank − N/2| per candidate, Gumbel noise
    // g = −ln(−ln(u)) with u seeded by an md5 hash of the value — a
    // fixed per-candidate IEEE chain, so the "draw" is deterministic
    // and engine-exact while having the mechanism's exact sampling
    // distribution over fresh seeds. Score = ε/2·u + g, argmax by
    // (score desc, v). The candidate frame is the value histogram —
    // value-bounded — and the whole mechanism is one window-free pass.
    Q("privacy_dp_quantile",
      Some {
        val fold = H.md5PrefixSql("CAST(v AS VARCHAR)", 12)
        """WITH b AS (SELECT CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)
          |    AS v FROM orders),
          |h AS (SELECT v, CAST(count(*) AS BIGINT) AS n FROM b
          |  GROUP BY 1),
          |c AS (SELECT v, n,
          |  CAST(sum(n) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
          |    AS BIGINT) AS cum,
          |  CAST(sum(n) OVER () AS BIGINT) AS nn FROM h),
          |sc AS (SELECT v, n, cum, nn,
          |  ((FOLD) % 1000000 + 1000000) % 1000000 AS u6,
          |  abs(2*cum - nn) AS r2 FROM c),
          |s2 AS (SELECT v, cum, nn,
          |  0.01 * (0.0 - CAST(r2 AS DOUBLE) / 2.0)
          |  - ln(0.0 - ln((CAST(u6 AS DOUBLE) + 0.5) / 1000000.0))
          |    AS score
          |  FROM sc),
          |best AS (SELECT v, cum, nn, score FROM s2
          |  ORDER BY score DESC, v LIMIT 1),
          |med AS (SELECT min(v) AS mv FROM c
          |  WHERE 2*cum >= nn)
          |SELECT best.v AS chosen_cents, med.mv AS true_median_cents,
          |  CAST(abs(2*best.cum - best.nn) AS BIGINT) AS rank_err_2x,
          |  best.nn AS n
          |FROM best, med
          |""".stripMargin.replace("(FOLD)", s"($fold)")
      },
      (s, dir) => {
        val b = tbl(s, dir, "orders")
          .select(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
            .as("v"))
        val h = b.groupBy("v").agg(count(lit(1)).cast("long").as("n"))
        val wc = Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)
        val c = h
          .withColumn("cum", sum(col("n")).over(wc).cast("long"))
          .withColumn("nn",
            sum(col("n")).over(Window.partitionBy()).cast("long"))
        val sc = c
          .withColumn("u6",
            (H.md5Prefix(col("v").cast("string"), 12) % 1000000 + 1000000)
              % 1000000)
          .withColumn("r2", abs(lit(2) * col("cum") - col("nn")))
        val s2 = sc.select(col("v"), col("cum"), col("nn"),
          (lit(0.01d) * (lit(0.0d) - col("r2").cast("double") / 2.0d) -
            log(lit(0.0d) -
              log((col("u6").cast("double") + 0.5d) / 1000000.0d)))
            .as("score"))
        val best = s2.orderBy(col("score").desc, col("v")).limit(1)
        val med = c.filter(lit(2) * col("cum") >= col("nn"))
          .agg(min(col("v")).as("mv"))
        best.crossJoin(broadcast(med))
          .select(col("v").as("chosen_cents"),
            col("mv").as("true_median_cents"),
            abs(lit(2) * col("cum") - col("nn")).cast("long")
              .as("rank_err_2x"),
            col("nn").as("n"))
      }),

    // Multi-window SLO burn-rate alerts over the event stream: error
    // budget = 5% error share; burn = observed share / budget in exact
    // milli, on 6-hour and 24-hour windows; a page fires where the
    // short window burns > 2× AND the long window > 1× (the
    // fast+slow SRE rule that is robust to blips). One scan to hour
    // buckets, two bounded rollups, calendar math in pure integers.
    Q("pipeline_slo_burn_rate",
      Some(
        """WITH e AS (SELECT epoch_us(ts) // 21600000000 AS w6,
          |  epoch_us(ts) // 86400000000 AS w24,
          |  CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS err
          |  FROM events),
          |s AS (SELECT w6, min(w24) AS w24,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(err) AS BIGINT) AS ne FROM e GROUP BY 1),
          |l AS (SELECT w24, CAST(sum(n) AS BIGINT) AS n24,
          |  CAST(sum(ne) AS BIGINT) AS ne24 FROM s GROUP BY 1),
          |j AS (SELECT s.w6, s.n, s.ne,
          |  s.ne * 20000 // s.n AS burn6_milli,
          |  l.ne24 * 20000 // l.n24 AS burn24_milli
          |  FROM s JOIN l ON l.w24 = s.w24)
          |SELECT CAST(w6 AS BIGINT) AS window6_id, n AS n_events,
          |  ne AS n_errors, CAST(burn6_milli AS BIGINT) AS burn6_milli,
          |  CAST(burn24_milli AS BIGINT) AS burn24_milli
          |FROM j WHERE burn6_milli > 2000 AND burn24_milli > 1000
          |ORDER BY 1
          |""".stripMargin),
      (s, dir) => {
        val e = H.events(s, dir)
          .select(expr("unix_micros(ts) div 21600000000").as("w6"),
            expr("unix_micros(ts) div 86400000000").as("w24"),
            when(col("event_type") === "error", 1L).otherwise(0L)
              .as("err"))
        val sfr = e.groupBy("w6")
          .agg(min(col("w24")).as("w24"),
            count(lit(1)).cast("long").as("n"),
            sum(col("err")).cast("long").as("ne"))
        val l = sfr.groupBy("w24")
          .agg(sum(col("n")).cast("long").as("n24"),
            sum(col("ne")).cast("long").as("ne24"))
        sfr.join(l, Seq("w24"))
          .select(col("w6").cast("long").as("window6_id"),
            col("n").as("n_events"), col("ne").as("n_errors"),
            expr("ne * 20000 div n").cast("long").as("burn6_milli"),
            expr("ne24 * 20000 div n24").cast("long").as("burn24_milli"))
          .filter(col("burn6_milli") > 2000 && col("burn24_milli") > 1000)
          .orderBy("window6_id")
      }),

    // Cross-price elasticity between Brand#4 and Brand#2: monthly unit
    // prices (milli-cents, exact div) and quantities per brand; the
    // elasticity of A's demand to B's price is the regression slope of
    // Δln q_A on Δln p_B across consecutive months, each Δln
    // micro-quantized BEFORE the moment sums — own-price slopes ride
    // along, 4 directed pairs out. Everything after the fact scan
    // lives on the ~80-row month frame.
    Q("orders_cross_elasticity",
      Some(
        """WITH f AS (SELECT p.p_brand AS brand,
          |  year(l.l_shipdate)*12 + month(l.l_shipdate) - 1 AS ym,
          |  CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q,
          |  CAST(sum(CAST(floor(l.l_extendedprice*100 + 0.5) AS BIGINT))
          |    AS BIGINT) AS cents
          |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
          |  WHERE p.p_brand IN ('Brand#4', 'Brand#2') GROUP BY 1, 2),
          |m AS (SELECT brand, ym, q, cents * 1000 // q AS pm FROM f),
          |d AS (SELECT brand, ym,
          |  CAST(floor(ln(CAST(q AS DOUBLE)) * 1000000.0) AS BIGINT)
          |    - CAST(floor(ln(CAST(lag(q) OVER w AS DOUBLE))
          |      * 1000000.0) AS BIGINT) AS dlq,
          |  CAST(floor(ln(CAST(pm AS DOUBLE)) * 1000000.0) AS BIGINT)
          |    - CAST(floor(ln(CAST(lag(pm) OVER w AS DOUBLE))
          |      * 1000000.0) AS BIGINT) AS dlp
          |  FROM m WINDOW w AS (PARTITION BY brand ORDER BY ym)),
          |pair AS (SELECT a.brand AS demand_brand,
          |  b.brand AS price_brand, a.dlq AS y, b.dlp AS x
          |  FROM d a JOIN d b ON b.ym = a.ym
          |  WHERE a.dlq IS NOT NULL AND b.dlp IS NOT NULL),
          |mm AS (SELECT demand_brand, price_brand,
          |  CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
          |  CAST(sum(y) AS BIGINT) AS sy,
          |  sum(CAST(x AS HUGEINT) * x) AS sxx,
          |  sum(CAST(x AS HUGEINT) * y) AS sxy
          |  FROM pair GROUP BY 1, 2)
          |SELECT demand_brand, price_brand, n,
          |  CAST(floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
          |    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
          |    / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
          |    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) * 1000000.0)
          |    AS BIGINT) AS elasticity_micro
          |FROM mm ORDER BY 1, 2
          |""".stripMargin),
      (s, dir) => {
        val f = tbl(s, dir, "lineitem")
          .join(broadcast(tbl(s, dir, "part")
              .select(col("p_partkey"), col("p_brand").as("brand"))
              .filter(col("brand").isin("Brand#4", "Brand#2"))),
            col("p_partkey") === col("l_partkey"))
          .groupBy(col("brand"),
            (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1)
              .as("ym"))
          .agg(sum(col("l_quantity").cast("long")).cast("long").as("q"),
            sum(floor(col("l_extendedprice") * 100 + lit(0.5))
              .cast("long")).cast("long").as("cents"))
        val m = f.withColumn("pm", expr("cents * 1000 div q"))
        val w = Window.partitionBy("brand").orderBy("ym")
        val d = m.select(col("brand"), col("ym"),
          (floor(log(col("q").cast("double")) * 1000000.0d).cast("long") -
            floor(log(lag("q", 1).over(w).cast("double")) * 1000000.0d)
              .cast("long")).as("dlq"),
          (floor(log(col("pm").cast("double")) * 1000000.0d)
            .cast("long") -
            floor(log(lag("pm", 1).over(w).cast("double")) * 1000000.0d)
              .cast("long")).as("dlp"))
        val pair = d.as("a")
          .join(d.as("b"), col("b.ym") === col("a.ym"))
          .filter(col("a.dlq").isNotNull && col("b.dlp").isNotNull)
          .select(col("a.brand").as("demand_brand"),
            col("b.brand").as("price_brand"),
            col("a.dlq").as("y"), col("b.dlp").as("x"))
        pair.groupBy("demand_brand", "price_brand")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("x")).cast("long").as("sx"),
            sum(col("y")).cast("long").as("sy"),
            sum(col("x").cast("decimal(38,0)") * col("x"))
              .cast("decimal(38,0)").as("sxx"),
            sum(col("x").cast("decimal(38,0)") * col("y"))
              .cast("decimal(38,0)").as("sxy"))
          .select(col("demand_brand"), col("price_brand"), col("n"),
            floor((col("n").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
              (col("n").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) *
              1000000.0d).cast("long").as("elasticity_micro"))
          .orderBy("demand_brand", "price_brand")
      })
  )
}
