package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}

/** Forty-eighth wave: hypothesis-testing statistics over the event stream —
  * chi-square independence, Mann-Whitney U, two-sample Kolmogorov-Smirnov,
  * and an approximate randomization (permutation) test with hash-seeded
  * reassignment. Everything reduces to the per-(type, value-cent) count
  * domain first (one map-side-combined pass over the facts), so the test
  * statistics run on thousands of rows regardless of corpus size.
  *
  * Exactness: counts/rank sums/CDF gaps are BIGINT throughout (tie ranks
  * carried at 2×, CDF distances cross-multiplied — no division until the
  * final micro scaling, all operands non-negative). The one double
  * appearance (chi-square's squared term) is a per-cell correctly-rounded
  * product of exact integers, floored to micro BEFORE the cross-cell sum.
  */
object StatTestOpsQueries extends QueryModule {

  /** Per-pair merged value-count frame: for each unordered type pair
    * (t1 < t2) and each observed cent value, the two groups' counts. */
  private val MergedSql =
    """e AS (SELECT event_type AS t,
      |  CAST(floor(value*100 + 0.5) AS BIGINT) AS v FROM events),
      |g AS (SELECT t, v, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY t, v),
      |ty AS (SELECT DISTINCT t FROM g),
      |pr AS (SELECT a.t AS t1, b.t AS t2 FROM ty a JOIN ty b ON a.t < b.t),
      |m AS (SELECT pr.t1, pr.t2, g.v,
      |  CAST(sum(CASE WHEN g.t = pr.t1 THEN g.n ELSE 0 END) AS BIGINT) AS n1v,
      |  CAST(sum(CASE WHEN g.t = pr.t2 THEN g.n ELSE 0 END) AS BIGINT) AS n2v
      |  FROM pr JOIN g ON g.t = pr.t1 OR g.t = pr.t2
      |  GROUP BY pr.t1, pr.t2, g.v)""".stripMargin

  private def merged(s: SparkSession, dir: String): DataFrame = {
    val g = H.events(s, dir)
      .select(col("event_type").as("t"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("v"))
      .groupBy("t", "v").agg(count(lit(1)).cast("long").as("n"))
      .localCheckpoint() // type domain + the pair fan-out both read it
    val ty = g.select("t").distinct()
    val pr = ty.select(col("t").as("t1"))
      .join(ty.select(col("t").as("t2")), col("t1") < col("t2"))
    val out = g.join(broadcast(pr), col("t") === col("t1") ||
        col("t") === col("t2"))
      .groupBy("t1", "t2", "v")
      .agg(sum(when(col("t") === col("t1"), col("n")).otherwise(0L))
        .cast("long").as("n1v"),
        sum(when(col("t") === col("t2"), col("n")).otherwise(0L))
          .cast("long").as("n2v"))
    H.materialized(out, caches = Nil, checkpoints = Seq(g))
  }

  def all: Seq[Q] = Seq(

    // Chi-square independence of event type × weekday, per-type
    // contributions in micro over the DENSE contingency spine (zero cells
    // included — they still contribute (rt·ct)²/(rt·ct·N)).
    Q("stats_chi2_independence",
      Some(
        """WITH e AS (SELECT event_type AS t,
          |  CAST(strftime(ts, '%w') AS BIGINT) AS wd FROM events),
          |o AS (SELECT t, wd, CAST(count(*) AS BIGINT) AS obs
          |  FROM e GROUP BY t, wd),
          |r AS (SELECT t, CAST(sum(obs) AS BIGINT) AS rt FROM o GROUP BY t),
          |c AS (SELECT wd, CAST(sum(obs) AS BIGINT) AS ct FROM o GROUP BY wd),
          |n AS (SELECT CAST(sum(obs) AS BIGINT) AS nt FROM o),
          |sp AS (SELECT r.t, c.wd, r.rt, c.ct FROM r CROSS JOIN c),
          |t2 AS (SELECT sp.t, sp.wd, sp.rt, sp.ct, coalesce(o.obs, 0) AS obs
          |  FROM sp LEFT JOIN o ON o.t = sp.t AND o.wd = sp.wd),
          |x AS (SELECT t2.t, CAST(floor(
          |  CAST(t2.obs * n.nt - t2.rt * t2.ct AS DOUBLE)
          |    * CAST(t2.obs * n.nt - t2.rt * t2.ct AS DOUBLE) * 1000000.0
          |    / (CAST(t2.rt AS DOUBLE) * CAST(t2.ct AS DOUBLE)
          |       * CAST(n.nt AS DOUBLE)) + 0.5) AS BIGINT) AS contrib
          |  FROM t2 CROSS JOIN n)
          |SELECT t AS event_type, CAST(count(*) AS BIGINT) AS cells,
          |  CAST(sum(contrib) AS BIGINT) AS contrib_micro
          |FROM x GROUP BY t ORDER BY event_type
          |""".stripMargin),
      (s, dir) => {
        val o = H.events(s, dir)
          .select(col("event_type").as("t"),
            (dayofweek(col("ts")) - 1).cast("long").as("wd"))
          .groupBy("t", "wd").agg(count(lit(1)).cast("long").as("obs"))
          .localCheckpoint() // row totals, col totals, N, and the cells
        val r = o.groupBy("t").agg(sum("obs").cast("long").as("rt"))
        val c = o.groupBy("wd").agg(sum("obs").cast("long").as("ct"))
        val n = o.agg(sum("obs").cast("long").as("nt"))
        val out = r.crossJoin(broadcast(c))
          .join(o, Seq("t", "wd"), "left")
          .withColumn("obs", coalesce(col("obs"), lit(0L)))
          .crossJoin(broadcast(n))
          .withColumn("contrib", floor(
            (col("obs") * col("nt") - col("rt") * col("ct")).cast("double")
              * (col("obs") * col("nt") - col("rt") * col("ct"))
                .cast("double") * lit(1000000.0)
              / (col("rt").cast("double") * col("ct").cast("double")
                * col("nt").cast("double")) + lit(0.5)).cast("long"))
          .groupBy(col("t").as("event_type"))
          .agg(count(lit(1)).cast("long").as("cells"),
            sum("contrib").cast("long").as("contrib_micro"))
          .orderBy("event_type")
        H.materialized(out, caches = Nil, checkpoints = Seq(o))
      }),

    // Mann-Whitney U for every type pair: rank sums carried at 2× so
    // average tie ranks stay integer (2·rank at value v = 2·|below| +
    // tie-group size + 1), U from the rank-sum identity.
    Q("stats_mannwhitney_u",
      Some(
        s"""WITH $MergedSql,
           |w AS (SELECT t1, t2, v, n1v, n2v,
           |  CAST(coalesce(sum(n1v + n2v) OVER (PARTITION BY t1, t2
           |    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |    0) AS BIGINT) AS bef FROM m)
           |SELECT t1, t2, CAST(sum(n1v) AS BIGINT) AS n1,
           |  CAST(sum(n2v) AS BIGINT) AS n2,
           |  CAST(sum(n1v * (2*bef + (n1v + n2v) + 1)) AS BIGINT) AS r1_2x,
           |  CAST(sum(n1v * (2*bef + (n1v + n2v) + 1)) AS BIGINT)
           |    - CAST(sum(n1v) AS BIGINT) * (CAST(sum(n1v) AS BIGINT) + 1)
           |    AS u1_2x
           |FROM w GROUP BY t1, t2 ORDER BY t1, t2
           |""".stripMargin),
      (s, dir) => {
        val wv = Window.partitionBy("t1", "t2").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, -1)
        merged(s, dir)
          .withColumn("bef",
            coalesce(sum(col("n1v") + col("n2v")).over(wv), lit(0L)))
          .groupBy("t1", "t2")
          .agg(sum("n1v").cast("long").as("n1"),
            sum("n2v").cast("long").as("n2"),
            sum(col("n1v") * (lit(2) * col("bef") + col("n1v") + col("n2v")
              + 1)).cast("long").as("r1_2x"))
          .withColumn("u1_2x", col("r1_2x") - col("n1") * (col("n1") + 1))
          .orderBy("t1", "t2")
      }),

    // Two-sample Kolmogorov-Smirnov: sup-norm CDF distance per type pair,
    // cross-multiplied (|c1·n2 − c2·n1|, exact) and reported in micro with
    // the argmax location; ties broken toward the smallest value.
    Q("stats_ks_two_sample",
      Some(
        s"""WITH $MergedSql,
           |k AS (SELECT t1, t2, v,
           |  CAST(sum(n1v) OVER cw AS BIGINT) AS c1,
           |  CAST(sum(n2v) OVER cw AS BIGINT) AS c2,
           |  CAST(sum(n1v) OVER (PARTITION BY t1, t2) AS BIGINT) AS n1,
           |  CAST(sum(n2v) OVER (PARTITION BY t1, t2) AS BIGINT) AS n2
           |  FROM m WINDOW cw AS (PARTITION BY t1, t2 ORDER BY v)),
           |d AS (SELECT t1, t2, v, n1, n2, abs(c1*n2 - c2*n1) AS dx,
           |  row_number() OVER (PARTITION BY t1, t2
           |    ORDER BY abs(c1*n2 - c2*n1) DESC, v) AS rn FROM k)
           |SELECT t1, t2, n1, n2,
           |  CAST(dx * 1000000 // (n1*n2) AS BIGINT) AS d_micro,
           |  v AS at_cents
           |FROM d WHERE rn = 1 ORDER BY t1, t2
           |""".stripMargin),
      (s, dir) => {
        val cw = Window.partitionBy("t1", "t2").orderBy("v")
        val aw = Window.partitionBy("t1", "t2")
        val rw = Window.partitionBy("t1", "t2")
          .orderBy(col("dx").desc, col("v"))
        merged(s, dir)
          .withColumn("c1", sum("n1v").over(cw))
          .withColumn("c2", sum("n2v").over(cw))
          .withColumn("n1", sum("n1v").over(aw).cast("long"))
          .withColumn("n2", sum("n2v").over(aw).cast("long"))
          .withColumn("dx", abs(col("c1") * col("n2") -
            col("c2") * col("n1")))
          .withColumn("rn", row_number().over(rw))
          .filter(col("rn") === 1)
          .select(col("t1"), col("t2"), col("n1"), col("n2"),
            expr("dx * 1000000 div (n1*n2)").as("d_micro"),
            col("v").as("at_cents"))
          .orderBy("t1", "t2")
      }),

    // Approximate randomization test for the click-vs-purchase mean value
    // gap: 40 hash-seeded label reassignments (md5-fold of event_id#b —
    // a pure function of the key, reproducible on any partitioning), the
    // observed gap compared against the permuted distribution. Mean gaps
    // are cross-multiplied exact integers; the explode is 40× the two
    // groups' rows, map-side combined straight back down to 40 sums.
    Q("stats_permutation_test",
      Some {
        // one 60-bit md5 fold per event; permutation b reads bit b−1
        // (same construction as stats_bh_correction — one hash, forty
        // independent bits)
        val fold = H.md5PrefixSql("CAST(event_id AS VARCHAR)", 15)
        s"""WITH e AS (SELECT event_id, event_type AS t, ($fold) AS h,
           |  CAST(floor(value*100 + 0.5) AS BIGINT) AS v FROM events
           |  WHERE event_type IN ('click', 'purchase')),
           |obs AS (SELECT
           |  CAST(sum(CASE WHEN t = 'click' THEN v ELSE 0 END) AS BIGINT) AS s1,
           |  CAST(sum(CASE WHEN t = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           |  CAST(sum(CASE WHEN t = 'purchase' THEN v ELSE 0 END) AS BIGINT) AS s2,
           |  CAST(sum(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n2
           |  FROM e),
           |po AS (SELECT b,
           |  CAST(sum(CASE WHEN (h >> (b - 1)) & 1 = 0 THEN v ELSE 0 END)
           |    AS BIGINT) AS sa,
           |  CAST(sum(CASE WHEN (h >> (b - 1)) & 1 = 0 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS na,
           |  CAST(sum(CASE WHEN (h >> (b - 1)) & 1 = 1 THEN v ELSE 0 END)
           |    AS BIGINT) AS sb,
           |  CAST(sum(CASE WHEN (h >> (b - 1)) & 1 = 1 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS nb
           |  FROM e CROSS JOIN (SELECT unnest(range(1, 41)) AS b) bs
           |  GROUP BY b),
           |st AS (SELECT obs.n1, obs.n2,
           |  abs(obs.s1*obs.n2 - obs.s2*obs.n1) * 10000
           |    // (obs.n1*obs.n2) AS d_obs_micro FROM obs),
           |pd AS (SELECT po.b,
           |  abs(po.sa*po.nb - po.sb*po.na) * 10000 // (po.na*po.nb)
           |    AS d_b_micro FROM po)
           |SELECT st.n1, st.n2, CAST(st.d_obs_micro AS BIGINT) AS d_obs_micro,
           |  CAST(count(*) AS BIGINT) AS b_total,
           |  CAST(sum(CASE WHEN pd.d_b_micro >= st.d_obs_micro
           |    THEN 1 ELSE 0 END) AS BIGINT) AS b_extreme
           |FROM pd CROSS JOIN st GROUP BY st.n1, st.n2, st.d_obs_micro
           |""".stripMargin
      },
      (s, dir) => {
        val e = H.events(s, dir)
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_id"), col("event_type").as("t"),
            H.md5Prefix(col("event_id").cast("string"), 15).as("h"),
            floor(col("value") * 100 + lit(0.5)).cast("long").as("v"))
          .localCheckpoint() // observed stats + the 40-way explode
        val obs = e.agg(
          sum(when(col("t") === "click", col("v")).otherwise(0L))
            .cast("long").as("s1"),
          sum(when(col("t") === "click", 1L).otherwise(0L))
            .cast("long").as("n1"),
          sum(when(col("t") === "purchase", col("v")).otherwise(0L))
            .cast("long").as("s2"),
          sum(when(col("t") === "purchase", 1L).otherwise(0L))
            .cast("long").as("n2"))
          .withColumn("d_obs_micro",
            expr("abs(s1*n2 - s2*n1) * 10000 div (n1*n2)"))
        val po = e
          .withColumn("b", explode(sequence(lit(1), lit(40))))
          .withColumn("side", expr("(h >> (b - 1)) & 1"))
          .groupBy("b")
          .agg(sum(when(col("side") === 0, col("v")).otherwise(0L))
            .cast("long").as("sa"),
            sum(when(col("side") === 0, 1L).otherwise(0L))
              .cast("long").as("na"),
            sum(when(col("side") === 1, col("v")).otherwise(0L))
              .cast("long").as("sb"),
            sum(when(col("side") === 1, 1L).otherwise(0L))
              .cast("long").as("nb"))
          .withColumn("d_b_micro",
            expr("abs(sa*nb - sb*na) * 10000 div (na*nb)"))
        val out = po.crossJoin(broadcast(obs))
          .groupBy("n1", "n2", "d_obs_micro")
          .agg(count(lit(1)).cast("long").as("b_total"),
            sum(when(col("d_b_micro") >= col("d_obs_micro"), 1L)
              .otherwise(0L)).cast("long").as("b_extreme"))
          .select("n1", "n2", "d_obs_micro", "b_total", "b_extreme")
        H.materialized(out, caches = Nil, checkpoints = Seq(e))
      }))
}
