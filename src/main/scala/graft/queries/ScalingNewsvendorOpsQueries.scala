package graft.queries

import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Round-11 waves 174-175: neural-scaling-law fit (Chinchilla shape) and
  * the average-precision ranking metric (the PR-curve summary next to the
  * existing ROC-AUC) — planning/eval gates reduced to bounded-domain
  * arithmetic after one fact-sized pass. (A newsvendor stocking op was
  * drafted here and dropped: AlignmentOpsQueries.orders_newsvendor
  * already covers it.)
  */
object ScalingNewsvendorOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // SCALING-LAW FIT: L(N) = E + A·N^(−α) (the Chinchilla data-scaling
    // form). Runs are the order-count-per-month series (a bounded ~84-
    // month spine whose N grows with the corpus); per-run loss is
    // synthesized from the law at (E,A,α) = (1.8, 350, 0.32) plus ±0.005
    // hash jitter, and the fit must RECOVER the exponent: grid α ∈
    // {0.02, 0.04, …, 0.80}, closed-form OLS of L on x = N^(−α) per grid
    // point (A = Sxy/Sxx, E = L̄ − A·x̄, SSE = Syy − Sxy²/Sxx), argmin
    // SSE with smallest-α tie-break. One fact reduce onto the month
    // spine; the 40-point grid × ≤84 runs cross join and everything
    // after is bounded-domain arithmetic.
    Q("stats_scaling_law_fit",
      Some {
        val fj = H.md5PrefixSql("'sl:' || strftime(m, '%Y-%m')", 12)
        s"""WITH runs AS (SELECT date_trunc('month', o_orderdate) AS m,
           |    CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1),
           |obs AS (SELECT n,
           |    1.8 + 350 * pow(n, -0.32)
           |      + (($fj) % 1000 - 500) / 100000.0 AS l FROM runs),
           |grid AS (SELECT unnest(range(1, 41)) * 0.02 AS alpha),
           |xy AS (SELECT alpha, pow(n, -alpha) AS x, l FROM obs, grid),
           |fit AS (SELECT alpha, count(*) AS k, avg(x) AS mx, avg(l) AS ml,
           |    sum(x*x) - count(*) * avg(x) * avg(x) AS sxx,
           |    sum(x*l) - count(*) * avg(x) * avg(l) AS sxy,
           |    sum(l*l) - count(*) * avg(l) * avg(l) AS syy
           |  FROM xy GROUP BY alpha),
           |best AS (SELECT alpha, syy - sxy * sxy / sxx AS sse,
           |    sxy / sxx AS a_hat, ml - sxy / sxx * mx AS e_hat, k
           |  FROM fit WHERE sxx > 0 ORDER BY sse, alpha LIMIT 1)
           |SELECT CAST(k AS BIGINT) AS n_runs,
           |  CAST(floor(alpha * 100 + 0.5) AS BIGINT) AS alpha_centi,
           |  CAST(floor(e_hat * 1000000 + 0.5) AS BIGINT) AS e_micro,
           |  CAST(floor(a_hat * 1000 + 0.5) AS BIGINT) AS a_milli,
           |  CAST(floor(sse * 1000000 + 0.5) AS BIGINT) AS sse_micro
           |FROM best
           |""".stripMargin
      },
      (s, dir) => {
        val runs = tbl(s, dir, "orders")
          .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
          .agg(count(lit(1)).cast("long").as("n"))
        val obs = runs.select(col("n"),
          (lit(1.8) + lit(350) * pow(col("n"), -0.32)
            + (H.md5Prefix(concat(lit("sl:"), date_format(col("m"), "yyyy-MM")), 12)
              % 1000 - 500) / 100000.0).as("l"))
          .localCheckpoint() // bounded month spine, read per grid point
        val grid = s.range(1, 41)
          .select((col("id") * 0.02).as("alpha"))
        val xy = obs.crossJoin(broadcast(grid))
          .select(col("alpha"), pow(col("n"), -col("alpha")).as("x"), col("l"))
        val fit = xy.groupBy("alpha").agg(
          count(lit(1)).as("k"), avg("x").as("mx"), avg("l").as("ml"),
          (sum(col("x") * col("x")) - count(lit(1)) * avg("x") * avg("x"))
            .as("sxx"),
          (sum(col("x") * col("l")) - count(lit(1)) * avg("x") * avg("l"))
            .as("sxy"),
          (sum(col("l") * col("l")) - count(lit(1)) * avg("l") * avg("l"))
            .as("syy"))
        val best = fit.filter(col("sxx") > 0)
          .select(col("alpha"), col("k"),
            (col("syy") - col("sxy") * col("sxy") / col("sxx")).as("sse"),
            (col("sxy") / col("sxx")).as("a_hat"),
            (col("ml") - col("sxy") / col("sxx") * col("mx")).as("e_hat"))
          .orderBy(col("sse"), col("alpha")).limit(1)
        val out = best.select(col("k").cast("long").as("n_runs"),
          floor(col("alpha") * 100 + 0.5).cast("long").as("alpha_centi"),
          floor(col("e_hat") * 1000000 + 0.5).cast("long").as("e_micro"),
          floor(col("a_hat") * 1000 + 0.5).cast("long").as("a_milli"),
          floor(col("sse") * 1000000 + 0.5).cast("long").as("sse_micro"))
        H.materialized(out, caches = Nil, checkpoints = Seq(obs))
      }),

    // AVERAGE PRECISION (area under the precision-recall curve, the
    // class-imbalance-honest companion to clf_roc_auc): a hash score
    // with a +300 class shift over the embeddings table, ranked
    // globally. AP = (1/n_pos)·Σ_j (j / r_j) over positives, where r_j
    // is the j-th positive's global rank — BOTH ranks come from
    // H.globalRank (range-partition + within-partition rank + broadcast
    // offsets), so no single-partition sort of corpus rows anywhere.
    Q("clf_pr_auc",
      Some {
        val fs = H.md5PrefixSql("'pr:' || CAST(vec_id AS VARCHAR)", 12)
        s"""WITH scored AS (SELECT vec_id,
           |    CASE WHEN label = 0 THEN 1 ELSE 0 END AS y,
           |    ($fs) % 1000
           |      + CASE WHEN label = 0 THEN 300 ELSE 0 END AS s
           |  FROM embeddings),
           |r AS (SELECT *, row_number() OVER
           |    (ORDER BY s DESC, vec_id) AS rnk FROM scored),
           |p AS (SELECT rnk, row_number() OVER
           |    (ORDER BY rnk) AS j FROM r WHERE y = 1)
           |SELECT CAST(count(*) AS BIGINT) AS n_pos,
           |  (SELECT CAST(count(*) AS BIGINT) FROM scored) AS n,
           |  CAST(floor(avg(CAST(j AS DOUBLE) / rnk) * 1000000 + 0.5)
           |    AS BIGINT) AS ap_micro,
           |  CAST(sum(CASE WHEN rnk <= 100 THEN 1 ELSE 0 END) * 10
           |    AS BIGINT) AS p_at_100_milli
           |FROM p
           |""".stripMargin
      },
      (s, dir) => {
        val scored = tbl(s, dir, "embeddings")
          .select(col("vec_id"),
            when(col("label") === 0, 1L).otherwise(0L).as("y"),
            (H.md5Prefix(concat(lit("pr:"), col("vec_id").cast("string")), 12) % 1000
              + when(col("label") === 0, 300L).otherwise(0L)).as("s"))
        val (ranked, rChk) = H.globalRank(scored,
          Seq(col("s").desc, col("vec_id").asc), "rnk")
        val pos = ranked.filter(col("y") === 1).select("rnk")
        val (posRanked, pChk) = H.globalRank(pos, Seq(col("rnk").asc), "j")
        val tot = scored.agg(count(lit(1)).cast("long").as("n"))
        val out = posRanked
          .agg(count(lit(1)).cast("long").as("n_pos"),
            floor(avg(col("j").cast("double") / col("rnk")) * 1000000 + 0.5)
              .cast("long").as("ap_micro"),
            (sum(when(col("rnk") <= 100, 1L).otherwise(0L)) * 10)
              .cast("long").as("p_at_100_milli"))
          .crossJoin(broadcast(tot))
          .select(col("n_pos"), col("n"), col("ap_micro"),
            col("p_at_100_milli"))
        H.materialized(out, caches = Nil, checkpoints = Seq(rChk, pChk))
      })
  )
}
