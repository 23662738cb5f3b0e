package graft.queries

import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Seventy-fifth wave: resampling and projection statistics — a
  * Johnson-Lindenstrauss ±1 random-projection audit (distance
  * preservation of hashed sign projections, the THE dimensionality
  * lever for embedding work at scale), a seeded Poisson bootstrap of
  * the corpus quality mean (hash-replicated weights, no RNG state),
  * a Yule-Walker AR(2) fit with a one-step backtest in sign-safe
  * fixed point, and an Allen interval-algebra census between each
  * user's view span and purchase span.
  */
object BootstrapOpsQueries extends QueryModule {

  // Poisson(1) cumulative pmf in micro (published constants as exact
  // scaled integers); the hash residue walks this ladder to a weight
  private val PoisCum = Seq(367879L, 735759L, 919699L, 981012L,
    996340L, 999406L, 999917L, 999990L, 999998L)

  def all: Seq[Q] = Seq(

    // JL distance audit: project 64-dim embeddings (milli-quantized)
    // to 16 dims with a hash-seeded +/-1 sign matrix; for the
    // deterministic pair sample (vec_id % 7 == 0, partner vec_id+1),
    // compare ||y_a - y_b||^2 / 16 against ||x_a - x_b||^2. The sign
    // matrix is a 1024-row broadcast; everything else is keyed
    // aggregation over the exploded coordinates — linear in vectors.
    Q("emb_jl_projection",
      Some {
        val h = H.md5PrefixSql("CAST(r.range AS VARCHAR)", 15)
        s"""WITH sgn AS (SELECT CAST(r.range // 16 AS BIGINT) AS j,
           |  CAST(r.range % 16 AS BIGINT) AS k,
           |  CASE WHEN ($h) & 1 = 1 THEN 1 ELSE -1 END AS s
           |  FROM range(1024) r),
           |q AS MATERIALIZED (SELECT vec_id, CAST(j AS BIGINT) AS j,
           |  CAST(floor(CAST(embedding[CAST(j AS INTEGER) + 1]
           |    AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS qv
           |  FROM (SELECT vec_id, embedding,
           |    unnest(range(0, 64)) AS j FROM embeddings) z),
           |y AS MATERIALIZED (SELECT q.vec_id, sgn.k,
           |  CAST(sum(sgn.s * q.qv) AS BIGINT) AS yv
           |  FROM q JOIN sgn ON sgn.j = q.j GROUP BY q.vec_id, sgn.k),
           |pr AS MATERIALIZED (SELECT vec_id AS a, vec_id + 1 AS b FROM embeddings
           |  WHERE vec_id % 7 = 0 AND vec_id + 1 <= (SELECT max(vec_id)
           |    FROM embeddings)),
           |d64 AS (SELECT pr.a, pr.b,
           |  CAST(sum((qa.qv - qb.qv) * (qa.qv - qb.qv)) AS BIGINT)
           |    AS dd
           |  FROM pr JOIN q qa ON qa.vec_id = pr.a
           |  JOIN q qb ON qb.vec_id = pr.b AND qb.j = qa.j
           |  GROUP BY pr.a, pr.b),
           |d16 AS (SELECT pr.a, pr.b,
           |  CAST(sum((ya.yv - yb.yv) * (ya.yv - yb.yv)) AS BIGINT)
           |    AS dd
           |  FROM pr JOIN y ya ON ya.vec_id = pr.a
           |  JOIN y yb ON yb.vec_id = pr.b AND yb.k = ya.k
           |  GROUP BY pr.a, pr.b),
           |rt AS (SELECT d16.dd * 1000000 // (16 * d64.dd) AS ratio
           |  FROM d64 JOIN d16 ON d16.a = d64.a AND d16.b = d64.b
           |  WHERE d64.dd > 0)
           |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(min(ratio) AS BIGINT) AS min_ratio_micro,
           |  CAST(sum(ratio) // count(*) AS BIGINT) AS mean_ratio_micro,
           |  CAST(max(ratio) AS BIGINT) AS max_ratio_micro,
           |  CAST(sum(CASE WHEN ratio BETWEEN 600000 AND 1500000
           |    THEN 1 ELSE 0 END) AS BIGINT) AS within_band
           |FROM rt
           |""".stripMargin
      },
      (s, dir) => {
        val emb = tbl(s, dir, "embeddings")
        val sgn = s.range(1024)
          .select(expr("id div 16").as("j"), expr("id % 16").as("k"),
            when(H.md5Prefix(col("id").cast("string"), 15).bitwiseAND(1) === 1, 1L)
              .otherwise(-1L).as("s"))
        val q = emb.select(col("vec_id"),
            posexplode(col("embedding")).as(Seq("j", "x")))
          .select(col("vec_id"), col("j").cast("long").as("j"),
            floor(col("x").cast("double") * 1000 + lit(0.5)).cast("long")
              .as("qv"))
          .localCheckpoint() // projection + both d64 sides
        val y = q.join(broadcast(sgn), sgn("j") === q("j"))
          .groupBy(col("vec_id"), col("k"))
          .agg(sum(col("s") * col("qv")).cast("long").as("yv"))
          .localCheckpoint() // both d16 sides
        val mx = emb.agg(max("vec_id").as("mxid"))
        val pr = emb.filter(col("vec_id") % 7 === 0)
          .crossJoin(broadcast(mx))
          .filter(col("vec_id") + 1 <= col("mxid"))
          .select(col("vec_id").as("a"), (col("vec_id") + 1).as("b"))
        val d64 = pr
          .join(q.select(col("vec_id").as("va"), col("j").as("ja"),
            col("qv").as("qa")), col("va") === col("a"))
          .join(q.select(col("vec_id").as("vb"), col("j").as("jb"),
            col("qv").as("qb")),
            col("vb") === col("b") && col("jb") === col("ja"))
          .groupBy("a", "b")
          .agg(sum((col("qa") - col("qb")) * (col("qa") - col("qb")))
            .cast("long").as("dd"))
        val d16 = pr
          .join(y.select(col("vec_id").as("va"), col("k").as("ka"),
            col("yv").as("ya")), col("va") === col("a"))
          .join(y.select(col("vec_id").as("vb"), col("k").as("kb"),
            col("yv").as("yb")),
            col("vb") === col("b") && col("kb") === col("ka"))
          .groupBy(col("a").as("a2"), col("b").as("b2"))
          .agg(sum((col("ya") - col("yb")) * (col("ya") - col("yb")))
            .cast("long").as("dd16"))
        val out = d64.join(d16,
            col("a2") === col("a") && col("b2") === col("b"))
          .filter(col("dd") > 0)
          .select(expr("dd16 * 1000000 div (16 * dd)").as("ratio"))
          .agg(count(lit(1)).cast("long").as("n_pairs"),
            min("ratio").cast("long").as("min_ratio_micro"),
            expr("sum(ratio) div count(*)").cast("long")
              .as("mean_ratio_micro"),
            max("ratio").cast("long").as("max_ratio_micro"),
            sum(when(col("ratio").between(600000, 1500000), 1L)
              .otherwise(0L)).cast("long").as("within_band"))
        H.materialized(out, Nil, Seq(q, y))
      }),

    // Seeded Poisson bootstrap of the corpus mean n_chars: 200
    // replicates, weight = Poisson(1) drawn by walking the exact
    // cumulative-pmf ladder with a 60-bit hash residue. Replicates
    // live in the GROUP BY key, so the whole resample is one
    // map-side-combinable aggregation — no RNG state, no shuffle of
    // raw rows, reproducible on any executor layout.
    Q("stats_poisson_bootstrap",
      Some {
        val h = H.md5PrefixSql("CAST(d.doc_id * 1000 + r.range AS VARCHAR)", 15)
        val ladder = PoisCum.zipWithIndex
          .map { case (c, i) => s"WHEN ($h) % 1000000 < $c THEN $i" }
          .mkString(" ")
        s"""WITH w AS (SELECT r.range AS rep, d.n_chars,
           |  CASE $ladder ELSE 9 END AS wt
           |  FROM documents d CROSS JOIN range(200) r),
           |reps AS (SELECT rep,
           |  CAST(sum(wt * n_chars) * 1000000 // sum(wt) AS BIGINT)
           |    AS m FROM w GROUP BY rep HAVING sum(wt) > 0),
           |rk AS (SELECT m, row_number() OVER (ORDER BY m) AS r
           |  FROM reps),
           |pt AS (SELECT CAST(sum(n_chars) * 1000000 // count(*)
           |  AS BIGINT) AS point FROM documents)
           |SELECT pt.point AS point_micro,
           |  (SELECT CAST(sum(m) // count(*) AS BIGINT) FROM reps)
           |    AS boot_mean_micro,
           |  (SELECT m FROM rk WHERE r = 5) AS ci_lo_micro,
           |  (SELECT m FROM rk WHERE r = 196) AS ci_hi_micro,
           |  (SELECT CAST(count(*) AS BIGINT) FROM reps) AS n_reps
           |FROM pt
           |""".stripMargin
      },
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = tbl(s, dir, "documents")
        val ladder = PoisCum.zipWithIndex
          .map { case (c, i) => s"WHEN hmod < $c THEN $i" }
          .mkString(" ")
        val w = docs.select(col("doc_id"), col("n_chars"))
          .crossJoin(s.range(200).select(col("id").as("rep")))
          .withColumn("hmod",
            H.md5Prefix(expr("doc_id * 1000 + rep").cast("string"), 15) % 1000000)
          .withColumn("wt", expr(s"CASE $ladder ELSE 9 END"))
        val reps = w.groupBy("rep")
          .agg((sum(col("wt") * col("n_chars")) * 1000000).as("num"),
            sum("wt").as("den"))
          .filter(col("den") > 0)
          .select(expr("num div den").cast("long").as("m"))
          .localCheckpoint() // rank pass + mean pass (200 rows)
        // 200-row replicate frame: the unpartitioned rank is bounded
        val rk = reps.withColumn("r", row_number().over(
          Window.orderBy("m")))
        val stats = reps.agg(expr("sum(m) div count(*)").cast("long")
          .as("boot_mean_micro"), count(lit(1)).cast("long").as("n_reps"))
        val lo = rk.filter(col("r") === 5)
          .select(col("m").as("ci_lo_micro"))
        val hi = rk.filter(col("r") === 196)
          .select(col("m").as("ci_hi_micro"))
        val pt = docs.agg(
          expr("sum(n_chars) * 1000000 div count(*)").cast("long")
            .as("point_micro"))
        val out = pt.crossJoin(broadcast(stats))
          .crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
          .select(col("point_micro"), col("boot_mean_micro"),
            col("ci_lo_micro"), col("ci_hi_micro"), col("n_reps"))
        H.materialized(out, Nil, Seq(reps))
      }),

    // Yule-Walker AR(2) on the daily click-count series with a
    // one-step backtest. Autocovariances are exact integers on the
    // mean-centered series; the two coefficient divisions and the
    // per-step forecast division are SIGN-HANDLED (abs value, floor
    // div, explicit sign) because Spark's div truncates while
    // DuckDB's // floors — they only agree on non-negative operands.
    Q("stats_ar2_forecast",
      Some(
        """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS dy,
          |  CAST(count(*) AS BIGINT) AS x FROM events
          |  WHERE event_type = 'click' GROUP BY 1),
          |m AS (SELECT CAST(sum(x) // count(*) AS BIGINT) AS mu,
          |  CAST(count(*) AS BIGINT) AS n FROM d),
          |c AS (SELECT d.dy, d.x - m.mu AS e,
          |  lag(d.x - m.mu) OVER (ORDER BY d.dy) AS e1,
          |  lag(d.x - m.mu, 2) OVER (ORDER BY d.dy) AS e2
          |  FROM d, m),
          |cov AS (SELECT CAST(sum(e * e) AS BIGINT) AS c0,
          |  CAST(sum(CASE WHEN e1 IS NULL THEN 0 ELSE e * e1 END)
          |    AS BIGINT) AS c1,
          |  CAST(sum(CASE WHEN e2 IS NULL THEN 0 ELSE e * e2 END)
          |    AS BIGINT) AS c2 FROM c),
          |r AS (SELECT
          |  CASE WHEN c1 >= 0 THEN c1 * 1000000 // c0
          |    ELSE -((-c1) * 1000000 // c0) END AS r1,
          |  CASE WHEN c2 >= 0 THEN c2 * 1000000 // c0
          |    ELSE -((-c2) * 1000000 // c0) END AS r2 FROM cov),
          |phi AS (SELECT
          |  CASE WHEN r1 * (1000000 - r2) >= 0
          |    THEN r1 * (1000000 - r2) * 1000000
          |      // (1000000000000 - r1 * r1)
          |    ELSE -((-(r1 * (1000000 - r2))) * 1000000
          |      // (1000000000000 - r1 * r1)) END AS p1,
          |  CASE WHEN r2 * 1000000 - r1 * r1 >= 0
          |    THEN (r2 * 1000000 - r1 * r1) * 1000000
          |      // (1000000000000 - r1 * r1)
          |    ELSE -((r1 * r1 - r2 * 1000000) * 1000000
          |      // (1000000000000 - r1 * r1)) END AS p2 FROM r),
          |bt AS (SELECT c.e, c.e1, c.e2, phi.p1, phi.p2,
          |  CASE WHEN phi.p1 * c.e1 + phi.p2 * c.e2 >= 0
          |    THEN (phi.p1 * c.e1 + phi.p2 * c.e2) // 1000000
          |    ELSE -((-(phi.p1 * c.e1 + phi.p2 * c.e2)) // 1000000)
          |  END AS ehat
          |  FROM c, phi WHERE c.e1 IS NOT NULL AND c.e2 IS NOT NULL)
          |SELECT (SELECT CAST(p1 AS BIGINT) FROM phi) AS phi1_micro,
          |  (SELECT CAST(p2 AS BIGINT) FROM phi) AS phi2_micro,
          |  CAST(count(*) AS BIGINT) AS n_eval,
          |  CAST(sum(abs(e - ehat)) * 1000 // count(*) AS BIGINT)
          |    AS mae_milli
          |FROM bt
          |""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = H.events(s, dir)
          .filter(col("event_type") === "click")
          .groupBy(expr("unix_micros(ts) div 86400000000").as("dy"))
          .agg(count(lit(1)).cast("long").as("x"))
          .localCheckpoint() // mean pass + the lag window
        val m = d.agg(expr("sum(x) div count(*)").cast("long").as("mu"))
        // day-level series: bounded by the 30-day domain
        val c = d.crossJoin(broadcast(m))
          .withColumn("e", col("x") - col("mu"))
          .withColumn("e1", lag("e", 1).over(Window.orderBy("dy")))
          .withColumn("e2", lag("e", 2).over(Window.orderBy("dy")))
          .localCheckpoint() // covariance pass + backtest pass
        val cov = c.agg(sum(col("e") * col("e")).cast("long").as("c0"),
          sum(when(col("e1").isNull, 0L).otherwise(col("e") * col("e1")))
            .cast("long").as("c1"),
          sum(when(col("e2").isNull, 0L).otherwise(col("e") * col("e2")))
            .cast("long").as("c2"))
        val phi = cov.select(
          expr("CASE WHEN c1 >= 0 THEN c1 * 1000000 div c0" +
            " ELSE -((-c1) * 1000000 div c0) END").as("r1"),
          expr("CASE WHEN c2 >= 0 THEN c2 * 1000000 div c0" +
            " ELSE -((-c2) * 1000000 div c0) END").as("r2"))
          .select(
            expr("CASE WHEN r1 * (1000000 - r2) >= 0" +
              " THEN r1 * (1000000 - r2) * 1000000" +
              " div (1000000000000 - r1 * r1)" +
              " ELSE -((-(r1 * (1000000 - r2))) * 1000000" +
              " div (1000000000000 - r1 * r1)) END").as("p1"),
            expr("CASE WHEN r2 * 1000000 - r1 * r1 >= 0" +
              " THEN (r2 * 1000000 - r1 * r1) * 1000000" +
              " div (1000000000000 - r1 * r1)" +
              " ELSE -((r1 * r1 - r2 * 1000000) * 1000000" +
              " div (1000000000000 - r1 * r1)) END").as("p2"))
        val bt = c.filter(col("e1").isNotNull && col("e2").isNotNull)
          .crossJoin(broadcast(phi))
          .withColumn("ehat",
            expr("CASE WHEN p1 * e1 + p2 * e2 >= 0" +
              " THEN (p1 * e1 + p2 * e2) div 1000000" +
              " ELSE -((-(p1 * e1 + p2 * e2)) div 1000000) END"))
        val out = bt.agg(
            max("p1").cast("long").as("phi1_micro"),
            max("p2").cast("long").as("phi2_micro"),
            count(lit(1)).cast("long").as("n_eval"),
            expr("sum(abs(e - ehat)) * 1000 div count(*)").cast("long")
              .as("mae_milli"))
        H.materialized(out, Nil, Seq(d, c))
      }),

    // Allen interval-algebra census: classify each user's view span
    // against their purchase span into the 13 Allen relations with one
    // ordered CASE (same order in both engines), then census the
    // relations. One conditional-aggregation pass builds both spans —
    // the classifier never joins, so the shape is scan + one groupBy.
    Q("events_allen_census",
      Some(
        """WITH sp AS (SELECT user_id,
          |  min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
          |    AS s1,
          |  max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
          |    AS e1,
          |  min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
          |    AS s2,
          |  max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
          |    AS e2
          |  FROM events GROUP BY user_id),
          |cl AS (SELECT CASE
          |  WHEN s1 = s2 AND e1 = e2 THEN 'equals'
          |  WHEN e1 < s2 THEN 'before'
          |  WHEN s1 > e2 THEN 'after'
          |  WHEN e1 = s2 THEN 'meets'
          |  WHEN s1 = e2 THEN 'met_by'
          |  WHEN s1 = s2 AND e1 < e2 THEN 'starts'
          |  WHEN s1 = s2 THEN 'started_by'
          |  WHEN e1 = e2 AND s1 > s2 THEN 'finishes'
          |  WHEN e1 = e2 THEN 'finished_by'
          |  WHEN s1 > s2 AND e1 < e2 THEN 'during'
          |  WHEN s1 < s2 AND e1 > e2 THEN 'contains'
          |  WHEN s1 < s2 THEN 'overlaps'
          |  ELSE 'overlapped_by' END AS rel
          |  FROM sp WHERE s1 IS NOT NULL AND s2 IS NOT NULL)
          |SELECT rel, CAST(count(*) AS BIGINT) AS n,
          |  CAST(count(*) * 1000000 // (SELECT count(*) FROM cl)
          |    AS BIGINT) AS share_micro
          |FROM cl GROUP BY rel ORDER BY rel
          |""".stripMargin),
      (s, dir) => {
        val sp = H.events(s, dir)
          .groupBy("user_id")
          .agg(
            min(when(col("event_type") === "view", unix_micros(col("ts"))))
              .as("s1"),
            max(when(col("event_type") === "view", unix_micros(col("ts"))))
              .as("e1"),
            min(when(col("event_type") === "purchase",
              unix_micros(col("ts")))).as("s2"),
            max(when(col("event_type") === "purchase",
              unix_micros(col("ts")))).as("e2"))
          .filter(col("s1").isNotNull && col("s2").isNotNull)
          .select(expr("CASE" +
            " WHEN s1 = s2 AND e1 = e2 THEN 'equals'" +
            " WHEN e1 < s2 THEN 'before'" +
            " WHEN s1 > e2 THEN 'after'" +
            " WHEN e1 = s2 THEN 'meets'" +
            " WHEN s1 = e2 THEN 'met_by'" +
            " WHEN s1 = s2 AND e1 < e2 THEN 'starts'" +
            " WHEN s1 = s2 THEN 'started_by'" +
            " WHEN e1 = e2 AND s1 > s2 THEN 'finishes'" +
            " WHEN e1 = e2 THEN 'finished_by'" +
            " WHEN s1 > s2 AND e1 < e2 THEN 'during'" +
            " WHEN s1 < s2 AND e1 > e2 THEN 'contains'" +
            " WHEN s1 < s2 THEN 'overlaps'" +
            " ELSE 'overlapped_by' END").as("rel"))
          .localCheckpoint() // census + the total for shares
        val tot = sp.agg(count(lit(1)).as("t"))
        val out = sp.groupBy("rel")
          .agg(count(lit(1)).cast("long").as("n"))
          .crossJoin(broadcast(tot))
          .select(col("rel"), col("n"),
            expr("n * 1000000 div t").cast("long").as("share_micro"))
          .orderBy("rel")
        H.materialized(out, Nil, Seq(sp))
      }))
}
