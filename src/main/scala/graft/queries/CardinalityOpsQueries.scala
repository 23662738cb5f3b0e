package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Hundred-ninth wave: optimizer science and long-memory diagnostics —
  * join-cardinality estimation error (coarse-histogram CBO estimate vs
  * the exact self-join size), a chi-square uniformity audit of the md5
  * fold every sampler in this repo leans on, the Hurst exponent via
  * rescaled-range analysis, and the Chan parallel-variance merge
  * proven as an EXACT integer identity across a partition split.
  *
  * Exactness: cardinalities and chi-square ride exact HUGEINT
  * rationals (denominators multiplied through); R/S floors each
  * block's one float chain to micro pre-mean; the variance identity is
  * scaled by n·na·nb so both sides are integers — equality is exact,
  * not approximate.
  */
object CardinalityOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // Join-cardinality estimation error: the exact size of the
    // lineitem part-key self-join (Σ cnt², from the key histogram —
    // never materializing the join) vs what a 64-wide equi-depth-less
    // bucket histogram predicts under the uniform assumption
    // (Σ nb²/width per bucket) — the estimate a CBO would make. The
    // error ratio in milli IS the skew the optimizer can't see at that
    // histogram resolution; one keyed aggregation each.
    Q("dq_join_cardinality_estimate",
      Some(
        """WITH h AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT)
          |    AS c FROM lineitem GROUP BY 1),
          |act AS (SELECT sum(CAST(c AS HUGEINT) * c) AS rows_exact,
          |  CAST(count(*) AS BIGINT) AS n_keys,
          |  CAST(min(k) AS BIGINT) AS kmin, CAST(max(k) AS BIGINT)
          |    AS kmax FROM h),
          |b AS (SELECT (h.k - act.kmin) * 64
          |    // (act.kmax - act.kmin + 1) AS bkt,
          |  CAST(sum(h.c) AS BIGINT) AS nb,
          |  CAST(count(*) AS BIGINT) AS keys_in FROM h, act
          |  GROUP BY 1),
          |est AS (SELECT sum(CAST(nb AS HUGEINT) * nb * 1000
          |    // keys_in) AS est_milli FROM b)
          |SELECT act.n_keys,
          |  CAST(act.rows_exact AS VARCHAR) AS join_rows_exact,
          |  CAST(est.est_milli // 1000 AS VARCHAR) AS cbo_estimate,
          |  CAST(est.est_milli // (act.rows_exact) AS BIGINT)
          |    AS est_over_actual_milli
          |FROM act, est
          |""".stripMargin),
      (s, dir) => {
        val h = tbl(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("k"))
          .agg(count(lit(1)).cast("long").as("c"))
          .localCheckpoint()
        val act = h.agg(
          sum(col("c").cast("decimal(38,0)") * col("c"))
            .cast("decimal(38,0)").as("rows_exact"),
          count(lit(1)).cast("long").as("n_keys"),
          min(col("k")).cast("long").as("kmin"),
          max(col("k")).cast("long").as("kmax"))
        val b = h.crossJoin(broadcast(act))
          .groupBy(expr("(k - kmin) * 64 div (kmax - kmin + 1)")
            .as("bkt"))
          .agg(sum(col("c")).cast("long").as("nb"),
            count(lit(1)).cast("long").as("keys_in"))
        val est = b.agg(sum(expr(
          "CAST(nb AS DECIMAL(38,0)) * nb * 1000 div keys_in"))
          .cast("decimal(38,0)").as("est_milli"))
        val out = act.crossJoin(broadcast(est))
          .select(col("n_keys"),
            col("rows_exact").cast("string").as("join_rows_exact"),
            expr("CAST(est_milli div 1000 AS STRING)")
              .as("cbo_estimate"),
            expr("CAST(est_milli div rows_exact AS BIGINT)")
              .as("est_over_actual_milli"))
        H.materialized(out, Nil, Seq(h))
      }),

    // Hash-fold uniformity: the md5 48-bit fold (the basis of every
    // deterministic split/sample/seed in this engine) bucketed 64
    // ways over doc_id, chi-square against uniform as an EXACT
    // rational — Σ(64·o − n)² / (64·n) in micro — plus the 5% critical
    // bound for 63 degrees of freedom. If this ever fails, every
    // hash-split in the repo is suspect; it is the sampler's own
    // regression test.
    Q("dq_hash_uniformity",
      Some {
        s"""WITH f AS (SELECT
           |  ((${H.md5PrefixSql("CAST(doc_id AS VARCHAR)", 12)}) % 64 + 64)
           |    % 64 AS bkt FROM documents),
           |c AS (SELECT bkt, CAST(count(*) AS BIGINT) AS o FROM f
           |  GROUP BY 1),
           |t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
           |  CAST(count(*) AS BIGINT) AS k FROM c),
           |x AS (SELECT sum(CAST(64*c.o - t.n AS HUGEINT)
           |    * (64*c.o - t.n)) AS num FROM c, t)
           |SELECT t.n AS n_docs, t.k AS buckets,
           |  CAST(x.num * 1000000 // (64 * CAST(t.n AS HUGEINT))
           |    // 1000000 AS BIGINT) AS chi2,
           |  CAST(x.num * 1000000 // (64 * CAST(t.n AS HUGEINT))
           |    AS BIGINT) AS chi2_micro,
           |  CAST(CASE WHEN x.num * 1000000
           |    // (64 * CAST(t.n AS HUGEINT)) <= 82529000 THEN 1
           |    ELSE 0 END AS BIGINT) AS uniform_at_5pct
           |FROM t, x
           |""".stripMargin
      },
      (s, dir) => {
        val f = tbl(s, dir, "documents")
          .select(((H.md5Prefix(col("doc_id").cast("string"), 12) % 64) + 64)
            % 64 as "bkt")
        val c = f.groupBy("bkt").agg(count(lit(1)).cast("long").as("o"))
        val t = c.agg(sum(col("o")).cast("long").as("n"),
          count(lit(1)).cast("long").as("k"))
        val x = c.crossJoin(broadcast(t))
          .agg(sum((lit(64) * col("o") - col("n"))
            .cast("decimal(38,0)") *
            (lit(64) * col("o") - col("n"))).cast("decimal(38,0)")
            .as("num"))
        t.crossJoin(broadcast(x))
          .select(col("n").as("n_docs"), col("k").as("buckets"),
            expr("CAST(num * 1000000 div (64 * CAST(n AS" +
              " DECIMAL(38,0))) div 1000000 AS BIGINT)").as("chi2"),
            expr("CAST(num * 1000000 div (64 * CAST(n AS" +
              " DECIMAL(38,0))) AS BIGINT)").as("chi2_micro"),
            expr("CAST(CASE WHEN num * 1000000 div (64 * CAST(n AS" +
              " DECIMAL(38,0))) <= 82529000 THEN 1 ELSE 0 END" +
              " AS BIGINT)").as("uniform_at_5pct"))
      }),

    // Hurst exponent by rescaled-range analysis: the daily-revenue
    // series in complete blocks of 8/16/32/64 days; per block the
    // range of w-scaled cumulative deviations over the block std (one
    // micro-floored chain), per size the integer mean, then the
    // log-log slope. H ≈ 0.5 = no memory; H > 0.5 = trends persist —
    // whether yesterday's revenue anomaly predicts next week's.
    Q("ts_hurst_rs",
      Some(
        """WITH d AS (SELECT CAST(date_diff('day',
          |    TIMESTAMP '1992-01-01', o_orderdate) AS BIGINT) AS t,
          |  CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))
          |    AS BIGINT) // 100000 AS kd
          |  FROM orders GROUP BY o_orderdate),
          |ix AS (SELECT kd, CAST(row_number() OVER (ORDER BY t)
          |    AS BIGINT) - 1 AS i FROM d),
          |w(w) AS (VALUES (8), (16), (32), (64)),
          |blk AS (SELECT w.w, ix.i // w.w AS b, ix.i % w.w AS pos,
          |  ix.kd FROM ix, w),
          |bs AS (SELECT w, b, CAST(count(*) AS BIGINT) AS cnt,
          |  CAST(sum(kd) AS BIGINT) AS s,
          |  sum(CAST(kd AS HUGEINT)*kd) AS q FROM blk GROUP BY 1, 2),
          |full_b AS (SELECT w, b, s, q FROM bs WHERE cnt = w),
          |cum AS (SELECT blk.w, blk.b, blk.pos,
          |  CAST(sum(blk.kd * blk.w) OVER (PARTITION BY blk.w, blk.b
          |    ORDER BY blk.pos ROWS UNBOUNDED PRECEDING) AS BIGINT)
          |    - (blk.pos + 1) * fb.s AS dev
          |  FROM blk JOIN full_b fb ON fb.w = blk.w AND fb.b = blk.b),
          |rng AS (SELECT w, b, CAST(max(dev) - min(dev) AS BIGINT)
          |    AS r FROM cum GROUP BY 1, 2),
          |rs AS (SELECT rng.w, rng.b,
          |  CAST(floor(CAST(rng.r AS DOUBLE) / CAST(rng.w AS DOUBLE)
          |    / sqrt((CAST(fb.q AS DOUBLE)*CAST(rng.w AS DOUBLE)
          |      - CAST(fb.s AS DOUBLE)*CAST(fb.s AS DOUBLE))
          |      / (CAST(rng.w AS DOUBLE)*CAST(rng.w AS DOUBLE)))
          |    * 1000000.0) AS BIGINT) AS rs_micro
          |  FROM rng JOIN full_b fb ON fb.w = rng.w AND fb.b = rng.b),
          |mn AS (SELECT w, CAST(sum(rs_micro) // count(*) AS BIGINT)
          |    AS mean_rs_micro, CAST(count(*) AS BIGINT) AS n_blocks
          |  FROM rs GROUP BY 1),
          |pt AS (SELECT CAST(floor(ln(CAST(w AS DOUBLE)) * 1000000.0)
          |    AS BIGINT) AS lx,
          |  CAST(floor(ln(CAST(mean_rs_micro AS DOUBLE) / 1000000.0)
          |    * 1000000.0) AS BIGINT) AS ly FROM mn),
          |mm AS (SELECT CAST(count(*) AS BIGINT) AS k,
          |  CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT)
          |    AS sy, sum(CAST(lx AS HUGEINT)*lx) AS sxx,
          |  sum(CAST(lx AS HUGEINT)*ly) AS sxy FROM pt)
          |SELECT (SELECT CAST(sum(n_blocks) AS BIGINT) FROM mn)
          |    AS n_blocks_total,
          |  CAST(floor((CAST(k AS DOUBLE)*CAST(sxy AS DOUBLE)
          |    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
          |    / (CAST(k AS DOUBLE)*CAST(sxx AS DOUBLE)
          |    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) * 1000000.0)
          |    AS BIGINT) AS hurst_micro
          |FROM mm
          |""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val d = tbl(s, dir, "orders")
          .groupBy(col("o_orderdate"))
          .agg(expr("CAST(sum(CAST(floor(o_totalprice*100 + 0.5)" +
            " AS BIGINT)) AS BIGINT) div 100000").as("kd"))
          .select(datediff(col("o_orderdate"),
            to_timestamp(lit("1992-01-01 00:00:00"))).cast("long")
            .as("t"), col("kd"))
        val ix = d.withColumn("i",
          row_number().over(Window.orderBy("t")).cast("long") - 1)
          .select("i", "kd").localCheckpoint()
        val w = Seq(8, 16, 32, 64).toDF("w")
        val blk = ix.crossJoin(broadcast(w))
          .select(col("w"), expr("i div w").as("b"),
            (col("i") % col("w")).as("pos"), col("kd"))
          .localCheckpoint()
        val bs = blk.groupBy("w", "b")
          .agg(count(lit(1)).cast("long").as("cnt"),
            sum(col("kd")).cast("long").as("s"),
            sum(col("kd").cast("decimal(38,0)") * col("kd"))
              .cast("decimal(38,0)").as("q"))
        val fullB = bs.filter(col("cnt") === col("w"))
          .select("w", "b", "s", "q")
        val wc = Window.partitionBy("w", "b").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, 0)
        val cum = blk.join(fullB.select("w", "b", "s"), Seq("w", "b"))
          .withColumn("dev",
            sum(col("kd") * col("w")).over(wc).cast("long") -
              (col("pos") + 1) * col("s"))
        val rng = cum.groupBy("w", "b")
          .agg((max(col("dev")) - min(col("dev"))).cast("long").as("r"))
        val rs = rng.join(fullB, Seq("w", "b"))
          .select(col("w"),
            floor(col("r").cast("double") / col("w").cast("double") /
              sqrt((col("q").cast("double") * col("w").cast("double") -
                col("s").cast("double") * col("s").cast("double")) /
                (col("w").cast("double") * col("w").cast("double"))) *
              1000000.0d).cast("long").as("rs_micro"))
        val mn = rs.groupBy("w")
          .agg(expr("CAST(sum(rs_micro) div count(*) AS BIGINT)")
            .as("mean_rs_micro"),
            count(lit(1)).cast("long").as("n_blocks"))
          .localCheckpoint()
        val pt = mn.select(
          floor(log(col("w").cast("double")) * 1000000.0d).cast("long")
            .as("lx"),
          floor(log(col("mean_rs_micro").cast("double") / 1000000.0d) *
            1000000.0d).cast("long").as("ly"))
        val mm = pt.agg(count(lit(1)).cast("long").as("k"),
          sum(col("lx")).cast("long").as("sx"),
          sum(col("ly")).cast("long").as("sy"),
          sum(col("lx").cast("decimal(38,0)") * col("lx"))
            .cast("decimal(38,0)").as("sxx"),
          sum(col("lx").cast("decimal(38,0)") * col("ly"))
            .cast("decimal(38,0)").as("sxy"))
        val out = mm.crossJoin(broadcast(
            mn.agg(sum(col("n_blocks")).cast("long")
              .as("n_blocks_total"))))
          .select(col("n_blocks_total"),
            floor((col("k").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
              (col("k").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) *
              1000000.0d).cast("long").as("hurst_micro"))
        H.materialized(out, Nil, Seq(ix, blk, mn))
      }),

    // Chan parallel-variance merge as an EXACT integer identity: split
    // the order values by key parity, combine the two partials with
    // the pairwise-merge formula, and check — scaled by n·na·nb so
    // both sides are HUGEINT integers — that it equals the direct
    // total sum of squares. This is the algebra that makes variance
    // map-side combinable on 1000 executors; here it is verified to
    // the last unit, not to float tolerance.
    Q("agg_parallel_variance_proof",
      Some(
        """WITH b AS (SELECT o_orderkey % 2 AS part,
          |  CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) // 100 AS v
          |  FROM orders),
          |m AS (SELECT part, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(v) AS BIGINT) AS s, sum(CAST(v AS HUGEINT)*v) AS q
          |  FROM b GROUP BY 1),
          |p AS (SELECT
          |  max(CASE WHEN part = 0 THEN n END) AS na,
          |  max(CASE WHEN part = 0 THEN s END) AS sa,
          |  max(CASE WHEN part = 0 THEN q END) AS qa,
          |  max(CASE WHEN part = 1 THEN n END) AS nb,
          |  max(CASE WHEN part = 1 THEN s END) AS sb,
          |  max(CASE WHEN part = 1 THEN q END) AS qb FROM m),
          |z AS (SELECT na, nb, na + nb AS n, sa + sb AS s,
          |  qa + qb AS q, sa, sb, qa, qb FROM p),
          |chk AS (SELECT na, nb, n,
          |  (CAST(q AS HUGEINT) * n - CAST(s AS HUGEINT) * s)
          |    * na * nb AS lhs,
          |  (CAST(qa AS HUGEINT) * na - CAST(sa AS HUGEINT) * sa)
          |    * n * nb
          |  + (CAST(qb AS HUGEINT) * nb - CAST(sb AS HUGEINT) * sb)
          |    * n * na
          |  + CAST(sa * nb - sb * na AS HUGEINT)
          |    * (sa * nb - sb * na) AS rhs FROM z)
          |SELECT CAST(na AS BIGINT) AS n_even, CAST(nb AS BIGINT)
          |    AS n_odd,
          |  CAST(lhs AS VARCHAR) AS direct_scaled_ss,
          |  CAST(rhs AS VARCHAR) AS merged_scaled_ss,
          |  CAST(CASE WHEN lhs = rhs THEN 1 ELSE 0 END AS BIGINT)
          |    AS identity_holds
          |FROM chk
          |""".stripMargin),
      (s, dir) => {
        val b = tbl(s, dir, "orders")
          .select((col("o_orderkey") % 2).as("part"),
            expr("CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)" +
              " div 100").as("v"))
        val m = b.groupBy("part")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("v")).cast("long").as("s"),
            sum(col("v").cast("decimal(38,0)") * col("v"))
              .cast("decimal(38,0)").as("q"))
        val p = m.agg(
          max(when(col("part") === 0, col("n"))).as("na"),
          max(when(col("part") === 0, col("s"))).as("sa"),
          max(when(col("part") === 0, col("q"))).as("qa"),
          max(when(col("part") === 1, col("n"))).as("nb"),
          max(when(col("part") === 1, col("s"))).as("sb"),
          max(when(col("part") === 1, col("q"))).as("qb"))
        p.select(col("na"), col("nb"), col("sa"), col("sb"), col("qa"),
            col("qb"),
            ((col("qa") + col("qb")) * (col("na") + col("nb")) -
              (col("sa") + col("sb")).cast("decimal(38,0)") *
                (col("sa") + col("sb"))).as("core"))
          .select(col("na").cast("long").as("n_even"),
            col("nb").cast("long").as("n_odd"),
            (col("core") * col("na") * col("nb")).cast("decimal(38,0)")
              .cast("string").as("direct_scaled_ss"),
            ((col("qa") * col("na") -
              col("sa").cast("decimal(38,0)") * col("sa")) *
              (col("na") + col("nb")) * col("nb") +
              (col("qb") * col("nb") -
                col("sb").cast("decimal(38,0)") * col("sb")) *
                (col("na") + col("nb")) * col("na") +
              (col("sa") * col("nb") - col("sb") * col("na"))
                .cast("decimal(38,0)") *
                (col("sa") * col("nb") - col("sb") * col("na")))
              .cast("decimal(38,0)").cast("string")
              .as("merged_scaled_ss"))
          .withColumn("identity_holds",
            when(col("direct_scaled_ss") === col("merged_scaled_ss"),
              1L).otherwise(0L).cast("long"))
      })
  )
}
