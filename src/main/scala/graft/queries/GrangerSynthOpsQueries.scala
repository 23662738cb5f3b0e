package graft.queries

import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Round-11 waves 182-183: lag-1 Granger causality between daily event
  * series (the time-series screening test the ts_ family lacked) and
  * independent-marginals synthetic data generation with an exact-integer
  * utility audit (the private-synthetic-data baseline).
  */
object GrangerSynthOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // LAG-1 GRANGER SCREEN between the click and purchase daily count
    // series, both directions. With one lag the F-test needs no matrix
    // solve: by Frisch-Waugh, SSE_unrestricted = SSE_restricted·(1−ρ²)
    // where ρ is the correlation between (a) the residuals of y_t on
    // y_{t−1} and (b) the residuals of x_{t−1} on y_{t−1} — all plain
    // sums over the bounded day spine. F = (SSE_r − SSE_u)/(SSE_u/(T−3)),
    // screened at the 5% critical value 3.85 (F(1, ∞)). One fact reduce
    // to the spine; everything after is spine-sized arithmetic.
    Q("stats_granger_lite",
      Some {
        def dir(y: String, x: String, label: String) =
          s"""SELECT '$label' AS direction, t.t AS t_obs,
             |  CAST(floor(t.f * 1000 + 0.5) AS BIGINT) AS f_milli,
             |  CAST(CASE WHEN t.f >= 3.85 THEN 1 ELSE 0 END AS BIGINT)
             |    AS causal_5pct
             |FROM (SELECT count(*) AS t,
             |    (sum(ey*ey) - CASE WHEN sum(ex*ex) = 0 THEN 0
             |        ELSE sum(ey*ex)*sum(ey*ex)/sum(ex*ex) END)
             |      AS sse_u_num,
             |    sum(ey*ey) AS sse_r,
             |    CASE WHEN sum(ex*ex) = 0 THEN 0 ELSE
             |      (sum(ey*ex)*sum(ey*ex)/sum(ex*ex))
             |      / ((sum(ey*ey) - sum(ey*ex)*sum(ey*ex)/sum(ex*ex))
             |        / (count(*) - 3)) END AS f
             |  FROM resid_$label) t""".stripMargin
        s"""WITH days AS (SELECT CAST(ts AS DATE) AS d, event_type,
           |    CAST(count(*) AS BIGINT) AS c FROM events
           |  WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2),
           |spine AS (SELECT d,
           |    CAST(coalesce(max(CASE WHEN event_type = 'click' THEN c END),
           |      0) AS DOUBLE) AS a,
           |    CAST(coalesce(max(CASE WHEN event_type = 'purchase' THEN c
           |      END), 0) AS DOUBLE) AS b
           |  FROM days GROUP BY d),
           |lagged AS (SELECT s1.d, s1.a, s1.b, s0.a AS al, s0.b AS bl
           |  FROM spine s1 JOIN spine s0 ON s0.d = s1.d - 1),
           |reg_ab AS (SELECT count(*) AS n, avg(a) AS my, avg(al) AS mz,
           |    avg(bl) AS mx,
           |    sum(a*al) - count(*)*avg(a)*avg(al) AS syz,
           |    sum(al*al) - count(*)*avg(al)*avg(al) AS szz,
           |    sum(bl*al) - count(*)*avg(bl)*avg(al) AS sxz
           |  FROM lagged),
           |resid_ba AS (SELECT (l.a - r.my) - r.syz/r.szz*(l.al - r.mz)
           |      AS ey,
           |    (l.bl - r.mx) - r.sxz/r.szz*(l.al - r.mz) AS ex
           |  FROM lagged l, reg_ab r),
           |reg_ba AS (SELECT count(*) AS n, avg(b) AS my, avg(bl) AS mz,
           |    avg(al) AS mx,
           |    sum(b*bl) - count(*)*avg(b)*avg(bl) AS syz,
           |    sum(bl*bl) - count(*)*avg(bl)*avg(bl) AS szz,
           |    sum(al*bl) - count(*)*avg(al)*avg(bl) AS sxz
           |  FROM lagged),
           |resid_ab AS (SELECT (l.b - r.my) - r.syz/r.szz*(l.bl - r.mz)
           |      AS ey,
           |    (l.al - r.mx) - r.sxz/r.szz*(l.bl - r.mz) AS ex
           |  FROM lagged l, reg_ba r)
           |${dir("a", "b", "ba")}
           |UNION ALL
           |${dir("b", "a", "ab")}
           |ORDER BY direction
           |""".stripMargin
      },
      (s, dir) => {
        val days = H.events(s, dir)
          .filter(col("event_type").isin("click", "purchase"))
          .groupBy(col("ts").cast("date").as("d"), col("event_type"))
          .agg(count(lit(1)).cast("long").as("c"))
        val spine = days.groupBy("d").agg(
            coalesce(max(when(col("event_type") === "click", col("c"))),
              lit(0L)).cast("double").as("a"),
            coalesce(max(when(col("event_type") === "purchase", col("c"))),
              lit(0L)).cast("double").as("b"))
          .localCheckpoint() // bounded day spine, self-joined on d-1
        val lagged = spine.as("s1")
          .join(spine.select(col("d").as("d0"), col("a").as("al"),
            col("b").as("bl")), expr("d0 = d - 1"))
          .select(col("a"), col("b"), col("al"), col("bl"))
          .localCheckpoint() // spine-sized; feeds both directions
        // one direction: does x Granger-cause y (given y's own lag z)?
        def granger(y: String, z: String, x: String, label: String) = {
          // centered sums via the sum-of-products expansion — the exact
          // arithmetic the oracle uses (the inputs are integer counts as
          // doubles, so the raw sums are exact; only the slope divides)
          val r = lagged.agg(count(lit(1)).as("n"),
            avg(y).as("my"), avg(z).as("mz"), avg(x).as("mx"),
            (sum(col(y) * col(z)) - count(lit(1)) * avg(y) * avg(z)).as("syz"),
            (sum(col(z) * col(z)) - count(lit(1)) * avg(z) * avg(z)).as("szz"),
            (sum(col(x) * col(z)) - count(lit(1)) * avg(x) * avg(z)).as("sxz"))
          val e = lagged.crossJoin(broadcast(r)).select(
            ((col(y) - col("my")) - col("syz") / col("szz") * (col(z) - col("mz")))
              .as("ey"),
            ((col(x) - col("mx")) - col("sxz") / col("szz") * (col(z) - col("mz")))
              .as("ex"))
          e.agg(count(lit(1)).as("t"),
            sum(col("ey") * col("ey")).as("see"),
            sum(col("ey") * col("ex")).as("sex"),
            sum(col("ex") * col("ex")).as("sxx"))
            .select(lit(label).as("direction"),
              col("t").cast("long").as("t_obs"),
              when(col("sxx") === 0, lit(0.0)).otherwise(
                (col("sex") * col("sex") / col("sxx"))
                  / ((col("see") - col("sex") * col("sex") / col("sxx"))
                    / (col("t") - 3))).as("f"))
            .select(col("direction"), col("t_obs"),
              floor(col("f") * 1000 + 0.5).cast("long").as("f_milli"),
              when(col("f") >= 3.85, 1L).otherwise(0L).as("causal_5pct"))
        }
        val out = granger("a", "al", "bl", "ba")
          .unionByName(granger("b", "bl", "al", "ab"))
          .orderBy("direction")
        H.materialized(out, caches = Nil, checkpoints = Seq(spine, lagged))
      }),

    // SYNTHETIC DATA VIA INDEPENDENT MARGINALS + exact utility audit:
    // regenerate the (lang, source) table from its two 1-way marginals
    // by deterministic inverse-CDF sampling (20-bit hash uniforms), then
    // audit what independence costs: TVD of each 1-way marginal (small —
    // sampling noise only), TVD of the 2-way joint (carries the lost
    // correlation), and the exact independence gap of the TRUE joint as
    // the reference point. Every TVD is exact integer arithmetic over
    // counts with a common denominator — no doubles anywhere. The
    // marginal cums are 5/20-row bounded joins; sampling is one linear
    // pass through the doc ids with two broadcast range lookups.
    Q("privacy_synthetic_marginals",
      Some {
        val ul = H.md5PrefixSql("'syl:' || CAST(doc_id AS VARCHAR)", 12)
        val us = H.md5PrefixSql("'sys:' || CAST(doc_id AS VARCHAR)", 12)
        s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           |ml AS (SELECT lang, CAST(count(*) AS BIGINT) AS c
           |  FROM documents GROUP BY 1),
           |ms AS (SELECT source, CAST(count(*) AS BIGINT) AS c
           |  FROM documents GROUP BY 1),
           |cl AS (SELECT lang, c,
           |    (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM ml m2
           |      WHERE m2.lang < ml.lang) AS lo FROM ml),
           |cs AS (SELECT source, c,
           |    (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM ms m2
           |      WHERE m2.source < ms.source) AS lo FROM ms),
           |syn AS (SELECT d.doc_id,
           |    (SELECT cl.lang FROM cl, n
           |      WHERE cl.lo * 1048576 <= (($ul) % 1048576) * n.n
           |        AND (($ul) % 1048576) * n.n < (cl.lo + cl.c) * 1048576)
           |      AS lang,
           |    (SELECT cs.source FROM cs, n
           |      WHERE cs.lo * 1048576 <= (($us) % 1048576) * n.n
           |        AND (($us) % 1048576) * n.n < (cs.lo + cs.c) * 1048576)
           |      AS source
           |  FROM documents d),
           |tj AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS c
           |  FROM documents GROUP BY 1, 2),
           |sj AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS c
           |  FROM syn GROUP BY 1, 2),
           |sl AS (SELECT lang, CAST(count(*) AS BIGINT) AS c
           |  FROM syn GROUP BY 1),
           |ss AS (SELECT source, CAST(count(*) AS BIGINT) AS c
           |  FROM syn GROUP BY 1),
           |jj AS (SELECT coalesce(tj.lang, sj.lang) AS lang,
           |    coalesce(tj.source, sj.source) AS source,
           |    coalesce(tj.c, 0) AS tc, coalesce(sj.c, 0) AS sc
           |  FROM tj FULL JOIN sj
           |    ON tj.lang = sj.lang AND tj.source = sj.source),
           |ig AS (SELECT sum(abs(CAST(coalesce(tj.c, 0) AS HUGEINT) * n.n
           |      - CAST(ml.c AS HUGEINT) * ms.c)) AS num
           |  FROM ml CROSS JOIN ms CROSS JOIN n
           |  LEFT JOIN tj ON tj.lang = ml.lang AND tj.source = ms.source)
           |SELECT n.n AS n_rows,
           |  CAST((SELECT sum(abs(jl.tc - jl.sc)) FROM
           |    (SELECT coalesce(ml.c, 0) AS tc, coalesce(sl.c, 0) AS sc
           |     FROM ml FULL JOIN sl ON ml.lang = sl.lang) jl)
           |    * 1000 // (2 * n.n) AS BIGINT) AS tvd_lang_milli,
           |  CAST((SELECT sum(abs(js.tc - js.sc)) FROM
           |    (SELECT coalesce(ms.c, 0) AS tc, coalesce(ss.c, 0) AS sc
           |     FROM ms FULL JOIN ss ON ms.source = ss.source) js)
           |    * 1000 // (2 * n.n) AS BIGINT) AS tvd_source_milli,
           |  CAST((SELECT sum(abs(tc - sc)) FROM jj) * 1000 // (2 * n.n)
           |    AS BIGINT) AS tvd_joint_milli,
           |  CAST(ig.num * 1000 // (2 * CAST(n.n AS HUGEINT) * n.n)
           |    AS BIGINT) AS indep_gap_milli
           |FROM n, ig
           |""".stripMargin
      },
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val nDf = docs.agg(count(lit(1)).cast("long").as("n"))
        def cum(keyCol: String) = {
          val m = docs.groupBy(keyCol).agg(count(lit(1)).cast("long").as("c"))
          val lo = m.as("m1").join(m.select(col(keyCol).as("k2"),
              col("c").as("c2")), col("k2") < col(keyCol), "left")
            .groupBy(col(keyCol), col("c"))
            .agg(coalesce(sum("c2"), lit(0L)).as("lo"))
          lo
        }
        val cl = cum("lang")
        val cs = cum("source")
        def pick(u: org.apache.spark.sql.Column,
            cumDf: org.apache.spark.sql.DataFrame, keyCol: String,
            out: String) = {
          // broadcast range lookup: lo*2^20 ≤ u·n < (lo+c)·2^20
          docs.select(col("doc_id"), u.as("u"))
            .crossJoin(broadcast(nDf))
            .join(broadcast(cumDf),
              col("lo") * 1048576 <= col("u") * col("n") &&
                col("u") * col("n") < (col("lo") + col("c")) * 1048576)
            .select(col("doc_id"), col(keyCol).as(out))
        }
        val synL = pick(H.md5Prefix(concat(lit("syl:"),
          col("doc_id").cast("string")), 12) % 1048576, cl, "lang", "slang")
        val synS = pick(H.md5Prefix(concat(lit("sys:"),
          col("doc_id").cast("string")), 12) % 1048576, cs, "source", "ssource")
        val syn = synL.join(synS, Seq("doc_id"))
          .localCheckpoint() // synthetic table, read by 3 audits
        def tvdNum(t: org.apache.spark.sql.DataFrame,
            sy: org.apache.spark.sql.DataFrame, keys: Seq[String]) = {
          val tc = t.groupBy(keys.map(col): _*)
            .agg(count(lit(1)).cast("long").as("tc"))
          val sc = sy.groupBy(keys.map(col): _*)
            .agg(count(lit(1)).cast("long").as("sc"))
          tc.join(sc, keys, "full")
            .agg(sum(abs(coalesce(col("tc"), lit(0L))
              - coalesce(col("sc"), lit(0L)))).cast("long").as("num"))
        }
        val synR = syn.select(col("slang").as("lang"),
          col("ssource").as("source"))
        val ml = docs.groupBy("lang").agg(count(lit(1)).cast("long").as("lc"))
        val ms = docs.groupBy("source").agg(count(lit(1)).cast("long").as("sc2"))
        val tj = docs.groupBy("lang", "source")
          .agg(count(lit(1)).cast("long").as("tc"))
        // widen the count products to DECIMAL(38,0) (oracle: HUGEINT)
        // BEFORE the n multiplication — c·n and c_l·c_s are n²-scale
        val ig = ml.crossJoin(ms)
          .join(tj, Seq("lang", "source"), "left")
          .crossJoin(broadcast(nDf))
          .agg(sum(abs(coalesce(col("tc"), lit(0L)).cast("decimal(38,0)")
            * col("n") - col("lc").cast("decimal(38,0)") * col("sc2")))
            .cast("decimal(38,0)").as("ignum"))
        val out = nDf
          .crossJoin(tvdNum(docs.select("lang"), synR.select("lang"),
            Seq("lang")).select(col("num").as("nl")))
          .crossJoin(tvdNum(docs.select("source"), synR.select("source"),
            Seq("source")).select(col("num").as("ns")))
          .crossJoin(tvdNum(docs.select("lang", "source"), synR,
            Seq("lang", "source")).select(col("num").as("nj")))
          .crossJoin(broadcast(ig))
          .select(col("n").as("n_rows"),
            expr("nl * 1000 div (2 * n)").as("tvd_lang_milli"),
            expr("ns * 1000 div (2 * n)").as("tvd_source_milli"),
            expr("nj * 1000 div (2 * n)").as("tvd_joint_milli"),
            expr("ignum * 1000 div (2 * CAST(n AS DECIMAL(38,0)) * n)")
              .as("indep_gap_milli"))
        H.materialized(out, caches = Nil, checkpoints = Seq(syn))
      })
  )
}
