package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Sixty-seventh wave: inventory economics (EOQ + safety stock),
  * Bollinger volatility bands, reproducible geometric DP noise,
  * the variance-to-mean dispersion test, and odd-cycle (bipartiteness)
  * detection by parity BFS.
  *
  * sqrt over exact integers (IEEE-identical across engines) is the
  * only non-integer step anywhere in the wave; every sum is exact
  * BIGINT before it.
  */
object EconOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // EOQ + safety stock per brand from the DENSE 365-day 1995 demand
    // series (zero days count toward the variance, as inventory math
    // requires). EOQ = sqrt(2 D S / H) with S=73, H=5; safety stock =
    // 1.645 * sqrt(7 * daily variance); reorder point = 7-day mean
    // demand + safety stock. Variance via exact milli deviations.
    Q("orders_eoq_safety_stock",
      Some(
        """WITH dom AS (SELECT unnest(range(DATE '1995-01-01',
          |  DATE '1996-01-01', INTERVAL 1 DAY))::DATE AS dt),
          |br AS (SELECT DISTINCT p_brand AS brand FROM part),
          |raw AS (SELECT p.p_brand AS brand, l.l_shipdate AS dt,
          |  CAST(sum(l.l_quantity) AS BIGINT) AS dem
          |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
          |  WHERE l.l_shipdate BETWEEN DATE '1995-01-01'
          |    AND DATE '1995-12-31'
          |  GROUP BY 1, 2),
          |d AS MATERIALIZED (SELECT br.brand, dom.dt,
          |  CAST(coalesce(raw.dem, 0) AS BIGINT) AS dem
          |  FROM br CROSS JOIN dom
          |  LEFT JOIN raw ON raw.brand = br.brand AND raw.dt = dom.dt),
          |m AS (SELECT brand, CAST(sum(dem) AS BIGINT) AS d_total,
          |  CAST(sum(dem) * 1000 // 365 AS BIGINT) AS mean_milli
          |  FROM d GROUP BY brand),
          |v AS (SELECT d.brand,
          |  CAST(sum((d.dem * 1000 - m.mean_milli)
          |    * (d.dem * 1000 - m.mean_milli)) // 365 AS BIGINT)
          |    AS var_milli2
          |  FROM d JOIN m ON m.brand = d.brand GROUP BY d.brand)
          |SELECT m.brand, m.d_total, m.mean_milli, v.var_milli2,
          |  CAST(floor(sqrt(CAST(2 * 73 * m.d_total AS DOUBLE) / 5.0)
          |    * 1000 + 0.5) AS BIGINT) AS eoq_milli,
          |  CAST(floor(1.645 * sqrt(CAST(7 * v.var_milli2 AS DOUBLE))
          |    + 0.5) AS BIGINT) AS safety_milli,
          |  CAST(7 * m.mean_milli + floor(1.645
          |    * sqrt(CAST(7 * v.var_milli2 AS DOUBLE)) + 0.5) AS BIGINT)
          |    AS reorder_milli
          |FROM m JOIN v ON v.brand = m.brand ORDER BY m.brand
          |""".stripMargin),
      (s, dir) => {
        val dom = s.range(0, 365)
          .select(date_add(lit("1995-01-01").cast("date"),
            col("id").cast("int")).as("dt"))
        val br = tbl(s, dir, "part").select(col("p_brand").as("brand"))
          .distinct()
        val raw = tbl(s, dir, "lineitem")
          .filter(col("l_shipdate").between("1995-01-01", "1995-12-31"))
          .join(broadcast(tbl(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"))),
            col("p_partkey") === col("l_partkey"))
          .groupBy(col("p_brand").as("brand"),
            col("l_shipdate").as("dt"))
          .agg(sum("l_quantity").cast("long").as("dem"))
        val d = br.crossJoin(broadcast(dom))
          .join(raw, Seq("brand", "dt"), "left")
          .select(col("brand"), col("dt"),
            coalesce(col("dem"), lit(0L)).as("dem"))
          .localCheckpoint() // mean pass + variance pass
        val m = d.groupBy("brand")
          .agg(sum("dem").cast("long").as("d_total"),
            expr("sum(dem) * 1000 div 365").cast("long")
              .as("mean_milli"))
        val v = d.join(m.select(col("brand").as("b2"),
            col("mean_milli").as("mm")), col("b2") === col("brand"))
          .groupBy("brand")
          .agg(expr("sum((dem*1000 - mm) * (dem*1000 - mm)) div 365")
            .cast("long").as("var_milli2"))
        val out = m.join(v, Seq("brand"))
          .select(col("brand"), col("d_total"), col("mean_milli"),
            col("var_milli2"),
            floor(sqrt((lit(2L) * 73L * col("d_total")).cast("double")
              / 5.0) * 1000 + 0.5).cast("long").as("eoq_milli"),
            floor(lit(1.645) * sqrt((lit(7L) * col("var_milli2"))
              .cast("double")) + 0.5).cast("long").as("safety_milli"))
          .withColumn("reorder_milli",
            lit(7L) * col("mean_milli") + col("safety_milli"))
          .orderBy("brand")
        H.materialized(out, caches = Nil, checkpoints = Seq(d))
      }),

    // Bollinger bands over the daily click revenue (whole dollars):
    // trailing-7-day mean +- 2 sigma, sigma from exact window power
    // sums (dollar scale keeps n*sum(x^2)*1e6 under 2^63 through sf1).
    // The judged columns are the band and the outside-band flag per
    // day — the volatility-breakout primitive.
    Q("ts_bollinger_bands",
      Some(
        """WITH dom AS (SELECT unnest(range(1, 31)) AS day),
          |d AS (SELECT dom.day, CAST(coalesce(s.x, 0) AS BIGINT) AS x
          |  FROM dom LEFT JOIN (
          |    SELECT CAST(strftime(ts, '%d') AS BIGINT) AS day,
          |      CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT) // 100)
          |        AS BIGINT) AS x
          |    FROM events WHERE event_type = 'click' GROUP BY 1) s
          |  ON s.day = dom.day),
          |w AS (SELECT day, x,
          |  CAST(count(*) OVER win AS BIGINT) AS n,
          |  CAST(sum(x) OVER win AS BIGINT) AS sx,
          |  CAST(sum(x*x) OVER win AS BIGINT) AS sxx
          |  FROM d WINDOW win AS (ORDER BY day
          |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
          |b AS (SELECT day, x, n, sx * 1000 // n AS ma_milli,
          |  greatest(sxx * 1000000 // n
          |    - (sx * 1000 // n) * (sx * 1000 // n), 0) AS var_milli2
          |  FROM w)
          |SELECT day, x AS dollars, ma_milli,
          |  CAST(floor(2 * sqrt(CAST(var_milli2 AS DOUBLE)) + 0.5)
          |    AS BIGINT) AS band_milli,
          |  CAST(CASE WHEN x * 1000 > ma_milli
          |      + floor(2 * sqrt(CAST(var_milli2 AS DOUBLE)) + 0.5)
          |    OR x * 1000 < ma_milli
          |      - floor(2 * sqrt(CAST(var_milli2 AS DOUBLE)) + 0.5)
          |    THEN 1 ELSE 0 END AS BIGINT) AS outside
          |FROM b ORDER BY day
          |""".stripMargin),
      (s, dir) => {
        val daily = H.events(s, dir)
          .filter(col("event_type") === "click")
          .groupBy(date_format(col("ts"), "d").cast("long").as("day"))
          .agg(expr("sum(CAST(floor(value*100 + 0.5) AS BIGINT) div 100)")
            .cast("long").as("x"))
        val d = s.range(1, 31).select(col("id").as("day"))
          .join(daily, Seq("day"), "left")
          .select(col("day"), coalesce(col("x"), lit(0L)).as("x"))
        // bounded 30-row series: the unpartitioned trailing window is fine
        val win = Window.orderBy("day").rowsBetween(-6, 0)
        val w = d
          .withColumn("n", count(lit(1)).over(win).cast("long"))
          .withColumn("sx", sum("x").over(win).cast("long"))
          .withColumn("sxx", sum(col("x") * col("x")).over(win)
            .cast("long"))
          .withColumn("ma_milli", expr("sx * 1000 div n"))
          .withColumn("var_milli2", greatest(
            expr("sxx * 1000000 div n - (sx * 1000 div n) * (sx * 1000 div n)"),
            lit(0L)))
        val band = floor(lit(2) * sqrt(col("var_milli2").cast("double"))
          + 0.5).cast("long")
        w.select(col("day"), col("x").as("dollars"), col("ma_milli"),
            band.as("band_milli"),
            when(col("x") * 1000 > col("ma_milli") + band ||
              col("x") * 1000 < col("ma_milli") - band, 1L)
              .otherwise(0L).as("outside"))
          .orderBy("day")
      }),

    // Reproducible two-sided geometric (discrete-Laplace-shaped) noise
    // on per-type counts: magnitude = trailing-ones count of the
    // type's 60-bit md5 (geometric p=1/2, i.e. epsilon = ln 2 scale),
    // sign from an independent hash bit. Seeded noise keeps the
    // release REPLAYABLE — same privacy budget accounting, same output
    // on re-run — which is what an auditable DP pipeline needs.
    Q("privacy_dp_geometric",
      Some {
        val fold = H.md5PrefixSql("event_type", 15)
        val ones = (0 to 19).map(i =>
          s"CASE WHEN h & ${(1L << (i + 1)) - 1} = ${(1L << (i + 1)) - 1} " +
            "THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH c AS (SELECT event_type,
           |  CAST(count(*) AS BIGINT) AS n, ($fold) AS h
           |  FROM events GROUP BY event_type),
           |g AS (SELECT event_type, n, CAST($ones AS BIGINT) AS mag,
           |  CAST(((h >> 21) & 1) * 2 - 1 AS BIGINT) AS sgn FROM c)
           |SELECT event_type, n, mag, sgn,
           |  n + sgn * mag AS noised
           |FROM g ORDER BY event_type
           |""".stripMargin
      },
      (s, dir) => {
        val ones = (0 to 19).map(i =>
          s"CASE WHEN h & ${(1L << (i + 1)) - 1}L = ${(1L << (i + 1)) - 1}L " +
            "THEN 1 ELSE 0 END").mkString(" + ")
        H.events(s, dir)
          .groupBy("event_type")
          .agg(count(lit(1)).cast("long").as("n"))
          .withColumn("h", H.md5Prefix(col("event_type"), 15))
          .withColumn("mag", expr(s"CAST($ones AS BIGINT)"))
          .withColumn("sgn",
            (shiftright(col("h"), 21).bitwiseAND(1) * 2 - 1).cast("long"))
          .select(col("event_type"), col("n"), col("mag"), col("sgn"),
            (col("n") + col("sgn") * col("mag")).as("noised"))
          .orderBy("event_type")
      }),

    // Index of dispersion (variance-to-mean ratio) per event type over
    // the dense 30-day arrival series — the Poisson-ness test: VMR
    // near 1 is Poisson, above is bursty, below is regular. Exact
    // milli deviations; the ratio is the single final division.
    Q("stats_dispersion_vmr",
      Some(
        """WITH dom AS (SELECT unnest(range(1, 31)) AS day),
          |ty AS (SELECT DISTINCT event_type AS t FROM events),
          |raw AS (SELECT event_type AS t,
          |  CAST(strftime(ts, '%d') AS BIGINT) AS day,
          |  CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
          |d AS MATERIALIZED (SELECT ty.t, dom.day,
          |  CAST(coalesce(raw.c, 0) AS BIGINT) AS c
          |  FROM ty CROSS JOIN dom
          |  LEFT JOIN raw ON raw.t = ty.t AND raw.day = dom.day),
          |m AS (SELECT t, CAST(sum(c) AS BIGINT) AS n,
          |  CAST(sum(c) * 1000 // 30 AS BIGINT) AS mean_milli
          |  FROM d GROUP BY t),
          |v AS (SELECT d.t,
          |  CAST(sum((d.c*1000 - m.mean_milli) * (d.c*1000 - m.mean_milli))
          |    // 30 AS BIGINT) AS var_milli2
          |  FROM d JOIN m ON m.t = d.t GROUP BY d.t)
          |SELECT m.t AS event_type, m.n, m.mean_milli, v.var_milli2,
          |  CAST(v.var_milli2 * 1000 // m.mean_milli AS BIGINT)
          |    AS vmr_micro,
          |  CAST(CASE WHEN v.var_milli2 * 1000 // m.mean_milli > 1000000
          |    THEN 1 ELSE 0 END AS BIGINT) AS overdispersed
          |FROM m JOIN v ON v.t = m.t ORDER BY event_type
          |""".stripMargin),
      (s, dir) => {
        val raw = H.events(s, dir)
          .groupBy(col("event_type").as("t"),
            date_format(col("ts"), "d").cast("long").as("day"))
          .agg(count(lit(1)).cast("long").as("c"))
        val ty = H.events(s, dir).select(col("event_type").as("t"))
          .distinct()
        val d = ty.crossJoin(s.range(1, 31).select(col("id").as("day")))
          .join(raw, Seq("t", "day"), "left")
          .select(col("t"), col("day"),
            coalesce(col("c"), lit(0L)).as("c"))
          .localCheckpoint() // mean pass + variance pass
        val m = d.groupBy("t")
          .agg(sum("c").cast("long").as("n"),
            expr("sum(c) * 1000 div 30").cast("long").as("mean_milli"))
        val v = d.join(m.select(col("t").as("t2"),
            col("mean_milli").as("mm")), col("t2") === col("t"))
          .groupBy("t")
          .agg(expr("sum((c*1000 - mm) * (c*1000 - mm)) div 30")
            .cast("long").as("var_milli2"))
        val out = m.join(v, Seq("t"))
          .select(col("t").as("event_type"), col("n"), col("mean_milli"),
            col("var_milli2"),
            expr("var_milli2 * 1000 div mean_milli").as("vmr_micro"),
            when(expr("var_milli2 * 1000 div mean_milli") > 1000000L, 1L)
              .otherwise(0L).as("overdispersed"))
          .orderBy("event_type")
        H.materialized(out, caches = Nil, checkpoints = Seq(d))
      }),

    // Bipartiteness by parity BFS on the co-purchase graph: distances
    // from the global min vertex via min-relax rounds (per-round
    // localCheckpoint — iterative-state rule); an edge whose endpoints
    // share parity witnesses an odd cycle. Reports the parity census,
    // conflict-edge count, and unreached vertices (other components).
    Q("graph_bipartite_check",
      Some(
        """WITH RECURSIVE li AS MATERIALIZED (
          |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
          |  FROM lineitem WHERE l_partkey < 60),
          |ed AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
          |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
          |vs AS (SELECT DISTINCT u AS v FROM ed),
          |root AS (SELECT min(v) AS r FROM vs),
          |walk AS (
          |  SELECT r AS v, CAST(0 AS BIGINT) AS dist FROM root
          |  UNION
          |  SELECT ed.v, walk.dist + 1
          |  FROM walk JOIN ed ON ed.u = walk.v WHERE walk.dist < 20
          |),
          |dist AS MATERIALIZED (SELECT v, CAST(min(dist) AS BIGINT) AS d
          |  FROM walk GROUP BY v),
          |conf AS (SELECT CAST(count(*) AS BIGINT) AS conflicts
          |  FROM ed JOIN dist du ON du.v = ed.u
          |  JOIN dist dv ON dv.v = ed.v
          |  WHERE ed.u < ed.v AND du.d % 2 = dv.d % 2)
          |SELECT (SELECT CAST(r AS BIGINT) FROM root) AS root,
          |  (SELECT CAST(count(*) AS BIGINT) FROM dist) AS reached,
          |  (SELECT CAST(count(*) AS BIGINT) FROM vs)
          |    - (SELECT CAST(count(*) AS BIGINT) FROM dist) AS unreached,
          |  (SELECT CAST(sum(CASE WHEN d % 2 = 0 THEN 1 ELSE 0 END)
          |    AS BIGINT) FROM dist) AS even_cnt,
          |  (SELECT CAST(sum(CASE WHEN d % 2 = 1 THEN 1 ELSE 0 END)
          |    AS BIGINT) FROM dist) AS odd_cnt,
          |  (SELECT conflicts FROM conf) AS conflict_edges,
          |  (SELECT CAST(CASE WHEN conflicts = 0 THEN 1 ELSE 0 END
          |    AS BIGINT) FROM conf) AS is_bipartite
          |""".stripMargin),
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .filter(col("l_partkey") < 60)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
          .localCheckpoint() // both 2-path sides
        val ed = li.join(
            li.select(col("ok").as("ok2"), col("pk").as("pk2")),
            col("ok") === col("ok2") && col("pk") =!= col("pk2"))
          .select(col("pk").as("u"), col("pk2").as("v"))
          .distinct()
          .localCheckpoint() // BFS rounds + vertex domain + conflicts
        val vs = ed.select(col("u").as("v")).distinct()
          .localCheckpoint()
        val root = vs.agg(min("v").as("r")).collect()(0).getLong(0)
        var dist = s.createDataFrame(Seq((root, 0L)))
          .toDF("v", "d").localCheckpoint()
        var changed = 1L
        var round = 0
        while (changed > 0 && round < 20) {
          val nd = dist.join(ed.select(col("u").as("v"),
              col("v").as("w")), Seq("v"))
            .select(col("w").as("v"), (col("d") + 1L).as("d"))
            .union(dist)
            .groupBy("v").agg(min("d").as("d"))
            .localCheckpoint() // per-round frontier (iterative-state rule)
          changed = nd.select(col("v"), col("d"))
            .join(dist.select(col("v"), col("d").as("d0")),
              Seq("v"), "left")
            .filter(col("d0").isNull || col("d") < col("d0"))
            .count()
          dist = nd
          round += 1
        }
        val du = dist.select(col("v").as("cu"), col("d").as("pu"))
        val dv = dist.select(col("v").as("cv"), col("d").as("pv"))
        val conflicts = ed.filter(col("u") < col("v"))
          .join(du, col("cu") === col("u"))
          .join(dv, col("cv") === col("v"))
          .filter(pmod(col("pu"), lit(2)) === pmod(col("pv"), lit(2)))
          .agg(count(lit(1)).cast("long").as("conflicts"))
        val parity = dist.agg(
          count(lit(1)).cast("long").as("reached"),
          sum(when(pmod(col("d"), lit(2)) === 0, 1).otherwise(0))
            .cast("long").as("even_cnt"),
          sum(when(pmod(col("d"), lit(2)) === 1, 1).otherwise(0))
            .cast("long").as("odd_cnt"))
        val nvs = vs.agg(count(lit(1)).cast("long").as("nv"))
        val out = parity.crossJoin(broadcast(conflicts))
          .crossJoin(broadcast(nvs))
          .select(lit(root).as("root"), col("reached"),
            (col("nv") - col("reached")).as("unreached"),
            col("even_cnt"), col("odd_cnt"),
            col("conflicts").as("conflict_edges"),
            when(col("conflicts") === 0, 1L).otherwise(0L)
              .as("is_bipartite"))
        H.materialized(out, caches = Nil,
          checkpoints = Seq(li, ed, vs, dist))
      }))
}
