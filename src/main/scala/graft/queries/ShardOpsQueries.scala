package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Sixty-sixth wave: placement and calibration ops — consistent-hash
  * ring rebalancing (the shard-movement audit behind every elastic
  * storage tier), Croston's intermittent-demand forecast, isotonic
  * regression via the exact minimax formula, and RLE/digram
  * compressibility profiling as a corpus-quality proxy.
  */
object ShardOpsQueries extends QueryModule {

  // 2^61: ring-wrap offset for the 52-bit-hash * 512 position domain
  private val Wrap = 2305843009213693952L

  def all: Seq[Q] = Seq(

    // Consistent-hash ring rebalance audit: 1500+ customer keys placed
    // on an 8-node x 16-vnode md5 ring, then again after node 8 joins.
    // Positions embed (node, vnode) in the low 9 bits of the 52-bit
    // hash, so every position is UNIQUE BY CONSTRUCTION — no tie-break
    // ambiguity — and the owning node decodes from the winning position
    // itself (min-adjusted-position, no join-back). The judged output
    // is the per-node before/after/moved-in census: moved keys must be
    // ~1/9 of the keyspace, and only INTO the new node.
    Q("pipeline_consistent_hash",
      Some {
        s"""WITH vn AS MATERIALIZED (
           |  SELECT n.n AS node, v.v AS vv,
           |    (${H.md5PrefixSql("'n' || CAST(n.n AS VARCHAR) || '#' || CAST(v.v AS VARCHAR)", 13)})
           |      * 512 + n.n * 16 + v.v AS pos
           |  FROM (SELECT unnest(range(0, 9)) AS n) n,
           |    (SELECT unnest(range(0, 16)) AS v) v),
           |k AS (SELECT c_custkey,
           |  (${H.md5PrefixSql("CAST(c_custkey AS VARCHAR)", 13)}) * 512 AS kh
           |  FROM customer),
           |asg AS (SELECT k.c_custkey,
           |  CAST(min(CASE WHEN vn.node <= 7 THEN
           |    CASE WHEN vn.pos >= k.kh THEN vn.pos
           |      ELSE vn.pos + $Wrap END END) AS BIGINT) AS ab,
           |  CAST(min(CASE WHEN vn.pos >= k.kh THEN vn.pos
           |    ELSE vn.pos + $Wrap END) AS BIGINT) AS aa
           |  FROM k CROSS JOIN vn GROUP BY k.c_custkey),
           |nd AS (SELECT c_custkey, (ab % 512) // 16 AS nb,
           |  (aa % 512) // 16 AS na FROM asg),
           |dom AS (SELECT unnest(range(0, 9)) AS node)
           |SELECT CAST(dom.node AS BIGINT) AS node,
           |  CAST(coalesce(b.cnt, 0) AS BIGINT) AS cnt_before,
           |  CAST(coalesce(a.cnt, 0) AS BIGINT) AS cnt_after,
           |  CAST(coalesce(a.moved_in, 0) AS BIGINT) AS moved_in
           |FROM dom
           |LEFT JOIN (SELECT nb, count(*) AS cnt FROM nd GROUP BY nb) b
           |  ON b.nb = dom.node
           |LEFT JOIN (SELECT na, count(*) AS cnt,
           |    sum(CASE WHEN na <> nb THEN 1 ELSE 0 END) AS moved_in
           |  FROM nd GROUP BY na) a ON a.na = dom.node
           |ORDER BY node
           |""".stripMargin
      },
      (s, dir) => {
        val vn = s.range(0, 9).select(col("id").as("node"))
          .crossJoin(s.range(0, 16).select(col("id").as("vv")))
          .select(col("node"), col("vv"),
            (H.md5Prefix(concat(lit("n"), col("node").cast("string"),
              lit("#"), col("vv").cast("string")), 13)
              * 512 + col("node") * 16 + col("vv")).as("pos"))
        // spread: the 144-way ring expansion + per-key md5 ran in the
        // single customer-scan task (1.8 s, 1 task — r11 profile; H.spread)
        val k = graft.H.spread(tbl(s, dir, "customer"), col("c_custkey"))
          .select(col("c_custkey"),
            (H.md5Prefix(col("c_custkey").cast("string"), 13) * 512).as("kh"))
        val adj = when(col("pos") >= col("kh"), col("pos"))
          .otherwise(col("pos") + Wrap)
        val nd = k.crossJoin(broadcast(vn))
          .groupBy("c_custkey")
          .agg(min(when(col("node") <= 7, adj)).cast("long").as("ab"),
            min(adj).cast("long").as("aa"))
          .select(col("c_custkey"),
            expr("(ab % 512) div 16").as("nb"),
            expr("(aa % 512) div 16").as("na"))
          .localCheckpoint() // before census + after census
        val before = nd.groupBy(col("nb")).agg(count(lit(1)).as("cntb"))
        val after = nd.groupBy(col("na"))
          .agg(count(lit(1)).as("cnta"),
            sum(when(col("na") =!= col("nb"), 1).otherwise(0))
              .as("mvin"))
        val out = s.range(0, 9).select(col("id").as("node"))
          .join(before, col("nb") === col("node"), "left")
          .join(after, col("na") === col("node"), "left")
          .select(col("node"),
            coalesce(col("cntb"), lit(0L)).cast("long").as("cnt_before"),
            coalesce(col("cnta"), lit(0L)).cast("long").as("cnt_after"),
            coalesce(col("mvin"), lit(0L)).cast("long").as("moved_in"))
          .orderBy("node")
        H.materialized(out, caches = Nil, checkpoints = Seq(nd))
      }),

    // Croston's method per event type: demand = daily count of
    // high-value (> $450) events — an intermittent series. Separate
    // SES folds (alpha = 1/4, integer milli) over the nonzero demand
    // SIZES and the inter-arrival INTERVALS; the demand-rate forecast
    // is their ratio, the one final division. The fold replays densely
    // over days 1-30 so zero-days advance the interval counter
    // identically in both engines.
    Q("ts_croston",
      Some(
        """WITH RECURSIVE dom AS (SELECT unnest(range(1, 31)) AS day),
          |ty AS (SELECT DISTINCT event_type AS t FROM events),
          |raw AS (SELECT event_type AS t,
          |  CAST(strftime(ts, '%d') AS BIGINT) AS day,
          |  CAST(count(*) AS BIGINT) AS d
          |  FROM events WHERE floor(value*100 + 0.5) > 45000
          |  GROUP BY 1, 2),
          |ser AS MATERIALIZED (SELECT ty.t, dom.day,
          |  CAST(coalesce(raw.d, 0) AS BIGINT) AS d
          |  FROM ty CROSS JOIN dom
          |  LEFT JOIN raw ON raw.t = ty.t AND raw.day = dom.day),
          |f AS (
          |  SELECT t, CAST(0 AS BIGINT) AS day, CAST(1 AS BIGINT) AS q,
          |    CAST(0 AS BIGINT) AS z, CAST(0 AS BIGINT) AS p,
          |    false AS init, CAST(0 AS BIGINT) AS nd
          |  FROM ty
          |  UNION ALL
          |  SELECT f.t, ser.day,
          |    CASE WHEN ser.d > 0 THEN 1 ELSE f.q + 1 END,
          |    CASE WHEN ser.d = 0 THEN f.z
          |      WHEN NOT f.init THEN ser.d * 1000
          |      ELSE (ser.d * 1000 + 3 * f.z) // 4 END,
          |    CASE WHEN ser.d = 0 THEN f.p
          |      WHEN NOT f.init THEN f.q * 1000
          |      ELSE (f.q * 1000 + 3 * f.p) // 4 END,
          |    f.init OR ser.d > 0,
          |    f.nd + CASE WHEN ser.d > 0 THEN 1 ELSE 0 END
          |  FROM f JOIN ser ON ser.t = f.t AND ser.day = f.day + 1
          |)
          |SELECT t AS event_type, nd AS n_demand_days,
          |  z AS z_milli, p AS p_milli,
          |  CASE WHEN p > 0 THEN z * 1000000 // p ELSE 0 END
          |    AS forecast_micro
          |FROM f WHERE day = 30 ORDER BY event_type
          |""".stripMargin),
      (s, dir) => {
        val raw = H.events(s, dir)
          .filter(floor(col("value") * 100 + lit(0.5)) > 45000)
          .groupBy(col("event_type").as("t"),
            date_format(col("ts"), "d").cast("long").as("day"))
          .agg(count(lit(1)).cast("long").as("d"))
        val ty = H.events(s, dir).select(col("event_type").as("t"))
          .distinct()
        val ser = ty.crossJoin(s.range(1, 31).select(col("id").as("day")))
          .join(raw, Seq("t", "day"), "left")
          .select(col("t"), col("day"),
            coalesce(col("d"), lit(0L)).as("d"))
        ser.groupBy("t")
          .agg(expr("array_sort(collect_list(struct(day, d)))").as("arr"))
          .withColumn("st", expr(
            """aggregate(arr,
              |  named_struct('q', 1L, 'z', 0L, 'p', 0L,
              |    'init', false, 'nd', 0L),
              |  (s, x) -> named_struct(
              |    'q', CASE WHEN x.d > 0 THEN 1L ELSE s.q + 1L END,
              |    'z', CASE WHEN x.d = 0 THEN s.z
              |      WHEN NOT s.init THEN x.d * 1000L
              |      ELSE (x.d * 1000L + 3L * s.z) div 4 END,
              |    'p', CASE WHEN x.d = 0 THEN s.p
              |      WHEN NOT s.init THEN s.q * 1000L
              |      ELSE (s.q * 1000L + 3L * s.p) div 4 END,
              |    'init', s.init OR x.d > 0,
              |    'nd', s.nd + CASE WHEN x.d > 0 THEN 1L ELSE 0L END))
              |""".stripMargin))
          .select(col("t").as("event_type"),
            col("st.nd").as("n_demand_days"),
            col("st.z").as("z_milli"), col("st.p").as("p_milli"),
            when(col("st.p") > 0,
              expr("st.z * 1000000 div st.p")).otherwise(0L)
              .as("forecast_micro"))
          .orderBy("event_type")
      }),

    // Isotonic regression of the daily error count via the exact
    // minimax identity: fit(i) = max_{j<=i} min_{k>=i} avg(y[j..k]).
    // Averages enter as micro-floored integers off one prefix-sum
    // frame, so the max-min lattice is pure BIGINT; the bounded day
    // domain keeps the (i, j, k) triple census at ~2.5k rows however
    // large the event table grows.
    Q("stats_isotonic_fit",
      Some(
        """WITH dom AS (SELECT unnest(range(1, 31)) AS day),
          |d AS MATERIALIZED (SELECT dom.day,
          |  CAST(coalesce(s.y, 0) AS BIGINT) AS y
          |  FROM dom LEFT JOIN (
          |    SELECT CAST(strftime(ts, '%d') AS BIGINT) AS day,
          |      count(*) AS y FROM events WHERE event_type = 'error'
          |    GROUP BY 1) s ON s.day = dom.day),
          |ps AS (SELECT day, y, CAST(sum(y) OVER (ORDER BY day)
          |  AS BIGINT) AS s FROM d),
          |seg AS (SELECT a.day AS j, b.day AS k,
          |  (b.s - a.s + a.y) * 1000000 // (b.day - a.day + 1)
          |    AS avg_micro
          |  FROM ps a JOIN ps b ON a.day <= b.day),
          |inner_min AS (SELECT i.day AS i, seg.j,
          |  CAST(min(seg.avg_micro) AS BIGINT) AS m
          |  FROM dom i JOIN seg ON seg.j <= i.day AND seg.k >= i.day
          |  GROUP BY 1, 2),
          |fit AS (SELECT i, CAST(max(m) AS BIGINT) AS fit_micro
          |  FROM inner_min GROUP BY i)
          |SELECT d.day, d.y, f.fit_micro FROM d
          |JOIN fit f ON f.i = d.day ORDER BY d.day
          |""".stripMargin),
      (s, dir) => {
        val daily = H.events(s, dir)
          .filter(col("event_type") === "error")
          .groupBy(date_format(col("ts"), "d").cast("long").as("day"))
          .agg(count(lit(1)).cast("long").as("y"))
        val d = s.range(1, 31).select(col("id").as("day"))
          .join(daily, Seq("day"), "left")
          .select(col("day"), coalesce(col("y"), lit(0L)).as("y"))
          .localCheckpoint() // prefix frame (x2) + the final join
        val ps = d.withColumn("s",
          sum("y").over(Window.orderBy("day")).cast("long"))
        val seg = ps.select(col("day").as("j"), col("y").as("yj"),
            col("s").as("sj"))
          .join(ps.select(col("day").as("k"), col("s").as("sk")),
            col("j") <= col("k"))
          .select(col("j"), col("k"),
            expr("(sk - sj + yj) * 1000000 div (k - j + 1)")
              .as("avg_micro"))
        val fit = s.range(1, 31).select(col("id").as("i"))
          .join(seg, col("j") <= col("i") && col("k") >= col("i"))
          .groupBy("i", "j").agg(min("avg_micro").as("m"))
          .groupBy("i").agg(max("m").cast("long").as("fit_micro"))
        val out = d.join(fit, col("i") === col("day"))
          .select(col("day"), col("y"), col("fit_micro"))
          .orderBy("day")
        H.materialized(out, caches = Nil, checkpoints = Seq(d))
      }),

    // RLE + digram compressibility profile per source: run count per
    // doc from one adjacent-pair array zip (no quadratic substring
    // walks, no RE2-unsafe backreferences), digram census by exploding
    // adjacent pairs. The RLE ratio and the top-digram share are the
    // division-free dictionary-coding proxies corpus curation uses to
    // flag boilerplate-heavy or degenerate-repetition sources.
    Q("text_rle_compressibility",
      Some(
        """WITH docs AS MATERIALIZED (SELECT doc_id, source, text,
          |  CAST(length(text) AS BIGINT) AS len
          |  FROM documents WHERE doc_id % 3 = 0),
          |runs AS (SELECT source, CAST(count(*) AS BIGINT) AS ndocs,
          |  CAST(sum(len) AS BIGINT) AS chars,
          |  CAST(sum(len - (SELECT count(*) FROM (
          |    SELECT unnest(range(1, CAST(len AS INTEGER))) AS i) p
          |    WHERE text[CAST(p.i AS INTEGER)]
          |      = text[CAST(p.i AS INTEGER) + 1])) AS BIGINT) AS rle
          |  FROM docs GROUP BY source),
          |dg AS (SELECT source,
          |  text[CAST(p.i AS INTEGER)] || text[CAST(p.i AS INTEGER) + 1]
          |    AS digram
          |  FROM docs, (SELECT unnest(range(1, 10000)) AS i) p
          |  WHERE p.i < docs.len),
          |dc AS (SELECT source, digram, CAST(count(*) AS BIGINT) AS cnt
          |  FROM dg GROUP BY 1, 2),
          |top AS (SELECT source, digram, cnt FROM (
          |  SELECT source, digram, cnt, row_number() OVER
          |    (PARTITION BY source ORDER BY cnt DESC, digram) AS rn
          |  FROM dc) r WHERE rn = 1)
          |SELECT r.source, r.ndocs, r.chars, r.rle AS rle_runs,
          |  r.rle * 1000000 // r.chars AS rle_ratio_micro,
          |  t.digram AS top_digram,
          |  t.cnt * 1000000 // (r.chars - r.ndocs)
          |    AS top_digram_share_micro
          |FROM runs r JOIN top t ON t.source = r.source
          |ORDER BY r.source
          |""".stripMargin),
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(3)) === 0)
          .select(col("doc_id"), col("source"),
            expr("split(text, '')").as("cs"),
            length(col("text")).cast("long").as("len"))
          .localCheckpoint() // run census + digram explode
        val runs = docs
          .withColumn("rr", expr(
            """len - aggregate(
              |  zip_with(slice(cs, 1, CAST(len AS INT) - 1),
              |    slice(cs, 2, CAST(len AS INT) - 1),
              |    (x, y) -> CASE WHEN x = y THEN 1L ELSE 0L END),
              |  0L, (a, b) -> a + b)""".stripMargin))
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("ndocs"),
            sum("len").cast("long").as("chars"),
            sum("rr").cast("long").as("rle_runs"))
        val top = docs
          .select(col("source"), explode(expr(
            """zip_with(slice(cs, 1, CAST(len AS INT) - 1),
              |  slice(cs, 2, CAST(len AS INT) - 1),
              |  (x, y) -> concat(x, y))""".stripMargin)).as("digram"))
          .groupBy("source", "digram")
          .agg(count(lit(1)).cast("long").as("cnt"))
          .withColumn("rn", row_number().over(Window
            .partitionBy("source")
            .orderBy(col("cnt").desc, col("digram"))))
          .filter(col("rn") === 1)
          .select(col("source").as("s2"), col("digram"), col("cnt"))
        val out = runs.join(top, col("s2") === col("source"))
          .select(col("source"), col("ndocs"), col("chars"),
            col("rle_runs"),
            expr("rle_runs * 1000000 div chars").as("rle_ratio_micro"),
            col("digram").as("top_digram"),
            expr("cnt * 1000000 div (chars - ndocs)")
              .as("top_digram_share_micro"))
          .orderBy("source")
        H.materialized(out, caches = Nil, checkpoints = Seq(docs))
      }))
}
