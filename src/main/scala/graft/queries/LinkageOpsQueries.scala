package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Fifty-third wave: entity-linkage blocking via a hand-rolled Soundex
  * (identical string pipeline in both engines — no library variance),
  * Benjamini-Hochberg correction over permutation p-values (multiple
  * testing with exact integer cross-multiplied thresholds), and temporal
  * earliest-arrival reachability (time-respecting BFS, the
  * information-diffusion primitive).
  */
object LinkageOpsQueries extends QueryModule {

  /** Soundex as an explicit translate/regex pipeline (American Soundex:
    * keep first letter, map consonants to digits, collapse runs, drop
    * vowels/h/w, pad-truncate to 4). Both engines run the SAME steps, so
    * the code — not a library's edge-case table — defines the semantics. */
  private val SdxFrom = "abcdefghijklmnopqrstuvwxyz"
  private val SdxTo = "01230120022455012623010202"
  private def soundexSql(e: String): String = {
    val w = s"lower($e)"
    val digits = s"translate($w, '$SdxFrom', '$SdxTo')"
    // collapse runs per digit with {2,} quantifiers — RE2 (DuckDB) has no
    // backreferences, so the collapse is six literal-run replaces, the
    // SAME chain both engines; h/w separators fall under the digit-0 rule
    // (the simplified variant, stated identically on both sides)
    val collapsed = (1 to 6).foldLeft(digits)((acc, d) =>
      s"regexp_replace($acc, '$d{2,}', '$d')")
    val nz = s"replace($collapsed, '0', '')"
    s"upper(substr($w, 1, 1)) || substr(rpad(substr($nz, 2, 3), 3, '0'), 1, 3)"
  }
  private def soundexCol(e: Column): Column = {
    val w = lower(e)
    val digits = translate(w, SdxFrom, SdxTo)
    val collapsed = (1 to 6).foldLeft(digits)((acc, d) =>
      regexp_replace(acc, s"$d{2,}", s"$d"))
    val nz = regexp_replace(collapsed, "0", "")
    concat(upper(substring(w, 1, 1)),
      substring(rpad(substring(nz, 2, 3), 3, "0"), 1, 3))
  }

  def all: Seq[Q] = Seq(

    // Soundex blocking over the part-name lead word: block statistics
    // (size, distinct lead words, distinct brands) plus the candidate-pair
    // mass each block contributes — the blocking-quality report that
    // decides whether a phonetic key is usable before running linkage.
    // One groupBy over the parts; pair mass is n·(n−1)/2 per block.
    Q("er_soundex_blocking",
      Some(
        s"""WITH p AS (SELECT p_partkey,
           |  string_split(p_name, ' ')[1] AS w, p_brand FROM part),
           |s AS (SELECT p_partkey, w, p_brand,
           |  ${soundexSql("w")} AS sdx FROM p),
           |g AS (SELECT sdx, CAST(count(*) AS BIGINT) AS n,
           |  CAST(count(DISTINCT w) AS BIGINT) AS words,
           |  CAST(count(DISTINCT p_brand) AS BIGINT) AS brands
           |  FROM s GROUP BY sdx)
           |SELECT sdx, n, words, brands, n * (n - 1) // 2 AS cand_pairs
           |FROM g ORDER BY sdx
           |""".stripMargin),
      (s, dir) => {
        tbl(s, dir, "part")
          .select(col("p_partkey"),
            element_at(split(col("p_name"), " ", -1), 1).as("w"),
            col("p_brand"))
          .withColumn("sdx", soundexCol(col("w")))
          .groupBy("sdx")
          .agg(count(lit(1)).cast("long").as("n"),
            count_distinct(col("w")).cast("long").as("words"),
            count_distinct(col("p_brand")).cast("long").as("brands"))
          .withColumn("cand_pairs", expr("n * (n - 1) div 2"))
          .select("sdx", "n", "words", "brands", "cand_pairs")
          .orderBy("sdx")
      }),

    // Benjamini-Hochberg over the 10 type-pair mean-gap permutation
    // p-values (B = 40 hash-seeded label reassignments per pair, p =
    // (1 + #extreme)/(1 + B)). The BH acceptance p(k) ≤ k·α/m is tested
    // by exact cross-multiplication — p_num·(B+1 denominators never
    // divide) — with α = 1/10, and the rejection set is every rank up to
    // the largest accepted k. The heavy part (pair × permutation sums)
    // is one explode→groupBy over the reduced (pair, b, side) domain.
    Q("stats_bh_correction",
      Some {
        // ONE 60-bit md5 fold per event; permutation b reads bit b−1.
        // (One hash then 40 shift-and-mask bits is ~40× cheaper than 40
        // per-(event,b) hashes — measured 16.7 s → bit-extraction cost —
        // and md5 bits are independent, so each permutation is still a
        // fair relabeling.)
        val fold = H.md5PrefixSql("CAST(event_id AS VARCHAR)", 15)
        s"""WITH e AS MATERIALIZED (SELECT event_id, event_type AS t, ($fold) AS h,
           |  CAST(floor(value*100 + 0.5) AS BIGINT) AS v FROM events),
           |ty AS (SELECT DISTINCT t FROM e),
           |pr AS (SELECT a.t AS t1, b.t AS t2 FROM ty a JOIN ty b
           |  ON a.t < b.t),
           |pe AS MATERIALIZED (SELECT pr.t1, pr.t2, e.event_id, e.v, e.h,
           |  CASE WHEN e.t = pr.t1 THEN 1 ELSE 2 END AS grp
           |  FROM pr JOIN e ON e.t = pr.t1 OR e.t = pr.t2),
           |obs AS (SELECT t1, t2,
           |  CAST(sum(CASE WHEN grp = 1 THEN v ELSE 0 END) AS BIGINT) AS s1,
           |  CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           |  CAST(sum(CASE WHEN grp = 2 THEN v ELSE 0 END) AS BIGINT) AS s2,
           |  CAST(sum(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
           |  FROM pe GROUP BY t1, t2),
           |po AS (SELECT pe.t1, pe.t2, bs.b,
           |  CAST(sum(CASE WHEN (pe.h >> (bs.b - 1)) & 1 = 0 THEN v ELSE 0
           |    END) AS BIGINT) AS sa,
           |  CAST(sum(CASE WHEN (pe.h >> (bs.b - 1)) & 1 = 0 THEN 1 ELSE 0
           |    END) AS BIGINT) AS na,
           |  CAST(sum(CASE WHEN (pe.h >> (bs.b - 1)) & 1 = 1 THEN v ELSE 0
           |    END) AS BIGINT) AS sb,
           |  CAST(sum(CASE WHEN (pe.h >> (bs.b - 1)) & 1 = 1 THEN 1 ELSE 0
           |    END) AS BIGINT) AS nb
           |  FROM pe CROSS JOIN (SELECT unnest(range(1, 41)) AS b) bs
           |  GROUP BY pe.t1, pe.t2, bs.b),
           |pv AS (SELECT o.t1, o.t2, CAST(1 + sum(CASE WHEN
           |  abs(p.sa*p.nb - p.sb*p.na) * 10000 // (p.na*p.nb) >=
           |  abs(o.s1*o.n2 - o.s2*o.n1) * 10000 // (o.n1*o.n2)
           |  THEN 1 ELSE 0 END) AS BIGINT) AS p_num
           |  FROM obs o JOIN po p ON p.t1 = o.t1 AND p.t2 = o.t2
           |  GROUP BY o.t1, o.t2),
           |r AS (SELECT t1, t2, p_num,
           |  CAST(row_number() OVER (ORDER BY p_num, t1, t2) AS BIGINT) AS k,
           |  CAST(count(*) OVER () AS BIGINT) AS m FROM pv),
           |acc AS (SELECT *, CASE WHEN p_num * m * 10 <= k * 41
           |  THEN k ELSE 0 END AS ok FROM r),
           |mx AS (SELECT max(ok) AS kmax FROM acc)
           |SELECT r.t1, r.t2, r.k, r.p_num AS p_num_of_41,
           |  CASE WHEN r.k <= mx.kmax THEN 1 ELSE 0 END AS rejected
           |FROM r CROSS JOIN mx ORDER BY r.k
           |""".stripMargin
      },
      (s, dir) => {
        val e = H.events(s, dir)
          .select(col("event_id"), col("event_type").as("t"),
            H.md5Prefix(col("event_id").cast("string"), 15).as("h"),
            floor(col("value") * 100 + lit(0.5)).cast("long").as("v"))
          .localCheckpoint() // type domain + pair fan-out ×2
        val ty = e.select("t").distinct()
        val pr = ty.select(col("t").as("t1"))
          .join(ty.select(col("t").as("t2")), col("t1") < col("t2"))
        val pe = e.join(broadcast(pr), col("t") === col("t1") ||
            col("t") === col("t2"))
          .withColumn("grp", when(col("t") === col("t1"), 1).otherwise(2))
        val obs = pe.groupBy("t1", "t2").agg(
          sum(when(col("grp") === 1, col("v")).otherwise(0L)).cast("long")
            .as("s1"),
          sum(when(col("grp") === 1, 1L).otherwise(0L)).cast("long")
            .as("n1"),
          sum(when(col("grp") === 2, col("v")).otherwise(0L)).cast("long")
            .as("s2"),
          sum(when(col("grp") === 2, 1L).otherwise(0L)).cast("long")
            .as("n2"))
          .withColumn("d_obs",
            expr("abs(s1*n2 - s2*n1) * 10000 div (n1*n2)"))
        // permutation b reads bit b−1 of the per-event 60-bit hash — no
        // per-(event, b) hashing at all
        val eb = e
          .withColumn("b", explode(sequence(lit(1), lit(40))))
          .withColumn("side", expr("(h >> (b - 1)) & 1"))
        // reduce to the (type, b) domain FIRST (200 rows) — the permuted
        // pair sums are additive across the two member types, so the pair
        // fan-out never touches event-grain rows
        val gtb = eb.groupBy("t", "b")
          .agg(sum(when(col("side") === 0, col("v")).otherwise(0L))
            .cast("long").as("s0"),
            sum(when(col("side") === 0, 1L).otherwise(0L)).cast("long")
              .as("n0"),
            sum(when(col("side") === 1, col("v")).otherwise(0L))
              .cast("long").as("s1b"),
            sum(when(col("side") === 1, 1L).otherwise(0L)).cast("long")
              .as("n1b"))
        val po = pr
          .join(gtb.select(col("t").as("t1"), col("b"), col("s0").as("xs0"),
            col("n0").as("xn0"), col("s1b").as("xs1"),
            col("n1b").as("xn1")), Seq("t1"))
          .join(gtb.select(col("t").as("tr"), col("b").as("b2"),
            col("s0").as("ys0"), col("n0").as("yn0"),
            col("s1b").as("ys1"), col("n1b").as("yn1")),
            col("tr") === col("t2") && col("b2") === col("b"))
          .select(col("t1"), col("t2"), col("b"),
            (col("xs0") + col("ys0")).as("sa"),
            (col("xn0") + col("yn0")).as("na"),
            (col("xs1") + col("ys1")).as("sb"),
            (col("xn1") + col("yn1")).as("nb"))
          .withColumn("d_b", expr("abs(sa*nb - sb*na) * 10000 div (na*nb)"))
        val pv = obs.join(po, Seq("t1", "t2"))
          .groupBy("t1", "t2")
          .agg((lit(1L) + sum(when(col("d_b") >= col("d_obs"), 1L)
            .otherwise(0L))).cast("long").as("p_num"))
        val wr = Window.orderBy("p_num", "t1", "t2")
        val r = pv
          .withColumn("k", row_number().over(wr).cast("long"))
          .withColumn("m", count(lit(1)).over(
            Window.partitionBy()).cast("long"))
          .localCheckpoint() // kmax scan + the output rows
        val mx = r.select(max(when(
          col("p_num") * col("m") * 10 <= col("k") * 41, col("k"))
          .otherwise(0L)).as("kmax"))
        val out = r.crossJoin(broadcast(mx))
          .select(col("t1"), col("t2"), col("k"),
            col("p_num").as("p_num_of_41"),
            when(col("k") <= col("kmax"), 1).otherwise(0).as("rejected"))
          .orderBy("k")
        H.materialized(out, caches = Nil, checkpoints = Seq(e, r))
      }),

    // Temporal earliest-arrival reachability: users co-active in the same
    // (event_type, hour) bucket are linked at that hour; from each seed
    // (user_id < 5), how many users are reachable in ≤1/≤2/≤3 hops along
    // STRICTLY time-increasing edges. Earliest-arrival BFS is exact for
    // time-respecting reachability (an earlier arrival admits a superset
    // of continuations); each hop is one equi-join on the node plus a
    // min-reduce, unrolled three deep.
    Q("graph_temporal_reach",
      Some(
        """WITH b AS MATERIALIZED (SELECT DISTINCT user_id,
          |  event_type, date_trunc('hour', ts) AS h FROM events),
          |em AS MATERIALIZED (SELECT a.user_id AS u, b2.user_id AS v,
          |  epoch_us(a.h) AS t FROM b a JOIN b b2
          |  ON a.event_type = b2.event_type AND a.h = b2.h
          |    AND a.user_id <> b2.user_id),
          |seed AS (SELECT DISTINCT user_id AS s FROM b WHERE user_id < 5),
          |h1 AS MATERIALIZED (SELECT seed.s, em.v, min(em.t) AS arr
          |  FROM seed JOIN em ON em.u = seed.s WHERE em.v <> seed.s
          |  GROUP BY seed.s, em.v),
          |h2r AS (SELECT h1.s, em.v, min(em.t) AS arr FROM h1
          |  JOIN em ON em.u = h1.v AND em.t > h1.arr
          |  WHERE em.v <> h1.s GROUP BY h1.s, em.v),
          |h2 AS MATERIALIZED (SELECT s, v, min(arr) AS arr FROM
          |  (SELECT * FROM h1 UNION ALL SELECT * FROM h2r) u2
          |  GROUP BY s, v),
          |h3r AS (SELECT h2.s, em.v, min(em.t) AS arr FROM h2
          |  JOIN em ON em.u = h2.v AND em.t > h2.arr
          |  WHERE em.v <> h2.s GROUP BY h2.s, em.v),
          |h3 AS MATERIALIZED (SELECT s, v, min(arr) AS arr FROM
          |  (SELECT * FROM h2 UNION ALL SELECT * FROM h3r) u3
          |  GROUP BY s, v),
          |c1 AS (SELECT s, CAST(count(*) AS BIGINT) AS reach1 FROM h1
          |  GROUP BY s),
          |c2 AS (SELECT s, CAST(count(*) AS BIGINT) AS reach2 FROM h2
          |  GROUP BY s),
          |c3 AS (SELECT s, CAST(count(*) AS BIGINT) AS reach3 FROM h3
          |  GROUP BY s)
          |SELECT c1.s AS seed, c1.reach1, c2.reach2, c3.reach3
          |FROM c1 JOIN c2 ON c2.s = c1.s JOIN c3 ON c3.s = c1.s
          |ORDER BY seed
          |""".stripMargin),
      (s, dir) => {
        // The engine does NOT mirror the oracle's clique edge list: the
        // co-presence graph's edge mass is Σ_cells c·(c−1) — QUADRATIC in
        // cell density (the r11 k10 full-board run measured the clique
        // form at 70×/decade when user replicas densify the cells).
        // Temporal BFS traverses the BIPARTITE (user ↔ cell) structure
        // instead: front user → cells attended after arrival →
        // co-present members, with the (seed, cell) frontier DISTINCT'd
        // before the member fan-out — O(Σc) per hop, semantics identical
        // (an edge (u,v,t) exists iff u and v share a cell at t).
        val b = H.events(s, dir)
          .select(col("user_id"), col("event_type"),
            date_trunc("hour", col("ts")).as("h"))
          .distinct()
          .localCheckpoint() // attend side + member side + the seed set
        val att = b.select(col("user_id").as("fu"), col("event_type").as("g"),
          unix_micros(col("h")).as("ct"))
        val mem = b.select(col("event_type").as("g"),
          unix_micros(col("h")).as("ct"), col("user_id").as("v"))
        def expand(front: DataFrame): DataFrame = front
          .join(att, col("fv") === col("fu") && col("ct") > col("arr"))
          .select(col("s"), col("g"), col("ct"))
          .distinct() // (seed, cell) frontier — bounded by seeds × cells
          .join(mem, Seq("g", "ct"))
          .filter(col("v") =!= col("s"))
          .groupBy(col("s"), col("v").as("fv"))
          .agg(min("ct").as("arr"))
        def merge(a: DataFrame, bb: DataFrame): DataFrame =
          a.unionAll(bb).groupBy("s", "fv").agg(min("arr").as("arr"))
        val h1 = b.filter(col("user_id") < 5)
          .select(col("user_id").as("s"), col("event_type").as("g"),
            unix_micros(col("h")).as("ct"))
          .join(mem, Seq("g", "ct"))
          .filter(col("v") =!= col("s"))
          .groupBy(col("s"), col("v").as("fv")).agg(min("ct").as("arr"))
          .localCheckpoint()
        val h2 = merge(h1, expand(h1)).localCheckpoint()
        val h3 = merge(h2, expand(h2))
        def cnt(f: DataFrame, n: String) =
          f.groupBy("s").agg(count(lit(1)).cast("long").as(n))
        val out = cnt(h1, "reach1")
          .join(cnt(h2, "reach2"), Seq("s"))
          .join(cnt(h3, "reach3"), Seq("s"))
          .select(col("s").as("seed"), col("reach1"), col("reach2"),
            col("reach3"))
          .orderBy("seed")
        H.materialized(out, caches = Nil, checkpoints = Seq(b, h1, h2))
      }))
}
