package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Tenth wave: data-governance + linkage operators — blocked entity
  * resolution (Jaro-Winkler record linkage), k-anonymity / l-diversity
  * privacy audits, weighted sampling (priority sampling), and
  * Hilbert-curve layout clustering.
  *
  * Determinism notes (H's rules apply throughout):
  *   - The linkage score is a native expression mirroring DuckDB's
  *     vendored rapidfuzz algorithm op-for-op (see JaroWinkler's scaladoc),
  *     so the two engines produce bit-identical doubles and identical
  *     ranks; ties break on the candidate key.
  *   - The sampling priority w/u uses only divisions that IEEE rounds
  *     identically everywhere: u = (h+1)/2^32 is exact (power-of-two
  *     denominator), w/u is one correctly-rounded op.
  *   - The Hilbert index is pure integer arithmetic from ONE generated
  *     formula string shared verbatim by both engines.
  */
object GovernanceQueries extends QueryModule {

  /** One Hilbert-curve refinement level (cell side `s`, a power of two):
    * SQL fragments computing the next (hx, hy, hd) from the current ones.
    * This is the standard xy2d loop body with the reflection applied to the
    * MASKED low bits (hx & (s-1)) — equivalent to the textbook s-1-x form
    * because levels below `s` never re-read higher bits, and it keeps every
    * intermediate non-negative so no engine-specific negative-number `&`
    * semantics are in play. `(3*rx) XOR ry` is expressed arithmetically
    * (3*rx + ry - 2*rx*ry, exact on the {0,1} domain) because the two
    * engines spell bitwise XOR differently. The SAME strings drive Spark
    * (chained selectExpr) and DuckDB (nested subqueries), so the judged
    * hash verifies the index math itself. */
  private def hilbertLevel(s: Int): (String, String, String) = {
    val rx = s"(CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END)"
    val ry = s"(CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END)"
    val xm = s"(hx & ${s - 1})"
    val ym = s"(hy & ${s - 1})"
    val d = s"(hd + ${s.toLong * s} * (3 * $rx + $ry - 2 * $rx * $ry))"
    val x = s"(CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 " +
      s"THEN ${s - 1} - $ym ELSE $ym END) ELSE $xm END)"
    val y = s"(CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 " +
      s"THEN ${s - 1} - $xm ELSE $xm END) ELSE $ym END)"
    (x, y, d)
  }

  private val hilbertLevels: Seq[(String, String, String)] =
    Seq(128, 64, 32, 16, 8, 4, 2, 1).map(hilbertLevel)

  /** Carry columns threaded through the per-level projections. */
  private val hilbertCarry = Seq("o_custkey", "dday")

  /** Spark: 8 chained map-only projections over (hx, hy, hd). */
  private[graft] def hilbertIndex(base: DataFrame,
      carry: Seq[String] = hilbertCarry): DataFrame =
    hilbertLevels.foldLeft(base) { case (df, (x, y, d)) =>
      df.selectExpr(carry ++ Seq(
        s"$x AS hx", s"$y AS hy", s"$d AS hd"): _*)
    }

  /** Fixture hook: run the index with `expected` carried through. */
  private[graft] def hilbertIndexForTest(base: DataFrame): DataFrame =
    hilbertIndex(base, Seq("o_custkey", "dday", "expected"))

  /** multimodal_phash interior, pre-materialization — returned as
    * (result, checkpointed phash frame) so the judged query can free the
    * checkpoint and PlanGuardsSpec can assert on the live plan (the
    * materialized result hides it behind an RDD scan). The phash frame is
    * checkpointed because THREE plan branches read it (band melt + both
    * sides of the scoring join) and re-running it means re-decoding every
    * PNG. */
  private[graft] def phashPairs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val ph = graft.functions.Multimodal
      .phashes(s, tbl(s, dir, "documents")).toDF().localCheckpoint()
    val bands = ph.selectExpr("doc_id",
      "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (band, bv)")
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val pa = ph.select(col("doc_id").as("doc_a"), col("b0").as("a0"),
      col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
    val pb = ph.select(col("doc_id").as("doc_b"), col("b0").as("c0"),
      col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    val out = cand.join(pa, "doc_a").join(pb, "doc_b")
      .withColumn("hamming", expr(
        "CAST(bit_count(a0 ^ c0) + bit_count(a1 ^ c1) + " +
          "bit_count(a2 ^ c2) + bit_count(a3 ^ c3) AS BIGINT)"))
      .filter(col("hamming") <= 12)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
    (out, ph)
  }

  /** DuckDB: the same projections as nested subqueries over `baseSql`. */
  private def hilbertIndexSql(baseSql: String): String =
    hilbertLevels.foldLeft(baseSql) { case (inner, (x, y, d)) =>
      s"SELECT ${hilbertCarry.mkString(", ")}, $x AS hx, $y AS hy, $d AS hd " +
        s"FROM ($inner)"
    }

  /** Dirty-name synthesis for the linkage demo: three deterministic error
    * modes keyed on c_custkey % 3, all confined to the last two characters
    * so the 16-char prefix (the blocking key) survives the corruption —
    * exactly the property a real blocking scheme is designed around. */
  private val dirtyCaseSql: String =
    "CASE CAST(c_custkey % 3 AS INTEGER) " +
      "WHEN 0 THEN substr(c_name, 1, 16) || 'Q' || substr(c_name, 18, 1) " +
      "WHEN 1 THEN substr(c_name, 1, 17) " +
      "ELSE c_name || 'Z' END"

  private def dirtyCaseCol: Column =
    when(col("c_custkey") % 3 === 0,
      concat(substring(col("c_name"), 1, 16), lit("Q"),
        substring(col("c_name"), 18, 1)))
      .when(col("c_custkey") % 3 === 1, substring(col("c_name"), 1, 17))
      .otherwise(concat(col("c_name"), lit("Z")))

  def all: Seq[Q] = Seq(

    // BLOCKED ENTITY RESOLUTION: link a corrupted customer roster back to
    // the clean one. Candidate generation is PREFIX BLOCKING — join on
    // (nation, 16-char name prefix) — so the quadratic scorer only ever
    // sees pairs inside a block, and block size is bounded by the key
    // design (<=100 names share a 16-char prefix here), independent of
    // corpus size: the join is an ordinary equi-shuffle that scales
    // linearly and AQE splits if a block runs hot. Scoring is the native
    // jaro_winkler expression (whole-stage codegen) and the best match per
    // dirty record is a per-key window rank, ties on candidate key.
    Q("er_blocked_linkage",
      Some(
        s"""WITH dirty AS (
           |  SELECT c_custkey AS d_key, c_nationkey AS d_nat,
           |         $dirtyCaseSql AS d_name
           |  FROM customer),
           |cand AS (
           |  SELECT d.d_key, c.c_custkey,
           |         jaro_winkler_similarity(d.d_name, c.c_name) AS score
           |  FROM dirty d JOIN customer c
           |    ON c.c_nationkey = d.d_nat
           |   AND substr(c.c_name, 1, 16) = substr(d.d_name, 1, 16)),
           |ranked AS (
           |  SELECT *, row_number() OVER (
           |    PARTITION BY d_key ORDER BY score DESC, c_custkey) AS rk
           |  FROM cand)
           |SELECT d_key, c_custkey AS linked_key,
           |       round(score, 6) AS score6,
           |       d_key = c_custkey AS exact_recovery
           |FROM ranked WHERE rk = 1 AND score >= 0.9
           |ORDER BY d_key""".stripMargin),
      (s, dir) => {
        import graft.functions.JaroWinkler.jaro_winkler
        val cust = tbl(s, dir, "customer")
        val dirty = cust.select(
          col("c_custkey").as("d_key"), col("c_nationkey").as("d_nat"),
          dirtyCaseCol.as("d_name"))
        val cand = dirty.join(cust,
          col("c_nationkey") === col("d_nat") &&
            substring(col("c_name"), 1, 16) === substring(col("d_name"), 1, 16))
          .select(col("d_key"), col("c_custkey"),
            jaro_winkler(col("d_name"), col("c_name")).as("score"))
        val w = Window.partitionBy("d_key")
          .orderBy(col("score").desc, col("c_custkey"))
        cand.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1 && col("score") >= 0.9)
          .select(col("d_key"), col("c_custkey").as("linked_key"),
            round(col("score"), 6).as("score6"),
            (col("d_key") === col("c_custkey")).as("exact_recovery"))
          .orderBy("d_key")
      }),

    // K-ANONYMITY AUDIT: group sizes over the quasi-identifier tuple
    // (nation, market segment, account-balance band); any group smaller
    // than k=5 re-identifies its members. Reported per nation so the
    // output stays bounded at any scale. Two aggregation levels, both
    // map-side combined; the nation join is a broadcast.
    Q("privacy_kanon",
      Some(
        """WITH g AS (
          |  SELECT c_nationkey, c_mktsegment,
          |         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
          |         count(*) AS cnt
          |  FROM customer GROUP BY 1, 2, 3)
          |SELECT n_name, CAST(count(*) AS BIGINT) AS n_groups,
          |       CAST(sum(CASE WHEN cnt < 5 THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_violating,
          |       CAST(sum(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT)
          |         AS n_exposed,
          |       CAST(min(cnt) AS BIGINT) AS min_group
          |FROM g JOIN nation ON n_nationkey = c_nationkey
          |GROUP BY n_name ORDER BY n_name""".stripMargin),
      (s, dir) => {
        val g = tbl(s, dir, "customer")
          .groupBy(col("c_nationkey"), col("c_mktsegment"),
            floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
          .agg(count(lit(1)).as("cnt"))
        g.join(broadcast(tbl(s, dir, "nation")),
            col("n_nationkey") === col("c_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_groups"),
            sum(when(col("cnt") < 5, 1L).otherwise(0L)).as("n_violating"),
            sum(when(col("cnt") < 5, col("cnt")).otherwise(0L)).as("n_exposed"),
            min(col("cnt")).as("min_group"))
          .orderBy("n_name")
      }),

    // L-DIVERSITY AUDIT: the companion check — a k-anonymous group is
    // still leaky if everyone in it shares the sensitive value. Counts
    // DISTINCT sensitive values (market segment) per quasi-identifier
    // group and emits the groups below l=3. Exact distinct inside a
    // bounded-cardinality group-by; output is the violating groups only.
    Q("privacy_ldiversity",
      Some(
        """WITH g AS (
          |  SELECT c_nationkey,
          |         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
          |         count(DISTINCT c_mktsegment) AS l, count(*) AS cnt
          |  FROM customer GROUP BY 1, 2)
          |SELECT n_name, bal_band, CAST(l AS BIGINT) AS l_div,
          |       CAST(cnt AS BIGINT) AS group_rows
          |FROM g JOIN nation ON n_nationkey = c_nationkey
          |WHERE l < 3 ORDER BY n_name, bal_band""".stripMargin),
      (s, dir) => {
        val g = tbl(s, dir, "customer")
          .groupBy(col("c_nationkey"),
            floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
          .agg(countDistinct(col("c_mktsegment")).as("l"),
            count(lit(1)).as("cnt"))
        g.join(broadcast(tbl(s, dir, "nation")),
            col("n_nationkey") === col("c_nationkey"))
          .filter(col("l") < 3)
          .select(col("n_name"), col("bal_band"), col("l").as("l_div"),
            col("cnt").as("group_rows"))
          .orderBy("n_name", "bal_band")
      }),

    // WEIGHTED SAMPLING (priority sampling, Duffield-Lund-Thorup): each
    // document draws priority w/u from a deterministic 32-bit uniform u
    // and the sample is the global top-k by priority — a one-pass,
    // merge-friendly scheme (executors keep local top-k heaps, the driver
    // merges k rows per partition; Spark plans TakeOrderedAndProject, no
    // full sort). Longer documents are proportionally more likely to be
    // drawn, which is the length-weighted sampling a token-budgeted
    // corpus selection actually wants.
    Q("sample_weighted",
      Some(
        "WITH u AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w, " +
          s"(${H.md5PrefixSql("CAST(doc_id AS VARCHAR)", 8)} + 1) / 4294967296.0 AS u " +
          "FROM documents) " +
          "SELECT doc_id, lang, w, w / u AS priority " +
          "FROM u ORDER BY priority DESC, doc_id LIMIT 100"),
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("w"),
            ((H.md5Prefix(col("doc_id").cast("string"), 8) + 1L) /
              4294967296.0).as("u"))
          .select(col("doc_id"), col("lang"), col("w"),
            (col("w") / col("u")).as("priority"))
          .orderBy(col("priority").desc, col("doc_id"))
          .limit(100)),

    // IMAGE NEAR-DUP via PERCEPTUAL HASH: every document is wrapped in a
    // REAL PNG, the codec decodes true pixels, and the 64-bit average-hash
    // is banded into four 16-bit sub-hashes — pairs sharing ANY band are
    // candidates (pigeonhole: hamming <= 48 implies a shared band at this
    // split; the threshold 12 is far inside that), then exact hamming via
    // bit_count(xor) keeps the close pairs. Scale shape is the LSH dedup
    // family's: the band self-join is an equi-shuffle whose hot buckets
    // AQE splits, candidates — never all pairs — reach the scorer, and
    // the tiny phash frame is checkpointed once because three plan
    // branches read it. The oracle predicts the raster closed-form, so a
    // codec bug (filter math, IDAT reassembly) breaks the hash.
    Q("multimodal_phash",
      Some(
        """WITH dims AS (SELECT doc_id, 1 + doc_id % 32 AS w,
          |  1 + (doc_id*7 + octet_length(encode(text))) % 32 AS h FROM documents),
          |px AS (SELECT doc_id, w, h, unnest(range(0, w*h)) AS p FROM dims),
          |gray AS (SELECT doc_id, w, h, p % w AS x, p // w AS y,
          |  (p*3*31 + doc_id) % 256 AS v FROM px),
          |cells AS (SELECT doc_id, (x*8)//w AS cx, (y*8)//h AS cy,
          |  sum(v) AS cs, count(*) AS cc FROM gray GROUP BY 1, 2, 3),
          |tot AS (SELECT doc_id, sum(v) AS gs, count(*) AS gc FROM gray GROUP BY 1),
          |bits AS (SELECT c.doc_id, cx, cy,
          |  CASE WHEN cs * gc > gs * cc THEN 1 ELSE 0 END AS bit
          |  FROM cells c JOIN tot g ON g.doc_id = c.doc_id),
          |bands AS (SELECT dm.doc_id, gb.band,
          |  CAST(coalesce(sum(CASE WHEN cy // 2 = gb.band
          |       THEN bit * (1 << ((cy % 2) * 8 + cx)) END), 0) AS BIGINT) AS bv
          |  FROM dims dm CROSS JOIN (SELECT unnest(range(0, 4)) AS band) gb
          |  LEFT JOIN bits ON bits.doc_id = dm.doc_id
          |  GROUP BY 1, 2),
          |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM bands a JOIN bands b
          |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
          |ph AS (SELECT doc_id,
          |  max(CASE WHEN band = 0 THEN bv END) AS b0,
          |  max(CASE WHEN band = 1 THEN bv END) AS b1,
          |  max(CASE WHEN band = 2 THEN bv END) AS b2,
          |  max(CASE WHEN band = 3 THEN bv END) AS b3 FROM bands GROUP BY 1)
          |SELECT doc_a, doc_b, CAST(
          |    bit_count(xor(pa.b0, pb.b0)) + bit_count(xor(pa.b1, pb.b1)) +
          |    bit_count(xor(pa.b2, pb.b2)) + bit_count(xor(pa.b3, pb.b3))
          |  AS BIGINT) AS hamming
          |FROM cand JOIN ph pa ON pa.doc_id = doc_a JOIN ph pb ON pb.doc_id = doc_b
          |WHERE bit_count(xor(pa.b0, pb.b0)) + bit_count(xor(pa.b1, pb.b1)) +
          |      bit_count(xor(pa.b2, pb.b2)) + bit_count(xor(pa.b3, pb.b3)) <= 12
          |ORDER BY doc_a, doc_b""".stripMargin),
      (s, dir) => {
        val (out, ph) = phashPairs(s, dir)
        H.materialized(out, caches = Nil, checkpoints = Seq(ph))
      }),

    // HILBERT-CURVE LAYOUT: the locality-preserving sibling of
    // layout_zorder — consecutive Hilbert positions are always spatially
    // adjacent (Morton order jumps), so range-partitioning files by the
    // Hilbert index gives tighter per-file bounding boxes on BOTH
    // dimensions. The index is computed by 8 chained map-only
    // projections (no shuffle, no UDF — plain integer CASE arithmetic
    // inside whole-stage codegen); the judged output is the per-shard
    // bounding boxes plus sum(hd), which pins the index math itself to
    // the oracle replaying the SAME generated formula. The per-shard
    // custkey/day spans are the clustering-quality evidence a table
    // optimizer would act on.
    Q("layout_hilbert",
      Some {
        val base = "SELECT o_custkey, " +
          "date_diff('day', TIMESTAMP '1992-01-01', o_orderdate) AS dday, " +
          "(o_custkey & 255) AS hx, " +
          "(date_diff('day', TIMESTAMP '1992-01-01', o_orderdate) & 255) AS hy, " +
          "CAST(0 AS BIGINT) AS hd FROM orders"
        s"WITH h AS (${hilbertIndexSql(base)}) " +
          "SELECT CAST(floor(hd / 1024.0) AS BIGINT) AS shard, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "min(o_custkey) AS custkey_lo, max(o_custkey) AS custkey_hi, " +
          "CAST(min(dday) AS BIGINT) AS day_lo, CAST(max(dday) AS BIGINT) AS day_hi, " +
          "CAST(sum(hd) AS BIGINT) AS hd_sum " +
          "FROM h GROUP BY 1 ORDER BY 1"
      },
      (s, dir) => {
        val base = tbl(s, dir, "orders").selectExpr(
          "o_custkey",
          "CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT) AS dday",
          "(o_custkey & 255) AS hx",
          "(CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT) & 255) AS hy",
          "CAST(0 AS BIGINT) AS hd")
        hilbertIndex(base)
          .groupBy(expr("CAST(floor(hd / 1024.0) AS BIGINT)").as("shard"))
          .agg(count(lit(1)).as("n"),
            min("o_custkey").as("custkey_lo"), max("o_custkey").as("custkey_hi"),
            min("dday").cast("long").as("day_lo"),
            max("dday").cast("long").as("day_hi"),
            sum("hd").cast("long").as("hd_sum"))
          .orderBy("shard")
      }))
}
