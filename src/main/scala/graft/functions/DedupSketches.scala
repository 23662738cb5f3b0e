package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate sketches for document dedup at scale: word-shingles,
  * MinHash signatures + LSH banding, and 64-bit SimHash.
  *
  * Hash family: `md5(i || ':' || shingle)` compared as lowercase hex strings
  * (lexicographic min == numeric min for fixed-width hex). md5 is bit-exact
  * across Spark and DuckDB, so the whole pipeline — signatures, bands,
  * candidate pairs, verified Jaccard — is oracle-checkable, not just
  * rows-counted.
  *
  * Scale shape (100 TB reasoning):
  *   - shingling/minhash: narrow projection + explode + partial-agg min —
  *     map-side combine keeps the shuffle at |docs| × n_hashes;
  *   - LSH: candidates come from an equi-join on (band, key) buckets —
  *     never an all-pairs comparison;
  *   - verification joins are candidate-driven (pairs × shingles), so cost
  *     follows the candidate count, not |docs|².
  */
object DedupSketches {

  /** See [[graft.H.spread]] (the shared CPU-dense-stage parallelizer). */
  def spread(df: DataFrame, key: Column): DataFrame = graft.H.spread(df, key)

  val NumHashes = 12
  val BandRows = 3 // 4 bands × 3 rows: P(candidate) = 1-(1-J^3)^4
  val NumBands: Int = NumHashes / BandRows

  /** (doc_id, shingle) — distinct word n-grams per document. Documents
    * shorter than n tokens produce no shingles (dropped, both engines).
    * Set semantics come from per-doc `array_distinct` BEFORE the explode —
    * equivalent to a global DISTINCT on (doc_id, shingle) since shingles
    * never cross documents. One deliberate exchange sits above the scan:
    * `spread` repartitions the docs so the CPU-dense shingle+md5 chain
    * does not run single-threaded over an unsplittable one-file read. */
  def shingles(docs: DataFrame, n: Int): DataFrame =
    // narrow projection BEFORE the spread exchange (guide §2.3): only the
    // two columns the shingle chain reads cross the wire, not the whole
    // docs row (r11 verdict item 3)
    spread(docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        s"array_distinct(CASE WHEN size(toks) >= $n THEN " +
          s"transform(sequence(0, size(toks) - $n), " +
          s"i -> ${(0 until n).map(k => s"toks[i + $k]").mkString("concat(", ", ' ', ", ")")}) " +
          "ELSE array() END)")).as("shingle"))

  /** DuckDB twin of `shingles` as a CTE body over `documents`. */
  def shinglesSql(n: Int): String = {
    val gram = (0 until n).map(k => s"l[i + $k]").mkString(" || ' ' || ")
    s"SELECT DISTINCT doc_id, $gram AS shingle FROM " +
      s"(SELECT doc_id, l, unnest(range(1, len(l) - ${n - 2})) AS i " +
      "FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents))"
  }

  /** md5 digests per signature: each 128-bit digest is CHUNKED into four
    * 32-bit (8-hex-char) hash values, so 12 hash functions cost 3 md5
    * evaluations per shingle instead of 12 — the dominant CPU of the
    * signature pass at corpus scale. Lexicographic min on fixed-width hex
    * == numeric min, so each chunk is a valid independent min-hash. */
  val NumDigests: Int = NumHashes / 4

  /** MinHash signature + shingle-set size in ONE groupBy pass (the count
    * feeds Jaccard verification; folding it here saves a second aggregation
    * over the shingle set). The digests are computed once per shingle in a
    * pre-aggregation projection (not per agg expression), then min-folded
    * chunk-wise — map-side combine keeps the shuffle at |docs|×n_hashes.
    *
    * Each chunk converts hex → BIGINT BEFORE the min: `min` over strings
    * has an immutable aggregation buffer, so Spark plans a SortAggregate
    * (per-partition sort of |docs|×|shingles| rows — CPU and spill risk at
    * corpus scale); over longs it plans the hash-based partial+final pair,
    * and the shuffle rows are fixed-width. Numeric min == lexicographic min
    * on fixed-width hex, so the DuckDB twin keeps the hex form — the h
    * columns are internal (band keys, never output), and a bijection per
    * chunk preserves both per-doc minima and band-key equality. */
  def minhashSignature(sh: DataFrame): DataFrame = {
    val digested = sh.select(
      col("doc_id") +:
        (0 until NumDigests).map(j =>
          md5(concat(lit(s"$j:"), col("shingle"))).as(s"m$j")): _*)
    def chunk(i: Int) = expr(
      s"cast(conv(substring(m${i / 4}, ${(i % 4) * 8 + 1}, 8), 16, 10) as bigint)")
    digested.groupBy("doc_id").agg(
      min(chunk(0)).as("h0"),
      (1 until NumHashes).map(i => min(chunk(i)).as(s"h$i"))
        :+ count(lit(1)).as("n"): _*)
  }

  // Measured alternative, rejected: computing the signature ARRAY-NATIVELY
  // (array_min over transform(sh, x -> md5(...)) per doc — no explode, no
  // shuffle) is ~5x SLOWER at sf0.1 despite the better shuffle story,
  // because Spark's higher-order functions evaluate their lambdas
  // interpreted (CodegenFallback) while the explode+groupBy path keeps md5
  // inside whole-stage codegen and the partial-min shuffle is only
  // |docs| x n_hashes. Keep the explode formulation.

  def minhashSignatureSql: String = {
    val digests = (0 until NumDigests)
      .map(j => s"md5('$j:' || shingle) AS m$j").mkString(", ")
    "SELECT doc_id, " + (0 until NumHashes)
      .map(i => s"min(substr(m${i / 4}, ${(i % 4) * 8 + 1}, 8)) AS h$i")
      .mkString(", ") +
      s", count(*) AS n FROM (SELECT doc_id, $digests FROM sh) GROUP BY doc_id"
  }

  /** (doc_id, band, key) — one row per LSH band. */
  def lshBands(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|", (0 until BandRows).map(r => col(s"h${b * BandRows + r}")): _*)
          .as("key"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  def lshBandsSql: String =
    (0 until NumBands).map { b =>
      val key = (0 until BandRows).map(r => s"h${b * BandRows + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sig"
    }.mkString(" UNION ALL ")

  /** DuckDB twin of `candidatePairs` over a `bands` CTE — the SAME bucket
    * self-join algorithm as the Spark side. */
  def candidatePairsSql: String =
    "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key " +
      "AND a.doc_id < b.doc_id"

  /** Distinct candidate pairs (doc_a < doc_b) sharing any band bucket, via
    * a band equi-join. The join form (not a per-bucket `collect_list` +
    * in-row pair expansion) is deliberate for 100 TB: a boilerplate /
    * empty-doc cluster can put thousands of documents into ONE band bucket,
    * and a collect_list aggregation would hold that bucket's O(b²) pairs in
    * a single unsplittable row on one executor. A shuffle-join partition,
    * by contrast, is exactly what AQE's skew-join rule knows how to split
    * (proved under a planted hot band in ScaleTechniquesSpec). Callers
    * should cache the signature feeding `bands` — the join recomputes its
    * input once per side, and everything below the (cheap, map-side) band
    * expansion is shared through the cache. */
  def candidatePairs(bands: DataFrame): DataFrame =
    // probe side spread by doc_id (NOT the band key — a hot band would
    // then be a planted skew): the pair-expansion probe is the CPU-dense
    // stage this join pays for, and it inherits the tiny cached signature
    // frame's 1-partition layout without this (see `spread`)
    spread(bands, col("doc_id"))
      .select(col("band"), col("key"), col("doc_id").as("doc_a"))
      .join(bands.select(col("band"), col("key"), col("doc_id").as("doc_b")),
        Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()

  /** Connected components over an undirected pair list — the GROUP step of
    * dedup: verified near-dup pairs cluster into components and the min
    * doc_id becomes the canonical document.
    *
    * Hash-to-min with POINTER DOUBLING: each round (a) pulls the min label
    * across edges, then (b) jumps to the label's own label
    * (`label ← label(label)`), halving chain depth — convergence in
    * O(log diameter) rounds, so even a pathological 1M-long similarity
    * chain settles in ~20 rounds. Every round is three partial-aggregated
    * equi-join shuffles on cached inputs; the only driver-side work is a
    * boolean convergence probe — no data ever collects.
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIters: Int = 25,
      mode: Iteratives.Mode = Iteratives.Local): DataFrame = {
    import Iteratives.{checkpoint => ckpt, free}
    // checkpoint the pair list once: the bidirectional union references it
    // twice, and its upstream (candidate verification) is a join pipeline
    // worth not recomputing
    val p = ckpt(pairs, mode)
    val edges = p
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .cache()
    // checkpoint (eager) each round: materializes the new labels AND
    // truncates lineage — without it, the per-round plan chains back
    // through every previous round and iteration cost explodes. Each
    // round's generation is FREED once the next round materializes, so
    // storage holds one generation, not the whole iteration history. The
    // `mode` picks the fault-tolerance story: Local (executor blocks,
    // fastest, job reruns on executor loss) vs Reliable (checkpoint dir,
    // restart from the last completed round on a cluster) — see
    // Iteratives; results are identical either way (IterativesSpec).
    // seed labels with one fused pull-min (label = min(node, neighbors)):
    // the groupBy reuses the edge shuffle the loop needs anyway and saves a
    // full three-join round versus starting from label = node
    var labels = ckpt(edges
      .groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("m"))
      .select(col("node"), least(col("node"), col("m")).as("label")), mode)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val nbr = edges
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(min(col("label")).as("nbr_label"))
      // cached: the doubling self-join below references it twice, and Spark
      // does not CSE across join branches
      val stepped = labels.join(nbr, Seq("node"), "left")
        .select(col("node"), col("label").as("old"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("mid"))
        .cache()
      // pointer doubling: follow my label to ITS label (labels are always
      // node ids, so the lookup is a self-join on the stepped frame). The
      // `changed` flag rides along so convergence is a scan of the already
      // checkpointed frame, not an extra join job.
      val next = ckpt(stepped
        .join(stepped.select(col("node").as("mid"), col("mid").as("jump")),
          Seq("mid"), "left")
        .select(col("node"),
          coalesce(col("jump"), col("mid")).as("label"),
          (coalesce(col("jump"), col("mid")) < col("old")).as("changed")), mode)
      converged = next.filter(col("changed")).isEmpty
      stepped.unpersist()
      free(labels, mode) // next is materialized; last round's generation is dead
      labels = next.select("node", "label")
      i += 1
    }
    edges.unpersist()
    free(p, mode) // nothing reads the pair list once edges is dropped
    // half-propagated labels would silently mark true duplicates canonical
    require(converged,
      s"connectedComponents did not converge after $maxIters rounds")
    labels
  }

  /** Exact Jaccard for candidate pairs, computed candidate-driven.
    * `countsOpt`: pre-computed (doc_id, n) shingle-set sizes (e.g. from the
    * signature pass); derived from `sh` when absent.
    *
    * Caller contract: pass `cand` through an EAGER `.localCheckpoint()` and
    * `.cache()` `sh`. Both are referenced twice — cand by the intersection
    * join and the scoring join, sh by the two sides of the intersection —
    * and Spark does not common-subexpression-eliminate across DAG branches,
    * so an unmaterialized cand re-executes the band self-join (the most
    * expensive stage of the dedup pipeline) once per reference. cand must
    * be checkpointed rather than cached: caching freezes the cached
    * subplan's output partitioning and disables AQE skew-splitting inside
    * the InMemoryRelation build — the exact protection the hot-bucket band
    * join needs (measured 3x slower at 10x sf0.1 when cached); the
    * checkpoint runs the join as a normal AQE job and pins only its result
    * blocks. Free via H.materialized(checkpoints = Seq(cand)). */
  def verifiedJaccard(cand: DataFrame, sh: DataFrame,
      countsOpt: Option[DataFrame] = None): DataFrame = {
    val counts = countsOpt.getOrElse(
      sh.groupBy("doc_id").agg(count(lit(1)).as("n")))
    val sa = sh.select(col("doc_id").as("sa_id"), col("shingle").as("sa_sh"))
    val sb = sh.select(col("doc_id").as("sb_id"), col("shingle").as("sb_sh"))
    val inter = cand
      .join(sa, col("sa_id") === col("doc_a"))
      .join(sb, col("sb_id") === col("doc_b") && col("sb_sh") === col("sa_sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ni"))
    cand
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .withColumn("ni", coalesce(col("ni"), lit(0L)))
      .withColumn("jaccard",
        col("ni").cast("double") / (col("na") + col("nb") - col("ni")).cast("double"))
  }

  // -------------------------------------------------------------------------
  // SimHash (64-bit): md5(token) hex digits → bit vector; weighted by token
  // frequency; sign of the per-bit sum. Convention: bit j comes from hex
  // digit j/4 (1-based digit j/4+1), shifted (3 - j%4). Output is ONE BIGINT
  // with bit j at position 63-j (j=0 is the most significant bit) — two's
  // complement on both engines, so hamming distance is a single
  // `bit_count(ha ^ hb)` per pair instead of 16 substr/conv/XOR rounds, and
  // the signature is 8 bytes on the shuffle wire, not a 16-char string.
  // -------------------------------------------------------------------------

  /** (doc_id, simhash BIGINT) from a documents frame. */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .withColumn("h", md5(col("tok")))
    val dig = tok.select(
      col("doc_id") +: col("cnt") +:
        (1 to 16).map(k =>
          conv(substring(col("h"), k, 1), 16, 10).cast("int").as(s"d$k")): _*)
    val v = dig.groupBy("doc_id").agg(
      sumBit(0).as("v0"),
      (1 until 64).map(j => sumBit(j).as(s"v$j")): _*)
    val withBits = v.select(
      col("doc_id") +:
        (0 until 64).map(j =>
          when(col(s"v$j") > 0, 1L).otherwise(0L).as(s"b$j")): _*)
    withBits.select(col("doc_id"),
      (0 until 64).map(j => shiftleft(col(s"b$j"), 63 - j))
        .reduce(_ bitwiseOR _).as("simhash"))
  }

  private def sumBit(j: Int): Column = {
    val digit = j / 4 + 1
    val div = 1 << (3 - j % 4)
    sum(expr(s"((d$digit div $div) % 2 * 2 - 1) * cnt"))
  }

  /** DuckDB twin of `simhash` over `documents`. DuckDB raises on
    * `1::BIGINT << 63`, so the sign bit (j=0) is contributed by
    * multiply-by-Long.MinValue (written `-max-1` — the literal
    * -9223372036854775808 would itself overflow during parse); bits 1..63
    * shift normally and are OR-free-summable (disjoint bit positions). */
  def simhashSql: String = {
    val digits = (1 to 16)
      .map(k => s"${graft.H.hexSql(s"substr(h, $k, 1)")} AS d$k")
      .mkString(", ")
    val sums = (0 until 64).map { j =>
      val digit = j / 4 + 1
      val div = 1 << (3 - j % 4)
      s"sum(((d$digit // $div) % 2 * 2 - 1) * cnt) AS v$j"
    }.mkString(", ")
    val bits = (0 until 64)
      .map(j => s"CASE WHEN v$j > 0 THEN 1 ELSE 0 END AS b$j").mkString(", ")
    val packed = "(b0 * (-9223372036854775807 - 1)) + " +
      (1 until 64).map(j => s"(b$j::BIGINT << ${63 - j})").mkString(" + ")
    "WITH tok AS (SELECT doc_id, t AS tok, count(*) AS cnt FROM " +
      "(SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) " +
      "GROUP BY 1, 2), " +
      "dig AS (SELECT doc_id, cnt, md5(tok) AS h FROM tok), " +
      s"d AS (SELECT doc_id, cnt, $digits FROM dig), " +
      s"v AS (SELECT doc_id, $sums FROM d GROUP BY doc_id), " +
      s"b AS (SELECT doc_id, $bits FROM v) " +
      s"SELECT doc_id, $packed AS simhash FROM b ORDER BY doc_id"
  }
}
