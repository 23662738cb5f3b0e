package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Fourth wave of corpus-scale operators: substring-level exact dedup (the
  * Lee et al. 2021 "Deduplicating Training Data Makes Language Models
  * Better" recipe, arXiv:2107.06499) and matrix-free distributed PCA over
  * the embedding table. Both are shapes a 100 TB training-data pipeline
  * needs and neither is a built-in Spark operator; both are expressed as
  * declarative plans Catalyst can optimize end-to-end.
  */
object ScaleCorpusQueries extends QueryModule {

  /** Engine-agnostic double→DECIMAL(18,9) cast for exact cross-row sums.
    * No double can land exactly on a scale-9 half-way boundary (those
    * decimals have 5⁹ in the denominator, so they are not dyadic and not
    * representable), hence HALF_UP (Spark) vs round-to-nearest (DuckDB)
    * never disagree and the cast is bit-deterministic across engines. */
  private def d9(c: Column): Column = c.cast(DecimalType(18, 9))

  private val WinLen = 40 // duplicated-span window, chars
  private val Stride = 10 // window stride, chars

  def all: Seq[Q] = Seq(

    // Substring-level exact dedup (Lee et al. 2021): a document sharing
    // long verbatim character spans with OTHER documents is boilerplate or
    // a near-copy even when whole-doc hashes differ. Slide a WinLen-char
    // window at Stride over every doc, find windows whose text occurs in
    // >=2 distinct docs, and score each doc by its duplicated-window
    // fraction; >=0.5 (mostly-duplicated) drops. The suffix-array of the
    // paper is replaced by the shuffle-native equivalent: window
    // fingerprints meet in a groupBy, so cost is one explode + two
    // shuffles, never pairwise. At 100 TB the groupBy key would be
    // xxhash64(win) (8 bytes crossing the wire instead of 40, identical
    // grouping modulo 2⁻⁶⁴ collisions); the raw substring key here keeps
    // the oracle compare exact. Hot windows (a boilerplate span in millions
    // of docs) are ordinary skewed groupBy keys that AQE splits.
    Q("dedup_substring",
      Some(
        s"""WITH w AS (
           |  SELECT d.doc_id, substr(d.text, p, $WinLen) AS win
           |  FROM documents d
           |  JOIN generate_series(1, 100001, $Stride) AS t(p)
           |    ON p <= length(d.text) - ${WinLen - 1}
           |), dup AS (
           |  SELECT win FROM w GROUP BY win HAVING count(DISTINCT doc_id) > 1
           |), per AS (
           |  SELECT w.doc_id, count(*) AS windows, count(dup.win) AS dup_windows
           |  FROM w LEFT JOIN dup ON w.win = dup.win GROUP BY 1
           |)
           |SELECT d.doc_id,
           |       coalesce(per.windows, 0) AS windows,
           |       coalesce(per.dup_windows, 0) AS dup_windows,
           |       coalesce(per.dup_windows::DOUBLE / per.windows, 0.0) AS dup_frac,
           |       CASE WHEN coalesce(per.dup_windows::DOUBLE / per.windows, 0.0) >= 0.5
           |            THEN 'drop_substring' ELSE 'keep' END AS decision
           |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
           |ORDER BY d.doc_id""".stripMargin),
      (s, dir) => {
        val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        val w = d
          .select(col("doc_id"),
            explode(when(length(col("text")) >= WinLen,
                sequence(lit(1), length(col("text")) - (WinLen - 1),
                  lit(Stride)))
              .otherwise(array().cast("array<int>"))).as("p"),
            col("text"))
          .select(col("doc_id"),
            col("text").substr(col("p"), lit(WinLen)).as("win"))
        val dup = w.groupBy("win")
          .agg(countDistinct("doc_id").as("nd"))
          .filter(col("nd") > 1)
          .select(col("win"), lit(1).as("hit"))
        val per = w.join(dup, Seq("win"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("windows"), count(col("hit")).as("dup_windows"))
        val frac = col("dup_windows").cast("double") / col("windows")
        d.select("doc_id").join(per, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("windows"), lit(0L)).as("windows"),
            coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
            coalesce(frac, lit(0.0)).as("dup_frac"),
            when(coalesce(frac, lit(0.0)) >= 0.5, "drop_substring")
              .otherwise("keep").as("decision"))
          .orderBy("doc_id")
      }),

    // The other half of the Lee-et-al recipe: don't drop the document,
    // REMOVE its cross-document duplicated spans and keep the rest. Same
    // window fingerprints as dedup_substring; per doc, the duplicated
    // windows become char intervals, overlapping/adjacent intervals merge
    // (classic gaps-and-islands: running max of interval end, island
    // breaks where a start clears it), and the kept text is the ordered
    // concatenation of the complement segments. Everything is per-doc
    // window/group work over the (small) duplicated-window subset — the
    // corpus-wide stage is still only the window groupBy; nothing is
    // pairwise and per-doc state is bounded by doc length. Oracle
    // cross-checked against an independent interval-merge reference.
    Q("dedup_span_removal",
      Some(
        s"""WITH w AS (
           |  SELECT d.doc_id, p, substr(d.text, p, $WinLen) AS win
           |  FROM documents d
           |  JOIN generate_series(1, 100001, $Stride) AS t(p)
           |    ON p <= length(d.text) - ${WinLen - 1}
           |), dup AS (
           |  SELECT win FROM w GROUP BY win HAVING count(DISTINCT doc_id) > 1
           |), dupw AS (
           |  SELECT w.doc_id, w.p, w.p + ${WinLen - 1} AS e FROM w JOIN dup USING (win)
           |), ord AS (
           |  SELECT doc_id, p, e,
           |         max(e) OVER (PARTITION BY doc_id ORDER BY p
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
           |  FROM dupw
           |), isl AS (
           |  SELECT doc_id, p, e,
           |         sum(CASE WHEN prev_max IS NULL OR p > prev_max + 1 THEN 1 ELSE 0 END)
           |           OVER (PARTITION BY doc_id ORDER BY p
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
           |  FROM ord
           |), iv AS (
           |  SELECT doc_id, min(p) AS s, max(e) AS e FROM isl GROUP BY doc_id, grp
           |), gaps AS (
           |  SELECT doc_id,
           |         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS ks,
           |         s - 1 AS ke
           |  FROM iv
           |  UNION ALL
           |  SELECT d.doc_id, coalesce(m.max_e, 0) + 1 AS ks, length(d.text) AS ke
           |  FROM documents d
           |  LEFT JOIN (SELECT doc_id, max(e) AS max_e FROM iv GROUP BY doc_id) m
           |    ON m.doc_id = d.doc_id
           |), kept AS (
           |  SELECT g.doc_id,
           |         string_agg(substr(d.text, g.ks, g.ke - g.ks + 1), '' ORDER BY g.ks) AS kept_text
           |  FROM gaps g JOIN documents d ON d.doc_id = g.doc_id
           |  WHERE g.ks <= g.ke
           |  GROUP BY g.doc_id
           |), rem AS (
           |  SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS removed_chars
           |  FROM iv GROUP BY doc_id
           |)
           |SELECT d.doc_id,
           |       coalesce(rem.removed_chars, 0) AS removed_chars,
           |       CAST(length(coalesce(kept.kept_text, '')) AS BIGINT) AS kept_len,
           |       coalesce(kept.kept_text, '') AS kept_text
           |FROM documents d
           |LEFT JOIN rem ON rem.doc_id = d.doc_id
           |LEFT JOIN kept ON kept.doc_id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        val w = d
          .select(col("doc_id"),
            explode(when(length(col("text")) >= WinLen,
                sequence(lit(1), length(col("text")) - (WinLen - 1),
                  lit(Stride)))
              .otherwise(array().cast("array<int>"))).as("p"),
            col("text"))
          .select(col("doc_id"), col("p"),
            col("text").substr(col("p"), lit(WinLen)).as("win"))
        val dup = w.groupBy("win")
          .agg(countDistinct("doc_id").as("nd"))
          .filter(col("nd") > 1).select("win")
        val dupw = w.join(dup, Seq("win"))
          .select(col("doc_id"), col("p"), (col("p") + (WinLen - 1)).as("e"))
        val byP = Window.partitionBy("doc_id").orderBy("p")
        val isl = dupw
          .withColumn("prev_max", max(col("e"))
            .over(byP.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("grp",
            sum(when(col("prev_max").isNull ||
                col("p") > col("prev_max") + 1, 1).otherwise(0))
              .over(byP.rowsBetween(Window.unboundedPreceding,
                Window.currentRow)))
        val iv = isl.groupBy("doc_id", "grp")
          .agg(min("p").as("s"), max("e").as("e"))
        val gapsInner = iv
          .withColumn("ks", coalesce(
            lag(col("e"), 1).over(Window.partitionBy("doc_id").orderBy("s")),
            lit(0)) + 1)
          .select(col("doc_id"), col("ks"), (col("s") - 1).as("ke"))
        val maxE = iv.groupBy("doc_id").agg(max("e").as("max_e"))
        val gapsLast = d.join(maxE, Seq("doc_id"), "left")
          .select(col("doc_id"), (coalesce(col("max_e"), lit(0)) + 1).as("ks"),
            length(col("text")).as("ke"))
        val kept = gapsInner.unionByName(gapsLast)
          .filter(col("ks") <= col("ke"))
          .join(d, Seq("doc_id"))
          .select(col("doc_id"), col("ks"),
            col("text").substr(col("ks"), col("ke") - col("ks") + 1).as("frag"))
          .groupBy("doc_id")
          .agg(array_join(
            transform(array_sort(collect_list(struct(col("ks"), col("frag")))),
              x => x.getField("frag")), "").as("kept_text"))
        val rem = iv.groupBy("doc_id")
          .agg(sum(col("e") - col("s") + 1).cast("long").as("removed_chars"))
        d.select("doc_id")
          .join(rem, Seq("doc_id"), "left")
          .join(kept, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("removed_chars"), lit(0L)).as("removed_chars"),
            length(coalesce(col("kept_text"), lit(""))).cast("long")
              .as("kept_len"),
            coalesce(col("kept_text"), lit("")).as("kept_text"))
          .orderBy("doc_id")
      }),

    // BM25 ranked retrieval (Robertson/Spärck Jones; the Okapi k1/b form)
    // over the corpus for a fixed query-term set — the retrieval
    // companion of text_tfidf/text_inverted_index. Standard saturation
    // term tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with k1=1.2, b=0.75 is
    // already fully rational; the idf log's argument (N−df+½)/(df+½) is
    // used directly as the rational idf surrogate ((2N−2df+1)/(2df+1) in
    // exact integers), same monotonic ranking, bit-exact across engines
    // (the repo's log-free discipline). Scale shape: per-(doc,term) tf and
    // per-doc dl are partial-agg shuffles, df/avgdl are broadcast scalars,
    // and the top-25 is TakeOrderedAndProject — the per-term work is
    // bounded by the postings of the 3 query terms, never the corpus.
    Q("rank_bm25",
      Some(
        """WITH qt AS (SELECT unnest(['spark', 'join', 'window']) AS term),
          |tok AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
          |), dl AS (
          |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1
          |), stats AS (
          |  SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n,
          |         CAST((SELECT count(*) FROM tok) AS DOUBLE)
          |           / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl
          |), df AS (
          |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
          |  FROM tok JOIN qt USING (term) GROUP BY term
          |), tf AS (
          |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
          |  FROM tok JOIN qt USING (term) GROUP BY 1, 2
          |), scored AS (
          |  SELECT tf.doc_id,
          |         CAST(sum(CAST(
          |           (CAST(2*stats.n - 2*df.df + 1 AS DOUBLE) / CAST(2*df.df + 1 AS DOUBLE))
          |           * ((CAST(tf.tf AS DOUBLE) * 2.2)
          |              / (CAST(tf.tf AS DOUBLE)
          |                 + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / stats.avgdl))))
          |          AS DECIMAL(18,9))) AS DOUBLE) AS score
          |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
          |  GROUP BY tf.doc_id
          |)
          |SELECT doc_id, score,
          |       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
          |FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 25)
          |ORDER BY rnk""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // single-pass pivoted scoring — see RetrievalQueries.bm25Scored
        val (scored, perChk) = RetrievalQueries.bm25Scored(s, dir,
          Seq("spark", "join", "window"))
        val top = scored.orderBy(col("score").desc, col("doc_id")).limit(25)
        val out = top.withColumn("rnk",
            row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
              .cast("long"))
          .orderBy("rnk")
        graft.H.materialized(out, Nil, Seq(perChk))
      }),

    // DSIR-shaped data selection (Xie et al. 2023, arXiv:2302.03169):
    // score every document by an importance ratio between a target
    // distribution (here the src0 slice stands in for the high-quality
    // target corpus) and the raw distribution, over a hashed n-gram
    // feature space, and keep the top-k. Adaptations, per this repo's
    // cross-engine determinism discipline: (a) the feature hash is the
    // md5-hex fold both engines compute identically (same trick as
    // sample_split); (b) the log-likelihood ratio becomes a RATIONAL
    // linear ratio score Σ_f c_f·((ct_f+1)(R+B))/((cr_f+1)(T+B)) — every
    // factor an exact-integer-derived single IEEE division (log() is only
    // 1-ulp reproducible), summed through DECIMAL(18,9); (c) Gumbel-top-k
    // sampling becomes the deterministic top-k. Scale shape: feature
    // counts are two partial-agg shuffles, the 256-row ratio table
    // broadcasts, and the top-k cutoff is TakeOrderedAndProject + a
    // broadcast 1-row threshold — no global-window single partition, no
    // driver loop.
    Q("select_dsir",
      Some(
        s"""WITH tok AS (
          |  SELECT d.doc_id, d.source, unnest(string_split(d.text, ' ')) AS term
          |  FROM documents d
          |), f AS (
          |  SELECT doc_id, source,
          |         CAST(${H.md5PrefixSql("term", 4)} % 256 AS BIGINT) AS b
          |  FROM tok
          |), cnt AS (
          |  SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY 1, 2
          |), raw AS (
          |  SELECT b, CAST(count(*) AS BIGINT) AS cr FROM f GROUP BY b
          |), tgt AS (
          |  SELECT b, CAST(count(*) AS BIGINT) AS ct FROM f WHERE source = 'src0' GROUP BY b
          |), tot AS (
          |  SELECT CAST((SELECT count(*) FROM f WHERE source = 'src0') AS BIGINT) AS t,
          |         CAST((SELECT count(*) FROM f) AS BIGINT) AS r
          |), ratio AS (
          |  SELECT raw.b,
          |         CAST((coalesce(tgt.ct, 0) + 1) * (tot.r + 256) AS DOUBLE)
          |           / CAST((raw.cr + 1) * (tot.t + 256) AS DOUBLE) AS rat
          |  FROM raw LEFT JOIN tgt ON tgt.b = raw.b CROSS JOIN tot
          |), scored AS (
          |  SELECT cnt.doc_id,
          |         CAST(sum(CAST(cnt.c * ratio.rat AS DECIMAL(18,9))) AS DOUBLE) AS dsir_score
          |  FROM cnt JOIN ratio ON ratio.b = cnt.b GROUP BY cnt.doc_id
          |), cut AS (
          |  SELECT dsir_score AS cs, doc_id AS cd FROM scored
          |  ORDER BY dsir_score DESC, doc_id LIMIT 1 OFFSET 99
          |)
          |SELECT s.doc_id, s.dsir_score,
          |       CASE WHEN s.dsir_score > cut.cs
          |              OR (s.dsir_score = cut.cs AND s.doc_id <= cut.cd)
          |            THEN 'selected' ELSE 'rejected' END AS decision
          |FROM scored s CROSS JOIN cut
          |ORDER BY s.doc_id""".stripMargin),
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val tok = docs.select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("term"))
        val f = tok.select(col("doc_id"), col("source"),
          (H.md5Prefix(col("term"), 4) % 256).as("b"))
        val cnt = f.groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
        val raw = f.groupBy("b").agg(count(lit(1)).as("cr"))
        val tgt = f.filter(col("source") === "src0")
          .groupBy("b").agg(count(lit(1)).as("ct"))
        val tot = f.agg(count(lit(1)).as("r"),
          count(when(col("source") === "src0", 1)).as("t"))
        val ratio = raw.join(tgt, Seq("b"), "left")
          .crossJoin(broadcast(tot))
          .select(col("b"),
            (((coalesce(col("ct"), lit(0L)) + 1) * (col("r") + 256))
              .cast("double") /
              ((col("cr") + 1) * (col("t") + 256)).cast("double")).as("rat"))
        val scored = cnt.join(broadcast(ratio), Seq("b"))
          .groupBy("doc_id")
          .agg(sum(d9(col("c") * col("rat"))).cast("double").as("dsir_score"))
        val cut = scored
          .orderBy(col("dsir_score").desc, col("doc_id")).limit(100)
          .orderBy(col("dsir_score"), col("doc_id").desc).limit(1)
          .select(col("dsir_score").as("cs"), col("doc_id").as("cd"))
        scored.crossJoin(broadcast(cut))
          .select(col("doc_id"), col("dsir_score"),
            when(col("dsir_score") > col("cs") ||
                (col("dsir_score") === col("cs") && col("doc_id") <= col("cd")),
              "selected").otherwise("rejected").as("decision"))
          .orderBy("doc_id")
      }),

    // Matrix-free distributed PCA: top principal direction of the
    // embedding table by power iteration that never materializes the d×d
    // covariance (or any all-pairs structure). Each iteration is ONE pass
    // over the per-vector arrays:
    //   s_r  = Σ_j cx[r,j]·v[j]   (per-row scalar, computed inline over
    //                              the row's own array; v is d doubles →
    //                              a broadcast single-row array)
    //   v'_j = Σ_r cx[r,j]·s_r    (per-dim accumulate; partial-aggregated
    //                              map-side, so the only exchange carries
    //                              d rows per partition)
    // — the shape that survives a billion-vector table (contrast:
    // covariance materialization is d² per partition, pairwise methods
    // are n²). Two iterations from the all-ones vector are judged
    // (deterministic algebra, DuckDB-exact via fixed-scale decimal sums —
    // verified bit-identical to numpy's 2-step power method); production
    // iterates to convergence with the same plan per round. Cross-row
    // sums go through DECIMAL(18,9) so partial-aggregation order cannot
    // perturb the result (see d9 note); per-element double arithmetic
    // (subtract, divide, sqrt) is IEEE-deterministic in both engines.
    // Two engine-specific cast pitfalls shape the formulation: (a) DuckDB
    // casts a wide decimal to double as int128→double then ÷10^scale (two
    // roundings) where Spark single-rounds, so a decimal→double cast with
    // >15 significant digits can drift by one ULP; (b) DuckDB TRUNCATES
    // decimal→decimal scale reductions where Spark rounds, so those casts
    // are never used. Each iteration's d9() requantization collapses (a)'s
    // ULP drift (a 1e-16-relative difference cannot move a scale-9
    // rounding), and the final loading is emitted through a
    // double→DECIMAL(18,12)→double round-trip — double→decimal rounds
    // to-nearest in both engines, so the surviving last-ULP drift of the
    // output division quantizes identically.
    Q("emb_pca", pcaOracle, (s, dir) => {
      val (result, ckpts) = pcaFrames(s, dir)
      graft.H.materialized(result, caches = Nil, checkpoints = ckpts)
    }))

  private val pcaOracle: Option[String] =
      Some(
        """WITH e AS (
          |  SELECT vec_id, unnest(embedding)::DOUBLE AS x,
          |         generate_subscripts(embedding, 1) AS j
          |  FROM embeddings
          |), mu AS (
          |  SELECT j, CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS m
          |  FROM e GROUP BY j
          |), c AS (
          |  SELECT e.vec_id, e.j, e.x - mu.m AS cx FROM e JOIN mu USING (j)
          |), s1 AS (
          |  SELECT vec_id, CAST(sum(CAST(cx AS DECIMAL(18,9))) AS DOUBLE) AS s
          |  FROM c GROUP BY vec_id
          |), v1 AS (
          |  SELECT j, CAST(sum(CAST(c.cx AS DECIMAL(18,9)) * CAST(s1.s AS DECIMAL(18,9))) AS DOUBLE) AS v
          |  FROM c JOIN s1 USING (vec_id) GROUP BY j
          |), n1 AS (
          |  SELECT sqrt(CAST(sum(CAST(v AS DECIMAL(18,9)) * CAST(v AS DECIMAL(18,9))) AS DOUBLE)) AS nrm FROM v1
          |), u1 AS (
          |  SELECT j, v / nrm AS u FROM v1, n1
          |), s2 AS (
          |  SELECT vec_id, CAST(sum(CAST(cx AS DECIMAL(18,9)) * CAST(u AS DECIMAL(18,9))) AS DOUBLE) AS s
          |  FROM c JOIN u1 USING (j) GROUP BY vec_id
          |), v2 AS (
          |  SELECT j, CAST(sum(CAST(c.cx AS DECIMAL(18,9)) * CAST(s2.s AS DECIMAL(18,9))) AS DOUBLE) AS v
          |  FROM c JOIN s2 USING (vec_id) GROUP BY j
          |), n2 AS (
          |  SELECT sqrt(CAST(sum(CAST(v AS DECIMAL(18,9)) * CAST(v AS DECIMAL(18,9))) AS DOUBLE)) AS nrm FROM v2
          |)
          |SELECT v2.j AS dim, mu.m AS mean_val,
          |       CAST(CAST(v2.v / n2.nrm AS DECIMAL(18,12)) AS DOUBLE) AS pc1_loading
          |FROM v2, n2 JOIN mu ON mu.j = v2.j
          |ORDER BY dim""".stripMargin)

  /** The un-materialized PCA pipeline: (result, cached centered frame).
    * Split out so PlanGuardsSpec can assert on the real plan — the judged
    * query wraps this in H.materialized, whose localCheckpoint leaves only
    * an opaque RDD scan to inspect. */
  private[graft] def pcaFrames(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
        Seq[org.apache.spark.sql.DataFrame]) = {
        // Per-VECTOR array formulation (r11 verdict item 1). The previous
        // long-form shape ((vec_id, j, cx) hash-partitioned by vec_id,
        // then per-iteration broadcast-join + two groupBys over n·d rows)
        // was the board's worst query at sf0.1 (23 s, 8-core/32-core
        // ratio 0.12): every iteration paid a broadcast rebuild plus two
        // n·d-row aggregations' worth of task overhead. Here the per-ROW
        // scalar s_r is computed inline over the vector's own array (no
        // vec_id groupBy, no vec_id join, no n·d cache), so each
        // iteration is ONE pass over the base table whose only exchange
        // is the d-row partial-aggregated per-dim accumulate. The d-row
        // state (means, normalized direction) crosses passes as a
        // broadcast single-row ARRAY, rebuilt from a localCheckpoint so
        // no pass recomputes an earlier one. Decimal discipline is
        // unchanged: the same d9 casts and exact decimal sums, only
        // folded per-row via `aggregate` (decimal + is associative and
        // exact, so fold order cannot perturb the result).
        val (c, muArr) = pcaCentered(s, dir)
        def pass(uArr: Option[org.apache.spark.sql.DataFrame]) =
          pcaPass(c, uArr)
            .localCheckpoint() // read by both the norm agg and its consumer
        def norm(v: org.apache.spark.sql.DataFrame) = v.agg(
          sqrt(sum(d9(col("v")) * d9(col("v"))).cast("double")).as("nrm"))
        val v1 = pass(None)
        val u1Arr = v1.crossJoin(broadcast(norm(v1)))
          .agg(array_sort(collect_list(
            struct(col("j"), (col("v") / col("nrm")).as("u")))).as("su"))
          .select(expr("transform(su, t -> t.u)").as("u"))
          .localCheckpoint()
        val v2 = pass(Some(u1Arr))
        // means for the output come back off the checkpointed array — a
        // join with `mu` itself would replay the full centering pass
        val muRows = muArr.select(posexplode(col("mu")))
          .select((col("pos") + 1).as("j"), col("col").as("m"))
        val result = v2.crossJoin(broadcast(norm(v2)))
          .join(broadcast(muRows), Seq("j"))
          .select(col("j").as("dim"), col("m").as("mean_val"),
            (col("v") / col("nrm")).cast(DecimalType(18, 12))
              .cast("double").as("pc1_loading"))
          .orderBy("dim")
        (result, Seq(muArr, v1, u1Arr, v2))
      }

  /** Centered per-vector arrays + the checkpointed 1-row mean array.
    * Split out (with [[pcaPass]]) so graft.Explain/PlanGuardsSpec can dump
    * the iteration's real plan — inside [[pcaFrames]] each pass sits
    * behind a localCheckpoint and explains as an opaque RDD scan. */
  private[graft] def pcaCentered(s: org.apache.spark.sql.SparkSession,
      dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val base = tbl(s, dir, "embeddings")
      .select(col("embedding").cast("array<double>").as("emb"))
    val mu = base.select(posexplode(col("emb")))
      .groupBy((col("pos") + 1).as("j"))
      .agg((sum(d9(col("col"))).cast("double") / count(lit(1))).as("m"))
    // d means → one broadcastable row holding the dim-ordered array
    val muArr = mu
      .agg(array_sort(collect_list(struct(col("j"), col("m")))).as("sm"))
      .select(expr("transform(sm, t -> t.m)").as("mu"))
      .localCheckpoint()
    val c = base.crossJoin(broadcast(muArr))
      .select(expr("zip_with(emb, mu, (x, m) -> x - m)").as("cx"))
    (c, muArr)
  }

  /** One power-iteration pass: s_r inline per row, then the per-dim
    * accumulate v'_j = Σ_r cx[r,j]·s_r (d rows after partial agg). */
  private[graft] def pcaPass(c: org.apache.spark.sql.DataFrame,
      uArr: Option[org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame = {
    val withS = uArr match {
      // v0 = ones: s_r = Σ_j cx (exact decimal fold, as the old sum).
      // The fold re-casts each partial back to the zero's type: the
      // cast only overflow-checks (same scale, values far below the
      // integer-digit budget), so the fold stays an exact decimal
      // sum — bit-identical to the old groupBy sum(...)
      case None => c.withColumn("s", expr(
        "CAST(aggregate(cx, CAST(0 AS DECIMAL(28,9)), (acc, x) -> " +
          "CAST(acc + CAST(x AS DECIMAL(18,9)) AS DECIMAL(28,9)))" +
          " AS DOUBLE)"))
      case Some(u) => c.crossJoin(broadcast(u)).withColumn("s", expr(
        "CAST(aggregate(zip_with(cx, u, (x, uv) -> " +
          "CAST(x AS DECIMAL(18,9)) * CAST(uv AS DECIMAL(18,9))), " +
          "CAST(0 AS DECIMAL(37,18)), (acc, t) -> " +
          "CAST(acc + t AS DECIMAL(37,18))) AS DOUBLE)"))
    }
    withS.select(col("s"), posexplode(col("cx")))
      .groupBy((col("pos") + 1).as("j"))
      .agg(sum(d9(col("col")) * d9(col("s"))).cast("double").as("v"))
  }
}
