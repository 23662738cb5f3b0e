package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** N-gram language-model scoring and temperature-weighted domain mixing —
  * the perplexity-filter and data-mixing stages of a training-data
  * pipeline.
  *
  * Bit-exactness notes (both queries return doubles):
  *   - No `ln`: libm log implementations differ in the last ulp across
  *     engines, so scores stay in probability space — smoothed trigram
  *     probabilities are double divisions of exact integers (correctly
  *     rounded, identical IEEE on both sides).
  *   - No unordered double sums: per-doc scores fold a POSITION-SORTED
  *     probability list (and the mix weights fold a source-sorted weight
  *     list), so the addition order is frozen on both engines.
  *   - `sqrt` IS used (temperature 0.5): unlike log it is IEEE
  *     correctly-rounded, hence engine-identical.
  */
object LmMixQueries extends QueryModule {

  /** The per-doc trigram-scoring CTE chain shared by lm_trigram_score and
    * select_perplexity_band: everything up to a `perdoc` relation with
    * (doc_id, n_tri, n_known, score). */
  private def perDocScoredSql: String = {
    val b = s"(${H.md5PrefixSql("CAST(doc_id AS VARCHAR)", 4)} % 10)"
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l, " +
      s"$b AS bucket FROM documents), " +
      "tr_tri AS (SELECT l[i] AS w1, l[i+1] AS w2, l[i+2] AS w3, count(*) AS c3 " +
      "FROM (SELECT l, unnest(range(1, len(l) - 1)) AS i FROM toks WHERE bucket < 8) " +
      "GROUP BY 1, 2, 3), " +
      "tr_bi AS (SELECT l[i] AS w1, l[i+1] AS w2, count(*) AS c2 " +
      "FROM (SELECT l, unnest(range(1, len(l))) AS i FROM toks WHERE bucket < 8) " +
      "GROUP BY 1, 2), " +
      "voc AS (SELECT count(DISTINCT w) AS v FROM " +
      "(SELECT unnest(l) AS w FROM toks WHERE bucket < 8)), " +
      "ho AS (SELECT doc_id, i AS pos, l[i] AS w1, l[i+1] AS w2, l[i+2] AS w3 " +
      "FROM (SELECT doc_id, l, unnest(range(1, len(l) - 1)) AS i FROM toks " +
      "WHERE bucket >= 8)), " +
      "scored AS (SELECT ho.doc_id, ho.pos, " +
      "CAST(COALESCE(t.c3, 0) + 1 AS DOUBLE) / CAST(COALESCE(b.c2, 0) + voc.v AS DOUBLE) AS p, " +
      "CASE WHEN t.c3 IS NOT NULL THEN 1 ELSE 0 END AS known " +
      "FROM ho LEFT JOIN tr_tri t ON t.w1 = ho.w1 AND t.w2 = ho.w2 AND t.w3 = ho.w3 " +
      "LEFT JOIN tr_bi b ON b.w1 = ho.w1 AND b.w2 = ho.w2 CROSS JOIN voc), " +
      "perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri, " +
      "CAST(sum(known) AS BIGINT) AS n_known, " +
      "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_apply(list_sort(list(struct_pack(pos := pos, p := p))), x -> x.p)), " +
      "(a, b) -> a + b) AS score " +
      "FROM scored GROUP BY doc_id)"
  }

  /** Spark twin of `perDocScoredSql`: per-holdout-doc
    * (doc_id, n_tri, n_known, score). */
  private def perDocScored(s: SparkSession, dir: String): DataFrame = {
    val toks = tbl(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("l"),
        (H.md5Prefix(col("doc_id").cast("string"), 4) % 10).as("bucket"))
    val train = toks.filter(col("bucket") < 8)
    val triOf = (df: DataFrame) => df.select(
      col("doc_id"),
      posexplode(expr("CASE WHEN size(l) >= 3 THEN " +
        "transform(sequence(0, size(l) - 3), i -> struct(l[i] AS w1, l[i+1] AS w2, l[i+2] AS w3)) " +
        "ELSE array() END")).as(Seq("pos", "t")))
      .select(col("doc_id"), col("pos"), col("t.w1"), col("t.w2"), col("t.w3"))
    val c3 = triOf(train).groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
    val c2 = train.select(explode(expr("CASE WHEN size(l) >= 2 THEN " +
        "transform(sequence(0, size(l) - 2), i -> struct(l[i] AS w1, l[i+1] AS w2)) " +
        "ELSE array() END")).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val voc = train.select(explode(col("l")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val ho = triOf(toks.filter(col("bucket") >= 8))
    ho.join(c3, Seq("w1", "w2", "w3"), "left")
      .join(c2, Seq("w1", "w2"), "left")
      .crossJoin(broadcast(voc))
      .select(col("doc_id"), col("pos"),
        ((coalesce(col("c3"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c2"), lit(0L)) + col("v")).cast("double")).as("p"),
        when(col("c3").isNotNull, 1L).otherwise(0L).as("known"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"),
        sum(col("known")).cast("long").as("n_known"),
        expr("aggregate(transform(array_sort(collect_list(struct(pos, p))), " +
          "x -> x.p), CAST(0 AS DOUBLE), (a, x) -> a + x)").as("score"))
  }

  def all: Seq[Q] = Seq(

    // Trigram-LM familiarity score: counts (c3, c2, vocab V) are trained on
    // the hash-split train docs; each holdout doc scores
    // Σ_i (c3_i + 1) / (c2_i + V) over its trigrams (add-one smoothing) —
    // the perplexity-filter shape with the probability mass kept rational
    // (see class doc for why there is no ln). Scale: both count tables are
    // partial-aggregated; the holdout trigram stream joins them on the
    // n-gram key (hash-co-partitioned); per-doc reduction collects only
    // that doc's probability list, sorted by position so the fold is
    // order-frozen.
    Q("lm_trigram_score",
      Some(perDocScoredSql +
        " SELECT doc_id, n_tri, n_known, score FROM perdoc ORDER BY doc_id"),
      (s, dir) => perDocScored(s, dir).orderBy("doc_id")),

    // CCNet-style PERPLEXITY BANDING: holdout docs split into
    // head/middle/tail familiarity tertiles WITHIN each language — the
    // published CCNet selection stage (Wenzek et al. 2020), with the same
    // rational familiarity surrogate as lm_trigram_score (mean trigram
    // probability; higher = more like the train distribution = "head").
    // Tertiles are explicit rank arithmetic (rk*3 ≤ n), not ntile —
    // engine-exact and tie-stable via the (familiarity DESC, doc_id)
    // order. Scale: the rank window hash-partitions by language; CCNet
    // itself bands per language, and production estimates the two cutoffs
    // from a per-lang sample rather than ranking every doc — the judged
    // semantics here are the exact version of that.
    Q("select_perplexity_band",
      Some(perDocScoredSql +
        ", lng AS (SELECT doc_id, lang FROM documents)" +
        ", f AS (SELECT p.doc_id, lng.lang, " +
        "p.score / CAST(p.n_tri AS DOUBLE) AS familiarity " +
        "FROM perdoc p JOIN lng ON lng.doc_id = p.doc_id)" +
        ", r AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang " +
        "ORDER BY familiarity DESC, doc_id) AS BIGINT) AS rk, " +
        "CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS nl FROM f) " +
        "SELECT doc_id, lang, familiarity, " +
        "CASE WHEN rk * 3 <= nl THEN 'head' " +
        "WHEN rk * 3 <= nl * 2 THEN 'middle' ELSE 'tail' END AS band " +
        "FROM r ORDER BY lang, doc_id"),
      (s, dir) => {
        val f = perDocScored(s, dir)
          .join(tbl(s, dir, "documents").select("doc_id", "lang"), "doc_id")
          .select(col("doc_id"), col("lang"),
            (col("score") / col("n_tri").cast("double")).as("familiarity"))
        val wRank = Window.partitionBy("lang")
          .orderBy(col("familiarity").desc, col("doc_id"))
        f.withColumn("rk", row_number().over(wRank).cast("long"))
          .withColumn("nl", count(lit(1)).over(Window.partitionBy("lang")))
          .select(col("doc_id"), col("lang"), col("familiarity"),
            when(col("rk") * 3 <= col("nl"), "head")
              .when(col("rk") * 3 <= col("nl") * 2, "middle")
              .otherwise("tail").as("band"))
          .orderBy("lang", "doc_id")
      }),

    // Temperature-weighted domain mixing (τ = 0.5): sampling weight per
    // source ∝ n^τ — the standard multilingual/domain re-balancing rule
    // that upsamples small sources relative to uniform. Weights are sqrt
    // (correctly-rounded IEEE), the weight NORMALIZER folds a
    // source-sorted list (order-frozen addition), targets are floors of
    // double ratios, and the actual kept rows come from the same
    // hash-ranked deterministic selection the uniform mix uses. Everything
    // downstream of the one tiny per-source aggregate is a broadcast.
    Q("mix_temperature",
      Some("WITH n AS (SELECT source, count(*) AS n_total FROM documents GROUP BY source), " +
        "w AS (SELECT source, n_total, sqrt(CAST(n_total AS DOUBLE)) AS wt FROM n), " +
        "z AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_apply(list_sort(list(struct_pack(s := source, wt := wt))), x -> x.wt)), " +
        "(a, b) -> a + b) AS sumw FROM w), " +
        "tgt AS (SELECT source, n_total, wt, " +
        "CAST(floor(2000 * wt / z.sumw) AS BIGINT) AS n_keep FROM w CROSS JOIN z), " +
        "r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents) " +
        "SELECT t.source, t.n_total, t.n_keep, " +
        "CAST(count(*) AS BIGINT) AS n_kept " +
        "FROM r JOIN tgt t ON t.source = r.source AND r.rk <= t.n_keep " +
        "GROUP BY 1, 2, 3 ORDER BY 1"),
      (s, dir) => {
        val d = tbl(s, dir, "documents")
        val n = d.groupBy("source").agg(count(lit(1)).as("n_total"))
        val w = n.withColumn("wt", sqrt(col("n_total").cast("double")))
        val z = w.agg(expr("aggregate(transform(array_sort(collect_list(" +
          "struct(source AS s, wt))), x -> x.wt), CAST(0 AS DOUBLE), " +
          "(a, b) -> a + b)").as("sumw"))
        val tgt = w.crossJoin(broadcast(z))
          .select(col("source"), col("n_total"),
            floor(lit(2000) * col("wt") / col("sumw")).cast("long").as("n_keep"))
        val r = d.select(col("doc_id"), col("source"))
          .withColumn("rk", row_number().over(Window.partitionBy("source")
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
        r.join(broadcast(tgt), Seq("source"))
          .filter(col("rk") <= col("n_keep"))
          .groupBy("source", "n_total", "n_keep")
          .agg(count(lit(1)).as("n_kept"))
          .orderBy("source")
      })
  )
}
