package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{H, Q, QueryModule}
import graft.H.tbl
import graft.functions.{DedupSketches => DS, VectorSim => VS}

/** Seventh wave: curation-pipeline QA and materialization operators —
  * train/holdout contamination audit (the near-dup leakage check every
  * training pipeline runs before a release), multi-epoch mixture
  * materialization (fractional per-source epoch factors as data loaders
  * replicate them), and the embedding-table QA report.
  */
object CurationOpsQueries extends QueryModule {

  private def d9(c: Column): Column = c.cast(DecimalType(18, 9))

  /** Deterministic 80/20 split predicate on doc_id (same md5-fold family as
    * sample_split — a pure function of the key, reproducible on any
    * partitioning). */
  private def isTrain(docId: Column): Column =
    H.md5Prefix(docId.cast("string"), 4) % 10 < 8
  private def isTrainSql(e: String): String =
    s"${H.md5PrefixSql(s"CAST($e AS VARCHAR)", 4)} % 10 < 8"

  def all: Seq[Q] = Seq(

    // Train/holdout CONTAMINATION AUDIT: after the deterministic 80/20
    // split, find near-dup pairs that STRADDLE the split — exactly the
    // leakage that inflates eval scores (Lee et al. 2021 §6 measure this
    // on C4). Same MinHash-band machinery as dedup_minhash_lsh, but the
    // candidate join is train-side × holdout-side only, so the audit's
    // cost follows cross-split bucket co-residency, never the corpus
    // squared; exact Jaccard ≥ 0.5 confirms each leak. Split membership
    // is a pure function of doc_id evaluated inline on the band rows —
    // no split-assignment join at all. Scale: identical to the dedup
    // family (band equi-join candidates, AQE-splittable hot buckets,
    // checkpointed cand against the double-reference in the verify).
    Q("split_leakage_audit",
      Some {
        // MATERIALIZED (r7 verdict #1): sh/sig are referenced from multiple
        // downstream CTEs (bands is a 4-way UNION ALL over sig; the verify
        // joins sh twice) — DuckDB inlines non-hinted CTEs, recomputing the
        // whole shingle+md5 pipeline per reference; hinting pins ONE copy
        // and cuts both wall (3x at sf0.1) and transient peak memory.
        s"WITH sh AS MATERIALIZED (${DS.shinglesSql(3)}), " +
          s"sig AS MATERIALIZED (${DS.minhashSignatureSql}), " +
          s"bands AS (${DS.lshBandsSql}), " +
          "cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
          "FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key " +
          s"WHERE (${isTrainSql("a.doc_id")}) AND NOT (${isTrainSql("b.doc_id")})), " +
          "counts AS (SELECT doc_id, n FROM sig), " +
          "inter AS (SELECT doc_a, doc_b, count(*) AS ni FROM cand " +
          "JOIN sh sa ON sa.doc_id = doc_a " +
          "JOIN sh sb ON sb.doc_id = doc_b AND sb.shingle = sa.shingle " +
          "GROUP BY doc_a, doc_b), " +
          "j AS (SELECT c.doc_a, c.doc_b, CAST(coalesce(ni, 0) AS DOUBLE) / " +
          "CAST(ca.n + cb.n - coalesce(ni, 0) AS DOUBLE) AS jaccard " +
          "FROM cand c JOIN counts ca ON ca.doc_id = c.doc_a " +
          "JOIN counts cb ON cb.doc_id = c.doc_b " +
          "LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b) " +
          "SELECT doc_a AS train_doc, doc_b AS holdout_doc, jaccard " +
          "FROM j WHERE jaccard >= 0.5 ORDER BY train_doc, holdout_doc"
      },
      (s, dir) => {
        val sh = DS.shingles(tbl(s, dir, "documents"), 3).cache()
        val sig = DS.minhashSignature(sh).cache()
        val bands = DS.lshBands(sig)
        // split side evaluated inline on the band rows (pure function of
        // doc_id); checkpointed against the verify's double reference —
        // see dedup_minhash_lsh for the localCheckpoint-vs-cache choice
        val cand = bands.filter(isTrain(col("doc_id")))
          .select(col("band"), col("key"), col("doc_id").as("doc_a"))
          .join(bands.filter(!isTrain(col("doc_id")))
            .select(col("band"), col("key"), col("doc_id").as("doc_b")),
            Seq("band", "key"))
          .select("doc_a", "doc_b").distinct()
          .localCheckpoint()
        graft.H.materialized(
          DS.verifiedJaccard(cand, sh, Some(sig.select(col("doc_id"), col("n"))))
            .filter(col("jaccard") >= 0.5)
            .select(col("doc_a").as("train_doc"),
              col("doc_b").as("holdout_doc"), col("jaccard"))
            .orderBy("train_doc", "holdout_doc"),
          caches = Seq(sh, sig), checkpoints = Seq(cand))
      }),

    // Multi-epoch mixture MATERIALIZATION: per-source fractional epoch
    // factors (2.5 epochs of the head sources, 1.0 mid, 0.4 tail — the
    // "repeat the good data, subsample the tail" schedule) realized as
    // actual replicated rows with epoch indices, the way a data loader
    // consumes them. Integer permille factors: every doc keeps copies
    // 0..⌊f⌋-1 unconditionally; the fractional copy ⌊f⌋ survives iff a
    // per-(doc,copy) hash clears the remainder — deterministic, no RNG
    // state, resharding-safe. Scale: the epoch fan-out is a generated
    // sequence explode (map-side, no shuffle); the only wide op is the
    // final sort for output — production writes unsorted shards.
    Q("mix_epoch_upsample",
      Some(
        s"""WITH cfg AS (
           |  SELECT doc_id, source,
           |         CASE WHEN CAST(substr(source, 4) AS BIGINT) < 4 THEN 2500
           |              WHEN CAST(substr(source, 4) AS BIGINT) < 10 THEN 1000
           |              ELSE 400 END AS permille
           |  FROM documents
           |), fan AS (
           |  SELECT doc_id, source, permille, CAST(c AS BIGINT) AS epoch
           |  FROM cfg JOIN generate_series(0, 2) t(c) ON c <= permille // 1000
           |)
           |SELECT doc_id, source, epoch
           |FROM fan
           |WHERE epoch < permille // 1000
           |   OR (epoch = permille // 1000
           |       AND ${H.md5PrefixSql("CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR)", 4)} % 1000 < permille % 1000)
           |ORDER BY doc_id, epoch""".stripMargin),
      (s, dir) => {
        val cfg = tbl(s, dir, "documents").select(col("doc_id"), col("source"),
          when(substring(col("source"), 4, 10).cast("long") < 4, 2500L)
            .when(substring(col("source"), 4, 10).cast("long") < 10, 1000L)
            .otherwise(400L).as("permille"))
        val floorEpochs = expr("permille div 1000")
        val fan = cfg.select(col("doc_id"), col("source"), col("permille"),
          explode(sequence(lit(0L), floorEpochs)).as("epoch"))
        val fullCopies = col("epoch") < floorEpochs
        val fracKeep = col("epoch") === floorEpochs &&
          H.md5Prefix(concat(col("doc_id").cast("string"), lit("#"),
            col("epoch").cast("string")), 4) % 1000 < col("permille") % 1000
        fan.filter(fullCopies || fracKeep)
          .select("doc_id", "source", "epoch")
          .orderBy("doc_id", "epoch")
      }),

    // Embedding-table QA report: per label — vector count, zero-norm
    // count (broken encoder outputs), min/max norm (selection of actual
    // IEEE values, no arithmetic), mean norm (per-row sqrt is correctly
    // rounded; the cross-row sum goes through DECIMAL(18,9) so partial-agg
    // order cannot perturb it). One scan, one partial-agg groupBy — the
    // embedding QA pass is a single pipeline stage at any table size.
    Q("emb_quality_report",
      Some(
        s"""WITH e0 AS (
           |  SELECT label, embedding::DOUBLE[] AS v FROM embeddings
           |), e AS (
           |  SELECT label, sqrt(${VS.norm2Sql("v")}) AS nrm FROM e0
           |)
           |SELECT label,
           |       CAST(count(*) AS BIGINT) AS vecs,
           |       CAST(count(CASE WHEN nrm = 0 THEN 1 END) AS BIGINT) AS zero_norm,
           |       min(nrm) AS min_norm,
           |       max(nrm) AS max_norm,
           |       CAST(sum(CAST(nrm AS DECIMAL(18,9))) AS DOUBLE)
           |         / CAST(count(*) AS DOUBLE) AS mean_norm
           |FROM e GROUP BY label ORDER BY label""".stripMargin),
      (s, dir) => {
        val e = tbl(s, dir, "embeddings")
          .select(col("label"), col("embedding").cast("array<double>").as("v"))
          .select(col("label"), sqrt(VS.norm2("v")).as("nrm"))
        e.groupBy("label")
          .agg(count(lit(1)).as("vecs"),
            count(when(col("nrm") === 0, 1)).as("zero_norm"),
            min(col("nrm")).as("min_norm"),
            max(col("nrm")).as("max_norm"),
            (sum(d9(col("nrm"))).cast("double") /
              count(lit(1)).cast("double")).as("mean_norm"))
          .orderBy("label")
      }))
}
