package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Round-8 wave 125: reproducible epoch shuffling (the data-loader order
  * contract) and gazetteer phrase spotting (dictionary tagging — the
  * broadcast multi-word-match primitive of corpus annotation).
  */
object LoaderGazetteerOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // REPRODUCIBLE EPOCH SHUFFLE: each training epoch must visit the
    // corpus in a DIFFERENT but REPRODUCIBLE pseudo-random order, sharded
    // for parallel loaders — order is a pure function of (doc_id, epoch),
    // so any worker, resharding, or restart regenerates the identical
    // permutation with no shuffle-seed state to persist. Shard = hash
    // mod 4, within-shard order = (hash, doc_id); the audit emits per
    // (epoch, shard) counts and an order FINGERPRINT (Σ rank·(hash mod
    // 997), exact BIGINT) that any reimplementation must reproduce — the
    // contract a loader can assert at startup. At 100 TB production
    // materializes each epoch as sorted shards (repartition by shard +
    // sortWithinPartitions by the same key) — the same keys this audit
    // ranks; the window here runs per (epoch, shard), i.e. the shard IS
    // the partition.
    Q("pipeline_epoch_shuffle",
      Some {
        s"WITH e AS (SELECT doc_id, epoch, CAST(${H.md5PrefixSql("CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)", 8)} AS BIGINT) AS h " +
          "FROM documents, (SELECT unnest([0, 1, 2]) AS epoch)), " +
          "r AS (SELECT epoch, doc_id, h, h % 4 AS shard, " +
          "CAST(row_number() OVER (PARTITION BY epoch, h % 4 ORDER BY h, doc_id) AS BIGINT) AS rnk FROM e) " +
          "SELECT CAST(epoch AS BIGINT) AS epoch, CAST(shard AS BIGINT) AS shard, " +
          "CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(sum(rnk * (h % 997)) AS BIGINT) AS order_fingerprint " +
          "FROM r GROUP BY epoch, shard ORDER BY epoch, shard"
      },
      (s, dir) => {
        val e = tbl(s, dir, "documents")
          .select(col("doc_id"),
            explode(array(lit(0L), lit(1L), lit(2L))).as("epoch"))
          .withColumn("h",
            H.md5Prefix(concat(col("doc_id").cast("string"),
              lit(":"), col("epoch").cast("string")), 8))
          .withColumn("shard", pmod(col("h"), lit(4)))
        val r = e.withColumn("rnk",
          row_number().over(Window.partitionBy("epoch", "shard")
            .orderBy(col("h"), col("doc_id"))).cast("long"))
        r.groupBy("epoch", "shard")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(col("rnk") * pmod(col("h"), lit(997))).cast("long")
              .as("order_fingerprint"))
          .orderBy("epoch", "shard")
      }),

    // GAZETTEER PHRASE SPOTTING: a broadcast dictionary of uni- and
    // bi-gram phrases is matched against every document (dictionary
    // tagging — the annotation primitive behind entity spotting, topic
    // flags, and blocklist hits). Candidate n-grams are generated
    // map-side per document (positions ride along so overlapping phrases
    // count independently), the dictionary joins BROADCAST, and the
    // report is per-phrase document frequency + total mentions. At
    // 100 TB the dictionary is the small side by definition; the corpus
    // is touched once, no shuffle before the per-phrase aggregate.
    Q("text_gazetteer_spotting",
      Some(
        """WITH toks AS (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i
          |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
          |grams AS (
          |  SELECT doc_id, l[i] AS phrase FROM toks
          |  UNION ALL
          |  SELECT doc_id, l[i] || ' ' || l[i + 1] AS phrase FROM toks
          |  WHERE i < len(l)),
          |dict AS (SELECT unnest(['spark', 'vector',
          |  'hash value', 'sort table', 'query line']) AS phrase)
          |SELECT d.phrase, CAST(count(DISTINCT g.doc_id) AS BIGINT) AS n_docs,
          |  CAST(count(*) AS BIGINT) AS n_mentions
          |FROM grams g JOIN dict d ON d.phrase = g.phrase
          |GROUP BY d.phrase ORDER BY d.phrase
          |""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val toks = tbl(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("l"))
        val grams = toks
          .select(col("doc_id"), explode(col("l")).as("phrase"))
          .unionAll(toks.select(col("doc_id"), explode(expr(
            "CASE WHEN size(l) >= 2 THEN transform(sequence(0, size(l) - 2), " +
              "i -> concat(l[i], ' ', l[i + 1])) ELSE array() END")).as("phrase")))
        val dict = Seq("spark", "vector", "hash value", "sort table",
          "query line").toDF("phrase")
        grams.join(broadcast(dict), Seq("phrase"))
          .groupBy("phrase")
          .agg(countDistinct(col("doc_id")).cast("long").as("n_docs"),
            count(lit(1)).cast("long").as("n_mentions"))
          .orderBy("phrase")
      }))
}
