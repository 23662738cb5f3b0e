package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl
import graft.functions.{VectorSim => VS}

/** Thirty-second wave: GIF/LZW decode (the dictionary-coding member of
  * the codec family), content-defined chunking dedup (the storage-layer
  * sub-document dedup technique), and ANN recall evaluation (the quality
  * gate every approximate index ships behind).
  */
object ChunkOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // The GIF leg of multimodal_transform: a REAL LZW-compressed GIF89a
    // per doc (variable-width codes, width bumps, sub-blocks, palette),
    // decoded back to pixels from container bytes alone. Dimensions to
    // 44×44 so the dictionary genuinely grows through width bumps. The
    // oracle predicts pixel (x, y) = (id·7 + x·3 + y·11) % 256 closed-form
    // — any LZW desync, bit-order, palette or sub-block bug breaks the
    // hash on every row.
    Q("multimodal_gif",
      Some("WITH dims AS (SELECT doc_id, 5 + doc_id % 40 AS w, " +
        "5 + (doc_id * 5 + octet_length(encode(text))) % 40 AS h " +
        "FROM documents), " +
        "px AS (SELECT doc_id, list_transform(range(0, w * h), " +
        "i -> (doc_id * 7 + (i % w) * 3 + (i // w) * 11) % 256) " +
        "AS vs FROM dims) " +
        "SELECT doc_id, CAST(len(vs) AS BIGINT) AS n_px, " +
        "md5(array_to_string(vs, ',')) AS px_md5, " +
        "CAST(list_sum(vs) AS BIGINT) AS px_sum, " +
        "CAST(list_min(vs) AS BIGINT) AS px_min, " +
        "CAST(list_max(vs) AS BIGINT) AS px_max FROM px ORDER BY doc_id"),
      (s, dir) =>
        graft.functions.GifCodec.transformGif(s, tbl(s, dir, "documents"))
          .toDF().orderBy("doc_id")),

    // Content-defined chunking (Rabin-style, here an md5-of-window
    // boundary test): split every document at positions where the 8-char
    // window hash ≡ 0 (mod 32), hash the chunks, and surface chunks
    // shared across documents — sub-document dedup the way storage
    // engines (and long-document corpus dedup) do it: boundaries move
    // WITH the content, so an insertion early in a doc does not re-chunk
    // the rest (the property fixed-window schemes lack). Boundary hashing
    // rides the codegen'd md5 on exploded positions; only the ~1/32
    // boundary survivors reach the per-doc reduce.
    Q("dedup_cdc_chunks",
      Some("WITH pos AS (SELECT doc_id, text, " +
        "unnest(range(1, CAST(length(text) AS BIGINT) - 6)) AS i " +
        "FROM documents WHERE length(text) >= 8), " +
        "bnd AS (SELECT doc_id, i FROM pos " +
        "WHERE " + H.hexSql("substr(md5(substr(text, CAST(i AS INTEGER), 8)), 31, 2)") +
        " % 32 = 0), " +
        "bl AS (SELECT doc_id, list_sort(list(i)) AS bs FROM bnd GROUP BY doc_id), " +
        "wb AS (SELECT d.doc_id, d.text, " +
        "CASE WHEN b.bs IS NULL THEN [CAST(1 AS BIGINT)] " +
        "ELSE list_sort(list_distinct(list_prepend(CAST(1 AS BIGINT), b.bs))) END AS bs " +
        "FROM documents d LEFT JOIN bl b ON b.doc_id = d.doc_id " +
        "WHERE length(d.text) >= 1), " +
        "ch AS (SELECT doc_id, substr(text, CAST(bs[j + 1] AS INTEGER), " +
        "CAST((CASE WHEN j + 2 <= len(bs) THEN bs[j + 2] " +
        "ELSE CAST(length(text) AS BIGINT) + 1 END) - bs[j + 1] AS INTEGER)) AS chunk " +
        "FROM (SELECT doc_id, text, bs, unnest(range(0, len(bs))) AS j FROM wb) t), " +
        "shared AS (SELECT md5(chunk) AS chunk_md5, " +
        "CAST(length(min(chunk)) AS BIGINT) AS chunk_len, " +
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
        "CAST(count(*) AS BIGINT) AS n_occ, min(doc_id) AS sample_doc " +
        "FROM ch WHERE length(chunk) >= 12 GROUP BY md5(chunk) " +
        "HAVING count(DISTINCT doc_id) >= 2) " +
        "SELECT CAST(row_number() OVER (ORDER BY n_docs DESC, chunk_md5) AS BIGINT) AS rnk, " +
        "chunk_md5, chunk_len, n_docs, n_occ, sample_doc " +
        "FROM shared QUALIFY rnk <= 30 ORDER BY rnk"),
      (s, dir) => {
        // spread: the per-char rolling-hash boundary scan (~250 md5/doc)
        // ran in the single scan task (2.2 s, 1 task — r11 profile); the
        // digest tail is also PROJECTED once instead of re-hashing the
        // 8-gram per filter conjunct
        val docs = graft.H.spread(tbl(s, dir, "documents"), col("doc_id"))
        val bnd = docs.filter(length(col("text")) >= 8)
          .select(col("doc_id"),
            explode(expr("sequence(1, length(text) - 7)")).as("i"),
            col("text"))
          .select(col("doc_id"), col("i"),
            expr("substring(md5(substring(text, CAST(i AS INT), 8)), 31, 2)").as("d2"))
          .filter(conv(col("d2"), 16, 10).cast("int") % 32 === 0)
          .select(col("doc_id"), col("i").cast("long").as("i"))
        val bl = bnd.groupBy("doc_id")
          .agg(array_sort(collect_list("i")).as("bs0"))
        val wb = docs.filter(length(col("text")) >= 1)
          .join(bl, Seq("doc_id"), "left")
          .select(col("doc_id"), col("text"),
            when(col("bs0").isNull, array(lit(1L)))
              .otherwise(array_sort(array_distinct(
                concat(array(lit(1L)), col("bs0"))))).as("bs"))
        val ch = wb
          .select(col("doc_id"), col("text"), col("bs"),
            explode(expr("sequence(0, size(bs) - 1)")).as("j"))
          .select(col("doc_id"),
            expr("substring(text, CAST(element_at(bs, j + 1) AS INT), " +
              "CAST((CASE WHEN j + 2 <= size(bs) THEN element_at(bs, j + 2) " +
              "ELSE CAST(length(text) AS BIGINT) + 1 END) - element_at(bs, j + 1) AS INT))")
              .as("chunk"))
        val shared = ch.filter(length(col("chunk")) >= 12)
          .groupBy(md5(col("chunk")).as("chunk_md5"))
          .agg(length(min("chunk")).cast("long").as("chunk_len"),
            countDistinct("doc_id").cast("long").as("n_docs"),
            count(lit(1)).cast("long").as("n_occ"),
            min("doc_id").as("sample_doc"))
          .filter(col("n_docs") >= 2)
        val top = shared.orderBy(col("n_docs").desc, col("chunk_md5")).limit(30)
        top.withColumn("rnk", row_number().over(
            Window.orderBy(col("n_docs").desc, col("chunk_md5"))).cast("long"))
          .select("rnk", "chunk_md5", "chunk_len", "n_docs", "n_occ",
            "sample_doc")
          .orderBy("rnk")
      }),

    // ANN recall@10: the evaluation every approximate index runs before
    // serving — LSH-bucket candidates vs the exact brute-force top-10,
    // per probe, with the hit count exact-integer. The exact side is a
    // broadcast probe sweep (20 probes × corpus, never corpus²); the ANN
    // side reuses the production bucket join. recall_micro = hits·1e5/10.
    Q("sim_ann_recall_eval",
      Some("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        s"n AS MATERIALIZED (SELECT vec_id, v, (${VS.norm2Sql("v")}) AS nrm, " +
        s"${VS.lshBucketSql("v")} AS bucket FROM e), " +
        "q AS MATERIALIZED (SELECT vec_id AS qid, v AS qv, nrm AS qn, bucket AS qb FROM n WHERE vec_id < 20), " +
        "ex AS (SELECT qid, vid FROM (SELECT q.qid, c.vec_id AS vid, " +
        s"row_number() OVER (PARTITION BY q.qid ORDER BY (${VS.dotSql("q.qv", "c.v")}) / (sqrt(q.qn) * sqrt(c.nrm)) DESC, c.vec_id) AS rnk " +
        "FROM q CROSS JOIN n c WHERE c.vec_id <> q.qid) WHERE rnk <= 10), " +
        "ann AS (SELECT qid, vid FROM (SELECT q.qid, c.vec_id AS vid, " +
        s"row_number() OVER (PARTITION BY q.qid ORDER BY (${VS.dotSql("q.qv", "c.v")}) / (sqrt(q.qn) * sqrt(c.nrm)) DESC, c.vec_id) AS rnk " +
        "FROM q JOIN n c ON c.bucket = q.qb AND c.vec_id <> q.qid) WHERE rnk <= 10), " +
        "hits AS (SELECT e.qid, CAST(count(a.vid) AS BIGINT) AS n_hit " +
        "FROM ex e LEFT JOIN ann a ON a.qid = e.qid AND a.vid = e.vid " +
        "GROUP BY e.qid) " +
        "SELECT qid, n_hit, (n_hit * 100000) // 10 AS recall_micro " +
        "FROM hits ORDER BY qid"),
      (s, dir) => {
        val e = tbl(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val n = e.withColumn("bucket",
          VS.lshBucketN("v", VS.planesFor(e.count()))).localCheckpoint()
        val q = n.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("v").as("qv"),
            col("bucket").as("qb"))
        val cand = n.select(col("vec_id").as("vid"), col("v").as("cv"),
          col("bucket").as("cb"))
        def topk(joined: org.apache.spark.sql.DataFrame) = {
          val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vid"))
          joined
            .withColumn("sim", graft.functions.CustomExpressions
              .cosine_sim(col("qv"), col("cv")))
            .withColumn("rnk", row_number().over(w))
            .filter(col("rnk") <= 10).select("qid", "vid")
        }
        // exact side: 20 bounded probes — broadcast them, sweep the corpus
        val ex = topk(cand.join(broadcast(q), col("vid") =!= col("qid")))
        val ann = topk(cand.join(broadcast(q),
          col("cb") === col("qb") && col("vid") =!= col("qid")))
        // rename BOTH columns on the ann side: ex and ann share lineage, so
        // ex("qid") === ann("qid") would resolve to a degenerate self-equality
        val annR = ann.withColumnRenamed("vid", "avid")
          .withColumnRenamed("qid", "aqid")
        H.materialized(
          ex.join(annR,
              col("qid") === col("aqid") && col("vid") === col("avid"), "left")
            .groupBy("qid")
            .agg(count(col("avid")).cast("long").as("n_hit"))
            .select(col("qid"), col("n_hit"),
              expr("(n_hit * 100000) div 10").as("recall_micro"))
            .orderBy("qid"),
          caches = Nil, checkpoints = Seq(n))
      }))
}
