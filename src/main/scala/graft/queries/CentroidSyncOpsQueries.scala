package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Ninety-fourth wave: centroid geometry, incremental sync, generation
  * diversity, and the native session-window operator — a label-centroid
  * cosine matrix over the embedding corpus (milli-quantized elements,
  * norms cancel so only SUM vectors matter), a chunk-checksum sync diff
  * that answers "which 400-order chunks must a 100 TB mirror re-copy",
  * distinct-1/distinct-2 n-gram diversity per source (the repetition
  * gauge for generated corpora), and Spark's session_window() used as a
  * BATCH operator against the manual lag/cumsum oracle.
  *
  * Exactness: embedding elements quantize to milli BEFORE any sum; dot
  * products ride HUGEINT/DECIMAL; each cosine is one micro-floored
  * chain. Chunk checksums reuse the wave-89 md5 48-bit fold summed in
  * DECIMAL. Diversity ratios are exact integer ppm.
  */
object CentroidSyncOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // Label-centroid cosine matrix: per-label mean embedding direction,
    // compared pairwise — the class-geometry audit (which labels are
    // entangled?) run before training a classifier on 1e9 vectors.
    // Elements quantize to milli ints, per-(label, dim) sums are one
    // keyed aggregation, and the count terms cancel in the cosine so
    // centroids never materialize as floats; the pair frame is |k|²
    // bounded. Dots accumulate in HUGEINT/DECIMAL.
    Q("emb_label_centroid_sim",
      Some(
        """WITH e AS (SELECT label,
          |  CAST(floor(unnest(embedding)::DOUBLE * 1000 + 0.5) AS BIGINT)
          |    AS x,
          |  generate_subscripts(embedding, 1) AS j
          |  FROM embeddings),
          |c AS (SELECT label, j, CAST(sum(x) AS BIGINT) AS s
          |  FROM e GROUP BY 1, 2),
          |d AS (SELECT a.label AS la, b.label AS lb,
          |  sum(CAST(a.s AS HUGEINT) * b.s) AS dot,
          |  sum(CAST(a.s AS HUGEINT) * a.s) AS qa,
          |  sum(CAST(b.s AS HUGEINT) * b.s) AS qb
          |  FROM c a JOIN c b ON b.j = a.j AND a.label <= b.label
          |  GROUP BY 1, 2)
          |SELECT la AS label_a, lb AS label_b,
          |  CAST(floor(CAST(dot AS DOUBLE)
          |    / (sqrt(CAST(qa AS DOUBLE)) * sqrt(CAST(qb AS DOUBLE)))
          |    * 1000000.0) AS BIGINT) AS cos_micro
          |FROM d ORDER BY 1, 2
          |""".stripMargin),
      (s, dir) => {
        val e = tbl(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding")))
          .select(col("label"), col("pos").as("j"),
            floor(col("col").cast("double") * 1000 + lit(0.5))
              .cast("long").as("x"))
        val c = e.groupBy("label", "j")
          .agg(sum(col("x")).cast("long").as("s"))
        val d = c.as("a")
          .join(c.as("b"),
            col("b.j") === col("a.j") && col("a.label") <= col("b.label"))
          .groupBy(col("a.label").as("la"), col("b.label").as("lb"))
          .agg(sum(col("a.s").cast("decimal(38,0)") * col("b.s"))
              .cast("decimal(38,0)").as("dot"),
            sum(col("a.s").cast("decimal(38,0)") * col("a.s"))
              .cast("decimal(38,0)").as("qa"),
            sum(col("b.s").cast("decimal(38,0)") * col("b.s"))
              .cast("decimal(38,0)").as("qb"))
        d.select(col("la").as("label_a"), col("lb").as("label_b"),
            floor(col("dot").cast("double") /
              (sqrt(col("qa").cast("double")) *
                sqrt(col("qb").cast("double"))) * 1000000.0d)
              .cast("long").as("cos_micro"))
          .orderBy("label_a", "label_b")
      }),

    // Chunk-checksum sync diff: two snapshots of the orders table (the
    // mirror = the first 90% of the key space with a sparse set of
    // dropped rows — key % 997 == 0 — scattered through it; the
    // source = all),
    // reduced to per-400-key-chunk (row count, content checksum); a
    // chunk re-syncs iff its pair differs. The output is the sync
    // planner's bill: chunks/rows added or changed vs untouched — the
    // rsync-style primitive that turns a 100 TB copy into a delta copy.
    // Checksums are order-invariant DECIMAL/HUGEINT sums of md5 folds.
    Q("pipeline_chunk_sync_diff",
      Some {
        val row = "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, " +
          "CAST(floor(o_totalprice*100 + 0.5) AS BIGINT), " +
          "strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority)"
        s"""WITH a AS (SELECT o_orderkey // 400 AS chunk,
           |  CAST(count(*) AS BIGINT) AS n,
           |  sum(CAST(${H.md5PrefixSql(row, 12)} AS HUGEINT)) AS cs
           |  FROM orders WHERE o_orderkey <= (SELECT max(o_orderkey) * 9
           |    // 10 FROM orders) AND o_orderkey % 997 <> 0
           |  GROUP BY 1),
           |b AS (SELECT o_orderkey // 400 AS chunk,
           |  CAST(count(*) AS BIGINT) AS n,
           |  sum(CAST(${H.md5PrefixSql(row, 12)} AS HUGEINT)) AS cs
           |  FROM orders GROUP BY 1),
           |d AS (SELECT b.chunk, b.n AS nb,
           |  CASE WHEN a.chunk IS NULL THEN 'added'
           |       WHEN a.n <> b.n OR a.cs <> b.cs THEN 'changed'
           |       ELSE 'unchanged' END AS cls
           |  FROM b LEFT JOIN a ON a.chunk = b.chunk)
           |SELECT cls, CAST(count(*) AS BIGINT) AS n_chunks,
           |  CAST(sum(nb) AS BIGINT) AS n_rows
           |FROM d GROUP BY 1 ORDER BY 1
           |""".stripMargin
      },
      (s, dir) => {
        def snap(df: org.apache.spark.sql.DataFrame) = df
          .select(expr("o_orderkey div 400").as("chunk"),
            H.md5Prefix(concat_ws("|", col("o_orderkey"),
              col("o_custkey"), col("o_orderstatus"),
              floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"),
              date_format(col("o_orderdate"), "yyyy-MM-dd"),
              col("o_orderpriority")), 12).as("w"))
          .groupBy("chunk")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("w").cast("decimal(38,0)")).cast("decimal(38,0)")
              .as("cs"))
        val o = tbl(s, dir, "orders")
        val cut = o.agg(expr("max(o_orderkey) * 9 div 10").as("cut"))
        val a = snap(o.crossJoin(broadcast(cut))
            .filter(col("o_orderkey") <= col("cut") &&
              col("o_orderkey") % 997 =!= 0))
          .select(col("chunk"), col("n").as("na"), col("cs").as("csa"))
        val b = snap(o)
        b.join(a, Seq("chunk"), "left")
          .select(col("n").as("nb"),
            when(col("na").isNull, "added")
              .when(col("na") =!= col("n") || col("csa") =!= col("cs"),
                "changed")
              .otherwise("unchanged").as("cls"))
          .groupBy("cls")
          .agg(count(lit(1)).cast("long").as("n_chunks"),
            sum(col("nb")).cast("long").as("n_rows"))
          .orderBy("cls")
      }),

    // Distinct-1 / distinct-2 n-gram diversity per source — the
    // standard repetition gauge for generated text (low distinct-2 =
    // the corpus loops). Unigrams from one explode; bigrams from a
    // per-document lead() window (partitioned by doc — parallel);
    // ratios in exact ppm. Distinct counts are the only wide ops.
    Q("text_distinct_ngrams",
      Some(
        """WITH t AS (SELECT doc_id, source,
          |  unnest(string_split(text, ' ')) AS tok,
          |  generate_subscripts(string_split(text, ' '), 1) AS i
          |  FROM documents),
          |t2 AS (SELECT doc_id, source, tok, i,
          |  lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
          |  FROM t WHERE tok <> ''),
          |u AS (SELECT source, CAST(count(*) AS BIGINT) AS n_uni,
          |  CAST(count(DISTINCT tok) AS BIGINT) AS d_uni FROM t2
          |  GROUP BY 1),
          |b AS (SELECT source, CAST(count(*) AS BIGINT) AS n_bi,
          |  CAST(count(DISTINCT tok || ' ' || nxt) AS BIGINT) AS d_bi
          |  FROM t2 WHERE nxt IS NOT NULL AND nxt <> '' GROUP BY 1)
          |SELECT u.source, u.n_uni, u.d_uni, b.n_bi, b.d_bi,
          |  CAST(u.d_uni * 1000000 // u.n_uni AS BIGINT)
          |    AS distinct1_ppm,
          |  CAST(b.d_bi * 1000000 // b.n_bi AS BIGINT) AS distinct2_ppm
          |FROM u JOIN b ON b.source = u.source ORDER BY 1
          |""".stripMargin),
      (s, dir) => {
        val t2 = tbl(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            posexplode(split(col("text"), " ", -1)))
          .withColumnRenamed("col", "tok").withColumnRenamed("pos", "i")
          .filter(col("tok") =!= "")
          .withColumn("nxt", lead("tok", 1).over(
            Window.partitionBy("doc_id").orderBy("i")))
        val u = t2.groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_uni"),
            countDistinct(col("tok")).cast("long").as("d_uni"))
        val b = t2.filter(col("nxt").isNotNull && col("nxt") =!= "")
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_bi"),
            countDistinct(concat(col("tok"), lit(" "), col("nxt")))
              .cast("long").as("d_bi"))
        u.join(b, Seq("source"))
          .select(col("source"), col("n_uni"), col("d_uni"), col("n_bi"),
            col("d_bi"),
            expr("d_uni * 1000000 div n_uni").cast("long")
              .as("distinct1_ppm"),
            expr("d_bi * 1000000 div n_bi").cast("long")
              .as("distinct2_ppm"))
          .orderBy("source")
      }),

    // session_window() as a BATCH operator: Spark's native gap-merge
    // session assignment (30-minute gap) per user, checked against the
    // manual lag/cumsum sessionization — proving the built-in operator
    // implements exactly the textbook semantics before trusting it in
    // the streaming pipelines. Partitioned by user: fully parallel.
    Q("win_session_window",
      Some(
        """WITH g AS (SELECT user_id, ts,
          |  CASE WHEN lag(ts) OVER w IS NULL
          |    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
          |    THEN 1 ELSE 0 END AS brk
          |  FROM events WINDOW w AS (PARTITION BY user_id
          |    ORDER BY ts, event_id)),
          |s AS (SELECT user_id, ts,
          |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
          |    ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM g)
          |SELECT user_id,
          |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
          |  CAST(count(*) AS BIGINT) AS n_events
          |FROM s GROUP BY user_id, sid ORDER BY 1, 2
          |""".stripMargin),
      (s, dir) => {
        H.events(s, dir)
          .groupBy(session_window(col("ts"), "30 minutes"),
            col("user_id"))
          .agg(min(col("ts")).as("start_ts"),
            count(lit(1)).cast("long").as("n_events"))
          .select(col("user_id"),
            date_format(col("start_ts"), "yyyy-MM-dd HH:mm:ss")
              .as("session_start"),
            col("n_events"))
          .orderBy("user_id", "session_start")
      })
  )
}
