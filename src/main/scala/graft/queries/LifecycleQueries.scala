package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Eleventh wave: curation lifecycle — robust (winsorized) aggregation,
  * fill-in-middle span transforms, quality-based survivor selection over
  * near-dup groups, and partition retention planning.
  */
object LifecycleQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // WINSORIZED MEAN per group: clamp at the exact discrete p05/p95 and
    // average — the robust statistic a data-quality monitor reports when
    // raw means are outlier-dominated. The percentile extraction runs the
    // cumulative window over the per-group VALUE DISTRIBUTION (distinct
    // price, counts), not the row stream: the window's input is bounded
    // by the value domain, not the table, so a 100x row scale-up only
    // deepens the counts. (At true 100 TB the distribution itself would
    // be range-partitioned for the cumsum — the classic two-phase
    // histogram split — but the plan shape is already domain-bounded.)
    // Bounds join back broadcast; the clamped mean goes through DECIMAL.
    Q("agg_winsorized",
      Some(
        """WITH dist AS (
          |  SELECT o_orderpriority AS pri,
          |         CAST(o_totalprice AS DECIMAL(12,2)) AS v, count(*) AS c
          |  FROM orders GROUP BY 1, 2),
          |cum AS (
          |  SELECT pri, v, c,
          |         sum(c) OVER (PARTITION BY pri ORDER BY v) AS cum,
          |         sum(c) OVER (PARTITION BY pri) AS n
          |  FROM dist),
          |bounds AS (
          |  SELECT pri, max(n) AS n,
          |         min(CASE WHEN cum >= CAST(floor(n * 0.05) AS BIGINT) + 1
          |                  THEN v END) AS lo,
          |         min(CASE WHEN cum >= n - CAST(floor(n * 0.05) AS BIGINT)
          |                  THEN v END) AS hi
          |  FROM cum GROUP BY pri)
          |SELECT o_orderpriority AS pri, CAST(b.n AS BIGINT) AS n,
          |       CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi,
          |       CAST(sum(CASE WHEN CAST(o_totalprice AS DECIMAL(12,2)) < lo THEN lo
          |                WHEN CAST(o_totalprice AS DECIMAL(12,2)) > hi THEN hi
          |                ELSE CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE)
          |         / CAST(b.n AS BIGINT) AS win_mean,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
          |         / CAST(b.n AS BIGINT) AS raw_mean
          |FROM orders JOIN bounds b ON b.pri = o_orderpriority
          |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val o = tbl(s, dir, "orders")
        val dist = o.groupBy(col("o_orderpriority").as("pri"),
            H.dec2(col("o_totalprice")).as("v"))
          .agg(count(lit(1)).as("c"))
        val cum = dist
          .withColumn("cum", sum("c").over(
            Window.partitionBy("pri").orderBy("v")))
          .withColumn("n", sum("c").over(Window.partitionBy("pri")))
        val bounds = cum.groupBy("pri").agg(max("n").as("n"),
          min(when(col("cum") >=
            floor(col("n") * 0.05).cast("long") + 1, col("v"))).as("lo"),
          min(when(col("cum") >=
            col("n") - floor(col("n") * 0.05).cast("long"), col("v"))).as("hi"))
        o.join(broadcast(bounds), col("pri") === col("o_orderpriority"))
          .groupBy(col("o_orderpriority").as("pri2"), col("n"),
            col("lo").cast("double").as("lo"), col("hi").cast("double").as("hi"))
          .agg(
            (sum(when(H.dec2(col("o_totalprice")) < col("lo"), col("lo"))
              .when(H.dec2(col("o_totalprice")) > col("hi"), col("hi"))
              .otherwise(H.dec2(col("o_totalprice")))).cast("double")
              / col("n").cast("long")).as("win_mean"),
            (sum(H.dec2(col("o_totalprice"))).cast("double")
              / col("n").cast("long")).as("raw_mean"))
          .select(col("pri2").as("pri"), col("n").cast("long").as("n"),
            col("lo"), col("hi"), col("win_mean"), col("raw_mean"))
          .orderBy("pri")
      }),

    // FILL-IN-MIDDLE SPAN TRANSFORM: the PSM (prefix-suffix-middle)
    // rewrite used to teach infilling — two deterministic hash-drawn cut
    // points per document, text reassembled as <PRE>p<SUF>s<MID>m. Pure
    // map-only projection: no shuffle except the presentation sort, and
    // the cut points are replayable by any engine (md5-derived), so
    // re-sharding or retrying never changes the transform.
    Q("text_fim_split",
      Some {
        val u1 = s"(${H.md5PrefixSql("CAST(doc_id AS VARCHAR) || 'a'", 4)} % length(text))"
        val u2 = s"(${H.md5PrefixSql("CAST(doc_id AS VARCHAR) || 'b'", 4)} % length(text))"
        s"""WITH s AS (
           |  SELECT doc_id, text, least($u1, $u2) AS p1, greatest($u1, $u2) AS p2
           |  FROM documents WHERE length(text) > 0)
           |SELECT doc_id, CAST(p1 AS BIGINT) AS n_prefix,
           |       CAST(p2 - p1 AS BIGINT) AS n_middle,
           |       CAST(length(text) - p2 AS BIGINT) AS n_suffix,
           |       '<PRE>' || substr(text, 1, p1) || '<SUF>' ||
           |       substr(text, p2 + 1) || '<MID>' ||
           |       substr(text, p1 + 1, p2 - p1) AS fim_text
           |FROM s ORDER BY doc_id""".stripMargin
      },
      (s, dir) => {
        def u(salt: String) =
          H.md5Prefix(concat(col("doc_id").cast("string"), lit(salt)), 4) %
            length(col("text"))
        tbl(s, dir, "documents")
          .filter(length(col("text")) > 0)
          .select(col("doc_id"), col("text"),
            least(u("a"), u("b")).as("p1"), greatest(u("a"), u("b")).as("p2"))
          .select(col("doc_id"),
            col("p1").cast("long").as("n_prefix"),
            (col("p2") - col("p1")).cast("long").as("n_middle"),
            (length(col("text")) - col("p2")).cast("long").as("n_suffix"),
            concat(lit("<PRE>"), expr("substr(text, 1, p1)"), lit("<SUF>"),
              expr("substr(text, p2 + 1)"), lit("<MID>"),
              expr("substr(text, p1 + 1, p2 - p1)")).as("fim_text"))
          .orderBy("doc_id")
      }),

    // KEEP-BEST SURVIVOR SELECTION: near-dup groups (the dedup_groups
    // connected components) resolved to the HIGHEST-QUALITY member
    // (longest document, doc_id tiebreak) instead of the min-id — the
    // curation decision a real pipeline makes, where the survivor should
    // be the best copy, not an arbitrary one. The ranking window runs on
    // the tiny label frame (near-dup members only), never the corpus.
    Q("dedup_keep_best",
      Some {
        import graft.functions.{DedupSketches => DS}
        s"WITH RECURSIVE sh AS (${DS.shinglesSql(3)}), " +
          s"sig AS (${DS.minhashSignatureSql}), " +
          s"bands AS (${DS.lshBandsSql}), " +
          s"cand AS (${DS.candidatePairsSql}), " +
          "counts AS (SELECT doc_id, n FROM sig), " +
          "inter AS (SELECT doc_a, doc_b, count(*) AS ni FROM cand " +
          "JOIN sh sa ON sa.doc_id = doc_a " +
          "JOIN sh sb ON sb.doc_id = doc_b AND sb.shingle = sa.shingle " +
          "GROUP BY doc_a, doc_b), " +
          "pairs AS (SELECT c.doc_a, c.doc_b FROM cand c " +
          "JOIN counts ca ON ca.doc_id = c.doc_a " +
          "JOIN counts cb ON cb.doc_id = c.doc_b " +
          "LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b " +
          "WHERE CAST(coalesce(ni, 0) AS DOUBLE) / " +
          "CAST(ca.n + cb.n - coalesce(ni, 0) AS DOUBLE) >= 0.5), " +
          "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs " +
          "UNION ALL SELECT doc_b, doc_a FROM pairs), " +
          "reach AS (SELECT src AS node, src AS root FROM edges " +
          "UNION SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node), " +
          "grp AS (SELECT node, min(root) AS label FROM reach GROUP BY node), " +
          "ranked AS (SELECT g.label, g.node, d.n_chars, " +
          "row_number() OVER (PARTITION BY g.label " +
          "ORDER BY d.n_chars DESC, g.node) AS rk " +
          "FROM grp g JOIN documents d ON d.doc_id = g.node) " +
          "SELECT label AS group_id, CAST(count(*) AS BIGINT) AS group_sz, " +
          "max(CASE WHEN rk = 1 THEN node END) AS keep_doc, " +
          "CAST(max(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS keep_chars " +
          "FROM ranked GROUP BY label ORDER BY group_id"
      },
      (s, dir) => {
        import graft.functions.{DedupSketches => DS}
        val sh = DS.shingles(tbl(s, dir, "documents"), 3).cache()
        val sig = DS.minhashSignature(sh).cache()
        val cand = DS.candidatePairs(DS.lshBands(sig)).localCheckpoint()
        val pairs = DS.verifiedJaccard(cand, sh,
            Some(sig.select(col("doc_id"), col("n"))))
          .filter(col("jaccard") >= 0.5).select("doc_a", "doc_b")
        val labels = DS.connectedComponents(pairs)
        val ranked = labels
          .join(tbl(s, dir, "documents").select(col("doc_id"), col("n_chars")),
            col("doc_id") === col("node"))
          .withColumn("rk", row_number().over(Window.partitionBy("label")
            .orderBy(col("n_chars").desc, col("node"))))
        val out = ranked.groupBy(col("label").as("group_id"))
          .agg(count(lit(1)).as("group_sz"),
            max(when(col("rk") === 1, col("node"))).as("keep_doc"),
            max(when(col("rk") === 1, col("n_chars"))).cast("long")
              .as("keep_chars"))
          .orderBy("group_id")
        H.materialized(out, caches = Seq(sh, sig),
          checkpoints = Seq(labels, cand))
      }),

    // PARTITION RETENTION PLANNING: the TTL/GDPR sweep expressed as a
    // partition-level decision report — per month-partition, how many
    // rows are past the retention cutoff and whether the partition can be
    // DROPPED whole (metadata-only, free at any scale), KEPT whole, or
    // needs a REWRITE (the only case that touches data). One scan, one
    // map-side-combined aggregate; at 100 TB the min/max per partition
    // would come from zone maps, making the drop/keep legs scan-free.
    Q("pipeline_retention_policy",
      Some(
        """SELECT strftime(o_orderdate, '%Y-%m') AS month,
          |       CAST(count(*) AS BIGINT) AS n_rows,
          |       CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01'
          |                THEN 1 ELSE 0 END) AS BIGINT) AS n_expired,
          |       CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01'
          |                THEN CAST(o_totalprice AS DECIMAL(12,2))
          |                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
          |         AS expired_value,
          |       CASE WHEN max(o_orderdate) < TIMESTAMP '1995-01-01'
          |              THEN 'drop_partition'
          |            WHEN min(o_orderdate) >= TIMESTAMP '1995-01-01'
          |              THEN 'keep'
          |            ELSE 'rewrite' END AS action
          |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val cutoff = lit("1995-01-01").cast("timestamp")
        tbl(s, dir, "orders")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("o_orderdate") < cutoff, 1L).otherwise(0L))
              .as("n_expired"),
            sum(when(col("o_orderdate") < cutoff, H.dec2(col("o_totalprice")))
              .otherwise(H.dec2(lit(0)))).cast("double").as("expired_value"),
            when(max(col("o_orderdate")) < cutoff, "drop_partition")
              .when(min(col("o_orderdate")) >= cutoff, "keep")
              .otherwise("rewrite").as("action"))
          .orderBy("month")
      }))
}
