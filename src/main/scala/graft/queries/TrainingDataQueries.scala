package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Third wave of training-data-pipeline operators: corpus boilerplate
  * removal, deterministic train/holdout splitting, context-window packing,
  * vocabulary statistics, mergeable HLL sketches, SCD2 history build, int8
  * embedding quantization, plus ORC round-trip and a dynamic-partition-
  * pruning join.
  *
  * All queries follow the determinism rules in `graft.H`: exact decimal
  * sums, formatted timestamps, total-order final sorts, and float math
  * expressed identically on both engines.
  */
object TrainingDataQueries extends QueryModule {

  // ---- shared building blocks (used by the single-op queries AND the
  // corpus-prep capstone — one definition, or the capstone silently
  // desynchronizes from the operators it composes) -----------------------

  /** Spark: ONE-row frame `c: array<string>` of tokens with df >= 50% of
    * docs, from a tokenized frame `t(doc_id, …, toks)`. */
  private def commonVocab(docs: org.apache.spark.sql.DataFrame,
      t: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    t.select(col("doc_id"), explode(array_distinct(col("toks"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(docs.agg(count(lit(1)).as("n")))
      .filter(col("df") * 2 >= col("n"))
      .agg(collect_set(col("tok")).as("c"))

  /** DuckDB twin: CTE bodies `nd, exd, dfreq, common` over a CTE
    * `t(doc_id, …, toks)`. coalesce: list() of zero rows is NULL. */
  private val vocabCtesSql: String =
    "nd AS (SELECT count(*) AS n FROM documents), " +
      "exd AS (SELECT DISTINCT doc_id, tok FROM " +
      "(SELECT doc_id, unnest(toks) AS tok FROM t)), " +
      "dfreq AS (SELECT tok, count(*) AS df FROM exd GROUP BY tok), " +
      "common AS (SELECT coalesce(list(tok), []) AS c FROM dfreq, nd " +
      "WHERE df * 2 >= n)"

  /** Deterministic split bucket 0-9 from an id column (md5 hex prefix). */
  private def bucketCol(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    H.md5Prefix(id.cast("string"), 4) % 10

  /** DuckDB twin over a ready md5-hex expression `h`. */
  private def bucketSql(h: String): String =
    s"${H.hexSql(s"substr($h, 1, 4)")} % 10"

  /** Per-language split rule (80/20 en, 50/50 elsewhere), both engines. */
  private def splitCol(bucket: org.apache.spark.sql.Column,
      lang: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(bucket < when(lang === "en", 8).otherwise(5), "train")
      .otherwise("holdout")

  private val splitCaseSql: String =
    "CASE WHEN bucket < (CASE WHEN lang = 'en' THEN 8 ELSE 5 END) " +
      "THEN 'train' ELSE 'holdout' END"

  def all: Seq[Q] = Seq(

    // Boilerplate removal: tokens present in >= 50% of all documents are
    // corpus boilerplate; strip them from every document, preserving token
    // order. Scale shape: the document-frequency aggregation is one
    // map-side-combined shuffle over distinct (doc, token) pairs; the
    // boilerplate vocabulary is tiny by construction (bounded by tokens
    // that appear in half the corpus), so it collapses to a single
    // broadcast row and the removal itself is a shuffle-free map with an
    // array-lambda filter — no join touches the full corpus.
    Q("text_boilerplate",
      Some(
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
          vocabCtesSql + " " +
          // coalesce: DuckDB's array_to_string is NULL (not '') on []
          "SELECT doc_id, " +
          "coalesce(array_to_string(list_filter(toks, x -> NOT list_contains(c, x)), ' '), '') AS clean_text, " +
          "CAST(len(toks) - len(list_filter(toks, x -> NOT list_contains(c, x))) AS BIGINT) AS n_removed " +
          "FROM t, common ORDER BY doc_id"),
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val t = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
        // distinct-per-doc BEFORE the explode (map-side, no shuffle), same
        // trick as DedupSketches.shingles; one row out; empty set => []
        val common = commonVocab(docs, t)
        t.crossJoin(broadcast(common))
          .withColumn("kept", expr("filter(toks, x -> NOT array_contains(c, x))"))
          .select(col("doc_id"),
            concat_ws(" ", col("kept")).as("clean_text"),
            (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"))
          .orderBy("doc_id")
      }),

    // Deterministic stratified train/holdout split: the bucket is a pure
    // function of doc_id (first 4 hex chars of md5, mod 10), so the split
    // is reproducible on any cluster size with zero shuffle and no RNG
    // state; the per-stratum rate differs by language (80/20 for en,
    // 50/50 elsewhere) — the config-driven shape of curriculum sampling.
    Q("sample_split",
      Some(
        "WITH h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS m " +
          "FROM documents), " +
          s"b AS (SELECT doc_id, lang, ${bucketSql("m")} AS bucket FROM h) " +
          s"SELECT doc_id, lang, bucket, $splitCaseSql AS split " +
          "FROM b ORDER BY doc_id"),
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            bucketCol(col("doc_id")).as("bucket"))
          .withColumn("split", splitCol(col("bucket"), col("lang")))
          .orderBy("doc_id")),

    // Context-window packing: assign each document a (pack_id, begin_pos)
    // in a contiguous 512-token stream per source — the approximate
    // sequence-packing step before tokenized examples ship to training.
    // One shuffle (the per-source sort window); prefix sums never leave
    // the window operator. Skewed sources would salt the partition key —
    // the window is per-source, so packing stays correct per stream.
    Q("pack_contexts",
      Some(
        "WITH d AS (SELECT doc_id, source, " +
          "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
          "c AS (SELECT doc_id, source, n_tokens, " +
          "CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS begin_pos " +
          "FROM d) " +
          "SELECT doc_id, source, n_tokens, begin_pos, " +
          "begin_pos // 512 AS pack_id FROM c ORDER BY source, doc_id"),
      (s, dir) => {
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tbl(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
          .withColumn("begin_pos", sum(col("n_tokens")).over(w) - col("n_tokens"))
          .withColumn("pack_id", expr("begin_pos div 512"))
          .orderBy("source", "doc_id")
      }),

    // Vocabulary statistics: global term and document frequency, top 50 by
    // term frequency. The aggregation is partial-agg'd (map-side combine on
    // token), the top-k is TakeOrderedAndProject (no global sort
    // materializes), and the rank window runs over 50 rows.
    Q("vocab_topk",
      Some(
        "WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
          "FROM documents), " +
          "st AS (SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df " +
          "FROM ex GROUP BY tok), " +
          "top AS (SELECT tok, tf, df FROM st ORDER BY tf DESC, tok LIMIT 50) " +
          "SELECT tok, tf, df, CAST(row_number() OVER (ORDER BY tf DESC, tok) AS BIGINT) AS rnk " +
          "FROM top ORDER BY rnk"),
      (s, dir) => {
        val st = tbl(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok")
          .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
          .orderBy(col("tf").desc, col("tok")).limit(50)
        st.withColumn("rnk",
            row_number().over(Window.orderBy(col("tf").desc, col("tok"))).cast("long"))
          .orderBy("rnk")
      }),

    // ORC round-trip: the columnar sibling of the parquet/CSV/JSON sinks —
    // write a filtered projection as ORC, scan it back, aggregate. Oracle
    // runs on the original parquet (the round-trip must be lossless).
    Q("source_orc_roundtrip",
      Some(
        "SELECT l_returnflag, count(*) AS n, " +
          "CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, " +
          "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price " +
          "FROM lineitem WHERE l_quantity >= 45 " +
          "GROUP BY l_returnflag ORDER BY l_returnflag"),
      (s, dir) => {
        val tmp = H.tmpDir("graft_orc")
        tbl(s, dir, "lineitem")
          .filter(col("l_quantity") >= 45)
          .select("l_returnflag", "l_quantity", "l_extendedprice")
          .write.mode("overwrite").orc(s"$tmp/li")
        s.read.orc(s"$tmp/li")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            H.sumMoney(col("l_quantity")).as("sum_qty"),
            H.sumMoney(col("l_extendedprice")).as("sum_price"))
          .orderBy("l_returnflag")
      }),

    // Dynamic partition pruning: the fact table is stored partitioned by
    // the join key; the dimension filter is on a NON-join attribute, so
    // static constraint propagation can't prune — only DPP's runtime
    // subquery can. At 100 TB this is the difference between scanning one
    // priority partition and scanning the whole fact table. Plan shows
    // PartitionFilters: [dynamicpruning#...] on the fact scan.
    Q("join_dpp",
      Some(
        "SELECT o_orderpriority, count(*) AS n, " +
          "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price " +
          "FROM orders WHERE substr(o_orderpriority, 1, 1) = '1' " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      (s, dir) => {
        val tmp = H.tmpDir("graft_dpp")
        val orders = tbl(s, dir, "orders")
        orders.select("o_orderpriority", "o_totalprice")
          .write.partitionBy("o_orderpriority").mode("overwrite")
          .parquet(s"$tmp/fact")
        // dim carries prio_class as a stored (not derived) column: the
        // filter below is opaque to constraint propagation, forcing DPP
        orders.select(col("o_orderpriority"))
          .distinct()
          .withColumn("prio_class",
            substring(col("o_orderpriority"), 1, 1).cast("int"))
          .write.mode("overwrite").parquet(s"$tmp/dim")
        val fact = s.read.parquet(s"$tmp/fact")
        val dim = s.read.parquet(s"$tmp/dim").filter(col("prio_class") === 1)
        fact.join(dim, "o_orderpriority")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            H.sumMoney(col("o_totalprice")).as("sum_price"))
          .orderBy("o_orderpriority")
      }),

    // Mergeable distinct-count sketches: per-shard HLL sketches built
    // independently (here: orders split by key parity), then UNIONED and
    // estimated — the re-aggregatable shape that lets 1000 executors build
    // partial sketches and a coordinator merge them without a global
    // shuffle of raw keys. Bounded oracle (r02 pattern): emit the exact
    // count plus an in-bounds flag; the oracle asserts the flag.
    Q("agg_hll_union",
      Some("SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_nd, " +
        "1 AS in_bounds FROM orders"),
      (s, dir) => {
        val o = tbl(s, dir, "orders")
        val sketches = o
          .groupBy(pmod(col("o_orderkey"), lit(2)).as("shard"))
          .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
        val est = sketches.agg(
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        val exact = o.agg(countDistinct(col("o_custkey")).as("exact_nd"))
        est.crossJoin(exact)
          .select(col("exact_nd"),
            (abs(col("est") - col("exact_nd")).cast("double") /
              col("exact_nd").cast("double") <= 0.05).cast("int").as("in_bounds"))
      }),

    // Mergeable QUANTILE sketches (KLL), same re-aggregatable shape as the
    // HLL union: per-shard sketches built independently, unioned, then
    // queried at p25/p50/p75. KLL compaction is randomized, so the oracle
    // bounds the REALIZED rank of each estimate (|rank - p| <= 3%, vs the
    // ~1.65% k=200 error bound) instead of comparing values — the one
    // verification shape that works for a randomized sketch.
    Q("agg_kll_union",
      Some("SELECT CAST(count(*) AS BIGINT) AS n_orders, " +
        "1 AS in_b25, 1 AS in_b50, 1 AS in_b75 FROM orders"),
      (s, dir) => {
        import org.apache.spark.sql.GraftColumnBridge
        import graft.functions.{KllSketchAgg, KllMergeQuantiles}
        // cached: the scan feeds both the sketch build and the rank check
        val o = tbl(s, dir, "orders")
          .select("o_orderkey", "o_totalprice").cache()
        val skAgg = GraftColumnBridge.column(
          KllSketchAgg(GraftColumnBridge.expression(col("o_totalprice")))
            .toAggregateExpression())
        val est = o
          .groupBy(pmod(col("o_orderkey"), lit(4)).as("shard"))
          .agg(skAgg.as("sk"))
        val merged = est.agg(GraftColumnBridge.column(
          KllMergeQuantiles(GraftColumnBridge.expression(col("sk")),
            Seq(0.25, 0.5, 0.75)).toAggregateExpression()).as("qs"))
        // 0.05 vs the ~1.65% 99%-confidence KLL bound: compaction uses
        // unseeded randomness, so the margin keeps the per-run flake
        // probability negligible (the one non-bit-stable sketch family)
        def inBounds(i: Int, p: Double, nm: String) =
          (abs(avg((col("o_totalprice") <= col("qs").getItem(i))
            .cast("int")) - p) <= 0.05).cast("int").as(nm)
        graft.H.materialized(
          o.crossJoin(merged)
            .agg(count(lit(1)).as("n_orders"),
              inBounds(0, 0.25, "in_b25"),
              inBounds(1, 0.50, "in_b50"),
              inBounds(2, 0.75, "in_b75")),
          caches = Seq(o))
      }),

    // Theta sketches — the family that supports set INTERSECTION (HLL
    // cannot): one pass over (custkey, period) rows builds a sketch per
    // period; eval estimates |A|, |B|, |A ∩ B|. Theta state is a
    // deterministic function of the input SET (hash sampling, order-
    // independent), exact below the nominal entry count — the oracle
    // asserts exact counts plus in-bounds flags so the query stays green
    // when a larger scale pushes the sketch into estimation mode.
    Q("agg_theta_intersect",
      Some("WITH a AS (SELECT DISTINCT o_custkey FROM orders " +
        "WHERE year(o_orderdate) = 1995), " +
        "b AS (SELECT DISTINCT o_custkey FROM orders " +
        "WHERE year(o_orderdate) = 1996) " +
        "SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS exact_a, " +
        "CAST((SELECT count(*) FROM b) AS BIGINT) AS exact_b, " +
        "CAST((SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) " +
        "AS BIGINT) AS exact_inter, 1 AS in_a, 1 AS in_b, 1 AS in_inter"),
      (s, dir) => {
        import org.apache.spark.sql.GraftColumnBridge
        import graft.functions.ThetaIntersectAgg
        // cached: three aggregation branches share this filtered scan
        val o = tbl(s, dir, "orders")
          .filter(year(col("o_orderdate")).isin(1995, 1996))
          .select(col("o_custkey"),
            (year(col("o_orderdate")) - 1995).cast("int").as("side"))
          .cache()
        val est = o.agg(GraftColumnBridge.column(
          ThetaIntersectAgg(
            GraftColumnBridge.expression(col("o_custkey")),
            GraftColumnBridge.expression(col("side")))
            .toAggregateExpression()).as("t"))
        val exactAb = o.agg(
          countDistinct(when(col("side") === 0, col("o_custkey"))).as("exact_a"),
          countDistinct(when(col("side") === 1, col("o_custkey"))).as("exact_b"))
        val exactInter = o.groupBy("o_custkey")
          .agg(min("side").as("lo"), max("side").as("hi"))
          .filter(col("lo") === 0 && col("hi") === 1)
          .agg(count(lit(1)).as("exact_inter"))
        def flag(estC: org.apache.spark.sql.Column,
            exactC: org.apache.spark.sql.Column, nm: String) =
          (abs(estC - exactC.cast("double")) <=
            greatest(exactC.cast("double") * 0.05, lit(2.0))).cast("int").as(nm)
        graft.H.materialized(
          est.crossJoin(exactAb).crossJoin(exactInter)
            .select(col("exact_a"), col("exact_b"), col("exact_inter"),
              flag(col("t.a_est"), col("exact_a"), "in_a"),
              flag(col("t.b_est"), col("exact_b"), "in_b"),
              flag(col("t.inter_est"), col("exact_inter"), "in_inter")),
          caches = Seq(o))
      }),

    // Frequent-items (heavy hitters) over tokens, the mergeable face of
    // vocab_topk: per-shard Misra-Gries counter sketches union
    // associatively; counters, not the corpus, cross the wire. The live
    // vocabulary fits the counter map, so estimates are exact here and the
    // oracle compares directly — at 100 TB the same plan degrades to
    // bounded-error heavy hitters instead of failing.
    Q("agg_freq_topk",
      Some("WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok " +
        "FROM documents), " +
        "c AS (SELECT tok, count(*) AS n FROM t WHERE tok <> '' GROUP BY tok), " +
        "r AS (SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rnk " +
        "FROM c) " +
        "SELECT CAST(rnk AS BIGINT) AS rnk, tok, CAST(n AS BIGINT) AS n " +
        "FROM r WHERE rnk <= 5 ORDER BY rnk"),
      (s, dir) => {
        import org.apache.spark.sql.GraftColumnBridge
        import graft.functions.{FreqSketchAgg, FreqMergeTopK}
        val toks = tbl(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
        val shards = toks
          .groupBy(pmod(col("doc_id"), lit(4)).as("shard"))
          .agg(GraftColumnBridge.column(
            FreqSketchAgg(GraftColumnBridge.expression(col("tok")))
              .toAggregateExpression()).as("sk"))
        shards
          .agg(GraftColumnBridge.column(
            FreqMergeTopK(GraftColumnBridge.expression(col("sk")), k = 5)
              .toAggregateExpression()).as("top"))
          .select(posexplode(col("top")).as(Seq("i", "p")))
          .select((col("i") + 1).cast("long").as("rnk"),
            col("p.token").as("tok"), col("p.est").as("n"))
          .orderBy("rnk")
      }),

    // SCD2 history build: collapse each user's event stream into
    // change-interval rows (valid_from/valid_to, version, is_current) —
    // the warehouse-side shape of the reference's keep-latest upsert when
    // history must be retained. Both windows share one hash partition on
    // user_id, so the whole build is a single shuffle.
    Q("scd2_intervals",
      Some(
        "WITH e AS (SELECT user_id, event_type, ts, event_id FROM events " +
          "WHERE user_id < 200), " +
          "ch AS (SELECT user_id, event_type, ts, event_id, " +
          "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev " +
          "FROM e), " +
          "f AS (SELECT user_id, event_type, ts, event_id FROM ch " +
          "WHERE prev IS NULL OR prev <> event_type), " +
          "v AS (SELECT user_id, event_type, ts, " +
          "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vto, " +
          "CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version " +
          "FROM f) " +
          "SELECT user_id, version, event_type, " +
          "strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from, " +
          "strftime(vto, '%Y-%m-%d %H:%M:%S.%f') AS valid_to, " +
          "CASE WHEN vto IS NULL THEN 1 ELSE 0 END AS is_current " +
          "FROM v ORDER BY user_id, version"),
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val changes = H.events(s, dir)
          .select("user_id", "event_type", "ts", "event_id")
          .filter(col("user_id") < 200)
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        changes
          .withColumn("vto", lead(col("ts"), 1).over(w))
          .withColumn("version", row_number().over(w).cast("long"))
          .select(col("user_id"), col("version"), col("event_type"),
            H.fmtTs(col("ts")).as("valid_from"),
            H.fmtTs(col("vto")).as("valid_to"),
            when(col("vto").isNull, 1).otherwise(0).as("is_current"))
          .orderBy("user_id", "version")
      }),

    // Int8 scalar quantization of embeddings: per-vector max-abs scaling to
    // [-127, 127] — the storage/bandwidth step before ANN serving. Pure
    // per-row map (no shuffle); float→double widening plus half-up
    // rounding via floor(x + 0.5) is bit-identical across engines.
    Q("emb_quantize_int8",
      Some(
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "m AS (SELECT vec_id, v, " +
          "list_aggregate(list_transform(v, x -> abs(x)), 'max') AS maxabs FROM e), " +
          "q AS (SELECT vec_id, maxabs, " +
          "CASE WHEN maxabs = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT)) " +
          "ELSE list_transform(v, x -> greatest(CAST(-127 AS BIGINT), " +
          "least(CAST(127 AS BIGINT), CAST(floor(x * 127.0 / maxabs + 0.5) AS BIGINT)))) " +
          "END AS qv FROM m) " +
          "SELECT vec_id, maxabs, " +
          "array_to_string(list_transform(qv, x -> CAST(x AS VARCHAR)), ',') AS qvec " +
          "FROM q ORDER BY vec_id"),
      (s, dir) =>
        tbl(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
          .withColumn("qv",
            when(col("maxabs") === 0,
              transform(col("v"), _ => lit(0L)))
              .otherwise(transform(col("v"), x =>
                greatest(lit(-127L), least(lit(127L),
                  floor(x * lit(127.0) / col("maxabs") + lit(0.5)))))))
          .select(col("vec_id"), col("maxabs"),
            concat_ws(",", transform(col("qv"), _.cast("string"))).as("qvec"))
          .orderBy("vec_id")),

    // Spark 4 VARIANT path extraction: parse once, extract typed paths.
    // Unlike from_json, VARIANT needs no up-front schema — the shape a
    // 100 TB semi-structured ingest actually has. Missing paths are NULL
    // via try_variant_get, not errors.
    Q("scalar_variant",
      Some("SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k, " +
        "CAST(NULL AS VARCHAR) AS missing FROM events ORDER BY event_id"),
      (s, dir) =>
        H.events(s, dir)
          .select(col("event_id"),
            variant_get(parse_json(col("props")), "$.k", "int").as("k"),
            try_variant_get(parse_json(col("props")), "$.missing", "string")
              .as("missing"))
          .orderBy("event_id")),

    // Incremental aggregate maintenance: an aggregate table built from
    // already-arrived batches is MERGED with a new batch's partial
    // aggregate by re-aggregation (sum-of-sums / sum-of-counts) — the
    // pattern that keeps a 100 TB rollup current without rescanning
    // history. The oracle asserts merged state == full recompute.
    Q("pipeline_incremental_agg",
      Some("SELECT o_orderpriority, count(*) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      (s, dir) => {
        val tmp = H.tmpDir("graft_incr")
        val o = tbl(s, dir, "orders")
          .withColumn("batch", pmod(col("o_orderkey"), lit(4)))
        def part(d: org.apache.spark.sql.DataFrame) =
          d.groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n"), sum(H.dec2(col("o_totalprice"))).as("sp"))
        // state = batches 0-2 persisted; delta = batch 3 arriving later
        part(o.filter(col("batch") < 3))
          .write.mode("overwrite").parquet(s"$tmp/state")
        s.read.parquet(s"$tmp/state")
          .unionByName(part(o.filter(col("batch") === 3)))
          .groupBy("o_orderpriority")
          .agg(sum(col("n")).as("n"), sum(col("sp")).cast("double").as("sum_price"))
          .orderBy("o_orderpriority")
      }),

    // Inverted index build: token → document-frequency + sorted postings
    // list. Distinct-per-doc before the explode keeps the shuffle at
    // |postings|; at corpus scale the postings of stop-like tokens shard
    // into (token, block) runs — here the boilerplate vocabulary bounds
    // them, so per-token lists stay addressable.
    Q("text_inverted_index",
      Some(
        "WITH ex AS (SELECT DISTINCT doc_id, tok FROM " +
          "(SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)) " +
          "SELECT tok, count(*) AS df, " +
          "string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings " +
          "FROM ex GROUP BY tok ORDER BY tok"),
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("tok"))
          .groupBy("tok")
          .agg(count(lit(1)).as("df"),
            concat_ws(",",
              transform(sort_array(collect_set(col("doc_id"))), _.cast("string")))
              .as("postings"))
          .orderBy("tok")),

    // One-pass table profiling: row count, per-column non-null/distinct
    // counts and min/max, emitted row-per-column — the data-quality gate a
    // pipeline runs before promoting a load. ONE scan computes every
    // metric (multi-distinct via Expand); the oracle recomputes per
    // column. min/max go through DECIMAL or timestamp formatting so the
    // rendering is engine-exact.
    Q("profile_table",
      Some {
        def row(c: String, minS: String, maxS: String) =
          s"SELECT '$c' AS col_name, count(*) AS n_rows, " +
            s"count($c) AS n_nonnull, count(DISTINCT $c) AS n_distinct, " +
            s"$minS AS min_val, $maxS AS max_val FROM lineitem"
        row("l_quantity",
          "CAST(CAST(min(l_quantity) AS DECIMAL(12,2)) AS VARCHAR)",
          "CAST(CAST(max(l_quantity) AS DECIMAL(12,2)) AS VARCHAR)") +
          " UNION ALL " +
          row("l_returnflag", "min(l_returnflag)", "max(l_returnflag)") +
          " UNION ALL " +
          row("l_shipdate",
            "strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S')",
            "strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S')") +
          " ORDER BY col_name"
      },
      (s, dir) => {
        val one = tbl(s, dir, "lineitem").agg(
          count(lit(1)).as("n_rows"),
          count(col("l_quantity")).as("nn_q"),
          countDistinct(col("l_quantity")).as("nd_q"),
          H.dec2(min(col("l_quantity"))).cast("string").as("min_q"),
          H.dec2(max(col("l_quantity"))).cast("string").as("max_q"),
          count(col("l_returnflag")).as("nn_r"),
          countDistinct(col("l_returnflag")).as("nd_r"),
          min(col("l_returnflag")).as("min_r"),
          max(col("l_returnflag")).as("max_r"),
          count(col("l_shipdate")).as("nn_s"),
          countDistinct(col("l_shipdate")).as("nd_s"),
          H.fmtTsSec(min(col("l_shipdate"))).as("min_s"),
          H.fmtTsSec(max(col("l_shipdate"))).as("max_s"))
        one.select(col("n_rows"), explode(array(
            struct(lit("l_quantity").as("col_name"), col("nn_q").as("n_nonnull"),
              col("nd_q").as("n_distinct"), col("min_q").as("min_val"),
              col("max_q").as("max_val")),
            struct(lit("l_returnflag").as("col_name"), col("nn_r").as("n_nonnull"),
              col("nd_r").as("n_distinct"), col("min_r").as("min_val"),
              col("max_r").as("max_val")),
            struct(lit("l_shipdate").as("col_name"), col("nn_s").as("n_nonnull"),
              col("nd_s").as("n_distinct"), col("min_s").as("min_val"),
              col("max_s").as("max_val")))).as("p"))
          .select(col("p.col_name"), col("n_rows"), col("p.n_nonnull"),
            col("p.n_distinct"), col("p.min_val"), col("p.max_val"))
          .orderBy("col_name")
      }),

    // Percentile-based quality selection per stratum: keep the top half of
    // each language by document length (the per-language percentile cut
    // every curriculum/quality filter applies). percent_rank is rank
    // arithmetic over a total order — engine-exact, unlike interpolated
    // percentile thresholds. One shuffle (the per-lang window).
    Q("text_quality_select",
      Some("SELECT doc_id, lang, n_chars, " +
        "percent_rank() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS pr " +
        "FROM documents QUALIFY pr <= 0.5 ORDER BY doc_id"),
      (s, dir) => {
        val w = Window.partitionBy("lang")
          .orderBy(col("n_chars").desc, col("doc_id"))
        tbl(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"),
            percent_rank().over(w).as("pr"))
          .filter(col("pr") <= 0.5)
          .orderBy("doc_id")
      }),

    // Repeated-bigram ratio — the repetition quality signal (high ratio =
    // looping/boilerplate text). Pure per-row array expressions, zero
    // shuffle; the ratio is a division of exact integer counts, so the
    // double is bit-identical across engines.
    Q("text_repetition",
      Some(
        "WITH b AS (SELECT doc_id, list_transform(range(1, len(l)), " +
          "i -> l[i] || ' ' || l[i + 1]) AS bg FROM " +
          "(SELECT doc_id, string_split(text, ' ') AS l FROM documents)) " +
          "SELECT doc_id, CAST(len(bg) AS BIGINT) AS n_bigrams, " +
          "CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct, " +
          "CASE WHEN len(bg) = 0 THEN 0.0 ELSE " +
          "1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / CAST(len(bg) AS DOUBLE) " +
          "END AS rep_ratio FROM b ORDER BY doc_id"),
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("l"))
          .withColumn("bg", expr(
            "CASE WHEN size(l) >= 2 THEN " +
              "transform(sequence(0, size(l) - 2), i -> concat(l[i], ' ', l[i + 1])) " +
              "ELSE array() END"))
          .select(col("doc_id"),
            size(col("bg")).cast("long").as("n_bigrams"),
            size(array_distinct(col("bg"))).cast("long").as("n_distinct"),
            when(size(col("bg")) === 0, lit(0.0))
              .otherwise(lit(1.0) -
                size(array_distinct(col("bg"))).cast("double") /
                  size(col("bg")).cast("double")).as("rep_ratio"))
          .orderBy("doc_id")),

    // Per-stratum z-score normalization of a feature — standardization
    // before mixing corpora. Mean and variance come from EXACT integer
    // sums (sum, sum of squares), and the double formula is written
    // identically on both engines, so even the sqrt is bit-exact. The
    // stats table is tiny (one row per lang) and broadcasts back.
    Q("text_zscore_by_lang",
      Some(
        "WITH st AS (SELECT lang, count(*) AS cnt, " +
          "CAST(sum(n_chars) AS BIGINT) AS s, " +
          "CAST(sum(n_chars * n_chars) AS BIGINT) AS sq FROM documents GROUP BY lang), " +
          "m AS (SELECT lang, cnt, CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) AS mean, " +
          "CAST(sq AS DOUBLE) / CAST(cnt AS DOUBLE) AS e2 FROM st) " +
          "SELECT d.doc_id, d.lang, d.n_chars, " +
          "CASE WHEN e2 - mean * mean > 0 THEN " +
          "(CAST(d.n_chars AS DOUBLE) - mean) / sqrt(e2 - mean * mean) " +
          "ELSE 0.0 END AS z " +
          "FROM documents d JOIN m ON m.lang = d.lang ORDER BY d.doc_id"),
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val st = docs.groupBy("lang").agg(
          count(lit(1)).as("cnt"),
          sum(col("n_chars")).as("s"),
          sum(col("n_chars") * col("n_chars")).as("sq"))
        val m = st.select(col("lang"),
          (col("s").cast("double") / col("cnt").cast("double")).as("mean"),
          (col("sq").cast("double") / col("cnt").cast("double")).as("e2"))
        docs.join(broadcast(m), "lang")
          .select(col("doc_id"), col("lang"), col("n_chars"),
            when(col("e2") - col("mean") * col("mean") > 0,
              (col("n_chars").cast("double") - col("mean")) /
                sqrt(col("e2") - col("mean") * col("mean")))
              .otherwise(lit(0.0)).as("z"))
          .orderBy("doc_id")
      }),

    // Top-k per group through the bounded-heap TypedImperativeAggregate:
    // partial k-row heaps merge map-side, so the group's rows never
    // shuffle — only heaps do (window row_number ships every row). The
    // oracle is the windowed formulation: both must agree exactly.
    Q("udaf_topk_heap",
      Some("SELECT o_orderpriority, CAST(row_number() OVER " +
        "(PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) " +
        "AS BIGINT) AS rnk, o_orderkey, o_totalprice FROM orders " +
        "QUALIFY rnk <= 3 ORDER BY o_orderpriority, rnk"),
      (s, dir) => {
        import org.apache.spark.sql.GraftColumnBridge
        import graft.functions.TopKByValue
        val topk = GraftColumnBridge.column(
          TopKByValue(
            GraftColumnBridge.expression(col("o_orderkey")),
            GraftColumnBridge.expression(col("o_totalprice")),
            k = 3).toAggregateExpression())
        tbl(s, dir, "orders")
          .groupBy("o_orderpriority")
          .agg(topk.as("tk"))
          .select(col("o_orderpriority"), posexplode(col("tk")).as(Seq("i", "p")))
          .select(col("o_orderpriority"), (col("i") + 1).cast("long").as("rnk"),
            col("p.key").as("o_orderkey"), col("p.value").as("o_totalprice"))
          .orderBy("o_orderpriority", "rnk")
      }),

    // CDC snapshot diff: two keep-latest snapshots (overlapping event
    // subsets) full-outer-joined on the key → insert/delete/update/
    // unchanged per key. The shape of every incremental-sync reconciler;
    // one shuffle per snapshot reduction plus the diff join.
    Q("pipeline_cdc_diff",
      Some(
        "WITH o AS (SELECT user_id, max(event_id) AS o_eid FROM events " +
          "WHERE event_id % 10 < 7 GROUP BY user_id), " +
          "n AS (SELECT user_id, max(event_id) AS n_eid FROM events " +
          "WHERE event_id % 10 >= 3 GROUP BY user_id) " +
          "SELECT coalesce(o.user_id, n.user_id) AS user_id, o_eid, n_eid, " +
          "CASE WHEN o.user_id IS NULL THEN 'insert' " +
          "WHEN n.user_id IS NULL THEN 'delete' " +
          "WHEN o_eid <> n_eid THEN 'update' ELSE 'unchanged' END AS change_type " +
          "FROM o FULL JOIN n ON o.user_id = n.user_id ORDER BY user_id"),
      (s, dir) => {
        val ev = H.events(s, dir).select("user_id", "event_id")
        def snap(p: org.apache.spark.sql.Column, out: String) =
          ev.filter(p).groupBy("user_id").agg(max(col("event_id")).as(out))
        val o = snap(pmod(col("event_id"), lit(10)) < 7, "o_eid")
          .withColumnRenamed("user_id", "o_user")
        val n = snap(pmod(col("event_id"), lit(10)) >= 3, "n_eid")
          .withColumnRenamed("user_id", "n_user")
        o.join(n, col("o_user") === col("n_user"), "full_outer")
          .select(coalesce(col("o_user"), col("n_user")).as("user_id"),
            col("o_eid"), col("n_eid"),
            when(col("o_user").isNull, "insert")
              .when(col("n_user").isNull, "delete")
              .when(col("o_eid") =!= col("n_eid"), "update")
              .otherwise("unchanged").as("change_type"))
          .orderBy("user_id")
      }),

    // Equi-width histogram: global min/max in one aggregate row broadcast
    // back; bucket assignment is a pure map. Identical double arithmetic on
    // both engines keeps boundary rows bit-stable.
    Q("agg_histogram",
      Some(
        "WITH m AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi " +
          "FROM orders) " +
          "SELECT least(9, CAST(floor((o_totalprice - lo) * 10.0 / (hi - lo)) " +
          "AS BIGINT)) AS bucket, " +
          "count(*) AS n FROM orders, m GROUP BY bucket ORDER BY bucket"),
      (s, dir) => {
        val o = tbl(s, dir, "orders")
        val m = o.agg(min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        o.crossJoin(broadcast(m))
          .select(least(lit(9L),
            floor((col("o_totalprice") - col("lo")) * 10.0 /
              (col("hi") - col("lo")))).as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n"))
          .orderBy("bucket")
      }),

    // Funnel: per user, first click then first purchase AT/after it —
    // the conversion sequence analysis an event pipeline serves. Two
    // aggregations and one range-ish join, all hashed on user_id.
    Q("events_funnel",
      Some(
        "WITH fc AS (SELECT user_id, min(ts) AS first_click FROM events " +
          "WHERE event_type = 'click' GROUP BY user_id), " +
          "fp AS (SELECT e.user_id, min(e.ts) AS first_purchase FROM events e " +
          "JOIN fc ON fc.user_id = e.user_id AND e.ts >= fc.first_click " +
          "WHERE e.event_type = 'purchase' GROUP BY e.user_id), " +
          "u AS (SELECT DISTINCT user_id FROM events) " +
          "SELECT u.user_id, " +
          "strftime(first_click, '%Y-%m-%d %H:%M:%S.%f') AS first_click, " +
          "strftime(first_purchase, '%Y-%m-%d %H:%M:%S.%f') AS first_purchase, " +
          "CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END AS converted " +
          "FROM u LEFT JOIN fc ON fc.user_id = u.user_id " +
          "LEFT JOIN fp ON fp.user_id = u.user_id ORDER BY u.user_id"),
      (s, dir) => {
        val ev = H.events(s, dir).select("user_id", "event_type", "ts")
        val fc = ev.filter(col("event_type") === "click")
          .groupBy("user_id").agg(min(col("ts")).as("first_click"))
        val fp = ev.filter(col("event_type") === "purchase")
          .join(fc.withColumnRenamed("user_id", "fc_user"),
            col("user_id") === col("fc_user") && col("ts") >= col("first_click"))
          .groupBy("user_id").agg(min(col("ts")).as("first_purchase"))
        ev.select("user_id").distinct()
          .join(fc, Seq("user_id"), "left")
          .join(fp, Seq("user_id"), "left")
          .select(col("user_id"),
            H.fmtTs(col("first_click")).as("first_click"),
            H.fmtTs(col("first_purchase")).as("first_purchase"),
            when(col("first_purchase").isNotNull, 1).otherwise(0).as("converted"))
          .orderBy("user_id")
      }),

    // Small-file compaction — the maintenance job that keeps a 100 TB lake
    // scannable: a fragmented write (16 files) is compacted to a bounded
    // file count with row-identical content; the query emits the audited
    // file counts and a content-equality flag for the oracle to assert.
    Q("pipeline_compact",
      Some("SELECT CAST(16 AS BIGINT) AS files_before, " +
        "CAST(2 AS BIGINT) AS files_after, " +
        "count(*) AS n_rows, 1 AS content_match " +
        "FROM events WHERE event_id % 5 = 4"),
      (s, dir) => {
        val tmp = H.tmpDir("graft_compact")
        val ev = H.events(s, dir).filter(pmod(col("event_id"), lit(5)) === 4)
          .select("event_id", "user_id", "event_type", "ts", "value")
        ev.repartition(16).write.mode("overwrite").parquet(s"$tmp/frag")
        val frag = s.read.parquet(s"$tmp/frag")
        frag.repartition(2).write.mode("overwrite").parquet(s"$tmp/compact")
        val compacted = s.read.parquet(s"$tmp/compact")
        def nFiles(p: String): Long = {
          val listing = java.nio.file.Files.list(java.nio.file.Paths.get(p))
          try listing.filter(f => f.toString.endsWith(".parquet")).count()
          finally listing.close()
        }
        val match_ = compacted.exceptAll(ev).isEmpty && ev.exceptAll(compacted).isEmpty
        val row = Seq((nFiles(s"$tmp/frag"), nFiles(s"$tmp/compact"),
          compacted.count(), if (match_) 1 else 0))
        s.createDataFrame(row)
          .toDF("files_before", "files_after", "n_rows", "content_match")
      }),

    // Spark 4 recursive CTE: flatten the region→nation→supplier hierarchy
    // into materialized paths — the arbitrary-depth walk a recursive query
    // engine owes its users (UNION ALL recursion; the walk is a tree, so
    // no dedup is needed and iteration count = depth).
    Q("sql_recursive_hierarchy",
      Some(
        "WITH RECURSIVE edges AS (" +
          "SELECT 'region:' || r_name AS parent, 'nation:' || n_name AS child, " +
          "n_name AS label FROM region JOIN nation ON n_regionkey = r_regionkey " +
          "UNION ALL " +
          "SELECT 'nation:' || n_name, 'supplier:' || CAST(s_suppkey AS VARCHAR), " +
          "s_name FROM nation JOIN supplier ON s_nationkey = n_nationkey), " +
          "walk(node, path, depth) AS (" +
          "SELECT 'region:' || r_name, r_name, 1 FROM region " +
          "UNION ALL " +
          "SELECT e.child, w.path || '/' || e.label, w.depth + 1 " +
          "FROM walk w JOIN edges e ON e.parent = w.node) " +
          "SELECT node, path, CAST(depth AS BIGINT) AS depth FROM walk " +
          "ORDER BY node, path"),
      (s, dir) => {
        tbl(s, dir, "region").createOrReplaceTempView("region_rh")
        tbl(s, dir, "nation").createOrReplaceTempView("nation_rh")
        tbl(s, dir, "supplier").createOrReplaceTempView("supplier_rh")
        s.sql(
          "WITH RECURSIVE edges AS (" +
            "SELECT 'region:' || r_name AS parent, 'nation:' || n_name AS child, " +
            "n_name AS label FROM region_rh JOIN nation_rh ON n_regionkey = r_regionkey " +
            "UNION ALL " +
            "SELECT 'nation:' || n_name, 'supplier:' || CAST(s_suppkey AS STRING), " +
            "s_name FROM nation_rh JOIN supplier_rh ON s_nationkey = n_nationkey), " +
            "walk(node, path, depth) AS (" +
            "SELECT 'region:' || r_name, r_name, 1 FROM region_rh " +
            "UNION ALL " +
            "SELECT e.child, w.path || '/' || e.label, w.depth + 1 " +
            "FROM walk w JOIN edges e ON e.parent = w.node) " +
            "SELECT node, path, CAST(depth AS BIGINT) AS depth FROM walk " +
            "ORDER BY node, path")
      }),

    // Correlated LATERAL subquery with per-row LIMIT — top-2 orders per
    // customer expressed the SQL-native way (the optimizer decorrelates to
    // a ranked join; no per-row execution survives in the plan).
    Q("join_lateral",
      Some(
        "SELECT c_custkey, o_orderkey, o_totalprice FROM customer c, " +
          "LATERAL (SELECT o_orderkey, o_totalprice FROM orders " +
          "WHERE o_custkey = c.c_custkey " +
          "ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) " +
          "WHERE c_custkey < 300 ORDER BY c_custkey, o_orderkey"),
      (s, dir) => {
        tbl(s, dir, "customer").createOrReplaceTempView("customer_lat")
        tbl(s, dir, "orders").createOrReplaceTempView("orders_lat")
        s.sql(
          "SELECT c_custkey, o_orderkey, o_totalprice FROM customer_lat c, " +
            "LATERAL (SELECT o_orderkey, o_totalprice FROM orders_lat " +
            "WHERE o_custkey = c.c_custkey " +
            "ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) " +
            "WHERE c_custkey < 300 ORDER BY c_custkey, o_orderkey")
      }),

    // MapType surface: semi-structured props decoded as map<string,bigint>
    // (no up-front struct schema), keys enumerated and values fetched via
    // element_at — the dynamic-keys sibling of o07's typed from_json.
    Q("scalar_map",
      Some("SELECT event_id, " +
        "array_to_string(list_sort(json_keys(props)), ',') AS keys_str, " +
        "CAST(json_extract(props, '$.k') AS BIGINT) AS k_val " +
        "FROM events ORDER BY event_id"),
      (s, dir) =>
        H.events(s, dir)
          .select(col("event_id"),
            from_json(col("props"),
              org.apache.spark.sql.types.DataType.fromDDL("map<string,bigint>"))
              .as("m"))
          .select(col("event_id"),
            concat_ws(",", array_sort(map_keys(col("m")))).as("keys_str"),
            element_at(col("m"), "k").as("k_val"))
          .orderBy("event_id")),

    // ANSI-safe scalar error handling: try_divide/try_cast return NULL
    // where strict evaluation would fail a 100 TB job on one bad row.
    Q("scalar_try",
      Some("SELECT event_id, " +
        "CASE WHEN user_id % 3 = 0 THEN NULL " +
        "ELSE CAST(value AS DOUBLE) / CAST(user_id % 3 AS DOUBLE) END AS safe_div, " +
        "TRY_CAST(event_type AS BIGINT) AS bad_cast, " +
        "TRY_CAST(CAST(user_id AS VARCHAR) AS BIGINT) AS good_cast " +
        "FROM events ORDER BY event_id"),
      (s, dir) =>
        H.events(s, dir)
          .select(col("event_id"),
            try_divide(col("value"), pmod(col("user_id"), lit(3)).cast("double"))
              .as("safe_div"),
            col("event_type").try_cast("bigint").as("bad_cast"),
            col("user_id").cast("string").try_cast("bigint").as("good_cast"))
          .orderBy("event_id")),

    // The native Dataset.unpivot API (the stack() generator's typed
    // sibling): wide per-order measures to long (measure, value) rows.
    Q("api_unpivot",
      Some("SELECT o_orderkey, m AS measure, v AS value FROM (" +
        "SELECT o_orderkey, 'total' AS m, o_totalprice AS v FROM orders " +
        "UNION ALL SELECT o_orderkey, 'key2', CAST(o_custkey * 2 AS DOUBLE) " +
        "FROM orders) WHERE o_orderkey < 500 ORDER BY o_orderkey, measure"),
      (s, dir) =>
        tbl(s, dir, "orders")
          .filter(col("o_orderkey") < 500)
          .select(col("o_orderkey"), col("o_totalprice").as("total"),
            (col("o_custkey") * 2).cast("double").as("key2"))
          .unpivot(Array(col("o_orderkey")), Array(col("total"), col("key2")),
            "measure", "value")
          .orderBy("o_orderkey", "measure")),

    // CAPSTONE 2 — the corpus-prep pipeline end to end: boilerplate
    // analysis (cleaned length reported) → near-dup group resolution
    // (drop non-canonical) → length gate → deterministic split → context
    // packing of the kept stream. One composed query over the same
    // building blocks the individual operators verify; decision precedence
    // is duplicate > short > keep, and packs are per-language prefix sums
    // of kept docs' token budgets.
    Q("pipeline_corpus_prep",
      Some {
        import graft.functions.{DedupSketches => DS}
        "WITH RECURSIVE t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks " +
          "FROM documents), " +
          vocabCtesSql + ", " +
          "clean AS (SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens, " +
          "CAST(len(list_filter(toks, x -> NOT list_contains(c, x))) AS BIGINT) " +
          "AS n_clean FROM t, common), " +
          s"sh AS (${DS.shinglesSql(3)}), " +
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
          "grp AS (SELECT node AS doc_id, min(root) AS canonical_id " +
          "FROM reach GROUP BY node), " +
          "dec AS (SELECT cl.doc_id, cl.lang, cl.n_tokens, cl.n_clean, " +
          "CASE WHEN g.doc_id IS NOT NULL AND g.canonical_id <> cl.doc_id " +
          "THEN 'drop_duplicate' " +
          "WHEN cl.n_tokens < 20 THEN 'drop_short' ELSE 'keep' END AS decision " +
          "FROM clean cl LEFT JOIN grp g ON g.doc_id = cl.doc_id), " +
          "spl AS (SELECT d.*, " +
          s"${bucketSql("md5(CAST(d.doc_id AS VARCHAR))")} AS bucket FROM dec d), " +
          "packed AS (SELECT doc_id, lang, n_tokens, n_clean, decision, " +
          s"$splitCaseSql AS split, " +
          "CASE WHEN decision = 'keep' THEN " +
          "CAST(sum(CASE WHEN decision = 'keep' THEN n_tokens ELSE 0 END) OVER " +
          "(PARTITION BY lang ORDER BY doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) // 1024 " +
          "ELSE NULL END AS pack_id FROM spl) " +
          "SELECT doc_id, lang, n_tokens, n_clean, decision, split, pack_id " +
          "FROM packed ORDER BY doc_id"
      },
      (s, dir) => {
        import graft.functions.{DedupSketches => DS}
        val docs = tbl(s, dir, "documents")
        val t = docs.select(col("doc_id"), col("lang"),
          split(col("text"), " ").as("toks"))
        val clean = t.crossJoin(broadcast(commonVocab(docs, t)))
          .select(col("doc_id"), col("lang"),
            size(col("toks")).cast("long").as("n_tokens"),
            size(expr("filter(toks, x -> NOT array_contains(c, x))"))
              .cast("long").as("n_clean"))
        val sh = DS.shingles(docs, 3).cache()
        val sig = DS.minhashSignature(sh).cache()
        // checkpointed: double-referenced inside verifiedJaccard (see
        // dedup_minhash_lsh for why localCheckpoint, not cache)
        val cand = DS.candidatePairs(DS.lshBands(sig)).localCheckpoint()
        val pairs = DS.verifiedJaccard(cand, sh,
            Some(sig.select(col("doc_id"), col("n"))))
          .filter(col("jaccard") >= 0.5).select("doc_a", "doc_b")
        val labels = DS.connectedComponents(pairs)
        val grp = labels
          .select(col("node").as("doc_id"), col("label").as("canonical_id"))
        val dec = clean.join(grp, Seq("doc_id"), "left")
          .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_clean"),
            when(col("canonical_id").isNotNull &&
                col("canonical_id") =!= col("doc_id"), "drop_duplicate")
              .when(col("n_tokens") < 20, "drop_short")
              .otherwise("keep").as("decision"))
        val w = Window.partitionBy("lang").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val keptTokens =
          when(col("decision") === "keep", col("n_tokens")).otherwise(lit(0L))
        graft.H.materialized(
          dec
            .withColumn("bucket", bucketCol(col("doc_id")))
            .withColumn("split", splitCol(col("bucket"), col("lang")))
            .withColumn("begin_tokens",
              sum(keptTokens).over(w) - keptTokens)
            .withColumn("pack_id",
              when(col("decision") === "keep",
                expr("begin_tokens div 1024")).otherwise(lit(null)))
            .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_clean"),
              col("decision"), col("split"), col("pack_id"))
            .orderBy("doc_id"),
          caches = Seq(sh, sig), checkpoints = Seq(labels, cand))
      }),

    // Spark 4.1 SQL pipe syntax — the same logical plan as the plain-SQL
    // oracle (Catalyst folds each |> stage into ordinary operators; the
    // HAVING face is a post-aggregate WHERE stage).
    Q("sql_pipe_syntax",
      Some("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' " +
        "GROUP BY 1, 2 HAVING count(*) > 100 ORDER BY 1, 2"),
      (s, dir) => {
        tbl(s, dir, "lineitem").createOrReplaceTempView("lineitem_pipe")
        s.sql(
          "FROM lineitem_pipe " +
            "|> WHERE l_shipdate <= DATE '1998-09-02' " +
            "|> AGGREGATE count(*) AS n, " +
            "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty " +
            "GROUP BY l_returnflag, l_linestatus " +
            "|> WHERE n > 100 " +
            "|> SELECT l_returnflag, l_linestatus, n, sum_qty " +
            "|> ORDER BY l_returnflag, l_linestatus")
      }),

    // Declarative SQL-body UDFs (Spark 4 CREATE FUNCTION ... RETURN expr):
    // the function body inlines into the caller's plan, so the whole query
    // stays in whole-stage codegen — no JVM/closure UDF boundary.
    Q("sql_udf_scalar",
      Some("SELECT o_orderkey, " +
        "CASE WHEN o_totalprice >= 100000 THEN 'large' " +
        "WHEN o_totalprice >= 50000 THEN 'medium' ELSE 'small' END AS bucket, " +
        "CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents " +
        "FROM orders WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey"),
      (s, dir) => {
        tbl(s, dir, "orders").createOrReplaceTempView("orders_sqludf")
        s.sql("CREATE OR REPLACE TEMPORARY FUNCTION price_bucket(p DOUBLE) " +
          "RETURNS STRING RETURN CASE WHEN p >= 100000 THEN 'large' " +
          "WHEN p >= 50000 THEN 'medium' ELSE 'small' END")
        s.sql("CREATE OR REPLACE TEMPORARY FUNCTION to_cents(p DOUBLE) " +
          "RETURNS BIGINT RETURN CAST(round(CAST(p AS DECIMAL(18,2)) * 100) AS BIGINT)")
        s.sql("SELECT o_orderkey, price_bucket(o_totalprice) AS bucket, " +
          "to_cents(o_totalprice) AS cents FROM orders_sqludf " +
          "WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey")
      }),

    // SQL table-valued function — a parameterized view; the parameter
    // reaches the inner WHERE, so partition/file pruning still applies to
    // the expanded plan.
    Q("sql_udf_table",
      Some("SELECT n_name, s_suppkey, s_name FROM nation " +
        "JOIN supplier ON s_nationkey = n_nationkey " +
        "WHERE n_regionkey = 1 ORDER BY s_suppkey"),
      (s, dir) => {
        tbl(s, dir, "nation").createOrReplaceTempView("nation_tvf")
        tbl(s, dir, "supplier").createOrReplaceTempView("supplier_tvf")
        s.sql("CREATE OR REPLACE TEMPORARY FUNCTION region_suppliers(rk INT) " +
          "RETURNS TABLE(n_name STRING, s_suppkey BIGINT, s_name STRING) " +
          "RETURN SELECT n_name, s_suppkey, s_name FROM nation_tvf " +
          "JOIN supplier_tvf ON s_nationkey = n_nationkey WHERE n_regionkey = rk")
        s.sql("SELECT * FROM region_suppliers(1) ORDER BY s_suppkey")
      }),

    // Spark 4 string collations: case is mangled deterministically per row,
    // then UTF8_LCASE drives equality and distinctness — the engine-native
    // face of case-insensitive matching (the oracle lowers explicitly).
    // Only collation-insensitive aggregates are selected, so the result
    // does not depend on which case representative the engine keeps.
    Q("sql_collation",
      Some("WITH m AS (SELECT c_custkey, CASE WHEN c_custkey % 2 = 0 " +
        "THEN upper(c_mktsegment) ELSE lower(c_mktsegment) END AS seg " +
        "FROM customer) " +
        "SELECT count(*) AS n_match, " +
        "CAST(count(DISTINCT lower(seg)) AS BIGINT) AS n_ci, " +
        "CAST(count(DISTINCT seg) AS BIGINT) AS n_cs " +
        "FROM m WHERE lower(seg) = 'building'"),
      (s, dir) => {
        tbl(s, dir, "customer").createOrReplaceTempView("customer_coll")
        s.sql("WITH m AS (SELECT c_custkey, CASE WHEN c_custkey % 2 = 0 " +
          "THEN upper(c_mktsegment) ELSE lower(c_mktsegment) END AS seg " +
          "FROM customer_coll) " +
          "SELECT count(*) AS n_match, " +
          "count(DISTINCT seg COLLATE UTF8_LCASE) AS n_ci, " +
          "count(DISTINCT seg) AS n_cs " +
          "FROM m WHERE seg COLLATE UTF8_LCASE = 'Building'")
      }),

    // IDENTIFIER(:param): config-driven TABLE selection without string
    // interpolation — the reference builds entity/table names from config
    // strings (priorityDataSource.py assembles them into raw SQL); the
    // engine-native form binds the name as data and stays injection-safe.
    Q("sql_identifier",
      Some("SELECT n_nationkey, n_name FROM nation " +
        "WHERE n_regionkey = 2 ORDER BY n_nationkey"),
      (s, dir) => {
        tbl(s, dir, "nation").createOrReplaceTempView("nation_cfg_entity")
        s.sql(
          "SELECT n_nationkey, n_name FROM IDENTIFIER(:entity) " +
            "WHERE n_regionkey = :rk ORDER BY n_nationkey",
          Map("entity" -> "nation_cfg_entity", "rk" -> Int.box(2)))
      }),

    // Parameterized SQL (named markers bound server-side — the injection-
    // safe face of the reference's string-built OData filters).
    Q("sql_parameterized",
      Some("SELECT o_orderpriority, count(*) AS n FROM orders " +
        "WHERE o_orderdate >= DATE '1995-01-01' " +
        "AND o_orderdate < DATE '1995-04-01' AND o_totalprice > 100000 " +
        "GROUP BY 1 ORDER BY 1"),
      (s, dir) => {
        tbl(s, dir, "orders").createOrReplaceTempView("orders_param")
        s.sql(
          "SELECT o_orderpriority, count(*) AS n FROM orders_param " +
            "WHERE o_orderdate >= CAST(:d0 AS DATE) " +
            "AND o_orderdate < CAST(:d1 AS DATE) AND o_totalprice > :minp " +
            "GROUP BY 1 ORDER BY 1",
          Map("d0" -> "1995-01-01", "d1" -> "1995-04-01",
            "minp" -> Int.box(100000)))
      })
  )
}
