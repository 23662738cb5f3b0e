package graft.queries

import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Round-11 waves 170-172: three production gates the board lacked —
  * graded ranking-quality eval (nDCG@10 / MRR / P@10), a differential-
  * privacy budget ledger (basic vs advanced composition), and GPT-3-style
  * benchmark decontamination (13-gram collision against a fixed eval
  * suite). All instances synthesize deterministically from the corpus via
  * the repo's 48-bit md5 fold, so engine and oracle reconstruct the same
  * instance at any scale.
  */
object NdcgDecontamOpsQueries extends QueryModule {

  /** The 13-gram decontamination core, shared with the pipeline_rlhf_prep
    * capstone (so its hygiene gate cannot desync from the judged
    * dedup_benchmark_decontam op). SQL: CTE chain ending in
    * `deconcont`(doc_id) — the contaminated train docs. */
  private[queries] def decontamSql: String =
    """decontoks AS (SELECT doc_id, source,
      |    string_split(text, ' ') AS a FROM documents),
      |deconsh AS (SELECT doc_id, unnest(list_transform(
      |      generate_series(1, len(a) - 12),
      |      i -> list_aggregate(a[i:i+12], 'string_agg', ' '))) AS g
      |  FROM decontoks WHERE len(a) >= 13),
      |deconev AS (SELECT DISTINCT g FROM deconsh WHERE doc_id < 64),
      |deconcont AS (SELECT DISTINCT s.doc_id FROM deconsh s
      |  JOIN deconev ON s.g = deconev.g WHERE s.doc_id >= 64)""".stripMargin

  /** Spark twin of [[decontamSql]]: (contaminated doc_id frame,
    * checkpointed eval-shingle frame for the caller to free). */
  private[queries] def decontamDf(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    // split ONCE into a projected column: the interpreted higher-order
    // lambda re-evaluates its argument expressions per invocation, so
    // slice(split(text), …) inside the transform re-split the document
    // once per 13-gram (the r11 vocab_heaps_law bug class); the spread
    // parallelizes the shingle chain above the one-task single-file scan
    val shingle = expr(
      """CASE WHEN size(toks) >= 13 THEN
        |  transform(sequence(0, size(toks) - 13),
        |    i -> concat_ws(' ', slice(toks, i + 1, 13)))
        |ELSE array() END""".stripMargin)
    val sh = graft.H.spread(
        tbl(s, dir, "documents").select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(shingle).as("g"))
    val ev = sh.filter(col("doc_id") < 64).select("g").distinct()
      .localCheckpoint() // bounded by the fixed 64-doc eval suite
    val cont = sh.filter(col("doc_id") >= 64)
      .join(broadcast(ev), Seq("g"), "left_semi")
      .select("doc_id").distinct()
    (cont, ev)
  }

  def all: Seq[Q] = Seq(

    // RANKING-QUALITY EVAL: 50 synthetic queries; each doc is a candidate
    // for ~1% of queries (hash gate), system score and graded relevance
    // (0-3) are per-(query,doc) hashes. Metrics: nDCG@10 (2^g−1 gains,
    // log2 discounts), MRR@10 (first grade ≥ 2), P@10 (grade ≥ 1),
    // macro-averaged. The 100 TB shape: per-query top-10 via the bounded
    // TopKByValue heap aggregate (k-row partial buffers merge map-side —
    // a window row_number would ship every candidate row to its query's
    // partition first); both the system list and the ideal list ride the
    // same aggregate, the ideal one ordered by a (grade, score) composite
    // packed exactly into the double's 53-bit integer range.
    Q("rank_ndcg_mrr",
      Some {
        val fq = H.md5PrefixSql(
          "'qd:' || CAST(q AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)", 12)
        val fs = H.md5PrefixSql(
          "'sc:' || CAST(q AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)", 12)
        val fg = H.md5PrefixSql(
          "'rl:' || CAST(q AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)", 12)
        s"""WITH qs AS (SELECT unnest(range(0, 50)) AS q),
           |cand AS (SELECT qs.q, d.doc_id, ($fs) AS s,
           |    CASE WHEN ($fg) % 10 = 0 THEN 3
           |      WHEN ($fg) % 10 <= 2 THEN 2
           |      WHEN ($fg) % 10 <= 5 THEN 1 ELSE 0 END AS g
           |  FROM documents d, qs WHERE ($fq) % 100 = 0),
           |ranked AS (SELECT *, row_number() OVER
           |    (PARTITION BY q ORDER BY s DESC, doc_id) AS pos FROM cand),
           |ideal AS (SELECT *, row_number() OVER
           |    (PARTITION BY q ORDER BY g DESC, s DESC, doc_id) AS ipos
           |  FROM cand),
           |dcg AS (SELECT q,
           |    sum((pow(2, g) - 1) / (ln(pos + 1) / ln(2))) AS dcg,
           |    min(CASE WHEN g >= 2 THEN pos END) AS fr,
           |    sum(CASE WHEN g >= 1 THEN 1 ELSE 0 END) AS nrel
           |  FROM ranked WHERE pos <= 10 GROUP BY q),
           |idcg AS (SELECT q,
           |    sum((pow(2, g) - 1) / (ln(ipos + 1) / ln(2))) AS idcg
           |  FROM ideal WHERE ipos <= 10 GROUP BY q),
           |perq AS (SELECT dcg.q,
           |    CASE WHEN idcg.idcg > 0 THEN dcg.dcg / idcg.idcg
           |      ELSE 0 END AS ndcg,
           |    coalesce(1.0 / fr, 0) AS rr, nrel / 10.0 AS p10
           |  FROM dcg JOIN idcg ON dcg.q = idcg.q)
           |SELECT CAST(count(*) AS BIGINT) AS n_queries,
           |  CAST(floor(avg(ndcg) * 1000000 + 0.5) AS BIGINT) AS ndcg10_micro,
           |  CAST(floor(avg(rr) * 1000000 + 0.5) AS BIGINT) AS mrr_micro,
           |  CAST(floor(avg(p10) * 1000000 + 0.5) AS BIGINT) AS p10_micro,
           |  (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates
           |FROM perq
           |""".stripMargin
      },
      (s, dir) => {
        import org.apache.spark.sql.GraftColumnBridge
        import graft.functions.TopKByValue
        val qs = s.range(50).select(col("id").as("q"))
        def fold(tag: String) = H.md5Prefix(concat(lit(s"$tag:"),
          col("q").cast("string"), lit(":"), col("doc_id").cast("string")), 12)
        val cand = tbl(s, dir, "documents").select("doc_id")
          .crossJoin(broadcast(qs))
          .filter(fold("qd") % 100 === 0)
          .withColumn("sc", fold("sc"))
          .withColumn("g", when(fold("rl") % 10 === 0, 3L)
            .when(fold("rl") % 10 <= 2, 2L)
            .when(fold("rl") % 10 <= 5, 1L).otherwise(0L))
          .localCheckpoint() // candidate stream feeds both top-10 heaps
        def topk(value: org.apache.spark.sql.Column) =
          GraftColumnBridge.column(TopKByValue(
            GraftColumnBridge.expression(col("doc_id")),
            GraftColumnBridge.expression(value), k = 10)
            .toAggregateExpression())
        // system list: score order; ideal list: (grade, score) packed as
        // g·2^49 + s — both < 2^53, so the double holds them EXACTLY and
        // the heap's (value desc, key asc) total order matches the
        // oracle's (g DESC, s DESC, doc_id) / (s DESC, doc_id)
        val sys = cand.groupBy("q")
          .agg(topk(col("sc").cast("double")).as("tk"))
          .select(col("q"), posexplode(col("tk")).as(Seq("i", "p")))
          .select(col("q"), (col("i") + 1).as("pos"),
            col("p.key").as("doc_id"))
          .withColumn("g", when(fold("rl") % 10 === 0, 3L)
            .when(fold("rl") % 10 <= 2, 2L)
            .when(fold("rl") % 10 <= 5, 1L).otherwise(0L))
        val dcg = sys.groupBy("q").agg(
          sum((pow(lit(2), col("g")) - 1) / (log(col("pos") + 1) / log(lit(2.0))))
            .as("dcg"),
          min(when(col("g") >= 2, col("pos"))).as("fr"),
          sum(when(col("g") >= 1, 1).otherwise(0)).as("nrel"))
        val ideal = cand.groupBy("q")
          .agg(topk((col("g") * lit(562949953421312L) + col("sc"))
            .cast("double")).as("tk"))
          .select(col("q"), posexplode(col("tk")).as(Seq("i", "p")))
          .select(col("q"), (col("i") + 1).as("ipos"),
            floor(col("p.value") / 562949953421312L).as("ig"))
        val idcg = ideal.groupBy("q").agg(
          sum((pow(lit(2), col("ig")) - 1) /
            (log(col("ipos") + 1) / log(lit(2.0)))).as("idcg"))
        val perq = dcg.join(idcg, Seq("q"))
          .select(
            when(col("idcg") > 0, col("dcg") / col("idcg")).otherwise(0.0)
              .as("ndcg"),
            coalesce(lit(1.0) / col("fr"), lit(0.0)).as("rr"),
            (col("nrel") / 10.0).as("p10"))
        val out = perq.agg(count(lit(1)).cast("long").as("n_queries"),
            floor(avg("ndcg") * 1000000 + 0.5).cast("long").as("ndcg10_micro"),
            floor(avg("rr") * 1000000 + 0.5).cast("long").as("mrr_micro"),
            floor(avg("p10") * 1000000 + 0.5).cast("long").as("p10_micro"))
          .crossJoin(broadcast(
            cand.agg(count(lit(1)).cast("long").as("n_candidates"))))
        H.materialized(out, caches = Nil, checkpoints = Seq(cand))
      }),

    // DP BUDGET LEDGER: every event is a differentially-private release
    // by its event_type team (ε ∈ [0.1, 0.5] per release, hash-assigned).
    // Per team: k releases, basic sequential composition Σε (exact milli
    // integers), and the Dwork-Rothblum-Vadhan advanced composition bound
    // ε' = √(2 ln(1/δ')·Σε²) + Σ ε(e^ε − 1) at δ' = 1e-6 — the ledger a
    // DP shop reads to see which budgets advanced composition rescues
    // (cap ε = 10). One map-side-combined reduce onto the bounded team
    // domain; Σε and Σε² stay exact BIGINT milli.
    Q("privacy_dp_accounting",
      Some {
        val fe = H.md5PrefixSql("'eps:' || CAST(event_id AS VARCHAR)", 12)
        s"""WITH rel AS (SELECT event_type AS team,
           |    (100 + ($fe) % 401) AS eps_milli FROM events),
           |t AS (SELECT team, CAST(count(*) AS BIGINT) AS n_releases,
           |    CAST(sum(eps_milli) AS BIGINT) AS eps_sum_milli,
           |    CAST(sum(eps_milli * eps_milli) AS BIGINT) AS eps_sq_sum,
           |    sum((eps_milli / 1000.0)
           |      * (exp(eps_milli / 1000.0) - 1)) AS drift
           |  FROM rel GROUP BY team)
           |SELECT team, n_releases, eps_sum_milli, eps_sq_sum,
           |  CAST(floor((sqrt(2 * ln(1000000.0) * eps_sq_sum / 1000000.0)
           |    + drift) * 1000000 + 0.5) AS BIGINT) AS eps_advanced_micro,
           |  CAST(CASE WHEN eps_sum_milli <= 10000 THEN 1 ELSE 0 END
           |    AS BIGINT) AS basic_within_cap,
           |  CAST(CASE WHEN (sqrt(2 * ln(1000000.0) * eps_sq_sum / 1000000.0)
           |    + drift) <= 10.0 THEN 1 ELSE 0 END AS BIGINT)
           |    AS advanced_within_cap
           |FROM t ORDER BY team
           |""".stripMargin
      },
      (s, dir) => {
        val rel = H.events(s, dir).select(col("event_type").as("team"),
          (lit(100L) + H.md5Prefix(concat(lit("eps:"),
            col("event_id").cast("string")), 12) % 401).as("eps_milli"))
        val t = rel.groupBy("team").agg(
          count(lit(1)).cast("long").as("n_releases"),
          sum("eps_milli").cast("long").as("eps_sum_milli"),
          sum(col("eps_milli") * col("eps_milli")).cast("long").as("eps_sq_sum"),
          sum((col("eps_milli") / 1000.0)
            * (exp(col("eps_milli") / 1000.0) - 1)).as("drift"))
        val adv = sqrt(lit(2.0) * log(lit(1000000.0))
          * col("eps_sq_sum") / 1000000.0) + col("drift")
        t.select(col("team"), col("n_releases"), col("eps_sum_milli"),
            col("eps_sq_sum"),
            floor(adv * 1000000 + 0.5).cast("long").as("eps_advanced_micro"),
            when(col("eps_sum_milli") <= 10000, 1L).otherwise(0L)
              .as("basic_within_cap"),
            when(adv <= 10.0, 1L).otherwise(0L).as("advanced_within_cap"))
          .orderBy("team")
      }),

    // BENCHMARK DECONTAMINATION (GPT-3 appendix-C shape): the eval suite
    // is the FIXED first 64 documents; any training doc (doc_id ≥ 64)
    // sharing a 13-token shingle with the suite is contaminated and
    // reported per source. The eval shingle set is bounded by the suite
    // (not the corpus), so it broadcasts forever; the train side is one
    // linear shingle stream into a broadcast semi-join — no shuffle of
    // corpus rows at any scale.
    Q("dedup_benchmark_decontam",
      Some(
        s"""WITH $decontamSql,
          |tr AS (SELECT t.doc_id, t.source,
          |    CASE WHEN deconcont.doc_id IS NOT NULL THEN 1 ELSE 0 END AS c
          |  FROM decontoks t LEFT JOIN deconcont
          |    ON t.doc_id = deconcont.doc_id
          |  WHERE t.doc_id >= 64)
          |SELECT source, CAST(count(*) AS BIGINT) AS n_train_docs,
          |  CAST(sum(c) AS BIGINT) AS n_contaminated,
          |  CAST(sum(c) * 1000000 // count(*) AS BIGINT) AS rate_micro,
          |  (SELECT CAST(count(*) AS BIGINT) FROM deconev) AS n_eval_ngrams
          |FROM tr GROUP BY source ORDER BY source
          |""".stripMargin),
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val (cont, ev) = decontamDf(s, dir)
        val tr = docs.filter(col("doc_id") >= 64).select("doc_id", "source")
          .join(cont.withColumn("c", lit(1)), Seq("doc_id"), "left")
          .select(col("source"), coalesce(col("c"), lit(0)).as("c"))
        val out = tr.groupBy("source").agg(
            count(lit(1)).cast("long").as("n_train_docs"),
            sum("c").cast("long").as("n_contaminated"),
            expr("CAST(sum(c) * 1000000 div count(*) AS BIGINT)")
              .as("rate_micro"))
          .crossJoin(broadcast(
            ev.agg(count(lit(1)).cast("long").as("n_eval_ngrams"))))
          .orderBy("source")
        H.materialized(out, caches = Nil, checkpoints = Seq(ev))
      })
  )
}
