package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Sixth wave: robust statistics (median/MAD anomaly detection over the
  * event stream), a count-min frequency sketch with a closed-form oracle,
  * and the dataset-card report a curation pipeline publishes alongside a
  * corpus release. All engine-exact: discrete order statistics select real
  * element values (no interpolation), counters are BIGINTs, and the only
  * floating-point ops are single IEEE subtract/divide/compare steps that
  * both engines round identically.
  */
object RobustOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // Robust anomaly detection: per event type, flag values more than
    // 3 MADs from the median (the median/MAD rule — outlier-resistant
    // where mean/stddev is not). Both order statistics are DISCRETE
    // (window-position selection of an actual element, lower middle, ties
    // on event_id — the agg_median_disc construction), so no interpolation
    // arithmetic exists to drift between engines; |v−med| and 3·MAD are
    // single IEEE ops. Scale shape: the two per-type rank selections are
    // per-key sort shuffles (the inherent cost of EXACT percentiles; the
    // bounded-memory path at 100 TB is the KLL sketch, agg_kll_union);
    // the per-type med/MAD tables are |types| rows and broadcast back
    // against the scan, so the flagging pass is one codegen'd filter.
    Q("ts_anomaly_mad",
      Some(
        """WITH r AS (
          |  SELECT event_type, event_id, value,
          |         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
          |         count(*) OVER (PARTITION BY event_type) AS n
          |  FROM events
          |), med AS (
          |  SELECT event_type, value AS med FROM r WHERE rn = (n + 1) // 2
          |), dev AS (
          |  SELECT e.event_id, e.event_type, e.value, m.med,
          |         abs(e.value - m.med) AS dev
          |  FROM events e JOIN med m USING (event_type)
          |), r2 AS (
          |  SELECT event_id, event_type, dev,
          |         row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
          |         count(*) OVER (PARTITION BY event_type) AS n
          |  FROM dev
          |), mad AS (
          |  SELECT event_type, dev AS mad FROM r2 WHERE rn = (n + 1) // 2
          |)
          |SELECT d.event_id, d.event_type, d.value, d.med, m.mad
          |FROM dev d JOIN mad m USING (event_type)
          |WHERE d.dev > 3 * m.mad
          |ORDER BY d.event_id""".stripMargin),
      (s, dir) => {
        val ev = H.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        def discMedian(df: DataFrame, v: String, out: String): DataFrame = {
          val w = Window.partitionBy("event_type")
            .orderBy(col(v), col("event_id"))
          val wc = Window.partitionBy("event_type")
          df.withColumn("rn", row_number().over(w))
            .withColumn("n", count(lit(1)).over(wc))
            .filter(col("rn") === expr("(n + 1) div 2"))
            .select(col("event_type"), col(v).as(out))
        }
        val med = discMedian(ev, "value", "med")
        val dev = ev.join(broadcast(med), Seq("event_type"))
          .withColumn("dev", abs(col("value") - col("med")))
        val mad = discMedian(dev, "dev", "mad")
        dev.join(broadcast(mad), Seq("event_type"))
          .filter(col("dev") > lit(3) * col("mad"))
          .select("event_id", "event_type", "value", "med", "mad")
          .orderBy("event_id")
      }),

    // Count-min sketch (Cormode/Muthukrishnan 2005): depth-3 × width-64
    // counter matrix over the token stream, point-frequency estimates for
    // the probe terms as min-over-rows — the bounded-memory frequency
    // sketch that complements the exact heavy-hitters of agg_freq_topk.
    // The sketch is DETERMINISTIC given its hash rows (md5-fold, the
    // engine-shared trick), so the oracle rebuilds the identical counter
    // matrix in SQL and the estimates compare exactly; the true counts
    // ride along to exhibit the one-sided error (est ≥ true always).
    // Scale shape: counters are the partial-agg state — the groupBy
    // reduces the token stream to depth×width BIGINTs per partition
    // before the exchange, so sketch size, not corpus size, crosses the
    // wire; estimation joins the 192-row counter table broadcast.
    Q("agg_countmin",
      Some(
        s"""WITH tok AS (
           |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
           |), h AS (
           |  SELECT term, i,
           |         CAST(${H.md5PrefixSql("CAST(i AS VARCHAR) || '|' || term", 4)} % 64 AS BIGINT) AS b
           |  FROM tok CROSS JOIN generate_series(0, 2) t(i)
           |), cm AS (
           |  SELECT i, b, CAST(count(*) AS BIGINT) AS c FROM h GROUP BY 1, 2
           |), probe AS (
           |  SELECT term, i,
           |         CAST(${H.md5PrefixSql("CAST(i AS VARCHAR) || '|' || term", 4)} % 64 AS BIGINT) AS b
           |  FROM (SELECT unnest(['spark', 'join', 'window']) AS term) q
           |  CROSS JOIN generate_series(0, 2) t(i)
           |), est AS (
           |  SELECT p.term, min(cm.c) AS cm_estimate
           |  FROM probe p JOIN cm ON cm.i = p.i AND cm.b = p.b
           |  GROUP BY p.term
           |), tru AS (
           |  SELECT term, CAST(count(*) AS BIGINT) AS true_count
           |  FROM tok WHERE term IN ('spark', 'join', 'window') GROUP BY term
           |)
           |SELECT e.term, coalesce(t.true_count, 0) AS true_count, e.cm_estimate
           |FROM est e LEFT JOIN tru t USING (term)
           |ORDER BY e.term""".stripMargin),
      (s, dir) => {
        val tok = tbl(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("term"))
        def bucket(i: Column, term: Column): Column =
          H.md5Prefix(concat(i.cast("string"), lit("|"), term), 4) % 64
        val h = tok.select(col("term"),
            explode(array(lit(0), lit(1), lit(2))).as("i"))
          .select(col("i"), bucket(col("i"), col("term")).as("b"))
        val cm = h.groupBy("i", "b").agg(count(lit(1)).as("c"))
        val probeTerms = Seq("spark", "join", "window")
        val probe = s.createDataFrame(
            for (t <- probeTerms; i <- 0 to 2) yield (t, i))
          .toDF("term", "i")
          .withColumn("b", bucket(col("i"), col("term")))
        val est = probe.join(broadcast(cm), Seq("i", "b"))
          .groupBy("term").agg(min(col("c")).as("cm_estimate"))
        val tru = tok.filter(col("term").isin(probeTerms: _*))
          .groupBy("term").agg(count(lit(1)).as("true_count"))
        est.join(broadcast(tru), Seq("term"), "left")
          .select(col("term"),
            coalesce(col("true_count"), lit(0L)).as("true_count"),
            col("cm_estimate"))
          .orderBy("term")
      }),

    // Dataset card: the per-(source, language) release report a curation
    // pipeline publishes with a corpus — doc/char/token counts, exact-dup
    // rate, mean doc length — with ROLLUP subtotals per source and a
    // grand total. One scan, one partial-agg rollup: counts and sums are
    // exact BIGINTs (token count from whitespace arithmetic, dup count
    // via distinct text hashes), the two ratio columns are single IEEE
    // divisions of those integers. Rollup grouping-set aggregation is
    // map-side combined like any groupBy — the card costs one pass at
    // any corpus size.
    Q("pipeline_dataset_card",
      Some(
        """WITH d AS (
          |  SELECT source, lang, n_chars,
          |         length(text) - length(replace(text, ' ', '')) + 1 AS toks,
          |         md5(text) AS th
          |  FROM documents
          |)
          |SELECT coalesce(source, 'ALL') AS source,
          |       CASE WHEN source IS NULL THEN 'ALL' ELSE coalesce(lang, 'ALL') END AS lang,
          |       CAST(count(*) AS BIGINT) AS docs,
          |       CAST(sum(n_chars) AS BIGINT) AS chars,
          |       CAST(sum(toks) AS BIGINT) AS tokens,
          |       CAST(count(*) - count(DISTINCT th) AS BIGINT) AS dup_docs,
          |       CAST(count(*) - count(DISTINCT th) AS DOUBLE)
          |         / CAST(count(*) AS DOUBLE) AS dup_rate,
          |       CAST(sum(toks) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_tokens
          |FROM d GROUP BY ROLLUP (source, lang)
          |ORDER BY source, lang""".stripMargin),
      (s, dir) => {
        val d = tbl(s, dir, "documents").select(
          col("source"), col("lang"), col("n_chars"),
          (length(col("text")) -
            length(translate(col("text"), " ", "")) + 1).as("toks"),
          md5(col("text")).as("th"))
        d.rollup("source", "lang")
          .agg(count(lit(1)).as("docs"),
            sum(col("n_chars")).cast("long").as("chars"),
            sum(col("toks")).cast("long").as("tokens"),
            (count(lit(1)) - countDistinct(col("th"))).as("dup_docs"))
          .select(coalesce(col("source"), lit("ALL")).as("source"),
            when(col("source").isNull, "ALL")
              .otherwise(coalesce(col("lang"), lit("ALL"))).as("lang"),
            col("docs"), col("chars"), col("tokens"), col("dup_docs"),
            (col("dup_docs").cast("double") / col("docs").cast("double"))
              .as("dup_rate"),
            (col("tokens").cast("double") / col("docs").cast("double"))
              .as("mean_tokens"))
          .orderBy("source", "lang")
      }))
}
