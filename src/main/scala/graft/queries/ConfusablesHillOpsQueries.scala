package graft.queries

import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Round-9 wave 143: mixed-script confusables auditing (the homoglyph
  * spoofing sweep C4/Gopher-class corpus pipelines run before training)
  * and the Hill tail-index estimator (the standard heavy-tail MLE over
  * top order statistics — is this distribution Pareto enough to break
  * mean-based planning?).
  */
object ConfusablesHillOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // CONFUSABLES AUDIT: a deterministic fixture plants Cyrillic
    // homoglyphs into ~1/16 of documents (every 'a' in tokens whose
    // md5(doc_id) gates them becomes U+0430 — visually identical,
    // different codepoint), then the audit sweeps for mixed-script
    // tokens: tokens carrying BOTH ASCII letters and non-ASCII
    // codepoints. Per language: documents audited, flagged documents,
    // flagged token occurrences, and the count of distinct confusable
    // characters seen.
    // Planting and detection are independent code paths — the detector
    // regexes know nothing about the generator. Scale shape: pure
    // per-row map + explode, one bounded (lang) reduce.
    Q("text_confusables_audit",
      Some(
        raw"""WITH planted AS (
          |  SELECT doc_id, lang,
          |    CASE WHEN ${H.md5PrefixSql("CAST(doc_id AS VARCHAR)", 1)} = 7
          |      THEN replace(text, 'a', chr(1072))
          |      ELSE text END AS text
          |  FROM documents),
          |tok AS (SELECT doc_id, lang,
          |    unnest(string_split(text, ' ')) AS t
          |  FROM planted),
          |flag AS (SELECT doc_id, lang, t FROM tok
          |  WHERE regexp_matches(t, '[A-Za-z]')
          |    AND regexp_matches(t, '[^\x00-\x7F]'))
          |SELECT p.lang,
          |  CAST(count(DISTINCT p.doc_id) AS BIGINT) AS n_docs,
          |  CAST(count(DISTINCT f.doc_id) AS BIGINT) AS flagged_docs,
          |  CAST(count(f.t) AS BIGINT) AS flagged_tokens,
          |  CAST(count(DISTINCT regexp_extract(f.t, '[^\x00-\x7F]', 0))
          |    AS BIGINT) AS n_confusable_chars
          |FROM planted p LEFT JOIN flag f ON f.doc_id = p.doc_id
          |GROUP BY 1 ORDER BY 1
          |""".stripMargin),
      (s, dir) => {
        val planted = tbl(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            when(H.md5Digits(col("doc_id").cast("string"), 1) === "7",
              regexp_replace(col("text"), "a", "а"))
              .otherwise(col("text")).as("text"))
          .localCheckpoint() // doc census + the flagged-token sweep
        val tok = planted
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("t"))
        val flag = tok
          .filter(col("t").rlike("[A-Za-z]") &&
            col("t").rlike("[^\\x00-\\x7F]"))
          .select(col("doc_id").as("fdoc"), col("t"))
        val out = planted
          .join(flag, col("fdoc") === col("doc_id"), "left")
          .groupBy("lang")
          .agg(countDistinct("doc_id").cast("long").as("n_docs"),
            countDistinct("fdoc").cast("long").as("flagged_docs"),
            count(col("t")).cast("long").as("flagged_tokens"),
            // Column API, NOT expr(): the SQL string-literal parser strips
            // the backslash, turning [^\x00-\x7F] into [^x00-x7F] — a char
            // class over '0'..'x' that matches 'y'/'z'/punctuation before
            // the first real non-ASCII char (r9 advisor catch)
            countDistinct(regexp_extract(col("t"), "[^\\x00-\\x7F]", 0))
              .cast("long").as("n_confusable_chars"))
          .orderBy("lang")
        graft.H.materialized(out, Nil, Seq(planted))
      }),

    // HILL TAIL-INDEX ESTIMATOR: over the order-value distribution, the
    // Hill MLE for the Pareto tail exponent from the top-k order
    // statistics — α̂ = k / Σ ln(x_(i)/x_(k+1)) — at k = 100, 200, 400
    // (the standard stability sweep: a flat Hill plot = genuine power
    // law, drift = lognormal-ish). Per-row logs are micro-quantized
    // BEFORE the cross-row sum (the only multi-row reduction is an
    // integer sum), so engine aggregation order cannot shift a bit.
    // Top-(k+1) selection is TakeOrdered (orderBy+limit — never a
    // global window). Scale shape: one top-k cut + k-domain math.
    Q("stats_hill_tail",
      Some(
        """WITH x AS (
          |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
          |    AS cents
          |  FROM orders),
          |ranked AS (
          |  SELECT cents, row_number() OVER (ORDER BY cents DESC) AS r
          |  FROM x QUALIFY r <= 401),
          |ks AS (SELECT unnest([100, 200, 400]) AS k),
          |thr AS (SELECT ks.k, ranked.cents AS xk1 FROM ks
          |  JOIN ranked ON ranked.r = ks.k + 1),
          |terms AS (
          |  SELECT thr.k,
          |    CAST(floor(ln(CAST(ranked.cents AS DOUBLE)
          |      / CAST(thr.xk1 AS DOUBLE)) * 1000000) AS BIGINT) AS lg
          |  FROM thr JOIN ranked ON ranked.r <= thr.k),
          |agg AS (SELECT k, CAST(sum(lg) AS BIGINT) AS slg
          |  FROM terms GROUP BY 1)
          |SELECT CAST(a.k AS BIGINT) AS k, t.xk1 AS threshold_cents,
          |  CAST(CAST(a.k AS BIGINT) * 1000000000 // greatest(a.slg, 1)
          |    AS BIGINT) AS hill_alpha_milli
          |FROM agg a JOIN thr t ON t.k = a.k ORDER BY a.k
          |""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val x = tbl(s, dir, "orders")
          .select(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
            .as("cents"))
        // top-(kmax+1) via TakeOrdered; the tiny ranked frame gets its
        // row numbers on the driver-side-safe 401-row domain
        val top = x.orderBy(col("cents").desc).limit(401)
          .withColumn("r", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("cents").desc))) // 401 rows — bounded window
          .localCheckpoint()
        val ks = Seq(100, 200, 400).toDF("k")
        val thr = broadcast(ks).join(top, col("r") === col("k") + 1)
          .select(col("k"), col("cents").as("xk1"))
        val terms = broadcast(thr).join(top, col("r") <= col("k"))
          .select(col("k"),
            floor(log(col("cents").cast("double") /
              col("xk1").cast("double")) * 1000000).cast("long").as("lg"))
        val out = terms.groupBy("k")
          .agg(sum("lg").cast("long").as("slg"))
          .join(thr, Seq("k"))
          .select(col("k").cast("long").as("k"),
            col("xk1").as("threshold_cents"),
            expr("CAST(CAST(k AS BIGINT) * 1000000000" +
              " div greatest(slg, 1) AS BIGINT)").as("hill_alpha_milli"))
          .orderBy("k")
        graft.H.materialized(out, Nil, Seq(top))
      })
  )
}
