package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Hundred-first wave: parameter-sensitivity and decomposition
  * operators — the shingle-size tuning grid (distinct shingles, mean
  * per doc, and the LSH collision mass Σ df·(df−1)/2 that directly
  * prices candidate generation at each k), the funnel-window
  * sensitivity curve (conversions within 1h/6h/24h), the Beta-binomial
  * posterior for the purchase rate, and variance decomposition of
  * document length by language vs source (which dimension explains the
  * corpus?).
  *
  * Exactness: collision masses ride HUGEINT/DECIMAL; window
  * conversions are integer counts off one latency histogram; posterior
  * moments are exact integer ratios with one sqrt chain for the CI;
  * the η² decomposition keeps every SS term in milli integers with
  * per-group denominators divided out pre-sum (the wave-92 idiom).
  */
object SensitivityOpsQueries extends QueryModule {

  /** Un-checkpointed (k, doc_id, per-doc shingle SET) grid for
    * dedup_shingle_grid — split out so graft.Explain can dump the
    * construction plan (the judged query checkpoints it, which explains
    * as an opaque RDD scan). */
  private[graft] def shingleGridFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    def shArr(k: Int) = {
      val gram = (0 until k).map(j => s"toks[i + $j]")
        .mkString("concat_ws('|', ", ", ", ")")
      expr(s"CASE WHEN size(toks) >= $k THEN array_distinct(" +
        s"transform(sequence(0, size(toks) - $k), i -> $gram)) " +
        "ELSE array() END")
    }
    H.spread(tbl(s, dir, "documents"), col("doc_id"))
      .select(col("doc_id"),
        expr("filter(split(text, ' ', -1), w -> w <> '')").as("toks"))
      .select(col("doc_id"), explode(array(
        struct(lit(2).as("k"), shArr(2).as("ss")),
        struct(lit(3).as("k"), shArr(3).as("ss")),
        struct(lit(5).as("k"), shArr(5).as("ss")))).as("e"))
      .select(col("e.k").as("k"), col("doc_id"), col("e.ss").as("ss"))
      .filter(size(col("ss")) > 0)
  }

  def all: Seq[Q] = Seq(

    // Shingle-size tuning grid, k ∈ {2, 3, 5}: the distinct-shingle
    // count, mean shingles per doc (milli), and the collision mass
    // Σ df·(df−1)/2 — the EXACT number of candidate pairs a
    // shared-shingle blocking would enumerate, i.e. the cost curve
    // that picks k before anyone runs the LSH. Pure histograms: one
    // token explode, three window-shifted shingle builds, no pair join
    // anywhere.
    Q("dedup_shingle_grid",
      Some(
        """WITH tok AS (SELECT doc_id,
          |  unnest(string_split(text, ' ')) AS w,
          |  generate_subscripts(string_split(text, ' '), 1) AS i
          |  FROM documents),
          |t2 AS (SELECT doc_id, w, i,
          |  lead(w, 1) OVER pw AS w1, lead(w, 2) OVER pw AS w2,
          |  lead(w, 3) OVER pw AS w3, lead(w, 4) OVER pw AS w4
          |  FROM tok WHERE w <> ''
          |  WINDOW pw AS (PARTITION BY doc_id ORDER BY i)),
          |sh AS (
          |  SELECT 2 AS k, doc_id, w || '|' || w1 AS s FROM t2
          |    WHERE w1 IS NOT NULL
          |  UNION ALL SELECT 3, doc_id, w || '|' || w1 || '|' || w2
          |    FROM t2 WHERE w2 IS NOT NULL
          |  UNION ALL SELECT 5, doc_id,
          |    w || '|' || w1 || '|' || w2 || '|' || w3 || '|' || w4
          |    FROM t2 WHERE w4 IS NOT NULL),
          |ds AS (SELECT k, s, CAST(count(DISTINCT doc_id) AS BIGINT)
          |    AS df FROM sh GROUP BY 1, 2),
          |pd AS (SELECT k, doc_id, CAST(count(DISTINCT s) AS BIGINT)
          |    AS nsh FROM sh GROUP BY 1, 2),
          |md AS (SELECT k, CAST(sum(nsh) * 1000 // count(*) AS BIGINT)
          |    AS mean_per_doc_milli FROM pd GROUP BY 1),
          |ag AS (SELECT k, CAST(count(*) AS BIGINT) AS distinct_shingles,
          |  CAST(sum(CAST(df AS HUGEINT) * (df - 1) // 2) AS VARCHAR)
          |    AS collision_mass
          |  FROM ds GROUP BY 1)
          |SELECT CAST(ag.k AS INT) AS shingle_k, ag.distinct_shingles,
          |  md.mean_per_doc_milli, ag.collision_mass
          |FROM ag JOIN md ON md.k = ag.k ORDER BY 1
          |""".stripMargin),
      (s, dir) => {
        // Per-row ARRAY shingles (r11 verdict item 4): the old shape ran
        // posexplode + 4×lead over one doc_id window, so the entire token
        // stream crossed a window exchange and paid a per-partition sort
        // (6.9 s, 8/32-core ratio 0.57). Here each doc builds its three
        // k-gram sets inside its own row (transform over the split-once
        // token array, array_distinct for the per-doc set semantics), so
        // no token-level shuffle exists at all; the checkpointed grid is
        // one row per (k, doc). The two aggregates then read per-doc SETS:
        // df = count(*) per (k, s) over the exploded sets (rows are
        // already distinct within a doc), nsh = size(set) — both equal
        // the old countDistinct forms by construction.
        val grid = shingleGridFrame(s, dir)
          .localCheckpoint() // read by both the df and per-doc aggregates
        val ds = grid.select(col("k"), explode(col("ss")).as("s"))
          .groupBy("k", "s")
          .agg(count(lit(1)).cast("long").as("df"))
        val pd = grid.select(col("k"), size(col("ss")).cast("long").as("nsh"))
          .groupBy("k")
          .agg(expr("sum(nsh) * 1000 div count(*)").cast("long")
            .as("mean_per_doc_milli"))
        val out = ds.groupBy(col("k").as("shingle_k"))
          .agg(count(lit(1)).cast("long").as("distinct_shingles"),
            sum(col("df").cast("decimal(38,0)") * (col("df") - 1) / 2)
              .cast("decimal(38,0)").cast("string")
              .as("collision_mass"))
          .join(broadcast(pd.withColumnRenamed("k", "shingle_k")),
            Seq("shingle_k"))
          .select(col("shingle_k").cast("int").as("shingle_k"),
            col("distinct_shingles"), col("mean_per_doc_milli"),
            col("collision_mass"))
          .orderBy("shingle_k")
        H.materialized(out, Nil, Seq(grid))
      }),

    // Funnel-window sensitivity: users converting (first view → first
    // later purchase) within 1h / 6h / 24h, plus the unconverted
    // remainder — the window-choice curve behind every funnel metric
    // definition. One latency frame serves all three points.
    Q("events_funnel_window_curve",
      Some(
        """WITH f AS (SELECT user_id,
          |  min(CASE WHEN event_type = 'view' THEN ts END) AS v,
          |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
          |  FROM events GROUP BY 1),
          |l AS (SELECT epoch_us(p) - epoch_us(v) AS us FROM f
          |  WHERE v IS NOT NULL AND p IS NOT NULL AND p > v),
          |w(win_hours) AS (VALUES (1), (6), (24))
          |SELECT CAST(w.win_hours AS BIGINT) AS win_hours,
          |  CAST((SELECT count(*) FROM l
          |    WHERE us <= w.win_hours * 3600000000) AS BIGINT)
          |    AS converted,
          |  CAST((SELECT count(*) FROM l) AS BIGINT) AS converters_any
          |FROM w ORDER BY 1
          |""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val l = H.events(s, dir)
          .groupBy("user_id")
          .agg(min(when(col("event_type") === "view", col("ts")))
            .as("v"),
            min(when(col("event_type") === "purchase", col("ts")))
              .as("p"))
          .filter(col("v").isNotNull && col("p").isNotNull &&
            col("p") > col("v"))
          .select((unix_micros(col("p")) - unix_micros(col("v")))
            .as("us"))
        val w = Seq(1, 6, 24).toDF("win_hours")
        l.crossJoin(broadcast(w))
          .groupBy(col("win_hours").cast("long").as("win_hours"))
          .agg(sum(when(col("us") <=
            col("win_hours") * 3600000000L, 1L).otherwise(0L))
            .cast("long").as("converted"),
            count(lit(1)).cast("long").as("converters_any"))
          .orderBy("win_hours")
      }),

    // Beta-binomial posterior for the purchase rate: prior Beta(2, 8),
    // exact posterior parameters, posterior mean and MAP as integer
    // micro ratios, and the normal-approximation 95% interval as one
    // sqrt chain. The Bayesian one-liner behind every "probability the
    // variant is better" dashboard — here with the arithmetic pinned.
    Q("stats_beta_binomial",
      Some(
        """WITH d AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
          |    END) AS BIGINT) AS x FROM events),
          |p AS (SELECT n, x, x + 2 AS a, n - x + 8 AS b FROM d)
          |SELECT n, x, a AS alpha_post, b AS beta_post,
          |  CAST(a * 1000000 // (a + b) AS BIGINT) AS mean_micro,
          |  CAST((a - 1) * 1000000 // (a + b - 2) AS BIGINT)
          |    AS map_micro,
          |  CAST(floor(CAST(a AS DOUBLE) / CAST(a + b AS DOUBLE)
          |    - 1.9599639845400545 * sqrt(CAST(a AS DOUBLE)
          |      * CAST(b AS DOUBLE) / (CAST(a + b AS DOUBLE)
          |      * CAST(a + b AS DOUBLE) * CAST(a + b + 1 AS DOUBLE)))
          |    * 1000000.0) AS BIGINT) AS ci_lo_micro,
          |  CAST(floor(CAST(a AS DOUBLE) / CAST(a + b AS DOUBLE)
          |    + 1.9599639845400545 * sqrt(CAST(a AS DOUBLE)
          |      * CAST(b AS DOUBLE) / (CAST(a + b AS DOUBLE)
          |      * CAST(a + b AS DOUBLE) * CAST(a + b + 1 AS DOUBLE)))
          |    * 1000000.0) AS BIGINT) AS ci_hi_micro
          |FROM p
          |""".stripMargin),
      (s, dir) => {
        H.events(s, dir)
          .agg(count(lit(1)).cast("long").as("n"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .cast("long").as("x"))
          .createOrReplaceTempView("bb_counts")
        s.sql(
          """WITH p AS (SELECT n, x, x + 2 AS a, n - x + 8 AS b
            |  FROM bb_counts)
            |SELECT n, x, a AS alpha_post, b AS beta_post,
            |  CAST(a * 1000000 div (a + b) AS BIGINT) AS mean_micro,
            |  CAST((a - 1) * 1000000 div (a + b - 2) AS BIGINT)
            |    AS map_micro,
            |  CAST(floor(CAST(a AS DOUBLE) / CAST(a + b AS DOUBLE)
            |    - 1.9599639845400545d * sqrt(CAST(a AS DOUBLE)
            |      * CAST(b AS DOUBLE) / (CAST(a + b AS DOUBLE)
            |      * CAST(a + b AS DOUBLE) * CAST(a + b + 1 AS DOUBLE)))
            |    * 1000000.0d) AS BIGINT) AS ci_lo_micro,
            |  CAST(floor(CAST(a AS DOUBLE) / CAST(a + b AS DOUBLE)
            |    + 1.9599639845400545d * sqrt(CAST(a AS DOUBLE)
            |      * CAST(b AS DOUBLE) / (CAST(a + b AS DOUBLE)
            |      * CAST(a + b AS DOUBLE) * CAST(a + b + 1 AS DOUBLE)))
            |    * 1000000.0d) AS BIGINT) AS ci_hi_micro
            |FROM p
            |""".stripMargin)
      }),

    // Variance decomposition of document length: how much of the
    // n_chars variance does language explain vs source? One-way η² per
    // factor, every SS term an exact milli integer (squares through
    // HUGEINT/DECIMAL, per-group denominators divided out BEFORE the
    // cross-group sum). The "which partition key captures the
    // structure" question, answered exactly.
    Q("stats_variance_decomposition",
      Some(
        """WITH b AS (SELECT lang, source, n_chars AS v FROM documents),
          |g AS (SELECT 'lang' AS factor, lang AS grp,
          |    CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT)
          |      AS s, CAST(sum(v*v) AS BIGINT) AS q
          |  FROM b GROUP BY 1, 2
          |  UNION ALL SELECT 'source', source, CAST(count(*) AS BIGINT),
          |    CAST(sum(v) AS BIGINT), CAST(sum(v*v) AS BIGINT)
          |  FROM b GROUP BY 1, 2),
          |w AS (SELECT factor, CAST(count(*) AS BIGINT) AS k,
          |  CAST(sum(q*1000 - CAST(s AS HUGEINT)*s*1000 // n) AS BIGINT)
          |    AS ssw_milli,
          |  CAST(sum(n) AS BIGINT) AS nn, CAST(sum(s) AS BIGINT) AS st,
          |  CAST(sum(q) AS BIGINT) AS qt FROM g GROUP BY 1)
          |SELECT factor, k AS n_groups, nn AS n_docs,
          |  CAST(qt*1000 - CAST(st AS HUGEINT)*st*1000 // nn AS BIGINT)
          |    AS sst_milli, ssw_milli,
          |  CAST(((qt*1000 - CAST(st AS HUGEINT)*st*1000 // nn)
          |    - ssw_milli) * 1000000
          |    // (qt*1000 - CAST(st AS HUGEINT)*st*1000 // nn)
          |    AS BIGINT) AS eta2_micro
          |FROM w ORDER BY 1
          |""".stripMargin),
      (s, dir) => {
        val b = tbl(s, dir, "documents")
          .select(col("lang"), col("source"), col("n_chars").as("v"))
        def fac(name: String, g: org.apache.spark.sql.Column) =
          b.groupBy(g.as("grp"))
            .agg(count(lit(1)).cast("long").as("n"),
              sum(col("v")).cast("long").as("s"),
              sum(col("v") * col("v")).cast("long").as("q"))
            .select(lit(name).as("factor"), col("grp"), col("n"),
              col("s"), col("q"))
        val g = fac("lang", col("lang"))
          .unionByName(fac("source", col("source")))
        g.groupBy("factor")
          .agg(count(lit(1)).cast("long").as("k"),
            sum(expr(
              "q*1000 - CAST(s AS DECIMAL(38,0))*s*1000 div n"))
              .cast("long").as("ssw_milli"),
            sum(col("n")).cast("long").as("nn"),
            sum(col("s")).cast("long").as("st"),
            sum(col("q")).cast("long").as("qt"))
          .select(col("factor"), col("k").as("n_groups"),
            col("nn").as("n_docs"),
            expr("qt*1000 - CAST(st AS DECIMAL(38,0))*st*1000 div nn")
              .cast("long").as("sst_milli"),
            col("ssw_milli"),
            expr("((qt*1000 - CAST(st AS DECIMAL(38,0))*st*1000 div nn)" +
              " - ssw_milli) * 1000000 div (qt*1000" +
              " - CAST(st AS DECIMAL(38,0))*st*1000 div nn)")
              .cast("long").as("eta2_micro"))
          .orderBy("factor")
      })
  )
}
