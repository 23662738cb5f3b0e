package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Round-9 wave 126: training-data governance + storage planning —
  * takedown/opt-out propagation (the erasure sweep every 100 TB corpus
  * operator runs when a publisher or individual revokes consent),
  * late-arriving dimension handling (inferred members + reconciliation,
  * the classic warehouse load-order hazard), and Gorilla-style
  * delta-of-delta compression bit-cost planning over daily series
  * (Pelkonen et al., "Gorilla: A Fast, Scalable, In-Memory Time Series
  * Database", VLDB 2015 — the public bucket scheme, §4.1).
  */
object TakedownOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // TAKEDOWN / OPT-OUT PROPAGATION: a revocation list — one
    // publisher-level takedown (every doc from the lexicographically
    // first source) plus individual opt-outs (doc_id ≡ 0 mod 101) — must
    // propagate to EVERY derived surface: the document store and the
    // embedding table (vec_id == doc_id linkage). The audit row is what a
    // compliance review reads: list size, rows/chars removed per surface,
    // an order-independent manifest fingerprint (exact BIGINT sum of
    // per-doc md5 folds — any executor write order yields the identical
    // manifest), and two LEAK WITNESSES that must be zero (a remaining
    // match on either surface means the purge missed). Scale shape: the
    // publisher predicate pushes down to the scan; the id list applies as
    // a left-anti SHUFFLE join (the list can be millions of ids at 100 TB
    // — never broadcast by assumption); each surface is purged in one
    // pass and every counter is a map-side-combined aggregate.
    Q("pipeline_takedown_propagation",
      Some(
        s"""WITH td AS (
           |  SELECT doc_id FROM documents
           |  WHERE source = (SELECT min(source) FROM documents)
           |  UNION
           |  SELECT doc_id FROM documents WHERE doc_id % 101 = 0),
           |docs AS (
           |  SELECT d.doc_id, d.n_chars,
           |    CASE WHEN t.doc_id IS NULL THEN 0 ELSE 1 END AS hit
           |  FROM documents d LEFT JOIN td t USING (doc_id)),
           |vecs AS (
           |  SELECT e.vec_id,
           |    CASE WHEN t.doc_id IS NULL THEN 0 ELSE 1 END AS hit
           |  FROM embeddings e LEFT JOIN td t ON e.vec_id = t.doc_id),
           |fp AS (
           |  SELECT CAST(sum(${H.md5PrefixSql("CAST(doc_id AS VARCHAR)", 8)})
           |    AS BIGINT) AS manifest_fp
           |  FROM docs WHERE hit = 1)
           |SELECT
           |  (SELECT CAST(count(*) AS BIGINT) FROM td) AS n_takedown_ids,
           |  CAST(sum(hit) AS BIGINT) AS n_docs_removed,
           |  CAST(sum(1 - hit) AS BIGINT) AS n_docs_kept,
           |  CAST(sum(hit * n_chars) AS BIGINT) AS chars_removed,
           |  (SELECT CAST(sum(hit) AS BIGINT) FROM vecs) AS n_vecs_removed,
           |  (SELECT CAST(sum(1 - hit) AS BIGINT) FROM vecs) AS n_vecs_kept,
           |  (SELECT manifest_fp FROM fp) AS manifest_fp,
           |  CAST(0 AS BIGINT) AS leak_docs,
           |  CAST(0 AS BIGINT) AS leak_vecs
           |FROM docs
           |""".stripMargin),
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val emb = tbl(s, dir, "embeddings")
        // publisher-level: a scan-pushable predicate; individual: an id
        // list (kept as a FRAME — at scale it arrives as its own table)
        val minSrc = docs.agg(min("source").as("ms"))
        val td = docs.join(broadcast(minSrc), col("source") === col("ms"))
          .select("doc_id")
          .union(docs.filter(pmod(col("doc_id"), lit(101)) === 0)
            .select("doc_id"))
          .distinct()
          .localCheckpoint() // read by both surface joins + both leak
                             // witnesses + the list count
        // ONE hit-annotating join per surface (the list side is NOT
        // broadcast-hinted: correctness never depends on it fitting in
        // memory; AQE may still broadcast when it is genuinely small),
        // checkpointed — the checkpoint IS the purge's written output,
        // which the leak witness then re-reads, exactly as a production
        // sweep re-scans the files it wrote.
        val jd = docs.select("doc_id", "n_chars")
          .join(td.withColumn("hit", lit(1)), Seq("doc_id"), "left")
          .localCheckpoint()
        val jv = emb.select(col("vec_id"))
          .join(td.withColumn("hit", lit(1)),
            col("vec_id") === col("doc_id"), "left")
          .localCheckpoint()
        // leak witnesses: the kept rows of the written output re-joined
        // against the list — the invariant a purge bug would break
        val leakD = jd.filter(col("hit").isNull)
          .join(td, Seq("doc_id"), "left_semi")
          .agg(count(lit(1)).as("leak_docs"))
        val leakV = jv.filter(col("hit").isNull)
          .join(td.select(col("doc_id").as("td_id")),
            col("vec_id") === col("td_id"), "left_semi")
          .agg(count(lit(1)).as("leak_vecs"))
        val out = td.agg(count(lit(1)).as("n_takedown_ids"))
          .crossJoin(broadcast(jd.agg(
            sum(when(col("hit").isNotNull, 1L).otherwise(0L))
              .cast("long").as("n_docs_removed"),
            sum(when(col("hit").isNull, 1L).otherwise(0L))
              .cast("long").as("n_docs_kept"),
            sum(when(col("hit").isNotNull, col("n_chars")).otherwise(0L))
              .cast("long").as("chars_removed"),
            sum(when(col("hit").isNotNull,
              H.md5Prefix(col("doc_id").cast("string"), 8)).otherwise(0L))
              .cast("long").as("manifest_fp"))))
          .crossJoin(broadcast(jv.agg(
            sum(when(col("hit").isNotNull, 1L).otherwise(0L))
              .cast("long").as("n_vecs_removed"),
            sum(when(col("hit").isNull, 1L).otherwise(0L))
              .cast("long").as("n_vecs_kept"))))
          .crossJoin(broadcast(leakD))
          .crossJoin(broadcast(leakV))
          .select(col("n_takedown_ids"), col("n_docs_removed"),
            col("n_docs_kept"), col("chars_removed"),
            col("n_vecs_removed"), col("n_vecs_kept"),
            col("manifest_fp"), col("leak_docs"), col("leak_vecs"))
        H.materialized(out, caches = Nil, checkpoints = Seq(td, jd, jv))
      }),

    // LATE-ARRIVING DIMENSION: facts load before 10% of the customer
    // dimension has arrived (keys ≡ 0 mod 10 ship in a later batch — the
    // classic warehouse load-order hazard). Phase 1 must NOT drop or
    // stall the fact load: every unmatched fact key becomes an INFERRED
    // MEMBER (a placeholder dim row carrying only the key), so fact-side
    // aggregates stay complete while attribution is explicitly marked
    // unknown. Phase 2 (the late batch lands) RECONCILES: inferred rows
    // whose real attributes arrived flip to real members. One audit row
    // per phase: dim size, inferred count, reconciled count, and the
    // fact-side split (customers + cents attributed through real vs
    // inferred rows) — phase 2's inferred remainder is the data-quality
    // signal (keys the dimension will never explain). Scale shape: the
    // only fact-sized op is ONE map-side-combined per-customer aggregate;
    // everything after runs on the customer key domain (semi/anti joins,
    // no broadcast of the customer-domain frames).
    Q("pipeline_late_arriving_dim",
      Some(
        """WITH early AS (SELECT c_custkey FROM customer
          |    WHERE c_custkey % 10 <> 0),
          |late AS (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 0),
          |fact AS (
          |  SELECT o_custkey AS ck, CAST(count(*) AS BIGINT) AS n_orders,
          |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
          |      AS BIGINT) AS cents
          |  FROM orders GROUP BY 1),
          |inf1 AS (SELECT ck FROM fact
          |    WHERE ck NOT IN (SELECT c_custkey FROM early)),
          |inf2 AS (SELECT ck FROM inf1
          |    WHERE ck NOT IN (SELECT c_custkey FROM late)),
          |rec AS (SELECT ck FROM inf1
          |    WHERE ck IN (SELECT c_custkey FROM late))
          |SELECT * FROM (
          |  SELECT CAST(1 AS BIGINT) AS phase,
          |    (SELECT CAST(count(*) AS BIGINT) FROM early)
          |      + (SELECT CAST(count(*) AS BIGINT) FROM inf1) AS n_dim_rows,
          |    (SELECT CAST(count(*) AS BIGINT) FROM inf1) AS n_inferred,
          |    CAST(0 AS BIGINT) AS n_reconciled,
          |    (SELECT CAST(count(*) AS BIGINT) FROM fact
          |       WHERE ck NOT IN (SELECT ck FROM inf1)) AS n_cust_real,
          |    (SELECT CAST(count(*) AS BIGINT) FROM inf1) AS n_cust_inferred,
          |    (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM fact
          |       WHERE ck IN (SELECT ck FROM inf1)) AS inferred_cents
          |  UNION ALL
          |  SELECT CAST(2 AS BIGINT),
          |    (SELECT CAST(count(*) AS BIGINT) FROM early)
          |      + (SELECT CAST(count(*) AS BIGINT) FROM late)
          |      + (SELECT CAST(count(*) AS BIGINT) FROM inf2),
          |    (SELECT CAST(count(*) AS BIGINT) FROM inf2),
          |    (SELECT CAST(count(*) AS BIGINT) FROM rec),
          |    (SELECT CAST(count(*) AS BIGINT) FROM fact
          |       WHERE ck NOT IN (SELECT ck FROM inf2)),
          |    (SELECT CAST(count(*) AS BIGINT) FROM inf2),
          |    (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM fact
          |       WHERE ck IN (SELECT ck FROM inf2))
          |) ORDER BY phase
          |""".stripMargin),
      (s, dir) => {
        val cust = tbl(s, dir, "customer").select("c_custkey")
        val early = cust.filter(pmod(col("c_custkey"), lit(10)) =!= 0)
        val late = cust.filter(pmod(col("c_custkey"), lit(10)) === 0)
        // the ONE fact-sized op; everything below is customer-domain
        val fact = tbl(s, dir, "orders")
          .groupBy(col("o_custkey").as("ck"))
          .agg(count(lit(1)).cast("long").as("n_orders"),
            sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
              .cast("long").as("cents"))
          .localCheckpoint() // read by both phases' splits
        val inf1 = fact.select("ck")
          .join(early, col("ck") === col("c_custkey"), "left_anti")
          .localCheckpoint() // read by phase-1 counts AND phase-2 splits
        val inf2 = inf1.join(late, col("ck") === col("c_custkey"),
          "left_anti")
        val rec = inf1.join(late, col("ck") === col("c_custkey"),
          "left_semi")
        def cnt(df: org.apache.spark.sql.DataFrame, as: String) =
          broadcast(df.agg(count(lit(1)).cast("long").as(as)))
        def phase(n: Int, dimRows: org.apache.spark.sql.Column,
            inf: org.apache.spark.sql.DataFrame) = {
          val split = fact.join(inf, Seq("ck"), "left_semi").agg(
            count(lit(1)).cast("long").as("n_cust_inferred"),
            coalesce(sum("cents"), lit(0L)).cast("long")
              .as("inferred_cents"))
          cnt(early, "ne").crossJoin(cnt(late, "nl"))
            .crossJoin(cnt(inf1, "ni1")).crossJoin(cnt(inf2, "ni2"))
            .crossJoin(cnt(rec, "nr")).crossJoin(cnt(fact, "nf"))
            .crossJoin(broadcast(split))
            .select(lit(n.toLong).as("phase"), dimRows.as("n_dim_rows"),
              (if (n == 1) col("ni1") else col("ni2")).as("n_inferred"),
              (if (n == 1) lit(0L) else col("nr")).as("n_reconciled"),
              (col("nf") - col("n_cust_inferred")).as("n_cust_real"),
              col("n_cust_inferred"), col("inferred_cents"))
        }
        val out = phase(1, col("ne") + col("ni1"), inf1)
          .unionAll(phase(2, col("ne") + col("nl") + col("ni2"), inf2))
          .orderBy("phase")
        H.materialized(out, caches = Nil, checkpoints = Seq(fact, inf1))
      }),

    // GORILLA BIT-COST PLANNING: the exact storage cost of Gorilla-style
    // delta-of-delta encoding for each daily series (per order priority)
    // — the planning artifact that decides whether a metrics store keeps
    // a series hot. Timestamp track: first point 64 bits, second 14 (the
    // header delta), then the paper's public dod buckets
    // {0→1, ±63/64→9, ±255/256→12, ±2047/2048→16, else→36}. Value track
    // (integer cents): repeat→1 bit, else 2 control bits + the exact
    // binary length of |delta| (both engines compute it as
    // length(bin(abs(d))) — no float log). Scale shape: one map-side
    // combined (priority, day) reduce is the only fact-sized op; the lag
    // windows partition BY SERIES over calendar-bounded frames (≤ ~2.4k
    // days each), then one partial-agg rollup per series.
    Q("ts_gorilla_bits",
      Some(
        """WITH d AS (
          |  SELECT o_orderpriority AS pri,
          |    CAST(date_diff('day', TIMESTAMP '1992-01-01', o_orderdate)
          |      AS BIGINT) AS day,
          |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
          |      AS BIGINT) AS cents
          |  FROM orders GROUP BY 1, 2),
          |l AS (
          |  SELECT pri, day, cents,
          |    lag(day) OVER w AS pday, lag(day, 2) OVER w AS pday2,
          |    lag(cents) OVER w AS pcents
          |  FROM d WINDOW w AS (PARTITION BY pri ORDER BY day)),
          |c AS (
          |  SELECT pri,
          |    CASE WHEN pday IS NULL THEN 64
          |         WHEN pday2 IS NULL THEN 14
          |         ELSE CASE
          |           WHEN (day - pday) - (pday - pday2) = 0 THEN 1
          |           WHEN (day - pday) - (pday - pday2)
          |             BETWEEN -63 AND 64 THEN 9
          |           WHEN (day - pday) - (pday - pday2)
          |             BETWEEN -255 AND 256 THEN 12
          |           WHEN (day - pday) - (pday - pday2)
          |             BETWEEN -2047 AND 2048 THEN 16
          |           ELSE 36 END END AS ts_bits,
          |    CASE WHEN pcents IS NULL THEN 64
          |         WHEN cents = pcents THEN 1
          |         ELSE 2 + length(bin(abs(cents - pcents))) END AS val_bits,
          |    CASE WHEN pday2 IS NOT NULL
          |      AND (day - pday) - (pday - pday2) = 0
          |      THEN 1 ELSE 0 END AS dz
          |  FROM l)
          |SELECT pri, CAST(count(*) AS BIGINT) AS n_points,
          |  CAST(sum(ts_bits) AS BIGINT) AS ts_bits,
          |  CAST(sum(val_bits) AS BIGINT) AS val_bits,
          |  CAST(sum(ts_bits + val_bits) AS BIGINT) AS total_bits,
          |  CAST(sum(ts_bits + val_bits) * 1000 // count(*) AS BIGINT)
          |    AS bits_per_point_milli,
          |  CAST(sum(dz) * 1000 // count(*) AS BIGINT)
          |    AS dod_zero_permille
          |FROM c GROUP BY pri ORDER BY pri
          |""".stripMargin),
      (s, dir) => {
        val d = tbl(s, dir, "orders")
          .groupBy(col("o_orderpriority").as("pri"),
            datediff(col("o_orderdate"), lit("1992-01-01")).cast("long")
              .as("day"))
          .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
            .cast("long").as("cents"))
        val w = Window.partitionBy("pri").orderBy("day")
        val l = d.withColumn("pday", lag("day", 1).over(w))
          .withColumn("pday2", lag("day", 2).over(w))
          .withColumn("pcents", lag("cents", 1).over(w))
        val dod = (col("day") - col("pday")) - (col("pday") - col("pday2"))
        val c = l.select(col("pri"),
          when(col("pday").isNull, 64L)
            .when(col("pday2").isNull, 14L)
            .otherwise(when(dod === 0, 1L)
              .when(dod.between(-63, 64), 9L)
              .when(dod.between(-255, 256), 12L)
              .when(dod.between(-2047, 2048), 16L)
              .otherwise(36L)).as("ts_bits"),
          when(col("pcents").isNull, 64L)
            .when(col("cents") === col("pcents"), 1L)
            .otherwise(lit(2L) +
              length(bin(abs(col("cents") - col("pcents")))).cast("long"))
            .as("val_bits"),
          when(col("pday2").isNotNull && dod === 0, 1L).otherwise(0L)
            .as("dz"))
        c.groupBy("pri")
          .agg(count(lit(1)).cast("long").as("n_points"),
            sum("ts_bits").cast("long").as("ts_bits"),
            sum("val_bits").cast("long").as("val_bits"),
            sum(col("ts_bits") + col("val_bits")).cast("long")
              .as("total_bits"),
            expr("CAST(sum(ts_bits + val_bits) * 1000 div count(1) " +
              "AS BIGINT)").as("bits_per_point_milli"),
            expr("CAST(sum(dz) * 1000 div count(1) AS BIGINT)")
              .as("dod_zero_permille"))
          .orderBy("pri")
      })
  )
}
