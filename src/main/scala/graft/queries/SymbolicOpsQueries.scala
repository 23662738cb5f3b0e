package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Thirty-fifth wave: SAX symbolic discretization, Markov stationary
  * distributions, and Bloom-gated membership — three ops whose usual
  * float math (z-scores, matrix powers, hash probabilities) is
  * re-derived here in EXACT integer form so the engine/oracle hash
  * compare stays bit-tight.
  */
object SymbolicOpsQueries extends QueryModule {

  def all: Seq[Q] = Seq(

    // SAX (Lin et al. 2003): piecewise-aggregate the per-type daily
    // count series into 6 segment sums, z-normalize, quantize against
    // the Gaussian breakpoints for alphabet size 4 (±0.6745, 0). The
    // z-comparison never computes a z-score: with D_j = 6·s_j − Σs and
    // V = 6·Σs² − (Σs)², z_j < b ⟺ sign/square comparison of
    // D_j²·10⁸ against 45495025·V (0.6745² = 0.45495025 EXACTLY) — the
    // whole symbolization is integer compares. Breakpoint constants are
    // published; no sqrt, no division.
    Q("ts_sax_words",
      Some("WITH daily AS (SELECT event_type, " +
        "CAST(strftime(ts, '%d') AS BIGINT) AS day, count(*) AS c " +
        "FROM events GROUP BY event_type, day), " +
        "seg AS (SELECT event_type, (day - 1) // 5 AS sg, " +
        "CAST(sum(c) AS BIGINT) AS s FROM daily WHERE day <= 30 " +
        "GROUP BY event_type, (day - 1) // 5), " +
        "stats AS (SELECT event_type, CAST(sum(s) AS BIGINT) AS ts_, " +
        "CAST(6 * sum(s * s) - sum(s) * sum(s) AS BIGINT) AS v FROM seg " +
        "GROUP BY event_type), " +
        "z AS (SELECT g.event_type, g.sg, g.s, 6 * g.s - t.ts_ AS d, t.v " +
        "FROM seg g JOIN stats t ON t.event_type = g.event_type), " +
        "sym AS (SELECT event_type, sg, s, CASE " +
        "WHEN d < 0 AND d * d * 100000000 > 45495025 * v THEN 'a' " +
        "WHEN d < 0 THEN 'b' " +
        "WHEN d * d * 100000000 < 45495025 * v THEN 'c' " +
        "ELSE 'd' END AS sym FROM z) " +
        "SELECT event_type, string_agg(sym, '' ORDER BY sg) AS sax_word, " +
        "CAST(sum(s) AS BIGINT) AS total " +
        "FROM sym GROUP BY event_type ORDER BY event_type"),
      (s, dir) => {
        val daily = H.events(s, dir)
          .select(col("event_type"),
            date_format(col("ts"), "d").cast("long").as("day"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
        val seg = daily.filter(col("day") <= 30)
          .groupBy(col("event_type"), expr("(day - 1) div 5").as("sg"))
          .agg(sum("c").cast("long").as("s"))
        val stats = seg.groupBy(col("event_type").as("et"))
          .agg(sum("s").cast("long").as("ts_"),
            (lit(6L) * sum(col("s") * col("s")) - sum("s") * sum("s"))
              .cast("long").as("v"))
        val z = seg.join(stats, col("et") === col("event_type"))
          .select(col("event_type"), col("sg"), col("s"),
            (lit(6L) * col("s") - col("ts_")).as("d"), col("v"))
        val sym = z.select(col("event_type"), col("sg"), col("s"),
          when(col("d") < 0 &&
              col("d") * col("d") * 100000000L > lit(45495025L) * col("v"), "a")
            .when(col("d") < 0, "b")
            .when(col("d") * col("d") * 100000000L < lit(45495025L) * col("v"), "c")
            .otherwise("d").as("sym"))
        sym.groupBy("event_type")
          .agg(array_join(transform(array_sort(collect_list(struct(col("sg"),
              col("sym")))), x => x.getField("sym")), "").as("sax_word"),
            sum("s").cast("long").as("total"))
          .orderBy("event_type")
      }),

    // Stationary distribution of the event-type transition chain: three
    // exact-integer power iterations over the 5×5 count matrix —
    // v'[j] = Σᵢ (v[i]·c(i,j)) div c(i) with micro-scaled v. The matrix
    // reduces ONCE from the event stream (the O(|events|) pass); the
    // iterations run on the 5-row type domain. Same integer-iteration
    // discipline as graph_pagerank/graph_hits.
    Q("events_markov_stationary",
      Some {
        def round(i: Int, o: Int) =
          s"v$o AS (SELECT t.dst AS et, CAST(sum((v$i.p * t.c) // t.rs) AS BIGINT) AS p " +
            s"FROM trans t JOIN v$i ON v$i.et = t.src GROUP BY t.dst)"
        "WITH e AS (SELECT user_id, event_type, ts, event_id FROM events), " +
          "bg AS (SELECT event_type AS dst, lag(event_type) OVER " +
          "(PARTITION BY user_id ORDER BY ts, event_id) AS src FROM e), " +
          "cnt AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS c FROM bg " +
          "WHERE src IS NOT NULL GROUP BY src, dst), " +
          "trans AS (SELECT src, dst, c, CAST(sum(c) OVER (PARTITION BY src) AS BIGINT) AS rs " +
          "FROM cnt), " +
          "v0 AS (SELECT DISTINCT src AS et, CAST(1000000 AS BIGINT) AS p FROM cnt), " +
          round(0, 1) + ", " + round(1, 2) + ", " + round(2, 3) + " " +
          "SELECT et AS event_type, p AS stat_micro FROM v3 ORDER BY et"
      },
      (s, dir) => {
        val e = H.events(s, dir)
        val bg = e.select(col("event_type").as("dst"),
          lag("event_type", 1).over(Window.partitionBy("user_id")
            .orderBy("ts", "event_id")).as("src"))
        val cnt = bg.filter(col("src").isNotNull)
          .groupBy("src", "dst").agg(count(lit(1)).cast("long").as("c"))
          .localCheckpoint() // the O(|events|) reduce happens once; three
        // iteration rounds and the row-sum window all read this 25-row frame
        val trans = cnt.withColumn("rs",
          sum("c").over(Window.partitionBy("src")).cast("long"))
        var v = cnt.select(col("src").as("et")).distinct()
          .withColumn("p", lit(1000000L))
        for (_ <- 1 to 3)
          v = trans.join(v.withColumnRenamed("et", "vet"),
              col("vet") === col("src"))
            .groupBy(col("dst").as("et"))
            .agg(sum(expr("(p * c) div rs")).cast("long").as("p"))
        H.materialized(
          v.select(col("et").as("event_type"), col("p").as("stat_micro"))
            .orderBy("event_type"),
          caches = Nil, checkpoints = Seq(cnt))
      }),

    // Bloom-gated incremental dedup: a 65536-bit filter (1024 BIGINT words, 8 KB broadcast; in production m tracks the shard key count,
    // bit_or aggregation — sketch bytes, not rows, cross the shuffle)
    // built over the base shard's text hashes, broadcast to gate the
    // delta shard. k = 4 probe positions come from md5 nibbles. The
    // Bloom CONTRACT is part of the output: false negatives are
    // structurally impossible (fn is computed and must be 0), false
    // positives are counted against the exact answer. Sign-bit packing:
    // bit 63 adds as the two's-complement constant (DuckDB's << rejects
    // 1 << 63).
    Q("dedup_bloom_gate",
      Some {
        val positions = Seq(0, 8, 16, 24)
          .map(o => H.hexSql(s"substr(h, ${o + 1}, 4)")).mkString(", ")
        "WITH docs AS (SELECT doc_id, md5(text) AS h FROM documents), " +
          "base AS (SELECT * FROM docs WHERE doc_id % 3 <> 0), " +
          "delta AS (SELECT * FROM docs WHERE doc_id % 7 = 0), " +
          s"bpos AS (SELECT doc_id, unnest([$positions]) AS p FROM base), " +
          "filt AS (SELECT p // 64 AS w, bit_or(CASE WHEN p % 64 = 63 " +
          "THEN CAST(-9223372036854775807 AS BIGINT) - 1 " +
          "ELSE CAST(1 AS BIGINT) << CAST(p % 64 AS INTEGER) END) AS bits " +
          "FROM bpos GROUP BY p // 64), " +
          s"dpos AS (SELECT doc_id, h, unnest([$positions]) AS p FROM delta), " +
          "probe AS (SELECT d.doc_id, d.h, " +
          "CASE WHEN min(CASE WHEN (f.bits & (CASE WHEN d.p % 64 = 63 " +
          "THEN CAST(-9223372036854775807 AS BIGINT) - 1 " +
          "ELSE CAST(1 AS BIGINT) << CAST(d.p % 64 AS INTEGER) END)) <> 0 THEN 1 ELSE 0 END) = 1 " +
          "THEN 1 ELSE 0 END AS hit " +
          "FROM dpos d JOIN filt f ON f.w = d.p // 64 GROUP BY d.doc_id, d.h), " +
          "truth AS (SELECT p.doc_id, p.hit, " +
          "CASE WHEN EXISTS (SELECT 1 FROM base b WHERE b.h = p.h) THEN 1 ELSE 0 END AS present " +
          "FROM probe p) " +
          "SELECT CAST(sum(CASE WHEN hit = 1 AND present = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
          "CAST(sum(CASE WHEN hit = 1 AND present = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp, " +
          "CAST(sum(CASE WHEN hit = 0 AND present = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn, " +
          "CAST(sum(CASE WHEN hit = 0 AND present = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn " +
          "FROM truth"
      },
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
          .select(col("doc_id"), md5(col("text")).as("h")).localCheckpoint()
        val base = docs.filter(col("doc_id") % 3 =!= 0)
        val delta = docs.filter(col("doc_id") % 7 === 0)
        val posArr = array(Seq(0, 8, 16, 24).map(o =>
          conv(substring(col("h"), o + 1, 4), 16, 10).cast("int")): _*)
        val bitOf = "CASE WHEN p % 64 = 63 " +
          "THEN CAST(-9223372036854775807 AS BIGINT) - 1 " +
          "ELSE shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)) END"
        val filt = base.select(explode(posArr).as("p"))
          .groupBy(expr("p div 64").as("w"))
          .agg(expr(s"bit_or($bitOf)").as("bits"))
        val probe = delta.select(col("doc_id"), col("h"),
            explode(posArr).as("p"))
          .join(broadcast(filt), expr("p div 64") === col("w"))
          .groupBy("doc_id", "h")
          .agg(min(expr(s"CASE WHEN (bits & ($bitOf)) <> 0 THEN 1 ELSE 0 END"))
            .as("hit"))
        val truth = probe.join(
            base.select(col("h").as("bh")).distinct(),
            col("h") === col("bh"), "left")
          .select(col("hit"), when(col("bh").isNotNull, 1).otherwise(0).as("present"))
        H.materialized(
          truth.agg(
            sum(when(col("hit") === 1 && col("present") === 1, 1L).otherwise(0L))
              .cast("long").as("tp"),
            sum(when(col("hit") === 1 && col("present") === 0, 1L).otherwise(0L))
              .cast("long").as("fp"),
            sum(when(col("hit") === 0 && col("present") === 0, 1L).otherwise(0L))
              .cast("long").as("tn"),
            sum(when(col("hit") === 0 && col("present") === 1, 1L).otherwise(0L))
              .cast("long").as("fn")),
          caches = Nil, checkpoints = Seq(docs))
      }))
}
