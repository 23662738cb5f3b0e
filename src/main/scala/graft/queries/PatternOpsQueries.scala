package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, GroupState, OutputMode}
import graft.{H, Q, QueryModule}
import graft.H.{tbl, fmtTs}
import graft.functions.{DedupSketches => DS}

/** Encoder case classes for the streaming CEP query. */
final case class CepEv(event_id: Long, user_id: Long, event_type: String,
    ts_us: Long)
final case class CepSt(lastView: Long, lastClick: Long)
final case class CepHit(user_id: Long, v_us: Long, c_us: Long, p_us: Long,
    p_event_id: Long)

/** Thirty-first wave: pattern detection and sketch-compression ops —
  * streaming CEP (view→click→purchase within a bound, arbitrary state
  * across replayed micro-batches), b-bit minwise hashing (the
  * signature-compression trick that makes billion-doc MinHash storage
  * practical), a k-anonymity generalization ladder, and item co-purchase
  * mining with naturally bounded pair fanout.
  */
object PatternOpsQueries extends QueryModule {

  private val F6 = "%Y-%m-%d %H:%M:%S.%f"
  private val DayUs = 86400000000L // 24 h in micros — the pattern gap bound

  def all: Seq[Q] = Seq(

    // Streaming complex-event detection: the classic funnel pattern
    // view → click → purchase, each gap ≤ 24 h, matched per user with a
    // LAST-qualifying-event state machine held in flatMapGroupsWithState.
    // The replay splits the corpus into three event-time-ordered
    // micro-batches (day ranges), so partial patterns genuinely span
    // batches and the per-user state (last view, last armed click — two
    // longs, O(1) per key regardless of history) carries them across.
    // A view resets the armed click; the oracle expresses the same
    // semantics with two running-max windows (latest armed click vs
    // latest view) — the state machine and the window form are provably
    // the same function of the ordered event sequence.
    Q("stream_cep_funnel",
      Some("WITH e AS (SELECT user_id, ts, event_id, event_type FROM events), " +
        "r AS (SELECT *, max(CASE WHEN event_type = 'view' THEN ts END) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv FROM e), " +
        "c AS (SELECT user_id, ts, event_id, event_type, " +
        "CASE WHEN event_type = 'click' AND pv IS NOT NULL " +
        "AND ts - pv <= INTERVAL '24 hours' THEN ts END AS armed, " +
        "CASE WHEN event_type = 'view' THEN ts END AS vts FROM r), " +
        "p AS (SELECT *, max(armed) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lc, " +
        "max(vts) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lv FROM c), " +
        "m AS (SELECT user_id, lv, lc, ts AS pts, event_id AS p_event_id FROM p " +
        "WHERE event_type = 'purchase' AND lc IS NOT NULL " +
        "AND (lv IS NULL OR lc >= lv) AND ts - lc <= INTERVAL '24 hours') " +
        s"SELECT user_id, strftime(lv, '$F6') AS v_ts, " +
        s"strftime(lc, '$F6') AS c_ts, strftime(pts, '$F6') AS p_ts, " +
        "p_event_id FROM m ORDER BY user_id, p_event_id"),
      (s, dir) => {
        import java.nio.file.Files
        import graft.streaming.StreamingRefresh
        val ev = H.events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"))
        val tmp = H.tmpDir("graft_cep")
        val in = s"$tmp/in"; val sink = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
        // day-range batches: per-user arrival order equals event-time
        // order, which is what makes the arrival-order state machine the
        // same function as the oracle's windows
        val d10 = unix_micros(to_timestamp(lit("2024-01-11 00:00:00")))
        val d20 = unix_micros(to_timestamp(lit("2024-01-21 00:00:00")))
        WindowingQueries.writeReplay(Seq(
          ev.filter(col("ts_us") < d10),
          ev.filter(col("ts_us") >= d10 && col("ts_us") < d20),
          ev.filter(col("ts_us") >= d20)), tmp, in)
        val ss = s.newSession()
        ss.conf.set("spark.sql.shuffle.partitions", "4")
        import ss.implicits._
        val matches = StreamingRefresh
          .fileStream(ss, ev.schema, in, maxFilesPerTrigger = Some(1))
          .as[CepEv]
          .groupByKey(_.user_id)
          .flatMapGroupsWithState(
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            (user: Long, rows: Iterator[CepEv], state: GroupState[CepSt]) =>
              var st = state.getOption.getOrElse(CepSt(-1L, -1L))
              val out = Seq.newBuilder[CepHit]
              // within a batch files arrive unordered — sort; across
              // batches the day-range replay guarantees order
              rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
                e.event_type match {
                  case "view" => st = CepSt(e.ts_us, -1L)
                  case "click" =>
                    if (st.lastView >= 0 && e.ts_us - st.lastView <= DayUs)
                      st = CepSt(st.lastView, e.ts_us)
                  case "purchase" =>
                    if (st.lastClick >= 0 && e.ts_us - st.lastClick <= DayUs)
                      out += CepHit(user, st.lastView, st.lastClick,
                        e.ts_us, e.event_id)
                  case _ => ()
                }
              }
              state.update(st)
              out.result().iterator
          }
        val q = matches.writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .format("parquet").option("path", sink)
          .start()
        q.awaitTermination()
        s.read.parquet(sink)
          .select(col("user_id"),
            fmtTs(timestamp_micros(col("v_us"))).as("v_ts"),
            fmtTs(timestamp_micros(col("c_us"))).as("c_ts"),
            fmtTs(timestamp_micros(col("p_us"))).as("p_ts"),
            col("p_event_id"))
          .orderBy("user_id", "p_event_id")
      }),

    // b-bit minwise hashing (Li & Koenig 2010): keep only the lowest
    // b = 2 bits of each of the 12 MinHash values, packed into ONE BIGINT
    // per doc (24 bits) — a 32x signature compression, which is what makes
    // billion-document MinHash tables storable. Jaccard is estimated from
    // the 2-bit agreement rate with the standard bias correction
    // (Ĵ = (m/k − 2^-b)/(1 − 2^-b), clamped at 0, here exact-rational as
    // (4m − k)·1e6 // 3k), and compared against the EXACT shingle Jaccard
    // per candidate pair. Agreement is computed with bit algebra on the
    // packed words — XOR, fold the 2-bit groups with (x | x>>1) & 0x555555,
    // popcount — never a per-hash loop.
    Q("dedup_minhash_bbit",
      Some {
        val packedSql = (0 until DS.NumHashes).map { i =>
          s"(${H.hexSql(s"substr(h$i, 8, 1)")} % 4) * ${1L << (2 * i)}"
        }.mkString(" + ")
        s"WITH sh AS (${DS.shinglesSql(3)}), " +
          s"sig AS (${DS.minhashSignatureSql}), " +
          s"bands AS (${DS.lshBandsSql}), " +
          s"cand AS (${DS.candidatePairsSql}), " +
          s"pk AS (SELECT doc_id, n, CAST($packedSql AS BIGINT) AS packed FROM sig), " +
          "inter AS (SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS ni FROM cand " +
          "JOIN sh sa ON sa.doc_id = doc_a " +
          "JOIN sh sb ON sb.doc_id = doc_b AND sb.shingle = sa.shingle " +
          "GROUP BY doc_a, doc_b), " +
          "scored AS (SELECT c.doc_a, c.doc_b, " +
          s"${DS.NumHashes} - bit_count((xor(pa.packed, pb.packed) | " +
          "(xor(pa.packed, pb.packed) >> 1)) & 5592405) AS m, " +
          "coalesce(i.ni, 0) AS ji_num, " +
          "pa.n + pb.n - coalesce(i.ni, 0) AS ji_den " +
          "FROM cand c JOIN pk pa ON pa.doc_id = c.doc_a " +
          "JOIN pk pb ON pb.doc_id = c.doc_b " +
          "LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b) " +
          s"SELECT doc_a, doc_b, CAST(m AS BIGINT) AS m, " +
          s"(greatest(4 * m - ${DS.NumHashes}, 0) * 1000000) // ${3 * DS.NumHashes} AS est_scaled, " +
          "ji_num, CAST(ji_den AS BIGINT) AS ji_den " +
          "FROM scored ORDER BY doc_a, doc_b"
      },
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val sh = DS.shingles(docs, 3).cache()
        val sig = DS.minhashSignature(sh).cache()
        val cand = DS.candidatePairs(DS.lshBands(sig)).localCheckpoint()
        val packedExpr = (0 until DS.NumHashes)
          .map(i => s"(h$i % 4) * ${1L << (2 * i)}").mkString(" + ")
        val pk = sig.select(col("doc_id"), col("n"),
          expr(s"CAST($packedExpr AS BIGINT)").as("packed"))
        val inter = cand
          .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
          .join(sh.select(col("doc_id").as("doc_b"),
            col("shingle").as("shingle_b")),
            Seq("doc_b")).filter(col("shingle") === col("shingle_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).cast("long").as("ni"))
        val scored = cand
          .join(pk.select(col("doc_id").as("doc_a"), col("n").as("na"),
            col("packed").as("pa")), "doc_a")
          .join(pk.select(col("doc_id").as("doc_b"), col("n").as("nb"),
            col("packed").as("pb")), "doc_b")
          .join(inter, Seq("doc_a", "doc_b"), "left")
          .select(col("doc_a"), col("doc_b"),
            (lit(DS.NumHashes) - expr(
              "bit_count(((pa ^ pb) | ((pa ^ pb) >> 1)) & 5592405)"))
              .cast("long").as("m"),
            coalesce(col("ni"), lit(0L)).as("ji_num"),
            (col("na") + col("nb") - coalesce(col("ni"), lit(0L)))
              .cast("long").as("ji_den"))
        H.materialized(
          scored.select(col("doc_a"), col("doc_b"), col("m"),
            expr(s"(greatest(4 * m - ${DS.NumHashes}, 0) * 1000000) div ${3 * DS.NumHashes}")
              .as("est_scaled"),
            col("ji_num"), col("ji_den"))
            .orderBy("doc_a", "doc_b"),
          caches = Seq(sh, sig), checkpoints = Seq(cand))
      }),

    // k-anonymity generalization ladder: how far must the quasi-identifier
    // coarsen before every equivalence class reaches k = 25? Four levels —
    // (nation, segment) → (region, segment) → (region) → (all) — each one
    // grouped count over the SAME base frame, unioned, with the minimal
    // safe level flagged. All integers; the ladder is the standard
    // Samarati lattice walk restricted to one generalization path.
    Q("privacy_generalization_ladder",
      Some("WITH base AS (SELECT c.c_custkey, c.c_mktsegment AS seg, " +
        "n.n_nationkey AS nat, n.n_regionkey AS reg " +
        "FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey), " +
        "l0 AS (SELECT 0 AS lvl, count(*) AS sz FROM base GROUP BY nat, seg), " +
        "l1 AS (SELECT 1 AS lvl, count(*) AS sz FROM base GROUP BY reg, seg), " +
        "l2 AS (SELECT 2 AS lvl, count(*) AS sz FROM base GROUP BY reg), " +
        "l3 AS (SELECT 3 AS lvl, count(*) AS sz FROM base), " +
        "lv AS (SELECT * FROM l0 UNION ALL SELECT * FROM l1 " +
        "UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3), " +
        "agg AS (SELECT lvl, CAST(count(*) AS BIGINT) AS n_classes, " +
        "CAST(min(sz) AS BIGINT) AS min_class, " +
        "CAST(sum(CASE WHEN sz < 25 THEN sz ELSE 0 END) AS BIGINT) AS n_unsafe " +
        "FROM lv GROUP BY lvl), " +
        "chosen AS (SELECT min(lvl) AS clvl FROM agg WHERE n_unsafe = 0) " +
        "SELECT lvl, n_classes, min_class, n_unsafe, " +
        "CASE WHEN lvl = (SELECT clvl FROM chosen) THEN 1 ELSE 0 END AS chosen " +
        "FROM agg ORDER BY lvl"),
      (s, dir) => {
        val base = tbl(s, dir, "customer")
          .join(broadcast(tbl(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_mktsegment").as("seg"),
            col("n_nationkey").as("nat"), col("n_regionkey").as("reg"))
          .localCheckpoint() // four ladder levels scan the same base
        def level(l: Int, keys: Seq[String]) = {
          val g = if (keys.isEmpty) base.groupBy() else base.groupBy(keys.map(col): _*)
          g.agg(count(lit(1)).as("sz")).select(lit(l).as("lvl"), col("sz"))
        }
        val lv = level(0, Seq("nat", "seg"))
          .unionAll(level(1, Seq("reg", "seg")))
          .unionAll(level(2, Seq("reg")))
          .unionAll(level(3, Nil))
        val agg = lv.groupBy("lvl")
          .agg(count(lit(1)).cast("long").as("n_classes"),
            min("sz").cast("long").as("min_class"),
            sum(when(col("sz") < 25, col("sz")).otherwise(0L))
              .cast("long").as("n_unsafe"))
        val chosen = agg.filter(col("n_unsafe") === 0)
          .agg(min("lvl").as("clvl"))
        H.materialized(
          agg.crossJoin(broadcast(chosen))
            .select(col("lvl"), col("n_classes"), col("min_class"),
              col("n_unsafe"),
              when(col("lvl") === col("clvl"), 1).otherwise(0).as("chosen"))
            .orderBy("lvl"),
          caches = Nil, checkpoints = Seq(base))
      }),

    // Item co-purchase mining ("bought X, also bought Y"): distinct
    // (order, part) pairs self-joined per order, pair weights = co-order
    // counts, min support 2, top-3 partners per part. The quadratic
    // within-order expansion is NATURALLY bounded by order size (≤ 7
    // lineitems in this schema — at 100 TB the same bound holds per
    // order, so pair volume is O(|orders| · maxsize²), linear in orders);
    // hot parts only concentrate at the (a, b) count reduce, which is an
    // ordinary AQE-splittable skewed aggregation.
    Q("graph_copurchase",
      Some("WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p " +
        "FROM lineitem), " +
        "pairs AS (SELECT a.p AS part, b.p AS partner, " +
        "CAST(count(*) AS BIGINT) AS w " +
        "FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p " +
        "GROUP BY a.p, b.p HAVING count(*) >= 2), " +
        "ranked AS (SELECT part, partner, w, row_number() OVER " +
        "(PARTITION BY part ORDER BY w DESC, partner) AS rnk FROM pairs) " +
        "SELECT part, partner, w, CAST(rnk AS BIGINT) AS rnk FROM ranked " +
        "WHERE rnk <= 3 ORDER BY part, rnk"),
      (s, dir) => {
        // the distinct is the heaviest shuffle and BOTH self-join sides
        // read it — materialize once
        val op = tbl(s, dir, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct().localCheckpoint()
        val pairs = op.select(col("o"), col("p").as("part"))
          .join(op.select(col("o"), col("p").as("partner")), "o")
          .filter(col("part") =!= col("partner"))
          .groupBy("part", "partner").agg(count(lit(1)).cast("long").as("w"))
          .filter(col("w") >= 2)
        val rnk = row_number().over(
          Window.partitionBy("part").orderBy(col("w").desc, col("partner")))
        H.materialized(
          pairs.withColumn("rnk", rnk.cast("long"))
            .filter(col("rnk") <= 3)
            .select("part", "partner", "w", "rnk")
            .orderBy("part", "rnk"),
          caches = Nil, checkpoints = Seq(op))
      }))
}
