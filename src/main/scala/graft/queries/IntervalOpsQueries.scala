package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{H, Q, QueryModule}
import graft.H.tbl

/** Eighth wave: interval-overlap join via bucketized equi-join (the
  * scale-correct replacement for a theta join over ranges), k-core graph
  * peeling (the degeneracy primitive complementing label propagation /
  * PageRank / BFS), and deterministic output sharding with a content
  * fingerprint manifest (the reproducibility record a corpus release
  * carries).
  */
object IntervalOpsQueries extends QueryModule {

  /** 3-round synchronous 3-core peel as unrolled SQL CTEs: each round
    * keeps nodes whose degree WITHIN the surviving subgraph is ≥ 3. */
  private def peelRoundSql(prev: String, cur: String): String =
    s"$cur AS (SELECT e.src AS id FROM uedges e " +
      s"JOIN $prev a ON a.id = e.src JOIN $prev b ON b.id = e.dst " +
      "GROUP BY e.src HAVING count(*) >= 3)"

  private val BucketDays = 8 // interval-overlap coarse bucket width

  def all: Seq[Q] = Seq(

    // Interval-overlap join at scale: urgent-order attention windows
    // [o_orderdate, +7d] against synthetic shipment transit windows
    // [l_shipdate, +1..5d], matched within the ordering customer's nation.
    // The naive form is a theta join (range predicates only — a cross
    // product per nation); the scale-correct plan maps every interval to
    // the coarse day-buckets it spans (window width bounds the fan-out at
    // 2 buckets per row) and equi-joins on (nation, bucket), so the range
    // predicate only refines bucket-colocated pairs and the shuffle is an
    // ordinary hash join AQE can manage. A pair spanning a shared bucket
    // boundary meets twice → distinct. Overlap length is exact integer
    // day arithmetic.
    Q("join_interval_overlap",
      Some(
        s"""WITH a AS (
           |  SELECT o.o_orderkey, c.c_nationkey AS nation,
           |         date_diff('day', TIMESTAMP '1990-01-01', o.o_orderdate) AS s,
           |         date_diff('day', TIMESTAMP '1990-01-01', o.o_orderdate) + 7 AS e
           |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           |  WHERE o.o_orderpriority = '1-URGENT'
           |), b AS (
           |  SELECT l.l_orderkey, l.l_linenumber, c.c_nationkey AS nation,
           |         date_diff('day', TIMESTAMP '1990-01-01', l.l_shipdate) AS s,
           |         date_diff('day', TIMESTAMP '1990-01-01', l.l_shipdate)
           |           + 1 + l.l_linenumber % 5 AS e
           |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           |  JOIN customer c ON o.o_custkey = c.c_custkey
           |  WHERE l.l_quantity > 45
           |), ab AS (
           |  SELECT a.*, CAST(g AS BIGINT) AS bucket FROM a
           |  JOIN generate_series(0, 2) t(g) ON a.s // $BucketDays + g <= a.e // $BucketDays
           |), bb AS (
           |  SELECT b.*, CAST(g AS BIGINT) AS bucket FROM b
           |  JOIN generate_series(0, 2) t(g) ON b.s // $BucketDays + g <= b.e // $BucketDays
           |)
           |SELECT DISTINCT ab.o_orderkey, bb.l_orderkey, bb.l_linenumber,
           |       least(ab.e, bb.e) - greatest(ab.s, bb.s) + 1 AS overlap_days
           |FROM ab JOIN bb
           |  ON ab.nation = bb.nation
           | AND ab.s // $BucketDays + ab.bucket = bb.s // $BucketDays + bb.bucket
           | AND bb.s <= ab.e AND bb.e >= ab.s
           | AND ab.o_orderkey <> bb.l_orderkey
           |ORDER BY o_orderkey, l_orderkey, l_linenumber""".stripMargin),
      (s, dir) => {
        val cust = tbl(s, dir, "customer").select("c_custkey", "c_nationkey")
        val ord = tbl(s, dir, "orders")
        val li = tbl(s, dir, "lineitem")
        val epoch = to_timestamp(lit("1990-01-01 00:00:00"))
        val a = ord.filter(col("o_orderpriority") === "1-URGENT")
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_nationkey").as("nation"),
            datediff(col("o_orderdate"), epoch).cast("long").as("s"))
          .withColumn("e", col("s") + 7)
        val b = li.filter(col("l_quantity") > 45)
          .join(ord.select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .select(col("l_orderkey"), col("l_linenumber"),
            col("c_nationkey").as("nation"),
            datediff(col("l_shipdate"), epoch).cast("long").as("s"))
          .withColumn("e", col("s") + 1 + col("l_linenumber") % 5)
        def bucketed(df: DataFrame): DataFrame = df
          .withColumn("g", explode(sequence(lit(0L), lit(2L))))
          .filter(expr(s"s div $BucketDays") + col("g") <=
            expr(s"e div $BucketDays"))
          .withColumn("bucket", expr(s"s div $BucketDays") + col("g"))
        val ab = bucketed(a).select(col("o_orderkey"), col("nation"),
          col("s").as("as_"), col("e").as("ae"), col("bucket"))
        val bb = bucketed(b).select(col("l_orderkey"), col("l_linenumber"),
          col("nation"), col("s").as("bs"), col("e").as("be"), col("bucket"))
        ab.join(bb, Seq("nation", "bucket"))
          .filter(col("bs") <= col("ae") && col("be") >= col("as_") &&
            col("o_orderkey") =!= col("l_orderkey"))
          .select(col("o_orderkey"), col("l_orderkey"), col("l_linenumber"),
            (least(col("ae"), col("be")) - greatest(col("as_"), col("bs")) + 1)
              .as("overlap_days"))
          .distinct()
          .orderBy("o_orderkey", "l_orderkey", "l_linenumber")
      }),

    // k-core decomposition, 3 synchronous peel rounds toward the 3-core
    // of the undirected trade graph: each round drops nodes whose degree
    // within the surviving subgraph is < 3 (Batagelj/Zaveršnik peeling,
    // synchronous so both engines compute the identical bounded-round
    // fixpoint — mirrored round-for-round in the oracle's unrolled CTEs).
    // Scale shape per round: edges ⋈ broadcast(survivor set) twice (src
    // and dst membership) → one partial-agg degree groupBy — the edge
    // list is never re-shuffled, survivor state is |nodes| rows.
    Q("graph_kcore",
      Some(
        s"""WITH ${RetrievalQueries.uedgesSql},
           |k0 AS (SELECT DISTINCT src AS id FROM uedges),
           |${peelRoundSql("k0", "k1")},
           |${peelRoundSql("k1", "k2")},
           |${peelRoundSql("k2", "k3")}
           |SELECT n.n_name,
           |       CAST(CASE WHEN k3.id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_3core
           |FROM nation n LEFT JOIN k3 ON k3.id = n.n_nationkey
           |ORDER BY n.n_name""".stripMargin),
      (s, dir) => {
        val uedges = RetrievalQueries.uedgesDf(s, dir).localCheckpoint()
        val k0 = uedges.select(col("src").as("id")).distinct()
        // each round's survivor set is referenced twice (src and dst
        // membership) — checkpoint it so the prior round's subtree never
        // replays (same double-reference discipline as the dedup family);
        // survivor frames are |nodes| rows, so materialization is trivial
        val chks = scala.collection.mutable.ArrayBuffer[DataFrame]()
        def peel(prev: DataFrame): DataFrame = {
          val p = prev.localCheckpoint()
          chks += p
          val pa = broadcast(p.select(col("id").as("aid")))
          val pb = broadcast(p.select(col("id").as("bid")))
          uedges.join(pa, col("src") === col("aid"))
            .join(pb, col("dst") === col("bid"))
            .groupBy(col("src").as("id"))
            .agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= 3)
            .select("id")
        }
        val k3 = peel(peel(peel(k0)))
        val nation = tbl(s, dir, "nation")
        val out = nation
          .join(k3.select(col("id"), lit(1L).as("flag")),
            nation("n_nationkey") === col("id"), "left")
          .select(col("n_name"),
            coalesce(col("flag"), lit(0L)).as("in_3core"))
          .orderBy("n_name")
        graft.H.materialized(out, Nil, Seq(uedges) ++ chks)
      }),

    // Deterministic output sharding + manifest: every release shard gets
    // doc/char/token counts and an ORDER-INDEPENDENT content fingerprint
    // (sum of per-doc 8-hex md5 folds — exact BIGINT addition commutes,
    // so any partitioning/write order yields the identical manifest; a
    // one-doc change breaks the shard's fingerprint). Shard assignment is
    // a pure hash of doc_id: reproducible on any cluster size, no
    // coordinator. One scan, one 16-group partial agg.
    Q("pipeline_shard_manifest",
      Some(
        s"""WITH d AS (
           |  SELECT CAST(${H.md5PrefixSql("CAST(doc_id AS VARCHAR)", 4)} % 16 AS BIGINT) AS shard,
           |         n_chars,
           |         length(text) - length(replace(text, ' ', '')) + 1 AS toks,
           |         CAST(${H.md5PrefixSql("text", 8)} AS BIGINT) AS fp
           |  FROM documents
           |)
           |SELECT shard, CAST(count(*) AS BIGINT) AS docs,
           |       CAST(sum(n_chars) AS BIGINT) AS chars,
           |       CAST(sum(toks) AS BIGINT) AS tokens,
           |       CAST(sum(fp) AS BIGINT) AS fingerprint
           |FROM d GROUP BY shard ORDER BY shard""".stripMargin),
      (s, dir) => {
        val d = tbl(s, dir, "documents").select(
          (H.md5Prefix(col("doc_id").cast("string"), 4) % 16).as("shard"),
          col("n_chars"),
          (length(col("text")) -
            length(translate(col("text"), " ", "")) + 1).as("toks"),
          H.md5Prefix(col("text"), 8).as("fp"))
        d.groupBy("shard")
          .agg(count(lit(1)).as("docs"),
            sum(col("n_chars")).cast("long").as("chars"),
            sum(col("toks")).cast("long").as("tokens"),
            sum(col("fp")).cast("long").as("fingerprint"))
          .orderBy("shard")
      }))
}
