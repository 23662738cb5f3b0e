package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Relational.saltedJoin

/** The 100-TB techniques that local-mode correctness can still prove out:
  * bucketed co-located joins (no shuffle), salting (identical results,
  * different shuffle layout), partitioned sink layout (partition pruning).
  */
class ScaleTechniquesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("bucketed tables co-locate: join plan has no shuffle exchange") {
    val orders = H.tbl(spark, sf, "orders")
    val customer = H.tbl(spark, sf, "customer")
    orders.write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("orders_bkt")
    customer.write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("customer_bkt")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("orders_bkt")
        .join(spark.table("customer_bkt"), col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(joined.count() ==
        orders.join(customer, col("o_custkey") === col("c_custkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("salted join returns exactly the plain join's rows") {
    val orders = H.tbl(spark, sf, "orders")
    val customer = H.tbl(spark, sf, "customer")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(customer, Seq("o_custkey"))
    val salted = saltedJoin(orders, customer, "o_custkey", factor = 4)
    assert(salted.count() == plain.count())
    assert(salted.columns.sorted.toSeq == plain.columns.sorted.toSeq)
    // spot-check value-level equality on an aggregate
    val a = plain.agg(sum(col("o_orderkey")).as("s")).collect()(0).getLong(0)
    val b = salted.agg(sum(col("o_orderkey")).as("s")).collect()(0).getLong(0)
    assert(a == b)
  }

  test("ANALYZE TABLE collects row-count statistics for the cost-based optimizer") {
    val orders = H.tbl(spark, sf, "orders")
    orders.write.mode("overwrite").saveAsTable("orders_stats")
    spark.sql("ANALYZE TABLE orders_stats COMPUTE STATISTICS")
    val described = spark.sql("DESCRIBE TABLE EXTENDED orders_stats")
      .collect().map(r => s"${r.getString(0)}=${r.getString(1)}").mkString("; ")
    assert(described.contains(s"${orders.count()} rows"), described)
    // CBO can now size this relation instead of guessing from file bytes
    spark.sql("DROP TABLE orders_stats")
  }

  test("sized sink bounds records per file; clustered sink sorts within files") {
    import org.apache.spark.sql.SaveMode
    import graft.pipeline.Sinks
    val dir = java.nio.file.Files.createTempDirectory("sized").toString
    val ev = H.events(spark, sf)

    Sinks.writeParquetSized(ev, s"$dir/sized", SaveMode.Overwrite,
      maxRecordsPerFile = 100L)
    val files = new java.io.File(s"$dir/sized").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { f =>
      assert(spark.read.parquet(f.getPath).count() <= 100, f.getName)
    }

    Sinks.writeClustered(ev, s"$dir/clustered", Seq("ts"))
    val cfiles = new java.io.File(s"$dir/clustered").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    cfiles.foreach { f =>
      val ts = spark.read.parquet(f.getPath).select("ts").collect()
        .map(_.getTimestamp(0).getTime)
      assert(ts.sameElements(ts.sorted), s"${f.getName} not clustered")
    }
  }

  test("partitioned parquet sink prunes partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("part_sink").toString + "/events"
    val ev = H.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
    ev.write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val read = spark.read.parquet(dir).filter(col("event_type") === "click")
    val scan = read.queryExecution.executedPlan.toString
    assert(read.count() == ev.filter(col("event_type") === "click").count())
    assert(scan.contains("PartitionFilters"), scan) // pruning applied at scan
  }

  test("dynamic partition pruning: fact scan carries a runtime pruning subquery") {
    val tmp = java.nio.file.Files.createTempDirectory("dpp_spec").toString
    val orders = H.tbl(spark, sf, "orders")
    orders.select("o_orderpriority", "o_totalprice")
      .write.partitionBy("o_orderpriority").mode("overwrite").parquet(s"$tmp/fact")
    orders.select(col("o_orderpriority")).distinct()
      .withColumn("prio_class", substring(col("o_orderpriority"), 1, 1).cast("int"))
      .write.mode("overwrite").parquet(s"$tmp/dim")
    val joined = spark.read.parquet(s"$tmp/fact")
      .join(spark.read.parquet(s"$tmp/dim").filter(col("prio_class") === 1),
        "o_orderpriority")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan)
    assert(joined.count() ==
      orders.filter(substring(col("o_orderpriority"), 1, 1) === "1").count())
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    val overrides = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = overrides.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = H.tbl(spark, sf, "lineitem")
      val sel = H.tbl(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(sel, col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.optimizedPlan.toString
      // the filter creation side injects might_contain on the big probe side
      assert(plan.contains("might_contain"), plan)
      assert(joined.count() > 0)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("schema evolution: mergeSchema unions columns across parquet file generations") {
    val dir = java.nio.file.Files.createTempDirectory("evolve").toString + "/t"
    // generation 1: (id, a); generation 2 adds column b
    spark.sql("SELECT 1L AS id, 'x' AS a").write.parquet(s"$dir/g=1")
    spark.sql("SELECT 2L AS id, 'y' AS a, 10L AS b").write.parquet(s"$dir/g=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "a", "b", "g"))
    val rows = merged.orderBy("id").collect()
    assert(rows(0).getAs[Any]("b") == null) // old files: missing column is null
    assert(rows(1).getAs[Long]("b") == 10L)
    // without mergeSchema the footer-sampled schema wins — both behaviors
    // are intentional, the staging tables rely on the default being cheap
    val unmerged = spark.read.parquet(dir)
    assert(unmerged.columns.contains("id"))
  }

  test("AQE replans at runtime: static sort-merge join becomes broadcast") {
    import spark.implicits._
    val prev = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    // static planning may never broadcast; the adaptive threshold stays
    // permissive, so only the RUNTIME size observation can trigger the
    // broadcast — which is exactly what a 1000-executor join wants when
    // a filter's selectivity is unknowable at compile time.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
    try {
      val big = spark.range(0L, 200000L).select($"id", ($"id" % 1000).as("k"))
      val dim = spark.range(0L, 100000L).select($"id".as("k2"))
        .filter($"k2" % 2048 === 0)
      val j = big.join(dim, $"k" === $"k2")
      val staticPlan = j.queryExecution.executedPlan.toString
      assert(staticPlan.contains("SortMergeJoin"), staticPlan)
      // execute THIS dataset (count() would finalize its own plan instead)
      assert(j.collect().length > 0)
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"), finalPlan)
      assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    import spark.implicits._
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    // forbid broadcast so a shuffle join forms; shrink the skew thresholds
    // so local-mode data sizes trigger the same OptimizeSkewedJoin rewrite
    // a hot key triggers at cluster scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "40000")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "20000")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // 100k rows of key 0 vs ~100 rows for every other key: one shuffle
      // partition dwarfs the rest
      val skewed = spark.range(0L, 130000L)
        .select($"id", when($"id" < 100000L, 0L).otherwise($"id" % 300).as("k"))
      val right = spark.range(0L, 300L).select($"id".as("k2"))
      val j = skewed.join(right, $"k" === $"k2")
      // execute THIS dataset (count() would finalize its own plan instead)
      assert(j.collect().length === 130000)
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"), finalPlan)
      assert(finalPlan.contains("skew=true"),
        s"skew-join split did not trigger:\n$finalPlan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("AQE splits a hot LSH band in the incremental-dedup candidate join") {
    // The dedup band joins are equi-joins on short (band, key) strings —
    // exactly where a boilerplate page or empty-document cluster lands
    // thousands of docs in ONE band bucket at corpus scale. Plant that hot
    // band (8% of docs share identical text → identical minhash → all
    // their band keys collide) and prove the OptimizeSkewedJoin rewrite
    // splits the oversized partition of the SAME delta-vs-base join shape
    // dedup_incremental runs, instead of one straggler task dragging the
    // stage.
    import graft.functions.{DedupSketches => DS}
    val ss = spark.newSession() // conf changes invisible to other suites
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ss.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2000")
    // factor 1.5, not the 5.0 default: the skew detector compares
    // COMPRESSED shuffle-block sizes, and a hot band's blocks are runs of
    // one identical key — lz4 squeezes them far below their row-count
    // share (measured here: a 3x row-count skew compressed to under 2x
    // bytes and escaped detection). Production dedup jobs should tune the
    // factor down for exactly this reason.
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.5")
    ss.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1000")
    ss.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // spread the benign bands thin so the hot bucket dwarfs the median
    // partition (with few partitions the unique-band load masks the band)
    ss.conf.set("spark.sql.shuffle.partitions", "32")
    import ss.implicits._
    val docs = ss.range(0L, 6000L).select($"id".as("doc_id"),
      when($"id" % 100 < 50, lit("the same boilerplate page text repeated across mirrors"))
        .otherwise(concat(lit("unique document body number "), $"id",
          lit(" with distinct shingle content "), $"id" * 7)).as("text"))
    val bands = DS.lshBands(DS.minhashSignature(DS.shingles(docs, 3))).cache()
    val isDelta = pmod(col("doc_id"), lit(10)) >= 8
    val cand = bands.filter(isDelta)
      .select(col("band"), col("key"), col("doc_id").as("doc_a"))
      .join(bands.filter(!isDelta)
        .select(col("band"), col("key"), col("doc_id").as("doc_b")),
        Seq("band", "key"))
      .select("doc_a", "doc_b").distinct()
    try {
      // execute THIS dataset so its AQE plan finalizes (count() would
      // finalize a separate plan); rows stay on executors
      val n = cand.queryExecution.toRdd.count()
      assert(n > 100000, s"hot band produced only $n candidate pairs")
      val finalPlan = cand.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"), finalPlan)
      assert(finalPlan.contains("skew=true"),
        s"skew-join split did not trigger on the hot band:\n$finalPlan")
      // both join inputs were split (delta AND base side of the hot band)
      assert(finalPlan.linesIterator.count(_.contains("AQEShuffleRead skewed")) >= 2,
        finalPlan)
    } finally bands.unpersist()
  }

  test("AQE splits a hot LSH band in the BATCH candidate self-join") {
    // Same planted hot band, but through DedupSketches.candidatePairs —
    // the batch path every dedup_* query uses. The self-join form exists
    // precisely so this partition is skew-splittable; the former
    // collect_list + in-row pair expansion held the hot bucket's O(b²)
    // pairs in ONE aggregation row no rewrite could split.
    import graft.functions.{DedupSketches => DS}
    val ss = spark.newSession()
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ss.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2000")
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.5")
    ss.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1000")
    ss.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    ss.conf.set("spark.sql.shuffle.partitions", "32")
    import ss.implicits._
    val docs = ss.range(0L, 6000L).select($"id".as("doc_id"),
      when($"id" % 100 < 50, lit("the same boilerplate page text repeated across mirrors"))
        .otherwise(concat(lit("unique document body number "), $"id",
          lit(" with distinct shingle content "), $"id" * 7)).as("text"))
    val bands = DS.lshBands(DS.minhashSignature(DS.shingles(docs, 3))).cache()
    val cand = DS.candidatePairs(bands)
    try {
      val n = cand.queryExecution.toRdd.count()
      // 3000 hot docs → C(3000,2) ≈ 4.5M ordered pairs survive doc_a<doc_b
      assert(n > 1000000L, s"hot band produced only $n candidate pairs")
      val finalPlan = cand.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"), finalPlan)
      assert(finalPlan.contains("skew=true"),
        s"skew-join split did not trigger on the hot band:\n$finalPlan")
      assert(finalPlan.linesIterator.count(_.contains("AQEShuffleRead skewed")) >= 2,
        finalPlan)
    } finally bands.unpersist()
  }

  // graph_triangles relies on degree-ordered orientation enumerating each
  // triangle exactly once; pin it against the naive a<b<c three-way join
  // on a fixture with a hub node (where naive wedge fan-out explodes).
  test("degree-ordered triangle enumeration matches the naive count") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two shared-edge triangles + a hub fanning to 6 leaves, one leaf pair closed
    val edges = Seq((1L,2L),(2L,3L),(1L,3L),(3L,4L),(2L,4L),
      (10L,11L),(10L,12L),(10L,13L),(10L,14L),(10L,15L),(10L,16L),(11L,12L))
    val e = edges.toDF("a","b")
    val naive = e.as("e1").join(e.as("e2"), col("e2.a")===col("e1.b"))
      .join(e.as("e3"), col("e3.a")===col("e1.a") && col("e3.b")===col("e2.b"))
      .count()
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val fwd = col("da") < col("db") || (col("da")===col("db") && col("a") < col("b"))
    val o = e.join(deg.select(col("v").as("va"), col("d").as("da")), col("va")===col("a"))
      .join(deg.select(col("v").as("vb"), col("d").as("db")), col("vb")===col("b"))
      .select(when(fwd, col("a")).otherwise(col("b")).as("src"),
        when(fwd, col("b")).otherwise(col("a")).as("dst"))
    val oriented = o.as("w1").join(o.as("w2"), col("w2.src")===col("w1.dst"))
      .join(o.as("w3"), col("w3.src")===col("w1.src") && col("w3.dst")===col("w2.dst"))
      .count()
    assert(naive == 3L && oriented == naive)
    // max out-degree under orientation is bounded; the hub keeps in-edges
    val maxOut = o.groupBy("src").agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head.getLong(0)
    assert(maxOut <= 3, s"orientation failed to bound hub fan-out (maxOut=$maxOut)")
  }

  test("runtime bloom filter injected when the dim side can't broadcast") {
    // the 100 TB shape: selective dim too big to broadcast → Spark builds a
    // bloom from the dim keys (scalar subquery) and injects might_contain
    // above the fact scan, killing most fact rows pre-shuffle
    val ss = spark.newSession()
    ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
    ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val l = H.tbl(ss, sf, "lineitem")
    val o = H.tbl(ss, sf, "orders").filter(col("o_orderpriority") === "1-URGENT")
    val joined = l.join(o, l("l_orderkey") === o("o_orderkey"))
    val opt = joined.queryExecution.optimizedPlan.toString
    assert(opt.contains("bloom_filter_agg"), opt.take(1500))
    assert(opt.contains("might_contain"), opt.take(1500))
    // and the bloom is a pure prefilter: result equals the plain join
    val plain = l.join(o.hint("broadcast"), l("l_orderkey") === o("o_orderkey"))
    assert(joined.count() == plain.count())
  }

  test("nested schema pruning: one subfield read prunes the struct scan") {
    // wide nested payloads (the multimodal/metadata shape) must not drag
    // the whole struct through the scan when one leaf is selected
    val tmp = java.nio.file.Files.createTempDirectory("graft_nested").toString
    H.tbl(spark, sf, "orders")
      .select(col("o_orderkey"), struct(
        col("o_custkey").as("cust"),
        col("o_totalprice").as("price"),
        col("o_orderpriority").as("prio")).as("payload"))
      .write.mode("overwrite").parquet(tmp)
    val read = spark.read.parquet(tmp).select(col("payload.cust"))
    val scan = read.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<payload:struct<cust:bigint>>"), scan)
    assert(read.distinct().count() > 0)
  }

  test("fixed-point k-means is partitioning-invariant (bit-reproducible)") {
    // the emb_kmeans design claim: exact integer arithmetic means the
    // clustering result cannot depend on how the data is sharded
    val fn = SparkEntry.queries("emb_kmeans")
    val base = fn(spark, sf).collect().map(_.toString).sorted
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "7") // different layout
    val reparted = fn(ss, sf).collect().map(_.toString).sorted
    assert(base.sameElements(reparted), s"\n${base.mkString(",")}\nvs\n${reparted.mkString(",")}")
    assert(base.length == 4)
  }

  test("ANALYZE TABLE feeds CBO: stats-driven broadcast without a hint") {
    val ss = spark.newSession()
    H.tbl(ss, sf, "nation").write.mode("overwrite").saveAsTable("nation_stats")
    ss.sql("ANALYZE TABLE nation_stats COMPUTE STATISTICS")
    val sized = ss.table("nation_stats").queryExecution.optimizedPlan
      .stats.sizeInBytes
    // without stats the relation reports the default (huge); analyzed it
    // reports the real few-KB size, which is what lets CBO broadcast it
    assert(sized > 0 && sized < 1024 * 1024, s"stats size $sized")
    val joined = H.tbl(ss, sf, "customer")
      .join(ss.table("nation_stats"), col("c_nationkey") === col("n_nationkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    ss.sql("DROP TABLE nation_stats")
  }

  test("H.globalRank equals the single-window row_number under the same total order") {
    // the two-phase parallel rank must be VALUE-identical to
    // row_number() OVER (ORDER BY ...), including across range-partition
    // boundaries and under heavy ties (the tie-break key decides)
    import org.apache.spark.sql.expressions.Window
    val df = H.tbl(spark, sf, "lineitem")
      .select(col("l_suppkey").as("k"), col("l_quantity").cast("long").as("v"))
      .groupBy("k").agg(sum("v").as("v")) // |keys| frame with duplicate v's
    val ord = Seq(col("v").desc, col("k"))
    val (ranked, pp) = H.globalRank(df, ord, "rk")
    try {
      val got = ranked.orderBy("k").select("k", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val want = df.withColumn("rk",
          row_number().over(Window.orderBy(ord: _*)).cast("long"))
        .orderBy("k").select("k", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSeq == want.toSeq)
      // ranks are a permutation of 1..n (no gap/dup across boundaries)
      assert(got.map(_._2).sorted.toSeq == (1L to got.length.toLong).toSeq)
    } finally H.freeLocalCheckpoint(pp)
  }

  test("H.globalRank's monotonically_increasing_id layout: pid << 33 | row index") {
    // globalRank decodes the id as (partition id) << 33 plus the row's
    // index within its partition; a Spark upgrade that changes that layout
    // must fail here instead of silently mis-ranking
    val rows = spark.range(0L, 1000L).repartitionByRange(4, col("id"))
      .sortWithinPartitions("id")
      .select(col("id"), monotonically_increasing_id(), spark_partition_id())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val parts = rows.groupBy(_._3)
    assert(parts.size > 1, "needs several partitions")
    parts.foreach { case (pid, part) =>
      val inOrder = part.sortBy(_._1).map(_._2) // mids in sort-key order
      assert(inOrder.forall(_ >>> 33 == pid), inOrder.toSeq)
      assert(inOrder.map(_ & ((1L << 33) - 1)).toSeq == (0L until part.length).toSeq)
    }
  }

  test("H.globalCumSum equals the single-window running sum for longs AND decimals") {
    import org.apache.spark.sql.expressions.Window
    val base = H.tbl(spark, sf, "lineitem")
      .groupBy(col("l_partkey").as("k"))
      .agg(count(lit(1)).as("c"),
        sum(H.dec2(col("l_extendedprice"))).cast("decimal(18,2)").as("d"))
    val ord = Seq(col("d").desc, col("k")) // ties possible on d; k breaks
    val (cs, pp) = H.globalCumSum(base, ord, col("c"), "cum")
    val (csd, ppd) = H.globalCumSum(base, ord, col("d"), "cumd")
    try {
      val wantL = base.withColumn("cum", sum("c").over(
          Window.orderBy(ord: _*)))
        .orderBy("k").select(col("k"), col("cum").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val gotL = cs.orderBy("k").select(col("k"), col("cum").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(gotL.toSeq == wantL.toSeq)
      val wantD = base.withColumn("cumd", sum("d").over(
          Window.orderBy(ord: _*)).cast("decimal(28,2)"))
        .orderBy("k").select(col("k"), col("cumd").cast("string")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val gotD = csd.orderBy("k")
        .select(col("k"), col("cumd").cast("decimal(28,2)").cast("string"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(gotD.toSeq == wantD.toSeq) // exact decimal addition: associative
    } finally { H.freeLocalCheckpoint(pp); H.freeLocalCheckpoint(ppd) }
  }
}
