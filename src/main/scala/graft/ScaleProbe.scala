package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-evidence harness: measures how the heavy judged queries scale
  * BEYOND the driver's sf0.1, so 100×-claims rest on a measured slope, not
  * plan inspection alone.
  *
  * `gen <srcSf> <outDir> <k>` synthesizes a k× dataset from an existing sf
  * directory:
  *   - `documents` is replicated k times with offset doc_ids and per-copy
  *     token salting (`tok` → `tok§c` for copy c>0): every shingle/token of
  *     a copy is distinct from every other copy's, so the near-dup cluster
  *     structure of the base corpus replicates per copy instead of pairing
  *     across copies — candidate count and verified pairs grow k-LINEARLY,
  *     which is exactly the slope a scale-correct dedup must track. (Plain
  *     duplication would near-dup every copy against every other: a k²
  *     blow-up by construction, measuring the dataset, not the engine.)
  *   - `orders`/`lineitem`/`supplier`/`part` replicate k times with offset
  *     order/supplier/part keys (join integrity preserved; disjoint
  *     per-copy supplier AND part universes keep every co-occurrence
  *     graph replicating k-linearly instead of densifying — so part-side
  *     broadcasts grow k× with the catalog, as they would in production).
  *     Customers stay fixed, so each sees k× the facts — the TPC-H-ish
  *     shape the relational heads are probed on.
  *   - `embeddings` replicate k times with offset vec_id and a per-copy
  *     cyclic rotation (norm-preserving, direction-diversifying).
  *   - all other tables copy through unchanged.
  *
  * `run <dir1> <dir2> <query,query,...>` runs each named SparkEntry query
  * against both directories in the SAME JVM (one boot, one calibration,
  * warm codegen) and prints per-query seconds + the dir2/dir1 slope as one
  * JSON line — appended to PLANS.md as the round's scaling datapoint.
  */
object ScaleProbe {

  def main(args: Array[String]): Unit = {
    val spark = Session()
    args.toList match {
      case "gen" :: srcSf :: outDir :: k :: Nil => gen(spark, srcSf, outDir, k.toInt)
      case "run" :: dir1 :: dir2 :: queries :: Nil =>
        run(spark, dir1, dir2, queries.split(',').toSeq)
      case other => sys.error(s"usage: gen <srcSf> <outDir> <k> | " +
        s"run <dir1> <dir2> <q1,q2,...> (got: $other)")
    }
    spark.stop()
  }

  private def gen(spark: SparkSession, srcSf: String, outDir: String, k: Int): Unit = {
    new java.io.File(outDir).mkdirs()
    val docs = spark.read.parquet(s"$srcSf/documents.parquet")
    val nDocs = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    (0 until k).map { c =>
      if (c == 0) docs
      else docs.select(
        Seq((col("doc_id") + lit(c * nDocs)).as("doc_id"),
          // salt every token: copy-c shingles never collide with copy-0's
          regexp_replace(col("text"), lit(" "), lit(s"§$c ")).as("text")) ++
          docs.columns.filterNot(Set("doc_id", "text")).map(col): _*)
    }.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/documents.parquet")

    val orders = spark.read.parquet(s"$srcSf/orders.parquet")
    val lineitem = spark.read.parquet(s"$srcSf/lineitem.parquet")
    val nOrd = orders.agg(max(col("o_orderkey"))).head.getLong(0) + 1
    (0 until k).map(c => orders.withColumn("o_orderkey", col("o_orderkey") + lit(c * nOrd)))
      .reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/orders.parquet")
    // suppliers replicate with offset keys, and each lineitem copy points at
    // its own supplier copy. Keeping suppliers FIXED while facts grow k x
    // DENSIFIES every supplier-co-occurrence structure (k x the co-orders per
    // supplier pair) — a k=10 probe of graph_triangles on that gen measured
    // slope 19: the dataset's graph was getting quadratically denser, not the
    // engine slower. Disjoint per-copy supplier universes keep co-occurrence
    // structure replicating k-linearly, the same principle as the token
    // salting above. Customers stay fixed (each sees k x the orders — the
    // TPC-H-ish shape the relational heads are probed on).
    val supplier = spark.read.parquet(s"$srcSf/supplier.parquet")
    val nSupp = supplier.agg(max(col("s_suppkey"))).head.getLong(0) + 1
    (0 until k).map(c => supplier.withColumn("s_suppkey", col("s_suppkey") + lit(c * nSupp)))
      .reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/supplier.parquet")
    // parts replicate with offset keys for the same reason as suppliers:
    // the co-purchase graph queries (graph_modularity, basket analyses)
    // self-join lineitem on orderkey and aggregate on part pairs — a FIXED
    // part universe under k x facts densifies that graph toward the
    // complete graph (k=100 measured slope 20.9 on graph_modularity: the
    // edge list grew ~81x toward all-unique pairs — the dataset, not the
    // engine). Disjoint per-copy part universes keep the graph replicating
    // k-linearly, matching how a k x-larger real catalog behaves.
    val part = spark.read.parquet(s"$srcSf/part.parquet")
    val nPart = part.agg(max(col("p_partkey"))).head.getLong(0) + 1
    (0 until k).map(c => part.withColumn("p_partkey", col("p_partkey") + lit(c * nPart)))
      .reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/part.parquet")
    (0 until k).map(c => lineitem
        .withColumn("l_orderkey", col("l_orderkey") + lit(c * nOrd))
        .withColumn("l_suppkey", col("l_suppkey") + lit(c * nSupp))
        .withColumn("l_partkey", col("l_partkey") + lit(c * nPart)))
      .reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/lineitem.parquet")

    // events replicate k times with offset event_id AND user_id: offsetting
    // the user replicates the per-user session/event-time structure k-fold
    // (k x the groups, same per-group history) — the linear-growth shape a
    // scale-correct sessionization/watermark pipeline must track. Copying
    // timestamps unchanged keeps watermark semantics identical per copy.
    val eventsPath = s"$srcSf/events.parquet"
    if (new java.io.File(eventsPath).exists()) {
      val events = H.canonicalTypes(spark.read.parquet(eventsPath))
      // coalesce: max over an empty table is null, and a half-written
      // output dir from a mid-gen crash is worse than replicating nothing
      val bounds = events.agg(
        coalesce(max(col("event_id")), lit(-1L)).as("e"),
        coalesce(max(col("user_id")), lit(-1L)).as("u")).head
      val nEv = bounds.getLong(0) + 1
      val nUser = bounds.getLong(1) + 1
      (0 until k).map(c => events
          .withColumn("event_id", col("event_id") + lit(c * nEv))
          .withColumn("user_id", col("user_id") + lit(c * nUser)))
        .reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/events.parquet")
    }

    // embeddings replicate k times with offset vec_id and a per-copy
    // cyclic rotation of the vector: rotation preserves the norm (so
    // normalization/scoring cost is identical per copy) while giving each
    // copy an unrelated direction — LSH buckets, IVF cells, and PQ codes
    // spread instead of collapsing onto copy-0's, which is the shape a
    // k x-larger real corpus has. The 10 fixed query vectors (vec_id < 10)
    // stay in copy 0, so the sim_* family scans a k x corpus for the same
    // query set — cost must track corpus size linearly.
    val embPath = s"$srcSf/embeddings.parquet"
    if (new java.io.File(embPath).exists()) {
      val emb = spark.read.parquet(embPath)
      val nVec = emb.agg(coalesce(max(col("vec_id")), lit(-1L))).head.getLong(0) + 1
      (0 until k).map { c =>
        if (c == 0) emb
        else {
          val r = pmod(lit(c), size(col("embedding")))
          emb.withColumn("vec_id", col("vec_id") + lit(c * nVec))
            .withColumn("embedding", concat(
              slice(col("embedding"), r + lit(1), size(col("embedding")) - r),
              slice(col("embedding"), lit(1), r)))
        }
      }.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")
    }

    Seq("region", "nation", "customer")
      .foreach { t =>
        val p = s"$srcSf/$t.parquet"
        if (new java.io.File(p).exists())
          spark.read.parquet(p).write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
      }
    println(s"""{"gen":"$outDir","k":$k}""")
  }

  private def run(spark: SparkSession, dir1: String, dir2: String,
      queries: Seq[String]): Unit = {
    // same calibration workload as Bench, so runs are comparable across boots
    val calibMs = Bench.calibMs()
    def once(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      H.actThenFree(SparkEntry.queries(name)(spark, dir))(_.count())
      (System.nanoTime() - t0) / 1e9
    }
    val rows = queries.map { q =>
      val a = once(q, dir1) // warm-up + base measurement, best of 2
      val a2 = once(q, dir1)
      val b = once(q, dir2)
      val b2 = once(q, dir2)
      val (ba, bb) = (math.min(a, a2), math.min(b, b2))
      System.err.println(f"[probe] $q%-28s $ba%7.2f -> $bb%7.2f s  slope ${bb / ba}%.2f")
      (q, ba, bb)
    }
    val qj = rows.map { case (q, a, b) =>
      f""""$q":{"base":$a%.2f,"scaled":$b%.2f,"slope":${b / a}%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","dir1":"$dir1","dir2":"$dir2",""" +
      s""""calib_ms":${"%.0f".format(calibMs)},"queries":$qj}""")
  }
}
