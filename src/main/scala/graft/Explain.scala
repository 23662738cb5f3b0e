package graft

import org.apache.spark.sql.functions._

/** Plan inspector: `runMain graft.Explain <query|core> [sfDir]` prints the
  * formatted physical plan — the check that filters are pushed
  * (PushedFilters), scans are pruned (ReadSchema), dims are broadcast, and
  * codegen spans are wide.
  *
  * Besides any registry query it explains the named shared pipeline cores
  * below: the judged queries wrap their result in
  * H.materialized/localCheckpoint, which leaves only an opaque RDD scan to
  * explain, so these print the INTERIOR plan the optimization notes
  * reference. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Session()
    import graft.functions.{DedupSketches => DS}
    lazy val docs = H.tbl(spark, sfDir, "documents")
    val df = name match {
      case "dedup_candidates" =>
        DS.candidatePairs(DS.lshBands(DS.minhashSignature(DS.shingles(docs, 3))))
      case "minhash_signature" =>
        DS.minhashSignature(DS.shingles(docs, 3))
      case "simhash" => DS.simhash(docs)
      case "emb_pca_core" =>
        graft.queries.ScaleCorpusQueries.pcaFrames(spark, sfDir)._1
      case "global_rowid_core" =>
        // layout_global_rowid's interior rank pipeline (the judged query
        // materializes, which explains as an opaque RDD scan)
        val (ranked, _) = H.globalRank(
          H.tbl(spark, sfDir, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber")),
          Seq(col("l_orderkey"), col("l_linenumber")), "rowid")
        ranked.filter(col("rowid") % 997 === 1)
      case "shingle_grid_core" =>
        // grid construction + the df aggregate (the judged query
        // checkpoints the grid between them)
        val g = graft.queries.SensitivityOpsQueries
          .shingleGridFrame(spark, sfDir)
        g.select(col("k"), explode(col("ss")).as("s"))
          .groupBy("k", "s").agg(count(lit(1)).as("df"))
      case "emb_pca_pass" =>
        // the iteration's own plan (inside pcaFrames it hides behind a
        // localCheckpoint): one scan, per-row fold, ONE real exchange
        val (c, _) = graft.queries.ScaleCorpusQueries.pcaCentered(spark, sfDir)
        graft.queries.ScaleCorpusQueries.pcaPass(c, None)
      case other => SparkEntry.queries(other)(spark, sfDir)
    }
    df.explain("formatted")
    spark.stop()
  }
}
