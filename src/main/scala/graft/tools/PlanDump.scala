package graft.operators

import org.apache.spark.sql.functions._
import graft.Bench

/** Dump `.explain("formatted")` for the bench-headline query plans (and
  * the fused sweep's pre-checkpoint plan, which the composite
  * cluster_assign materializes eagerly) to files under a target
  * directory — the before/after plan evidence for plans/r06/.
  *
  *   sbt "runMain graft.operators.PlanDump /root/repo/plans/r06 before /root/testdata/sf0.1"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "/root/repo/plans/r06"
    val tag = if (args.length > 1) args(1) else "before"
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = Bench.buildSession("32")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    new java.io.File(outDir).mkdirs()
    val cfg = graft.DedupConfig.default
    graft.plans.GraftFunctions.register(spark)

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val cdf = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      val s = cdf.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[plandump] wrote $outDir/${name}_$tag.txt")
    }

    def docs() = DocAssembly.assemble(spark, graft.SparkEntry.transcriptsView(spark, sfDir))

    dump("doc_assembly", docs().toDF)
    dump("turn_dedup", ExactDedup.dedupTurns(spark, graft.SparkEntry.transcriptsView(spark, sfDir)))
    dump("minhash_lsh_pairs", MinHashLSH.dupPairs(spark, docs(), cfg).toDF)
    dump("simhash_pairs", SimHashDetector.dupPairs(spark, docs(), cfg).toDF)
    dump("substring_pairs", SubstringDetector.dupPairs(spark, docs(), cfg).toDF)
    dump("restore", {
      val t = graft.SparkEntry.transcriptsView(spark, sfDir)
      val lineage = ExactDedup.dedupTurns(spark, t).select($"conv_id", $"turn_idx", $"fp")
      Restore.restore(spark, lineage, ExactDedup.uniqueTurns(spark, t))
    })
    dump("text_quality", TextAnalysis.qualityScore(spark.read.parquet(s"$sfDir/documents.parquet")))
    dump("embed_ann_top5",
      EmbeddingSim.rhpBucketTopK(spark, spark.read.parquet(s"$sfDir/embeddings.parquet"), k = 5))
    dump("window_latest_order", graft.SparkEntry.queries("q_window_latest_order")(spark, sfDir))

    // cluster_assign materializes its stages internally — dump the fused
    // sweep's pre-checkpoint plan (the query's dominant cost) plus the
    // final assignment tail over the materialized pairs.
    val d = docs().repartition(spark.sparkContext.defaultParallelism * 4).cache()
    d.count()
    val (verified, sigs) = FusedDetectors.verifiedFrame(spark, d, cfg,
      FusedDetectors.MinHash | FusedDetectors.SimHash | FusedDetectors.Substring,
      FusedDetectors.DefaultSlack)
    dump("cluster_assign_fused_verify", verified)
    sigs.unpersist(false)
    val pairs = ExactDedup.docDupPairs(spark, d.toDF).as[graft.DupPair]
      .unionByName(FusedDetectors.dupPairs(spark, d, cfg, withSubstring = true))
    dump("cluster_assign_tail", Clustering.assign(spark, d, pairs, cfg).toDF)
    spark.stop()
  }
}
