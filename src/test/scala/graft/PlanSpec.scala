package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan quality gates: the plans we ship are the plans we
  * want — filters reach the parquet scan, small dims broadcast, the
  * signature path stays inside whole-stage codegen, aggregations are
  * partial (map-side combine) before the exchange. */
class PlanSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  private def executed(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection are pushed to the parquet scan") {
    import spark.implicits._
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter($"l_quantity" > 30.0)
      .select($"l_orderkey", $"l_quantity")
    val plan = executed(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      plan.linesIterator.filter(_.contains("Pushed")).mkString("\n"))
    // column pruning: scan schema carries only the 2 referenced columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_shipdate"), readSchema)
  }

  test("broadcast hint yields a BroadcastHashJoin for dim joins") {
    import spark.implicits._
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val j = o.join(broadcast(c), $"o_custkey" === $"c_custkey")
    assert(executed(j).contains("BroadcastHashJoin"), executed(j).take(500))
  }

  test("turn dedup aggregation is partial before the exchange") {
    val t = SparkEntry.transcriptsView(spark, dir)
    val plan = executed(ExactDedup.uniqueTurns(spark, t))
    // partial agg (map-side combine) must sit BELOW the fp exchange;
    // min-over-struct compiles to SortAggregate (struct buffers are not
    // hash-aggregable) — partial/final split is what matters
    val lines = plan.linesIterator.toSeq
    val partialIdx = lines.indexWhere(l => l.contains("partial_min"))
    val exIdx = lines.indexWhere(l => l.contains("Exchange hashpartitioning(fp"))
    val finalIdx = lines.indexWhere(l =>
      l.contains("Aggregate") && l.contains("functions=[min("))
    assert(partialIdx >= 0 && exIdx >= 0 && finalIdx >= 0, lines.take(15).mkString("\n"))
    // plan prints top-down: final agg above exchange above partial agg
    assert(finalIdx < exIdx && exIdx < partialIdx,
      s"expected final<exchange<partial, got $finalIdx/$exIdx/$partialIdx")
  }

  test("minhash signature projection runs inside WholeStageCodegen") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    // the MinHash-only, near-dup and three-detector kernel variants
    for (mask <- Seq(1, 3, 7)) {
      val df = spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id", call_function("graft_doc_sig", $"text", lit(mask),
          lit(5), lit(128), lit(42L), lit(2), lit(32), lit(8)).as("sig"))
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      val sigLine = lines.indexWhere(_.contains("graft_doc_sig"))
      assert(sigLine >= 0, plan.take(800))
      // '*(n)' marks a WholeStageCodegen span — the signature expression
      // compiles into generated code, no fallback Project
      assert(lines(sigLine).contains("*("), lines(sigLine))
    }
    // note: inside the full pipeline Catalyst fuses this expression
    // into the doc-assembly aggregate's result projection (verified by
    // inspection; ObjectHashAggregate output carries the sig column) —
    // the narrow-map property holds in both shapes
  }

  test("LSH verification join is an equi-join (hash-partitioned, no cartesian)") {
    val docs = DocAssembly.assemble(spark, SparkEntry.transcriptsView(spark, dir))
    // the spine's pre-checkpoint frame: the returned checkpoint's scan
    // would hide the joins and pass vacuously
    for (mask <- Seq(1, 2, 4, 7)) {
      val (verified, sigs) = FusedDetectors.verifiedFrame(spark, docs, DedupConfig.default,
        mask, FusedDetectors.DefaultSlack)
      val plan = executed(verified)
      sigs.unpersist(false)
      assert(!plan.contains("CartesianProduct"), s"cartesian in mask-$mask path")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in mask-$mask path")
      // only the verified detectors attach signatures
      if (mask == 4) assert(!plan.contains("Join"), s"substring-only sweep joins:\n$plan")
      else assert(Seq("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin").exists(plan.contains),
        s"mask-$mask verify has no equi-join:\n$plan")
    }
  }

  test("IVF and semantic-dedup plans are equi-joins (no cartesian, no nested loop)") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    for (df <- Seq(
        IvfIndex.ivfTopK(spark, emb, k = 3, nCells = 8),
        IvfIndex.pqTopK(spark, emb, k = 3, nCells = 8),
        IvfIndex.semanticDedup(spark, emb, threshold = 0.95, nCells = 8))) {
      val plan = executed(df)
      assert(!plan.contains("CartesianProduct"), "cartesian in IVF path")
      assert(!plan.contains("BroadcastNestedLoopJoin"), "nested-loop join in IVF path")
    }
  }

  test("training-mix plans: literal-rate sampling has no join, quality model broadcasts, top-fraction cut pushes to the scan") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    // temperature sampling: rates are a literal when-chain — the
    // returned frame must be a pure scan + filter, no join, no exchange
    val temp = executed(Sampling.temperatureT2(docs, "doc_id", "lang", 400))
    assert(!temp.contains("Join") && !temp.contains("Exchange"), temp.take(800))

    // quality model: the vocab join must be a BroadcastHashJoin and the
    // per-doc sum partial (map-side) BELOW its exchange
    val w = Seq(("the", 10L), ("of", -5L)).toDF("term", "weight_x10000")
    val qm = executed(
      QualityModel.score(spark, docs, "doc_id", "text", w, 0L).select($"doc_id", $"logit_x10000"))
    assert(qm.contains("BroadcastHashJoin"), qm.take(800))
    assert(!qm.contains("CartesianProduct") && !qm.contains("BroadcastNestedLoopJoin"))
    val qmLines = qm.linesIterator.toSeq
    val pIdx = qmLines.indexWhere(_.contains("partial_sum"))
    val eIdx = qmLines.indexWhere(l => l.contains("Exchange hashpartitioning(doc_id"))
    assert(pIdx >= 0 && eIdx >= 0 && eIdx < pIdx,
      s"expected exchange above partial agg, got $eIdx/$pIdx\n" + qmLines.take(20).mkString("\n"))

    // top-fraction on a raw column: the computed cut must reach the
    // parquet scan as a pushed GreaterThanOrEqual filter. Read a
    // test-private copy — another suite caches the shared sf0.001
    // documents table, and an InMemoryTableScan has no PushedFilters.
    val tfDir = java.nio.file.Files.createTempDirectory("planspec_tf").toString
    docs.select($"doc_id").write.mode("overwrite").parquet(tfDir)
    val tf = executed(TopFraction.keep(spark, spark.read.parquet(tfDir), "doc_id", 200))
    assert(!tf.contains("Join") && !tf.contains("Sort"), tf.take(800))
    assert(tf.contains("GreaterThanOrEqual(doc_id"),
      tf.linesIterator.filter(_.contains("Pushed")).mkString("\n"))

    // seeded shuffle: exactly ONE exchange (the range partitioning any
    // global reorder must pay), and it is a range partitioning
    val so = executed(CorpusOrder.seeded(docs.select($"doc_id"), "doc_id", "s1", Some(4)))
    assert(so.contains("rangepartitioning"), so.take(800))
    assert("Exchange".r.findAllIn(so).size == 1, so.take(800))
  }

  test("restore join preserves pushdown of the point-read predicate") {
    import spark.implicits._
    // direct point read (reference R9 analog): WHERE conv_id = X
    val t = SparkEntry.transcriptsView(spark, dir)
    val lineage = ExactDedup.dedupTurns(spark, t).select($"conv_id", $"turn_idx", $"fp")
    val restored = Restore.restore(spark, lineage, ExactDedup.uniqueTurns(spark, t))
      .filter($"conv_id" === "c42")
    val plan = executed(restored)
    // the conv_id filter must appear below the join (pushed through),
    // not only above it
    val lines = plan.linesIterator.toSeq
    val joinIdx = lines.indexWhere(l => l.contains("Join") || l.contains("join"))
    val filterBelow = lines.drop(joinIdx + 1).exists(l => l.contains("c42"))
    assert(filterBelow, lines.mkString("\n").take(1500))
  }
}
