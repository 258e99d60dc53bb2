package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{ClusterAssign, DedupConfig, Doc, DupPair}

/** Incremental NEAR-dup detection + clustering for corpus growth — the
  * Spark-native analog of the reference's core workflow: a backup
  * system ingests INCREMENTS against an existing store, it never
  * re-reads the store's content
  * (/root/reference/src/dedup.c:80-147 probes the existing fingerprint
  * index per incoming chunk; the stored containers are untouched).
  *
  * [[IncrementalDedup]] already covers exact turn-level growth via a
  * broadcast Bloom prefilter. This module extends incrementality to
  * the DETECTOR + CLUSTERING layer:
  *
  *  - [[signatureTable]]: one fused sweep over a batch's documents
  *    producing everything later increments need — 128-bit exact doc
  *    fp, MinHash signature, SimHash — plus (conv_id, ts_min) for the
  *    representative rule. Persist it (TableStore); the raw text is
  *    never read again.
  *  - [[newTouchingPairs]]: detector pairs for a grown corpus from the
  *    stored signature table + the new batch's, re-deriving candidate
  *    keys from SIGNATURES (orders of magnitude smaller than text) and
  *    sweeping them through [[PairSweep.pairsIncremental]], which
  *    emits only edges the previous run cannot already know.
  *    Verification (signature Jaccard, Hamming radius) is identical to
  *    the batch path, so precision is unchanged.
  *  - [[updateLabels]]: connected components warm-started from the
  *    previous assignment — prior clusters TOUCHED by a new edge enter
  *    as their spanning STAR edges (member → cluster_id), which
  *    reproduce exactly the prior components in one hop, unioned with
  *    the new edges; every untouched assignment row passes through
  *    verbatim. No old pair is recomputed or re-verified, and the CC
  *    loop runs over the touched subgraph, not the corpus.
  *
  * Cost per increment: one text sweep over the NEW batch only, one key
  * exchange over new + stored signature keys, CC over (star edges +
  * new edges). Nothing scans the old corpus text. At the 10^12-turn
  * design point the stored-key exchange is the dominant term; a
  * deployment would keep the signature table bucketed by key range so
  * only the new batch's keys move (documented, not wired — the sandbox
  * store is plain parquet).
  *
  * Cluster equivalence vs a full recompute: exact, except buckets that
  * crossed the star cap between runs — there incremental keeps
  * previously verified old-old links a capped fresh run would not
  * regenerate (strictly higher recall, equal precision; see
  * [[PairSweep.pairsIncremental]]).
  */
object IncrementalNearDup {

  /** The detectors an increment re-derives: MinHash + SimHash. */
  private val NearDupMask = FusedDetectors.MinHash | FusedDetectors.SimHash

  /** (conv_id, ts_min, fp_h1, fp_h2, sig, simhash) — everything future
    * increments need from this batch, in one sweep over its text. */
  def signatureTable(spark: SparkSession, docs: Dataset[Doc], cfg: DedupConfig): DataFrame = {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    docs.toDF.select(
      $"conv_id",
      $"ts_min",
      ExactDedup.fp($"doc_text").as("fp"),
      FusedDetectors.docSig($"doc_text", cfg, NearDupMask).as("s"))
      .select($"conv_id", $"ts_min",
        $"fp.h1".as("fp_h1"), $"fp.h2".as("fp_h2"),
        $"s.mh".as("sig"), $"s.sh".as("simhash"))
  }

  /** All detector edges the grown corpus has that the old corpus alone
    * did not: exact (identical doc fp), minhash, simhash — each
    * restricted to what [[PairSweep.pairsIncremental]] must emit.
    * `stored` and `fresh` are [[signatureTable]] frames (old corpus /
    * new batch); conv_id sets must be disjoint.
    *
    * The returned frame is materialized (localCheckpoint) and valid
    * until the next `newTouchingPairs` on the SAME SparkSession
    * (previous output blocks are then retired — same contract as CC
    * labels and the suffix-array pass); persist or write it first if
    * two batches' pair sets must be held simultaneously. */
  def newTouchingPairs(spark: SparkSession, stored: DataFrame, fresh: DataFrame,
      cfg: DedupConfig, slack: Double = FusedDetectors.DefaultSlack): Dataset[DupPair] = {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val all0 = stored.withColumn("is_new", lit(false))
      .unionByName(fresh.withColumn("is_new", lit(true)))
      .cache()
    all0.count() // one materialization; every branch below reads cache
    val all = org.apache.spark.sql.GraftPlanBridge.planBoundary(all0)

    // exact: 128-bit fp equality IS the decision (same contract as
    // ExactDedup.docDupPairs; star shape differs, connectivity equal)
    val exact = PairSweep.pairsIncremental(spark,
      all.select($"fp_h1".as("k1"), $"fp_h2".as("k2"), lit(0L).as("k3"), $"conv_id", $"is_new"),
      cfg.bucketCap)
      .dropDuplicates("doc_a", "doc_b")
      .select($"doc_a", $"doc_b", lit("exact").as("detector"), lit(1.0).as("score"))

    // minhash + simhash: THE batch path's key generation and
    // verification (FusedDetectors.taggedKeys / verifyPairs — shared
    // code, not a synchronized copy), incremental emission in between
    val cands = PairSweep.pairsIncremental(spark,
      FusedDetectors.taggedKeys(all, cfg, Seq("conv_id", "is_new"), NearDupMask), cfg.bucketCap)
      .dropDuplicates("doc_a", "doc_b", "k3")
      .cache()
    cands.count()
    val out = exact.unionAll(FusedDetectors.verifyPairs(cands, all, cfg, slack, NearDupMask))
      .as[DupPair]
      .localCheckpoint(true)
    // an ingest loop calls this once per batch on a long-lived session:
    // unpersist the per-batch intermediates now (the output is
    // materialized) and retire the previous batch's output blocks
    cands.unpersist(false)
    all0.unpersist(false)
    Retire.swap(spark, "incremental_pairs", out.toDF)
    out
  }

  /** Cluster assignment for the grown corpus, warm-started from the
    * previous one — and PROPORTIONAL TO THE INCREMENT: only components
    * the new edges touch are re-solved.
    *
    * `prevAssign` is the prior run's full assignment (conv_id,
    * cluster_id, representative, is_representative); `tsMin` the
    * (conv_id, ts_min) projection of ALL docs old + new — both
    * available from stored tables, so no corpus scan. A prior cluster
    * is TOUCHED when any new edge lands on one of its members; its
    * members re-enter CC as the cluster's spanning star (exactly
    * reproducing the prior component) together with the new edges,
    * and the shared assignment tail re-derives labels +
    * first-occurrence representatives for that subgraph (a new doc
    * with an earlier ts_min can take over as representative, same as
    * a fresh run). Every UNTOUCHED row passes through verbatim —
    * membership and representative of a component no new edge reaches
    * cannot change, so the CC loop and the representative regroup run
    * over the touched subgraph + the new batch, not the corpus.
    *
    * The returned frame embeds this run's CC labels and touched-set
    * checkpoints: like every CC consumer, materialize (write/collect/
    * persist) before the next CC-backed call on the same session. */
  def updateLabels(spark: SparkSession, prevAssign: DataFrame, newPairs: Dataset[DupPair],
      tsMin: DataFrame, cfg: DedupConfig = DedupConfig.default): Dataset[ClusterAssign] = {
    import spark.implicits._
    val touchedDocs = newPairs.select($"doc_a".as("conv_id"))
      .unionAll(newPairs.select($"doc_b".as("conv_id")))
      .distinct()
    // eagerly materialize: this tiny frame is embedded in THREE plan
    // branches (star edges, relabel universe, pass-through anti-join) —
    // lazy, each branch would rescan prevAssign and re-run the distinct
    // shuffle; materialized, the two prevAssign joins also get an
    // accurate (small) size estimate and broadcast. localCheckpoint +
    // retire slot (not cache) so successive increments on one session
    // free the previous batch's copy.
    val touchedClusters = prevAssign
      .join(touchedDocs, Seq("conv_id"), "left_semi")
      .select($"cluster_id").distinct()
      .localCheckpoint(true)
    Retire.swap(spark, "incremental_touched", touchedClusters)
    val untouched = prevAssign.join(touchedClusters, Seq("cluster_id"), "left_anti")
    val touched = prevAssign.join(touchedClusters, Seq("cluster_id"), "left_semi")

    val starEdges = touched
      .filter($"conv_id" =!= $"cluster_id")
      .select($"conv_id".as("doc_a"), $"cluster_id".as("doc_b"))
    val edges = newPairs.select($"doc_a", $"doc_b").unionAll(starEdges)
    val comps = ConnectedComponents.run(spark, edges,
      cfg.ccMaxIters, cfg.ccCheckpointEvery, cfg.ccBatchIters)

    // relabel universe = everything not passed through verbatim:
    // members of touched clusters + the whole new batch (tsMin rows
    // absent from prevAssign), including new singletons CC never saw
    val relabelUniverse = tsMin
      .join(untouched.select($"conv_id"), Seq("conv_id"), "left_anti")
    val relabeled = Clustering.labelAndRepresent(spark, relabelUniverse, comps)
    untouched
      .select($"conv_id", $"cluster_id", $"representative", $"is_representative")
      .as[ClusterAssign]
      .unionByName(relabeled)
  }
}
