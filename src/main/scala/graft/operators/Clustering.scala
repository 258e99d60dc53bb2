package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{ClusterAssign, DedupConfig, Doc, DupPair}

/** Edges from all detectors → connected components → cluster
  * assignments with deterministic first-occurrence representatives.
  *
  * Representative rule (T6 parity, /root/reference/src/dedup.c:150-173):
  * the member minimal under the total order (ts_min, conv_id) — the
  * "first writer" of the cluster under stream order. Every conversation
  * gets an assignment; non-duplicated conversations are their own
  * singleton cluster and representative.
  */
object Clustering {

  def assign(
      spark: SparkSession,
      docs: Dataset[Doc],
      pairs: Dataset[DupPair],
      cfg: DedupConfig = DedupConfig.default): Dataset[ClusterAssign] = {
    import spark.implicits._
    // no distinct: ConnectedComponents' symmetrize step dedups the edge
    // set in its own exchange — a distinct here would be a second
    // back-to-back shuffle of the same rows
    val edges = pairs.select($"doc_a", $"doc_b")
    val comps = ConnectedComponents.run(spark, edges, cfg.ccMaxIters, cfg.ccCheckpointEvery, cfg.ccBatchIters)
    labelAndRepresent(spark, docs.toDF.select($"conv_id", $"ts_min"), comps)
  }

  /** Shared assignment tail: singleton fill-in + the first-occurrence
    * representative rule, over any (conv_id, ts_min) universe and CC
    * label table. ONE implementation — the warm-started incremental
    * path ([[IncrementalNearDup.updateLabels]]) and the batch path
    * must agree on the T6 representative contract by construction. */
  private[operators] def labelAndRepresent(
      spark: SparkSession, tsMin: DataFrame, comps: DataFrame): Dataset[ClusterAssign] = {
    import spark.implicits._
    // every doc: component label if clustered, else itself (singleton)
    val assigned = tsMin
      .select($"conv_id", $"ts_min")
      .join(comps, Seq("conv_id"), "left")
      .withColumn("cluster_id", coalesce($"cluster_id", $"conv_id"))

    // first-occurrence representative per cluster — min (ts_min,
    // conv_id) — as a window aggregate over the cluster partition: one
    // exchange of the assignment rows instead of groupBy + join-back
    // (the reps table is ~#clusters at design scale, not broadcastable,
    // so the join was a second full shuffle of the same rows)
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"cluster_id")
    assigned
      .withColumn("first_occ", min(struct($"ts_min", $"conv_id")).over(w))
      .select(
        $"conv_id",
        $"cluster_id",
        $"first_occ.conv_id".as("representative"),
        ($"conv_id" === $"first_occ.conv_id").as("is_representative"))
      .as[ClusterAssign]
  }

  /** Re-elect each cluster's representative by a QUALITY score instead
    * of stream order: keep the member with the highest score,
    * tie-broken by smallest conv_id. The standard curation refinement
    * of first-writer-wins — when near-duplicates differ (one copy
    * truncated, one boilerplate-wrapped), a release wants the best
    * copy, not the earliest.
    *
    * Scale: one broadcast-free join on conv_id (both sides already
    * hash-partition by it) and one partial-agg groupBy(cluster_id)
    * carrying 16 B/doc — text is never touched; callers feed any score
    * (e.g. [[TextAnalysis.qualityScore]]'s column, computed at scan
    * speed).
    *
    * Reference analog: the reference's first-occurrence contract
    * (/root/reference/src/dedup.c:150-173) is the ts_min order rule in
    * [[assign]]; this operator generalizes the order key.
    *
    * @param scores (conv_id, `scoreCol`) — one row per conv_id
    *               expected; repeated conv_ids keep their highest
    *               score, so the output stays one row per conv_id;
    *               missing docs score Long.MinValue + 1 (never elected
    *               unless the whole cluster is missing; the +1 keeps
    *               the negation below free of two's-complement
    *               overflow, where -Long.MinValue == Long.MinValue
    *               would instead sort missing docs FIRST).
    */
  def electRepresentative(
      spark: SparkSession,
      assigns: Dataset[ClusterAssign],
      scores: DataFrame,
      scoreCol: String = "quality_score"): Dataset[ClusterAssign] = {
    import spark.implicits._
    // one score per conv_id, so the left join cannot multiply assignment
    // rows when a caller's score table repeats a conv_id; the max keeps
    // the election deterministic when the repeats disagree
    val oneScore = scores.groupBy($"conv_id").agg(max(col(scoreCol).cast("long")).as("sc"))
    val scored = assigns.toDF
      .join(oneScore, Seq("conv_id"), "left")
      .withColumn("sc", greatest(coalesce($"sc", lit(Long.MinValue + 1)), lit(Long.MinValue + 1)))
    // min(struct(-score, conv_id)): highest score first, then smallest
    // conv_id — as a window aggregate over the cluster partition (the
    // labelAndRepresent shape): one exchange of the scored assignment
    // rows instead of a groupBy + join-back against them
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"cluster_id")
    scored
      .withColumn("best", min(struct((-$"sc").as("neg"), $"conv_id")).over(w))
      .select(
        $"conv_id", $"cluster_id", $"best.conv_id".as("representative"),
        ($"conv_id" === $"best.conv_id").as("is_representative"))
      .as[ClusterAssign]
  }
}
