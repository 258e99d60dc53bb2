package graft.bench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own correctness checks. They use only Spark built-ins
  * and the generator's truth, never an engine verifier, so a change to
  * the engine cannot grade itself. */
object Checks {

  val MinRecall = 0.99

  /** Order-independent digest of (conv_id, turn_idx, text) rows: the row
    * count plus sums of two independently seeded 64-bit row hashes, each
    * split into 32-bit halves so the sums cannot overflow. */
  def digest(rows: DataFrame): Seq[Long] = {
    val cols = Seq(col("conv_id"), col("turn_idx"), col("text"))
    def halves(h: Column) = Seq(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), sum(shiftrightunsigned(h, 32)))
    val aggs = Seq(count(lit(1))) ++ halves(xxhash64(cols: _*)) ++
      halves(xxhash64(lit(0x5EED5EEDL) +: cols: _*))
    val r = rows.agg(aggs.head, aggs.tail: _*).head()
    (0 until r.size).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  /** Pairwise co-membership precision and recall of a predicted grouping
    * against a true one, over the same rows: `rows` has one column per
    * grouping. One job: the (predicted, true) group sizes are collected
    * and the pair counts Σ C(k, 2) summed on the driver. */
  def pairwise(rows: DataFrame, predicted: String, truth: String): (Double, Double) = {
    val groups = rows.groupBy(col(predicted), col(truth)).agg(count(lit(1)))
      .collect().map(r => (r.get(0), r.get(1), r.getLong(2)))
    def pairs(sizes: Iterable[Long]) = sizes.map(k => k.toDouble * (k - 1) / 2).sum
    val both = pairs(groups.map(_._3))
    val pred = pairs(groups.groupMapReduce(_._1)(_._3)(_ + _).values)
    val tru = pairs(groups.groupMapReduce(_._2)(_._3)(_ + _).values)
    (if (pred == 0) 1.0 else both / pred, if (tru == 0) 1.0 else both / tru)
  }

  /** Share of truth pairs (doc_a, doc_b) whose two convs share a
    * cluster_id in `assign`. */
  def pairRecall(spark: SparkSession, assign: DataFrame, truthPairs: DataFrame): Double = {
    import spark.implicits._
    val a = assign.select($"conv_id".as("doc_a"), $"cluster_id".as("ca"))
    val b = assign.select($"conv_id".as("doc_b"), $"cluster_id".as("cb"))
    val r = truthPairs.join(a, Seq("doc_a"), "left").join(b, Seq("doc_b"), "left")
      .agg(count(lit(1)), count(when($"ca" === $"cb", 1))).head()
    if (r.getLong(0) == 0) 1.0 else r.getLong(1).toDouble / r.getLong(0)
  }

  /** Co-membership precision of `assign` against the generator's truth
    * clusters: of all conv pairs that share a predicted cluster, the
    * share that share a true one. */
  def pairPrecision(assign: DataFrame, truthClusters: DataFrame): Double =
    pairwise(assign.select(col("conv_id"), col("cluster_id").as("pred"))
      .join(truthClusters.select(col("conv_id"), col("cluster_id").as("truth")), "conv_id"),
      "pred", "truth")._1

  /** Rows of `a` not in `b` plus rows of `b` not in `a` (multiset). */
  def rowDiff(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).count() + b.exceptAll(a).count()

  /** The incremental-vs-full equivalence rule: identical assignments, or
    * the one documented benign divergence, where incremental clusters
    * strictly coarsen the full run's (a bucket crossed the star cap
    * between runs and incremental kept earlier verified links). Benign
    * needs all of: (a) no full cluster split, (b) some incremental
    * cluster merges several full ones, (c) every doc outside a merged
    * cluster matches on every column, (d) each merged cluster's
    * representative is one of its full clusters' representatives.
    * Returns the failure, if any. */
  def incrementalMatchesFull(spark: SparkSession, incr: DataFrame, full: DataFrame): Option[String] = {
    import spark.implicits._
    val diff = rowDiff(incr, full)
    if (diff == 0) return None
    val j = full.select($"conv_id", $"cluster_id".as("fc"),
        $"representative".as("fr"), $"is_representative".as("fir"))
      .join(incr.select($"conv_id", $"cluster_id".as("ic"),
        $"representative".as("ir"), $"is_representative".as("iir")), Seq("conv_id"))
      .cache()
    try {
      val splits = j.groupBy($"fc").agg(countDistinct($"ic").as("n")).filter($"n" > 1).count()
      val merged = j.groupBy($"ic").agg(countDistinct($"fc").as("n")).filter($"n" > 1).select($"ic")
      val nMerged = merged.count()
      val cleanDiffs = j.join(merged, Seq("ic"), "left_anti")
        .filter($"fc" =!= $"ic" || $"fr" =!= $"ir" || $"fir" =!= $"iir").count()
      val repDrift = j.join(merged, Seq("ic"))
        .join(j.select($"ic", $"fr".as("ir")).distinct(), Seq("ic", "ir"), "left_anti").count()
      val rowsMatch = j.count() == full.count() && j.count() == incr.count()
      if (rowsMatch && splits == 0 && nMerged > 0 && cleanDiffs == 0 && repDrift == 0) None
      else Some(s"incremental != full recompute (row_diff=$diff splits=$splits " +
        s"merged=$nMerged clean_diffs=$cleanDiffs rep_drift=$repDrift)")
    } finally j.unpersist(false)
  }
}
