package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Explicit skew handling (north_rule: "skewed bands and mega-clusters
  * handled via explicit repartitioning, key salting, and AQE").
  *
  * Three layers in this engine:
  *  1. LSH/block/anchor buckets — capped star edges
  *     ([[PairSweep]]): structural, changes candidate
  *     generation from quadratic to linear on hot buckets.
  *  2. AQE skew-join splitting — on by default in every session.
  *  3. This utility — classic replicate-and-salt for a hot-key
  *     many-to-one join, for cases where the build side is too large
  *     to broadcast and AQE's split granularity is insufficient.
  */
object Skew {

  /** Salted many-to-one equi-join: probe side gets a random salt in
    * [0, buckets); build side is replicated `buckets` times. Equivalent
    * to `probe.join(build, keys)` when `build` has unique keys, but a
    * hot key's probe rows spread over `buckets` reducers.
    *
    * rand() here is safe-by-construction: the salt only routes rows,
    * the join result is salt-invariant. */
  def saltedJoinManyToOne(
      spark: SparkSession,
      probe: DataFrame,
      build: DataFrame,
      key: String,
      buckets: Int = 8): DataFrame = {
    import spark.implicits._
    val salted = probe.withColumn("_salt", pmod(ceil(rand(42) * buckets).cast("int"), lit(buckets)))
    val replicated = build
      .withColumn("_salt", explode(sequence(lit(0), lit(buckets - 1))))
    salted
      .join(replicated, Seq(key, "_salt"))
      .drop("_salt")
  }

  /** Top-N hottest values of a column with their counts — the skew
    * diagnostic used to decide caps/salting (reference analog: the
    * running dup-ratio counters, /root/reference/src/optsmr.c:316-332). */
  def hotKeys(df: DataFrame, col: String, topN: Int = 20): DataFrame =
    df.groupBy(col).count().orderBy(desc("count")).limit(topN)
}
