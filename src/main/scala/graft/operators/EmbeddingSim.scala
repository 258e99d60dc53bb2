package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k of query docs against the
  *    corpus — broadcast the (small) query set against the corpus scan,
  *    rank with a per-query window. Baseline and re-ranker.
  *  - [[rhpBucketTopK]]: random-hyperplane LSH (Charikar'02 cosine
  *    sketch) — a narrow map assigns each vector a b-bit sign bucket;
  *    candidates are restricted to colliding buckets (multi-probe via
  *    several independent tables), then exact cosine re-ranks. This is
  *    the 100 TB path: no all-pairs shuffle, bucket keys hash-partition
  *    the corpus, per-bucket fan-in capped the same way as LSH bands.
  *
  *  - [[cosineDupPairs]]: embedding-cosine near-dup pairs (threshold)
  *    via the same bucket join — the "embedding" detector of the dedup
  *    suite.
  */
object EmbeddingSim {

  /** Codegen-friendly exact cosine between two array<double> columns
    * via zip_with + aggregate (no UDF). */
  def cosineCol(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, x) => acc + x * x))
    dot / (na * nb)
  }

  /** Exact top-k neighbors for each query id (queries must be a small
    * set — broadcast side). Excludes self-matches. */
  def bruteForceTopK(
      spark: SparkSession,
      corpus: DataFrame, // (vec_id, embedding array<float>)
      queryIds: Seq[Long],
      k: Int = 10): DataFrame = {
    import spark.implicits._
    val emb = corpus.select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val q = emb.filter($"vec_id".isin(queryIds: _*))
      .withColumnsRenamed(Map("vec_id" -> "query_id", "embedding" -> "q_emb"))
    val scored = emb.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"query_id")
      .withColumn("cos", cosineCol($"q_emb", $"embedding"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
    scored
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"rank",
        floor($"cos" * 10000).cast("bigint").as("cos_x10000"))
  }

  /** Hyperplane coefficient matrix for one table: bits × dim uniforms
    * in [-1,1) derived from (seed, plane, dim) via splitmix64 —
    * deterministic, no stored model. Materialized ONCE per (partition,
    * table) instead of re-mixing per (row, plane, dim). */
  def rhpPlanes(dim: Int, bits: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(bits)(p =>
      Array.tabulate(dim)(d =>
        Hashing.mix64(seed ^ (p.toLong << 32) ^ d.toLong).toDouble / Long.MaxValue))

  private def signBits(vec: Seq[Float], planes: Array[Array[Double]]): Long = {
    var sig = 0L
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      var dot = 0.0
      var d = 0
      while (d < plane.length) { dot += vec(d) * plane(d); d += 1 }
      if (dot >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** b-bit random-hyperplane sign sketch of a vector (single-shot form;
    * the distributed path amortizes the plane matrix per partition). */
  def rhpBits(vec: Seq[Float], bits: Int, seed: Long): Long =
    signBits(vec, rhpPlanes(vec.length, bits, seed))

  /** (bucket, vec_id) keys for `tables` independent b-bit sketches — a
    * narrow codegen'd projection through
    * [[graft.plans.RhpBucketsExpr]]: no typed-encoder round-trip per
    * vector, plane matrices cached per executor JVM (keyed by the
    * vector's dimension, so mixed-dimension inputs stay correct — a
    * shorter vector must not index past its planes, a longer one must
    * not be silently truncated). Bit-identical to the previous
    * mapPartitions kernel. */
  def bucketKeys(
      spark: SparkSession,
      corpus: DataFrame,
      bits: Int,
      tables: Int,
      seed: Long): DataFrame = {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    corpus.select(
      explode(call_function("graft_rhp_buckets", $"embedding",
        lit(bits), lit(tables), lit(seed))).as("bucket"),
      $"vec_id")
  }

  /** Bucketed ANN top-k: `tables` independent b-bit sketches; vectors
    * sharing any bucket are candidates; exact cosine re-ranks.
    *
    * Skew safety: only the MEMBER ('b') side of the bucket join is
    * HARD-CAPPED at `bucketCap` (deterministic first-by-vec_id) — the
    * QUERY side streams uncapped, the same asymmetry as
    * [[IvfIndex.ivfTopK]]'s cells. A hot bucket — a mega-cluster of
    * near-identical embeddings — therefore costs |bucket|·cap candidate
    * rows instead of n², while a capped-OUT vector still probes that
    * bucket as a query (under the old both-sides cap it lost the probe
    * along with membership: in the degenerate all-identical-vector
    * corpus every table collides, so capped-out vectors had ZERO
    * candidates anywhere — recall 0 exactly where dedup matters most).
    * Both consumers of the keys read ONE pinned bucket exchange
    * (ReuseExchange). */
  def rhpBucketTopK(
      spark: SparkSession,
      corpus: DataFrame,
      k: Int = 10,
      bits: Int = 12,
      tables: Int = 4,
      seed: Long = 42L,
      bucketCap: Int = 2048): DataFrame = {
    import spark.implicits._
    // key-volume-adaptive exchange width (the PairSweep sizing rule):
    // the bucket exchange carries ~16 B × tables per vector, so a fixed
    // session-width repartition schedules hundreds of near-empty tasks
    // at small corpus sizes while the width still saturates to the
    // session setting at scale (the estimate is clamped). Vector count
    // is estimated from the corpus plan's sizeInBytes at ≥64 B/row — a
    // float32 embedding of even 16 dims plus its id is wider, so the
    // estimate only errs toward MORE partitions. The exchange must stay
    // a pinned repartition: AQE coalescing would starve the candidate
    // join below, and a skew split would break capSortedByKey's
    // bucket-contiguity contract.
    val parts = PairSweep.sweepParts(spark, rowsFromStats(corpus) * tables)
    val keys = bucketKeys(spark, corpus, bits, tables, seed)
      .repartition(parts, $"bucket")
    val capped = capSortedByKey(spark, keys, bucketCap)
    // query side uncapped × member side capped (both directions still
    // emitted: every vector appears on the query side of its buckets)
    val cands = keys.as("a")
      .join(capped.as("b"), $"a.bucket" === $"b.bucket" && $"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("query_id"), $"b.vec_id".as("vec_id"))
      .distinct()
    rerankTopK(spark, corpus, cands, k)
  }

  /** Vector-count estimate from the corpus plan's sizeInBytes at
    * ≥64 B/row: a float32 embedding of even 16 dims plus its id is
    * wider, so this errs toward MORE partitions. Only ever sizes
    * exchanges (clamped to [1, session width]) — never semantics. */
  private[operators] def rowsFromStats(corpus: DataFrame): Long = {
    val bytes = corpus.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.optimizedPlan.stats.sizeInBytes
    (bytes / 64).min(BigInt(Long.MaxValue / 8)).toLong.max(1L)
  }

  /** Per-bucket cap WITHOUT a window, for input ALREADY hash-partitioned
    * on `bucket`: sort within partitions, stream-count each bucket in a
    * single pass (the PairSweep shape — a row_number
    * window would sort a mega-bucket in ONE task; here a hot bucket
    * costs a linear scan inside an ordinary shuffle partition and the
    * cap is deterministic, first `cap` ids). Taking pre-partitioned
    * input lets a caller share one exchange between the cap and other
    * consumers (ReuseExchange dedups the identical shuffle).
    * Input/output schema: (bucket: Long, vec_id: Long). */
  private[operators] def capSortedByKey(spark: SparkSession, partitioned: DataFrame, cap: Int): DataFrame = {
    import spark.implicits._
    partitioned
      .sortWithinPartitions($"bucket", $"vec_id")
      .as[(Long, Long)]
      .mapPartitions { it =>
        var cur = 0L
        var n = 0
        var started = false
        it.filter { case (b, _) =>
          if (!started || b != cur) { cur = b; n = 0; started = true }
          n += 1
          n <= cap
        }
      }
      .toDF("bucket", "vec_id")
  }

  /** Exact-cosine re-rank of candidate (query_id, vec_id) pairs to
    * top-k per query — shared tail of every bucketed ANN path. */
  private[operators] def rerankTopK(spark: SparkSession, corpus: DataFrame, cands: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val embD = corpus.select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val scored = cands
      .join(embD.withColumnsRenamed(Map("vec_id" -> "query_id", "embedding" -> "q_emb")), Seq("query_id"))
      .join(embD, Seq("vec_id"))
      .withColumn("cos", cosineCol($"q_emb", $"embedding"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"rank",
        floor($"cos" * 10000).cast("bigint").as("cos_x10000"))
  }

  /** Embedding-cosine near-duplicate pairs: cos ≥ threshold, found via
    * the bucket join (approximate) — the fifth detector family. */
  def cosineDupPairs(
      spark: SparkSession,
      corpus: DataFrame,
      threshold: Double = 0.95,
      bits: Int = 8,
      tables: Int = 6,
      seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val topk = rhpBucketTopK(spark, corpus, k = 64, bits = bits, tables = tables, seed = seed)
    topk
      .filter($"cos_x10000" >= (threshold * 10000).toLong)
      .filter($"query_id" < $"neighbor_id")
      .select($"query_id".as("doc_a"), $"neighbor_id".as("doc_b"),
        lit("embedding").as("detector"),
        ($"cos_x10000" / 10000.0).as("score"))
  }
}
