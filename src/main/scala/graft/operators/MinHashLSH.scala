package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.{DedupConfig, Doc, DupPair}

/** MinHash + LSH near-duplicate detection (Broder '97 resemblance /
  * banding per Leskovec-Rajaraman-Ullman, "Mining of Massive Datasets"
  * ch.3 — public technique).
  *
  * Reference analog: the fingerprint index probe generalized from
  * equality to Jaccard similarity (/root/reference/src/dedup.c:105-175);
  * an LSH band bucket plays the role of a hash-index bucket
  * (/root/reference/src/diskhash.c:103-104).
  *
  * Scale design:
  *  - Signatures are a NARROW map over docs (no shuffle): the signature
  *    is a pure function of doc_text.
  *  - Banding is a flatMap (bands× fan-out, still narrow).
  *  - The only wide operations: one exchange on band key for candidate
  *    generation and the joins that attach signatures for verification.
  *  - Skew (north_rule): buckets larger than cfg.bucketCap emit STAR
  *    edges (each member → bucket hub) instead of all pairs — linear,
  *    preserves connected-component connectivity, avoids the quadratic
  *    blowup of a mega-template bucket. All-pair emission only below the
  *    cap, where it buys recall for the pairwise-verify step.
  *  - Verification: signature-estimated Jaccard (unbiased,
  *    σ ≈ sqrt(J(1-J)/numHashes) ≈ 0.04 at 128 hashes) against
  *    `jaccardThreshold - slack`; the slack keeps estimator noise from
  *    dropping true pairs at the boundary (recall-first).
  *
  * The detector is the MinHash-only call (mask 1) of the
  * [[FusedDetectors]] spine.
  */
object MinHashLSH {

  /** docs → verified near-dup pairs (detector `minhash`, score = the
    * estimated Jaccard).
    *
    * LIFETIME CONTRACT: the result is a localCheckpoint valid until the
    * next MinHash-only call on the same SparkSession; calls with other
    * detector sets do not retire it. */
  def dupPairs(spark: SparkSession, docs: Dataset[Doc], cfg: DedupConfig): Dataset[DupPair] =
    FusedDetectors.sweep(spark, docs, cfg, FusedDetectors.MinHash, FusedDetectors.DefaultSlack)
}
