package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.{DedupConfig, Doc, DupPair}
import graft.functions.Hashing

/** 64-bit SimHash fuzzy near-dup detection (Charikar STOC'02; block
  * bucketing per Manku et al., WWW'07 "Detecting Near-Duplicates for Web
  * Crawling" — public techniques).
  *
  * Features are 2-token shingles of the normalized doc: scattered
  * single-character edits (the fuzzy family) move only a couple of the
  * ~|tokens| features so the near-dup Hamming distance stays small
  * (cosine-LSH: E[HD]/64 ≈ angle/π), while unrelated docs — even ones
  * sharing boilerplate turns — stay well outside the verify radius.
  *
  * Candidate generation: 16-bit blocks with 1-bit Hamming-ball
  * expansion ([[Hashing.simhashBallKeys]]) — guaranteed recall for
  * HD ≤ 11 while keeping 16-bit key selectivity (a plain
  * 8-blocks-of-8-bits split for the same radius would put every doc in
  * ~n/256-sized buckets at corpus scale). Verification is the cheap
  * codegen'd `bit_count(a ^ b) <= r` on the joined rows.
  *
  * Scale: simhash is a narrow map; ball keys a 68× flatMap; ONE wide
  * groupBy on block key with the same star-edge cap as the LSH bucket
  * path (hot block values — e.g. blocks of boilerplate-heavy docs —
  * would otherwise go quadratic).
  *
  * The detector is the SimHash-only call (mask 2) of the
  * [[FusedDetectors]] spine.
  */
object SimHashDetector {

  /** docs → verified fuzzy pairs (detector `simhash`, score =
    * 1 - HD/64).
    *
    * LIFETIME CONTRACT: the result is a localCheckpoint valid until the
    * next SimHash-only call on the same SparkSession; calls with other
    * detector sets do not retire it. */
  def dupPairs(spark: SparkSession, docs: Dataset[Doc], cfg: DedupConfig): Dataset[DupPair] =
    FusedDetectors.sweep(spark, docs, cfg, FusedDetectors.SimHash, FusedDetectors.DefaultSlack)
}
