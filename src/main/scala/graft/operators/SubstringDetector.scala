package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.{DedupConfig, Doc, DupPair}
import graft.functions.Hashing

/** Exact long-substring duplication detector — the distributed stand-in
  * for a global suffix array (SURVEY.md §7.7): documents sharing a
  * ≥ substrQ-token exact substring are linked.
  *
  * Method (public technique family: winnowing/MOSS fingerprinting,
  * Schleimer-Wilkerson-Aiken SIGMOD'03): hash every q-token gram of a
  * doc, keep the grams whose hash ≡ 0 (mod substrSample) as ANCHORS, and
  * equi-join docs on anchor hash. A shared substring of length
  * L ≥ q tokens contributes L-q+1 aligned q-gram hashes, so the chance
  * that no anchor survives decays as (1-1/s)^(L-q+1); with the defaults
  * (q=32, s=8) a 64-token shared block is missed with prob < 1.5%, a
  * 100-token block < 0.01%.
  *
  * The join key is 128-BIT (struct<hi,lo>, two independently-initialized
  * rolling hashes of the gram — [[Hashing.substringAnchors128]]): a
  * bucket match IS the dup decision here, and at the 10^12-doc design
  * point the corpus carries 10^13–10^14 anchor instances, past the
  * 64-bit birthday bound — a single-long key would produce real
  * hash-collision "substring" lineage. Two longs keep collisions at the
  * 2^-128 scale of the exact-dedup [[graft.Fp]].
  *
  * Reference analog: content-defined chunk boundaries — copies align on
  * content, not offsets (/root/reference/src/chunk.c:91-96) — applied at
  * token granularity, with the same "fingerprint equality = duplicate"
  * decision as /root/reference/src/dedup.c:129-147.
  *
  * Scale: anchor extraction is a narrow flatMap; candidate generation
  * is the shared [[PairSweep]] — ONE pinned exchange on the key,
  * in-partition sort, streaming single pass with the same
  * deterministic-hub star fallback above cfg.bucketCap (boilerplate
  * blocks shared by millions of docs → linear star edges, not n²).
  *
  * The detector is the substring-only call (mask 4) of the
  * [[FusedDetectors]] spine: no signature is computed or joined, and
  * the sweep's width comes from the exact anchor count.
  */
object SubstringDetector {

  /** docs → pairs sharing a winnowed 128-bit anchor (detector
    * `substring`, score 1.0).
    *
    * LIFETIME CONTRACT: the result is a localCheckpoint valid until the
    * next substring-only call on the same SparkSession; calls with
    * other detector sets do not retire it. */
  def dupPairs(spark: SparkSession, docs: Dataset[Doc], cfg: DedupConfig): Dataset[DupPair] =
    FusedDetectors.sweep(spark, docs, cfg, FusedDetectors.Substring, FusedDetectors.DefaultSlack)
}
