package graft

import java.sql.Timestamp

/** Core row types of the dedup engine.
  *
  * Input shape is fixed by the spec (BASELINE.json `input_hint`): an
  * Iceberg-style table of multi-turn transcripts. Reference analogs are
  * cited per type (see SURVEY.md §1.3 for the full mapping).
  */

/** One transcript turn — the unit of turn-level exact dedup.
  * Reference analog: one chunk of a backup stream
  * (/root/reference/include/config.h:53-56). */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** A conversation assembled from its turns under stable
  * (conv_id, turn_idx) order. Reference analog: a whole backup file
  * replayed from its recipe (/root/reference/src/trace_work.c:141-222). */
final case class Doc(
    conv_id: String,
    doc_text: String,
    n_turns: Int,
    ts_min: Timestamp)

/** A candidate or confirmed duplicate pair between two documents.
  * `detector` ∈ {exact, minhash, simhash, substring, suffix_array,
  * embedding}.
  * Reference analog: a fingerprint-index hit
  * (/root/reference/src/dedup.c:129-147). */
final case class DupPair(
    doc_a: String,
    doc_b: String,
    detector: String,
    score: Double)

/** Final cluster assignment. `representative` is the first-occurrence
  * member under the total order (ts_min, conv_id) — parity with the
  * reference's first-writer-wins rule
  * (/root/reference/src/dedup.c:150-173). */
final case class ClusterAssign(
    conv_id: String,
    cluster_id: String,
    representative: String,
    is_representative: Boolean)

/** 128-bit content fingerprint (two independently-seeded 64-bit
  * halves). Wide enough that birthday collisions are negligible at the
  * 10^12-turn design scale — the reference's 17-byte-SHA-1 decision
  * (/root/reference/include/config.h:42) re-expressed as a fixed-width
  * struct that groupBy/join hash-partition natively. */
final case class Fp(h1: Long, h2: Long)

/** Per-turn lineage row: which fingerprint each (conv_id, turn_idx) maps
  * to and which cluster its conversation landed in. This is the engine's
  * "recipe" (/root/reference/src/metadata.c:91-95): the restore path
  * rebuilds the corpus from (lineage ⋈ unique turn store). */
final case class LineageRow(
    stage: String,
    conv_id: String,
    turn_idx: Int,
    fp: Fp,
    cluster_id: String)

/** Per-stage metrics row (reference analog: the running dedup counters,
  * /root/reference/src/optsmr.c:316-332). */
final case class StageMetrics(
    stage: String,
    rows_in: Long,
    rows_out: Long,
    dup_pairs: Long,
    wall_ms: Long)

/** All tunables of the pipeline, frozen so that recall comparisons run
  * at an identical shingle/signature configuration (north_rule).
  *
  * Defaults: k=5 token shingles; 128 minhash permutations in 32 bands ×
  * 4 rows (LSH threshold ≈ (1/32)^(1/4) ≈ 0.42 Jaccard — well below the
  * 0.8+ near-dup target, so band recall is high); 64-bit SimHash over
  * char 4-grams, 4 16-bit blocks with 1-bit ball expansion (recall
  * guaranteed to HD 11) and verify radius 10; 32-token anchor q-grams
  * for the long-substring detector.
  */
final case class DedupConfig(
    shingleK: Int = 5,
    numHashes: Int = 128,
    bands: Int = 32,
    rowsPerBand: Int = 4,
    jaccardThreshold: Double = 0.7,
    simhashBlocks: Int = 4,
    /** feature granularity for simhash: k-token shingles. k=2 keeps the
      * fuzzy-edit Hamming displacement small relative to unrelated-doc
      * distance (measured on the fixture corpus: fuzzy ≤ 11, unrelated
      * ≥ 13). */
    simhashShingleK: Int = 2,
    /** verify radius == the ball-key guarantee (HD ≤ 11 always shares a
      * candidate key), so the detector is deterministically complete
      * for its contract. */
    hammingRadius: Int = 11,
    substrQ: Int = 32,
    substrSample: Int = 8,
    /** max docs per LSH bucket for all-pairs emission; larger buckets
      * fall back to star edges around the bucket-min doc (connectivity
      * preserved for CC, quadratic blowup avoided — SURVEY.md §4 skew). */
    bucketCap: Int = 64,
    /** iteration cap of the CC hash-min loop. Like ccCheckpointEvery and
      * ccBatchIters, it applies only to dup graphs above
      * [[graft.operators.ConnectedComponents.SingleTaskMaxEdges]]
      * symmetric edges; smaller graphs are solved in one union-find
      * task with no loop. */
    ccMaxIters: Int = 25,
    /** RELIABLE-checkpoint cadence (rounds) for the CC loop, effective
      * only when the SparkContext has a checkpoint dir (Pipeline runs)
      * and the dup graph is above the single-task bound.
      * Plan truncation itself is free and happens every round via lazy
      * plan boundaries (Catalyst re-analysis of a compound plan costs
      * multi-second DRIVER time per extra iteration of depth —
      * measured: 3s/iter truncated vs 29s at depth 2, 216s at depth 3);
      * this knob only bounds how many tiny label rounds an
      * executor-loss recovery may replay. */
    ccCheckpointEvery: Int = 1,
    /** hash-min+jump iterations batched into ONE materializing job per
      * CC round (intermediates end at lazy plan boundaries, so Catalyst
      * cost stays linear — see ConnectedComponents.runLoop). Batching
      * trades driver job-syncs against post-fixpoint overshoot (up to
      * batchIters-1 wasted iterations, detectable only at round ends)
      * and per-iteration stage dispatch. Measured on both deployment
      * shapes: in-process local[N] (no per-stage RPC; job-sync is the
      * fixed cost) runs fastest at 3, while multi-executor clusters
      * (per-stage dispatch on every extra iteration) run fastest at 1
      * — so 0 = AUTO picks by master: 3 for local[...], 1 otherwise.
      * Any positive value pins it. Loop-only: no effect at or below
      * the single-task bound. */
    ccBatchIters: Int = 0,
    seed: Long = 42L) {
  require(numHashes == bands * rowsPerBand, "numHashes must equal bands*rowsPerBand")
  // fail at construction, not inside an executor task mid-job: the OPH
  // minhash kernel bins by the top lg(numHashes) hash bits
  require(Integer.bitCount(numHashes) == 1,
    "numHashes must be a power of two (OPH minhash bins)")
  // anchor sampling implements "hash ≡ 0 mod sample" as a mask — only
  // correct for powers of two; reject configs that would silently
  // change the (1-1/s)^(L-q+1) miss-probability bound
  require(Integer.bitCount(substrSample) == 1, "substrSample must be a power of two")
}

object DedupConfig {
  val default: DedupConfig = DedupConfig()
}
