package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{DedupConfig, Doc, DupPair}

/** The detector spine: the ONE implementation of near-dup detection.
  * MinHash-LSH, SimHash and the exact long-substring detector are a
  * bit mask over one sweep — [[MinHashLSH]], [[SimHashDetector]] and
  * [[SubstringDetector]] are single-detector calls of it (mask 1, 2,
  * 4), the pipeline's pairs stage runs all three (mask 7).
  *
  * One sweep, whatever the mask:
  *
  *  - ONE narrow projection computes every masked detector's per-doc
  *    input ([[graft.plans.DocSigExpr]], `graft_doc_sig` — tokenizes
  *    once; its struct carries only the masked fields);
  *  - ONE exchange carries every masked detector's candidate keys,
  *    tagged in the sweep's k3 column so bucket spaces are STRUCTURALLY
  *    disjoint (bucket identity = (k1, k2, k3); the shared [[PairSweep]]
  *    keeps per-bucket caps and deterministic hubs);
  *  - per-detector verification (signature Jaccard for minhash,
  *    `bit_count(a^b) <= r` for simhash, bucket-match-is-the-decision
  *    for substring) reads the same cached signature table.
  *
  * A multi-detector sweep is row-identical to the union of the
  * single-detector sweeps (DetectorSpec asserts it for masks 3 and 7):
  * the tags keep the detectors' buckets, dedup and predicates apart.
  *
  * Reference analog: the reference's dedup pass also computes its
  * chunk fingerprint and its index probe in the same read of the data
  * (/root/reference/src/dedup.c:80-147) rather than one pass per
  * structure.
  */
object FusedDetectors {

  /** Detector mask bits. */
  val MinHash = 1
  val SimHash = 2
  val Substring = 4

  // detector tags ride the sweep's k3 column; k2 carries the low half
  // of the 128-bit anchor key for substring rows and 0 for the others
  private val MinHashTag = 0L
  private val SimHashTag = 1L
  private val SubstrTag = 2L

  /** Verification slack shared by the batch and incremental paths —
    * single-sourced so the two can never silently diverge. */
  val DefaultSlack = 0.05

  private def has(mask: Int, d: Int): Boolean = (mask & d) != 0

  /** The `graft_doc_sig` struct of `text` for `mask` (fields mh, sh, an
    * — only the masked ones). */
  private[graft] def docSig(text: Column, cfg: DedupConfig, mask: Int): Column =
    call_function("graft_doc_sig", text, lit(mask),
      lit(cfg.shingleK), lit(cfg.numHashes), lit(cfg.seed),
      lit(cfg.simhashShingleK), lit(cfg.substrQ), lit(cfg.substrSample))

  /** Tagged candidate key stream from a [[signatures]]-shaped frame
    * (the `mask`'s columns of sig, simhash, anchors + the `carry`
    * columns — conv_id always; is_new for the incremental path). Tags
    * in k3 keep the detectors' bucket spaces disjoint inside one
    * exchange; substring keys are the 128-bit anchors as (hi, lo, tag).
    *
    * ONE scan of the signature frame: every detector's keys are built
    * as per-row struct arrays, concatenated and exploded by a single
    * generator. A unionAll of one projection per detector would read
    * the (cached, corpus-sized) signature table once PER DETECTOR: 3×
    * the cache scan volume and 3× the map tasks feeding the sweep
    * exchange, each paying its own shuffle-file create/commit (measured
    * as the sweep's dominant cost at sf0.1). */
  private[operators] def taggedKeys(sigs: DataFrame, cfg: DedupConfig,
      carry: Seq[String], mask: Int): DataFrame = {
    val cc = carry.map(col).toList
    def tag(k1: Column, k2: Column, k3: Long) =
      struct(k1.as("k1"), k2.as("k2"), lit(k3).as("k3"))
    val arrs =
      (if (has(mask, MinHash)) Seq(transform(
        call_function("graft_band_hashes", col("sig"), lit(cfg.bands), lit(cfg.rowsPerBand)),
        k => tag(k, lit(0L), MinHashTag))) else Nil) ++
      (if (has(mask, SimHash)) Seq(transform(
        call_function("graft_ball_keys", col("simhash"), lit(cfg.simhashBlocks)),
        k => tag(k, lit(0L), SimHashTag))) else Nil) ++
      (if (has(mask, Substring)) Seq(transform(col("anchors"),
        a => tag(a.getField("hi"), a.getField("lo"), SubstrTag))) else Nil)
    sigs.select(explode(concat(arrs: _*)).as("k") :: cc: _*)
      .select(col("k.k1").as("k1") :: col("k.k2").as("k2") :: col("k.k3").as("k3") :: cc: _*)
  }

  /** Per-detector verification of a tagged candidate set against the
    * signature frame: signature Jaccard for minhash, Hamming radius
    * for simhash — THE verification both the batch and incremental
    * paths run. Substring candidates are NOT verified — their bucket
    * match IS the decision ([[SubstringDetector]]) — so they are the
    * fall-through of every per-tag choice and exit `substring`/1.0.
    *
    * ONE streaming pass over the candidate set: per-detector predicate
    * and score are selected by the k3 tag inside a single projection
    * (one filter+join branch per detector would run the shared join
    * subtree once per branch). The signature attachments are
    * CONDITIONAL left joins (match only for the tags that verify):
    * substring candidates ride the same pass but pick up NULL instead
    * of the ~1 KB signature payload. For minhash/simhash rows the left
    * joins are inner-equivalent — every candidate id has exactly one
    * signature row by construction. A substring-only mask attaches no
    * signatures at all. */
  private[operators] def verifyPairs(cands: DataFrame, sigs: DataFrame,
      cfg: DedupConfig, slack: Double, mask: Int): DataFrame = {
    val (mh, sh) = (has(mask, MinHash), has(mask, SimHash))
    if (!mh && !sh)
      return cands.select(col("doc_a"), col("doc_b"),
        lit("substring").as("detector"), lit(1.0).as("score"))
    val isMh = col("k3") === MinHashTag
    val isSh = col("k3") === SimHashTag
    // one when-chain over the verified tags; substring falls through
    def byTag(onMh: Column, onSh: Column, substring: Column): Column = {
      val arms = (if (mh) Seq(isMh -> onMh) else Nil) ++ (if (sh) Seq(isSh -> onSh) else Nil)
      arms.tail.foldLeft(when(arms.head._1, arms.head._2)) { case (c, (t, v)) => c.when(t, v) }
        .otherwise(substring)
    }
    val needsSig = if (mh && sh) isMh || isSh else if (mh) isMh else isSh
    def side(s: String) = sigs.select(col("conv_id").as(s"s${s}_id") +:
      ((if (mh) Seq(col("sig").as(s"sig_$s")) else Nil) ++
        (if (sh) Seq(col("simhash").as(s"sh_$s")) else Nil)): _*)
    val withSigs = cands
      .join(side("a"), col("doc_a") === col("sa_id") && needsSig, "left")
      .join(side("b"), col("doc_b") === col("sb_id") && needsSig, "left")
      .drop("sa_id", "sb_id")
    val scored = if (!mh) withSigs else withSigs.withColumn("score",
      when(isMh, call_function("graft_sig_jaccard", col("sig_a"), col("sig_b"))))
    val hd = col("hd")
    (if (!sh) scored else scored.withColumn("hd", bit_count(col("sh_a").bitwiseXOR(col("sh_b")))))
      .filter(byTag(col("score") >= lit(cfg.jaccardThreshold - slack),
        hd <= lit(cfg.hammingRadius), lit(true)))
      .select(col("doc_a"), col("doc_b"),
        byTag(lit("minhash"), lit("simhash"), lit("substring")).as("detector"),
        byTag(col("score"), lit(1.0) - hd.cast("double") / lit(64.0), lit(1.0)).as("score"))
  }

  /** (conv_id, sig: array<bigint>, simhash: bigint,
    * anchors: array<struct<hi,lo>>) — the columns of the detectors in
    * `mask` only, from one tokenization pass per doc. */
  def signatures(spark: SparkSession, docs: Dataset[Doc], cfg: DedupConfig,
      mask: Int = MinHash | SimHash): DataFrame = {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val fields = Seq((MinHash, "mh", "sig"), (SimHash, "sh", "simhash"), (Substring, "an", "anchors"))
      .collect { case (d, f, c) if has(mask, d) => col(s"s.$f").as(c) }
    docs.toDF.select($"conv_id", docSig($"doc_text", cfg, mask).as("s"))
      .select($"conv_id" +: fields: _*)
  }

  /** The sweep's verified pair frame BEFORE it is checkpointed, and the
    * materialized signature cache it reads (the caller unpersists it
    * once the frame is materialized). [[sweep]] checkpoints it; plan
    * inspection (PlanSpec, PlanDump) reads it here, because the
    * checkpoint's scan hides the sweep. */
  private[graft] def verifiedFrame(spark: SparkSession, docs: Dataset[Doc], cfg: DedupConfig,
      mask: Int, slack: Double): (DataFrame, DataFrame) = {
    graft.plans.GraftFunctions.register(spark)
    // cache() alone is NOT enough here: the signature table feeds up to
    // three plan branches (the key stream + two verification join
    // sides), and AQE materializes leaf exchanges CONCURRENTLY — before
    // any cached block lands, every concurrent branch computes the full
    // signature pipeline independently (measured: the sig stage ran
    // twice at sf0.1, doubling the query's CPU). One eager count() runs
    // it exactly once; every branch then reads cache.
    val sigs0 = signatures(spark, docs, cfg, mask).cache()
    // the materializing job doubles as the key-volume measurement for
    // the sweep's exchange width: minhash contributes `bands` keys/doc,
    // simhash `blocks × 17` (each 16-bit block + its 16 one-bit flips),
    // substring `size(anchors)` — counted exactly, as an observe()
    // metric on the cache-fill count (one pass over the table).
    val perDoc = (if (has(mask, MinHash)) cfg.bands.toLong else 0L) +
      (if (has(mask, SimHash)) cfg.simhashBlocks * 17L else 0L)
    val nKeys =
      if (!has(mask, Substring)) sigs0.count() * perDoc
      else {
        val obs = org.apache.spark.sql.Observation()
        val n = sigs0.observe(obs,
          coalesce(sum(size(col("anchors"))), lit(0L)).as("anchor_keys")).count()
        n * perDoc + obs.get("anchor_keys").asInstanceOf[Long]
      }
    // plan boundary over the materialized cache: the consumer branches
    // below embed `sigs`' logical tree, and AQE's concurrent leaf
    // materialization can plan a branch against the not-yet-registered
    // cache entry and re-execute the signature kernel. The boundary
    // pins every consumer to the ONE compiled cache-scan RDD.
    val sigs = org.apache.spark.sql.GraftPlanBridge.planBoundary(sigs0.toDF)

    // pair identity is (doc_a, doc_b, detector): dedup on k3 — for
    // substring that also collapses the per-shared-anchor multiplicity
    // (k2 = anchor lo). The candidate set is NOT cached: verification
    // is one linear pass, so the sweep has exactly ONE consumer and the
    // whole sweep → verify → checkpoint chain runs as a single job.
    val cands = PairSweep.pairs(spark, taggedKeys(sigs, cfg, Seq("conv_id"), mask),
      cfg.bucketCap, keysEstimate = nKeys)
      .dropDuplicates("doc_a", "doc_b", "k3")
    (verifyPairs(cands, sigs, cfg, slack, mask), sigs0)
  }

  /** The verified dup pairs of the detectors in `mask` from one corpus
    * sweep. The result (pairs — tiny) is materialized so the
    * corpus-sized signature cache is freed HERE instead of leaking for
    * the session's lifetime (a bench run invokes this per pass; a
    * long-lived ingest session many times).
    *
    * LIFETIME CONTRACT: the returned Dataset is a localCheckpoint whose
    * blocks are retired by the NEXT sweep with the SAME mask on the
    * same SparkSession (lineage is truncated, so a stale handle fails
    * with block-not-found rather than recomputing). Sweeps with
    * different masks do not retire each other's results. `persist()` or
    * write it first to hold two results of one mask. */
  private[graft] def sweep(spark: SparkSession, docs: Dataset[Doc], cfg: DedupConfig,
      mask: Int, slack: Double): Dataset[DupPair] = {
    import spark.implicits._
    val (verified, sigs0) = verifiedFrame(spark, docs, cfg, mask, slack)
    val out = verified.as[DupPair].localCheckpoint(true)
    sigs0.unpersist(false)
    Retire.swap(spark, s"detect_$mask", out.toDF)
    out
  }

  /** MinHash + SimHash verified dup pairs from one corpus sweep (mask
    * 3), and with `withSubstring = true` also the exact long-substring
    * detector (mask 7): one tokenization, one exchange for all of them.
    *
    * LIFETIME CONTRACT: a localCheckpoint valid until the next call
    * with the same detector set on the same SparkSession (see
    * [[sweep]]); calls with the other detector set, or of the
    * single-detector wrappers, do not retire it. Same contract as
    * [[ConnectedComponents]] labels and [[SuffixArrayDetector.dupPairs]]. */
  def dupPairs(spark: SparkSession, docs: Dataset[Doc], cfg: DedupConfig,
      slack: Double = DefaultSlack, withSubstring: Boolean = false): Dataset[DupPair] =
    sweep(spark, docs, cfg, MinHash | SimHash | (if (withSubstring) Substring else 0), slack)
}
