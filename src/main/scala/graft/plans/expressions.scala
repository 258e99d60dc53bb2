package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Hashing

/** Native Catalyst expressions for the signature kernels.
  *
  * Why expressions instead of typed `Dataset.map`: the detectors' hot
  * path (signature computation over every document) stays inside
  * whole-stage codegen — no encoder round-trip (InternalRow → case
  * class → InternalRow), no extra serialization; the generated code
  * calls the [[GraftKernels]] statics directly on UTF8String/ArrayData.
  *
  * Registered under `graft_*` names by [[GraftFunctions.register]] (or
  * via `spark.sql.extensions=graft.plans.GraftExtensions`), callable
  * from SQL and from `call_function` — the (c) tier of the custom-op
  * preference order in the build brief.
  *
  * The kernels, by consumer:
  *  - `graft_doc_sig(text, mask, k1, numHashes, seed, k2, q, sample)` —
  *    the one signature kernel: MinHash / SimHash / substring anchors
  *    for the detector mask (FusedDetectors, IncrementalNearDup,
  *    StreamingNearDup);
  *  - `graft_band_hashes`, `graft_ball_keys` — MinHash band and SimHash
  *    Hamming-ball candidate keys; `graft_sig_jaccard` — MinHash verify;
  *  - `graft_substr_anchors128`, `graft_gram_fps_pos` — gram keys for
  *    Decontaminate and SpanDedup;
  *  - `graft_doc_fp` — normalized-text fingerprint; `graft_prefix_chain`
  *    — PrefixDedup; `graft_rhp_buckets` — EmbeddingSim ANN buckets;
  *  - `graft_bloom_agg` — IncrementalDedup's filter build (its probe,
  *    [[BloomContainsBroadcast]], is constructed directly, not registered).
  */
object GraftKernels {
  /** array<struct<hi,lo>>: the 128-bit substring-anchor layout. */
  val AnchorsType: DataType = ArrayType(
    StructType(Seq(
      StructField("hi", LongType, nullable = false),
      StructField("lo", LongType, nullable = false))),
    containsNull = false)

  /** One document's detector inputs from ONE tokenization pass: a
    * struct holding only the fields `mask` asks for, in mask-bit order —
    * `mh` (1: MinHash signature over k1-shingles), `sh` (2: 64-bit
    * SimHash over k2-shingles), `an` (4: 128-bit winnowed q-gram
    * anchors, struct<hi,lo> rows). Each field is exactly the composed
    * [[Hashing]] primitive over the text; the kernel only shares the
    * normalize+tokenize walk, which at corpus scale is a full pass over
    * every byte of every document. */
  def docSig(text: UTF8String, mask: Int, k1: Int, numHashes: Int, seed: Long, k2: Int,
      q: Int, sample: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val th = Hashing.tokenHashes(text.toString)
    val out = new Array[Any](Integer.bitCount(mask))
    var i = 0
    if ((mask & 1) != 0) {
      out(i) = UnsafeArrayData.fromPrimitiveArray(
        Hashing.minhashSignature(Hashing.shingleHashesFromTokens(th, k1), numHashes, seed))
      i += 1
    }
    if ((mask & 2) != 0) { out(i) = Hashing.simhash(Hashing.shingleHashesFromTokens(th, k2)); i += 1 }
    if ((mask & 4) != 0) out(i) = structRows(Hashing.substringAnchors128FromTokens(th, q, sample), 2)
    new GenericInternalRow(out)
  }

  def bandHashes(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val arr = sig.toLongArray()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) { out(b) = Hashing.bandHash(arr, b, rowsPerBand); b += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Interleaved `width`-long groups [a0, b0, .., a1, b1, ..] →
    * array<struct> of `width` long fields. */
  private def structRows(flat: Array[Long], width: Int): ArrayData = {
    val rows = new Array[Any](flat.length / width)
    var i = 0
    while (i < rows.length) {
      rows(i) = new GenericInternalRow(Array.tabulate[Any](width)(j => flat(width * i + j)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  /** 128-bit anchor keys as struct<hi,lo> rows. */
  def substrAnchors128(text: UTF8String, q: Int, sample: Int): ArrayData =
    structRows(Hashing.substringAnchors128(text.toString, q, sample), 2)

  /** Positional gram keys as struct<pos, hi, lo> rows. */
  def gramFpsPos(text: UTF8String, q: Int): ArrayData =
    structRows(Hashing.gramFps128WithPos(text.toString, q), 3)

  def ballKeys(h: Long, blocks: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(Hashing.simhashBallKeys(h, blocks))

  /** Executor-wide cache of RHP plane matrices, keyed by
    * (dim, bits, tables, seed): planes are a pure function of the key
    * (no stored model), so sharing across tasks is safe. Lock-free on a
    * hit — every rhpBuckets row reads it. Unbounded: one entry per
    * distinct configuration a session probes (each tables × bits × dim
    * doubles), a handful in practice. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int, Long), Array[Array[Array[Double]]]]()
  private def planesFor(dim: Int, bits: Int, tables: Int, seed: Long): Array[Array[Array[Double]]] =
    planeCache.computeIfAbsent((dim, bits, tables, seed), _ =>
      Array.tabulate(tables)(t =>
        graft.operators.EmbeddingSim.rhpPlanes(dim, bits, Hashing.mix64(seed * 31 + t))))

  /** array<float> embedding → `tables` RHP bucket keys — bit-identical
    * to [[graft.operators.EmbeddingSim.bucketKeys]]'s per-row math
    * (float operands promote to double in the dot product either way). */
  def rhpBuckets(v: ArrayData, bits: Int, tables: Int, seed: Long): ArrayData = {
    val dim = v.numElements()
    val planes = planesFor(dim, bits, tables, seed)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      val pl = planes(t)
      var sig = 0L
      var p = 0
      while (p < bits) {
        val row = pl(p)
        var dot = 0.0
        var d = 0
        while (d < dim) { dot += v.getFloat(d) * row(d); d += 1 }
        if (dot >= 0) sig |= 1L << p
        p += 1
      }
      out(t) = Hashing.mix64(seed + t) ^ (sig | (t.toLong << 56))
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def sigJaccard(a: ArrayData, b: ArrayData): Double =
    Hashing.signatureJaccard(a.toLongArray(), b.toLongArray())

  /** Ordered per-turn fingerprints → rolling 128-bit prefix keys: row i
    * holds (len = i+1, idx = the input's turn_idx at i, pk1, pk2) where
    * pk is the ordered combine-chain over the two turn-fp halves. Two
    * conversations share an L-turn prefix iff their (pk1, pk2) at
    * len = L match (chain collisions are 2^-128-grade per pair, the
    * [[graft.operators.ExactDedup.fp]] width argument). The caller
    * sorts the array (array_sort on a struct whose FIRST field is
    * turn_idx) — this kernel only walks it. */
  def prefixChain(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val rows = new Array[Any](n)
    var pk1 = 0L
    var pk2 = 0x9E3779B97F4A7C15L // golden-ratio start keeps the halves' chains distinct
    var i = 0
    while (i < n) {
      val r = arr.getStruct(i, 3)
      pk1 = Hashing.combine(pk1, r.getLong(1))
      pk2 = Hashing.combine(pk2, r.getLong(2))
      rows(i) = org.apache.spark.sql.catalyst.InternalRow(i + 1, r.getInt(0), pk1, pk2)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  def docFp(text: UTF8String): Long =
    Hashing.hashString(Hashing.normalize(text.toString))

  /** Seeded variant: the seed perturbs the FNV initial state, so the
    * byte-stream→hash bijection differs per seed and two texts colliding
    * at seed 0 do not collide at another seed — two seeded halves give a
    * genuine 128-bit composite key (unlike hashing a derived string,
    * where the second half is a bijective function of the first). */
  def docFpSeeded(text: UTF8String, seed: Long): Long =
    Hashing.hashString(Hashing.normalize(text.toString), seed)

  /** Executor-wide cache of deserialized Bloom filters: the expression
    * instance lives inside the task binary and is deserialized PER
    * TASK, so an instance-level lazy val would re-parse the up-to-64
    * MiB filter once per task — this static map makes it once per
    * executor JVM, matching the reference's single shared in-memory BF
    * (/root/reference/src/bloomfilter.c:96-191). Keyed by (appId,
    * broadcastId) — broadcast ids are a per-SparkContext counter, so a
    * bare id would resolve to a STALE filter after a context restart in
    * the same JVM. Access-order LRU capped at 8 parsed filters so
    * repeated incremental-dedup batches (one broadcast each) cannot
    * accumulate executor memory without bound. */
  private val bloomCacheMax = 8
  private val bloomCache =
    new java.util.LinkedHashMap[(String, Long), org.apache.spark.util.sketch.BloomFilter](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), org.apache.spark.util.sketch.BloomFilter]): Boolean =
        size() > bloomCacheMax
    }
  def bloomFor(bc: org.apache.spark.broadcast.Broadcast[Array[Byte]])
      : org.apache.spark.util.sketch.BloomFilter = {
    val appId =
      Option(org.apache.spark.SparkEnv.get).map(_.conf.getAppId).getOrElse("")
    val key = (appId, bc.id)
    bloomCache.synchronized {
      val hit = bloomCache.get(key)
      if (hit != null) hit
      else {
        val parsed = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(bc.value))
        bloomCache.put(key, parsed)
        parsed
      }
    }
  }
}

/** A kernel over one text column. */
abstract class StringKernel extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires StringType, got ${child.dataType}")
}

/** normalized-text → 64-bit content fingerprint (FNV+mix over the
  * whitespace-collapsed, case-folded text). Native so the text-analysis
  * path stays fully inside whole-stage codegen (its sibling kernels
  * already are). */
case class DocFpExpr(child: Expression, seed: Long = 0L) extends StringKernel {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_doc_fp"
  override protected def nullSafeEval(input: Any): Any =
    GraftKernels.docFpSeeded(input.asInstanceOf[UTF8String], seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GraftKernels.docFpSeeded($c, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): DocFpExpr =
    copy(child = newChild)
}

/** text → struct of the detector inputs `mask` selects (1 = `mh`
  * array<bigint>, 2 = `sh` bigint, 4 = `an` array<struct<hi,lo>>) —
  * [[GraftKernels.docSig]]. The one signature kernel of the detector
  * spine ([[graft.operators.FusedDetectors]]), the incremental
  * signature table and the streaming detector. */
case class DocSigExpr(child: Expression, mask: Int, k1: Int, numHashes: Int, seed: Long,
    k2: Int, q: Int, sample: Int) extends StringKernel {
  require(mask >= 1 && mask <= 7, s"detector mask must be in 1..7, got $mask")
  override def dataType: DataType = StructType(Seq(
    StructField("mh", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sh", LongType, nullable = false),
    StructField("an", GraftKernels.AnchorsType, nullable = false))
    .zipWithIndex.collect { case (f, i) if (mask & (1 << i)) != 0 => f })
  override def prettyName: String = "graft_doc_sig"
  override protected def nullSafeEval(input: Any): Any =
    GraftKernels.docSig(input.asInstanceOf[UTF8String], mask, k1, numHashes, seed, k2, q, sample)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.GraftKernels.docSig($c, $mask, $k1, $numHashes, ${seed}L, $k2, $q, $sample)")
  override protected def withNewChildInternal(newChild: Expression): DocSigExpr =
    copy(child = newChild)
}

/** Array[Long] signature → Array[Long] of per-band bucket keys. */
case class BandHashesExpr(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<bigint>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_band_hashes"
  override protected def nullSafeEval(input: Any): Any =
    GraftKernels.bandHashes(input.asInstanceOf[ArrayData], bands, rowsPerBand)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.GraftKernels.bandHashes($c, $bands, $rowsPerBand)")
  override protected def withNewChildInternal(newChild: Expression): BandHashesExpr =
    copy(child = newChild)
}

/** text → 128-bit winnowed anchor keys, array<struct<hi,lo>> (the `an`
  * field of [[DocSigExpr]], standalone for [[graft.operators.Decontaminate]]).
  * Grams are selected by the 64-bit `hi` chain; `lo` is a second
  * independently-initialized rolling hash so a bucket match implies a
  * 128-bit key match — collision-safe at the 10^12-doc design point
  * where 64-bit anchor instances cross the birthday bound. */
case class SubstrAnchors128Expr(child: Expression, q: Int, sample: Int)
    extends StringKernel {
  override def dataType: DataType = GraftKernels.AnchorsType
  override def prettyName: String = "graft_substr_anchors128"
  override protected def nullSafeEval(input: Any): Any =
    GraftKernels.substrAnchors128(input.asInstanceOf[UTF8String], q, sample)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.GraftKernels.substrAnchors128($c, $q, $sample)")
  override protected def withNewChildInternal(newChild: Expression): SubstrAnchors128Expr =
    copy(child = newChild)
}

/** text → EVERY q-gram's (pos, 128-bit key), stream order, no dedup —
  * the positional sibling of [[SubstrAnchors128Expr]] (same key
  * derivation at sample = 1), for span-level consumers that must know
  * WHERE a gram sits, not just that it exists. */
case class GramFpsPosExpr(child: Expression, q: Int)
    extends StringKernel {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", LongType, nullable = false),
      StructField("hi", LongType, nullable = false),
      StructField("lo", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_gram_fps_pos"
  override protected def nullSafeEval(input: Any): Any =
    GraftKernels.gramFpsPos(input.asInstanceOf[UTF8String], q)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GraftKernels.gramFpsPos($c, $q)")
  override protected def withNewChildInternal(newChild: Expression): GramFpsPosExpr =
    copy(child = newChild)
}

/** array<struct<turn_idx:int, h1:bigint, h2:bigint>> (sorted by the
  * caller) → array<struct<len:int, idx:int, pk1:bigint, pk2:bigint>>
  * rolling 128-bit prefix keys — the conversation-prefix dedup kernel
  * ([[graft.operators.PrefixDedup]]). Native so the per-conversation
  * chain runs inside the aggregation projection with no encoder
  * round-trip. */
case class PrefixChainExpr(child: Expression) extends UnaryExpression {
  private def inputOk: Boolean = child.dataType match {
    case ArrayType(StructType(fs), _) =>
      fs.length == 3 && fs(0).dataType == IntegerType &&
        fs(1).dataType == LongType && fs(2).dataType == LongType
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (inputOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<struct<int, bigint, bigint>>, got ${child.dataType}")
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("len", IntegerType, nullable = false),
      StructField("idx", IntegerType, nullable = false),
      StructField("pk1", LongType, nullable = false),
      StructField("pk2", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_prefix_chain"
  override protected def nullSafeEval(input: Any): Any =
    GraftKernels.prefixChain(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GraftKernels.prefixChain($c)")
  override protected def withNewChildInternal(newChild: Expression): PrefixChainExpr =
    copy(child = newChild)
}

/** array<float> embedding → `tables` RHP sign-sketch bucket keys
  * (array<bigint>) — the [[graft.operators.EmbeddingSim]] bucket kernel
  * as a native expression: the bucket pass stays inside whole-stage
  * codegen instead of paying the typed-Dataset encoder round-trip
  * (InternalRow → (Long, Seq[Float]) → InternalRow) per vector, and the
  * plane matrices are built once per executor via the
  * [[GraftKernels.rhpBuckets]] cache instead of once per task. */
case class RhpBucketsExpr(child: Expression, bits: Int, tables: Int, seed: Long)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<float>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_rhp_buckets"
  override protected def nullSafeEval(input: Any): Any =
    GraftKernels.rhpBuckets(input.asInstanceOf[ArrayData], bits, tables, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.GraftKernels.rhpBuckets($c, $bits, $tables, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): RhpBucketsExpr =
    copy(child = newChild)
}

/** simhash Long → Hamming-ball candidate keys. */
case class BallKeysExpr(child: Expression, blocks: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires LongType, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ball_keys"
  override protected def nullSafeEval(input: Any): Any =
    GraftKernels.ballKeys(input.asInstanceOf[Long], blocks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GraftKernels.ballKeys($c, $blocks)")
  override protected def withNewChildInternal(newChild: Expression): BallKeysExpr =
    copy(child = newChild)
}

/** (sigA, sigB) → estimated Jaccard (fraction of equal components). */
case class SigJaccardExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<bigint> inputs, got $other")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sig_jaccard"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftKernels.sigJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.GraftKernels.sigJaccard($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SigJaccardExpr =
    copy(left = l, right = r)
}

/** `might_contain` over a BROADCAST Bloom filter.
  *
  * Why not a literal: embedding the serialized filter as `lit(bytes)`
  * puts up to tens of MiB inside the expression tree, which is
  * serialized into EVERY task binary. Holding a `Broadcast` handle
  * instead ships ~bytes of handle per task; executors fetch the blob
  * once via the block manager (the same topology as the reference's
  * single in-memory BF shared by all stream workers,
  * /root/reference/src/bloomfilter.c:96-191).
  *
  * Codegen'd: the generated code calls [[probe]] on a referenced
  * instance, which resolves the parsed filter through the
  * [[GraftKernels.bloomFor]] executor-wide cache — deserialization
  * happens once per executor JVM, not once per task (the expression
  * instance itself is task-deserialized).
  */
case class BloomContainsBroadcast(
    bc: org.apache.spark.broadcast.Broadcast[Array[Byte]],
    child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires LongType, got ${child.dataType}")
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains_bc"
  @transient private lazy val filter = GraftKernels.bloomFor(bc)
  def probe(h: Long): Boolean = filter.mightContainLong(h)
  override protected def nullSafeEval(input: Any): Any =
    probe(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBc", this, classOf[BloomContainsBroadcast].getName)
    defineCodeGen(ctx, ev, c => s"$ref.probe($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): BloomContainsBroadcast =
    copy(child = newChild)
}

/** Session registration of the graft_* functions. SQL arg forms take
  * the tunables as literal ints (foldable), e.g.
  * `graft_doc_sig(text, 3, 5, 128, 42, 2, 32, 8)`. */
object GraftFunctions {

  private def litInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }
  private def litLong(e: Expression, what: String): Long = {
    require(e.foldable, s"$what must be a literal")
    e.eval().asInstanceOf[Number].longValue()
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_doc_sig" -> (cs =>
      DocSigExpr(cs.head, litInt(cs(1), "mask"), litInt(cs(2), "k1"), litInt(cs(3), "numHashes"),
        litLong(cs(4), "seed"), litInt(cs(5), "k2"), litInt(cs(6), "q"), litInt(cs(7), "sample"))),
    "graft_band_hashes" -> (cs =>
      BandHashesExpr(cs.head, litInt(cs(1), "bands"), litInt(cs(2), "rowsPerBand"))),
    "graft_substr_anchors128" -> (cs =>
      SubstrAnchors128Expr(cs.head, litInt(cs(1), "q"), litInt(cs(2), "sample"))),
    "graft_gram_fps_pos" -> (cs => GramFpsPosExpr(cs.head, litInt(cs(1), "q"))),
    "graft_ball_keys" -> (cs => BallKeysExpr(cs.head, litInt(cs(1), "blocks"))),
    "graft_rhp_buckets" -> (cs =>
      RhpBucketsExpr(cs.head, litInt(cs(1), "bits"), litInt(cs(2), "tables"),
        litLong(cs(3), "seed"))),
    "graft_prefix_chain" -> (cs => PrefixChainExpr(cs.head)),
    "graft_sig_jaccard" -> (cs => SigJaccardExpr(cs.head, cs(1))),
    "graft_doc_fp" -> (cs =>
      if (cs.length >= 2) DocFpExpr(cs.head, litLong(cs(1), "seed"))
      else DocFpExpr(cs.head)),
    // Spark's internal bloom-filter aggregate (used for runtime join
    // filters, no SQL name in 4.1): graft_bloom_agg(longCol,
    // expectedItems, numBits) → binary. Probes go through
    // [[BloomContainsBroadcast]].
    "graft_bloom_agg" -> (cs =>
      new aggregate.BloomFilterAggregate(cs.head, cs(1), cs(2)).toAggregateExpression()),
  )

  /** Idempotent per-session registration: a function the session's
    * registry already holds (an earlier call, or [[GraftExtensions]]) is
    * left alone — re-registering would swap in an equal builder and log
    * a "replaced a previously registered function" warning per name. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id))
        registry.registerFunction(id, new ExpressionInfo("graft.plans.GraftKernels", null, name), builder)
    }
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` injection point. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.plans.GraftKernels", null, name),
        builder))
    }
}
