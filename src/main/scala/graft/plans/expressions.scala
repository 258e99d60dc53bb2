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
  */
object GraftKernels {
  def minhashSig(text: UTF8String, k: Int, numHashes: Int, seed: Long): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      Hashing.minhashSignature(Hashing.shingleHashes(text.toString, k), numHashes, seed))

  def simhash64(text: UTF8String, k: Int): Long =
    Hashing.simhash(Hashing.shingleHashes(text.toString, k))

  def bandHashes(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val arr = sig.toLongArray()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) { out(b) = Hashing.bandHash(arr, b, rowsPerBand); b += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** One-pass dual signature for the fused detector: struct<mh, sh>. */
  def fusedSig(text: UTF8String, k1: Int, numHashes: Int, seed: Long, k2: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val (mh, sh) = Hashing.fusedSig(text.toString, k1, numHashes, seed, k2)
    org.apache.spark.sql.catalyst.InternalRow(
      UnsafeArrayData.fromPrimitiveArray(mh), sh)
  }

  /** One-pass triple signature for the three-detector fused sweep:
    * struct<mh, sh, an> — anchors arrive interleaved from the kernel
    * and are reshaped into struct rows here (same layout as
    * [[substrAnchors128]]). */
  def fusedSig3(text: UTF8String, k1: Int, numHashes: Int, seed: Long, k2: Int,
      q: Int, sample: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val (mh, sh, flat) = Hashing.fusedSig3(text.toString, k1, numHashes, seed, k2, q, sample)
    val n = flat.length / 2
    val rows = new Array[Any](n)
    var i = 0
    while (i < n) {
      rows(i) = org.apache.spark.sql.catalyst.InternalRow(flat(2 * i), flat(2 * i + 1))
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      UnsafeArrayData.fromPrimitiveArray(mh), sh,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(rows))
  }

  def substrAnchors(text: UTF8String, q: Int, sample: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(Hashing.substringAnchors(text.toString, q, sample))

  /** 128-bit anchor keys as interleaved [hi0, lo0, hi1, lo1, ...] —
    * [[SubstrAnchors128Expr]] reshapes them into struct rows. */
  def substrAnchors128(text: UTF8String, q: Int, sample: Int): ArrayData = {
    val flat = Hashing.substringAnchors128(text.toString, q, sample)
    val n = flat.length / 2
    val rows = new Array[Any](n)
    var i = 0
    while (i < n) {
      rows(i) = org.apache.spark.sql.catalyst.InternalRow(flat(2 * i), flat(2 * i + 1))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  /** Positional gram keys as interleaved [pos, hi, lo, ...] —
    * [[GramFpsPosExpr]] reshapes them into struct rows. */
  def gramFpsPos(text: UTF8String, q: Int): ArrayData = {
    val flat = Hashing.gramFps128WithPos(text.toString, q)
    val n = flat.length / 3
    val rows = new Array[Any](n)
    var i = 0
    while (i < n) {
      rows(i) = org.apache.spark.sql.catalyst.InternalRow(
        flat(3 * i), flat(3 * i + 1), flat(3 * i + 2))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  def ballKeys(h: Long, blocks: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(Hashing.simhashBallKeys(h, blocks))

  /** Executor-wide cache of RHP plane matrices, keyed by
    * (dim, bits, tables, seed): planes are a pure function of the key
    * (no stored model), so sharing across tasks is safe; the access-
    * order LRU bounds memory if a session probes many configurations
    * (each entry is tables × bits × dim doubles). */
  private val planeCacheMax = 8
  private val planeCache =
    new java.util.LinkedHashMap[(Int, Int, Int, Long), Array[Array[Array[Double]]]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, Int, Int, Long), Array[Array[Array[Double]]]]): Boolean =
        size() > planeCacheMax
    }
  private def planesFor(dim: Int, bits: Int, tables: Int, seed: Long): Array[Array[Array[Double]]] =
    planeCache.synchronized {
      val key = (dim, bits, tables, seed)
      val hit = planeCache.get(key)
      if (hit != null) hit
      else {
        val built = Array.tabulate(tables)(t =>
          graft.operators.EmbeddingSim.rhpPlanes(dim, bits, Hashing.mix64(seed * 31 + t)))
        planeCache.put(key, built)
        built
      }
    }

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

/** normalized-text → 64-bit content fingerprint (FNV+mix over the
  * whitespace-collapsed, case-folded text). Native so the text-analysis
  * path stays fully inside whole-stage codegen (its sibling kernels
  * already are). */
case class DocFpExpr(child: Expression, seed: Long = 0L) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires StringType, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_doc_fp"
  override protected def nullSafeEval(input: Any): Any =
    GraftKernels.docFpSeeded(input.asInstanceOf[UTF8String], seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GraftKernels.docFpSeeded($c, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): DocFpExpr =
    copy(child = newChild)
}

/** text → Array[Long] MinHash signature. */
case class MinHashSigExpr(child: Expression, k: Int, numHashes: Int, seed: Long)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires StringType, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"
  override protected def nullSafeEval(input: Any): Any =
    GraftKernels.minhashSig(input.asInstanceOf[UTF8String], k, numHashes, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.GraftKernels.minhashSig($c, $k, $numHashes, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** text → struct<mh: array<bigint>, sh: bigint> — BOTH near-dup
  * signatures in one tokenization pass (bit-identical to
  * [[MinHashSigExpr]] + [[SimHash64Expr]] run separately; see
  * [[Hashing.fusedSig]]). The fused detector projects this once per
  * doc instead of walking the text twice. */
case class FusedSigExpr(child: Expression, k1: Int, numHashes: Int, seed: Long, k2: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires StringType, got ${child.dataType}")
  override def dataType: DataType = StructType(Seq(
    StructField("mh", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sh", LongType, nullable = false)))
  override def prettyName: String = "graft_fused_sig"
  override protected def nullSafeEval(input: Any): Any =
    GraftKernels.fusedSig(input.asInstanceOf[UTF8String], k1, numHashes, seed, k2)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.GraftKernels.fusedSig($c, $k1, $numHashes, ${seed}L, $k2)")
  override protected def withNewChildInternal(newChild: Expression): FusedSigExpr =
    copy(child = newChild)
}

/** text → struct<mh: array<bigint>, sh: bigint, an: array<struct<hi,lo>>>
  * — ALL THREE detectors' per-doc inputs in one tokenization pass
  * (bit-identical to [[FusedSigExpr]] + [[SubstrAnchors128Expr]] run
  * separately; see [[Hashing.fusedSig3]]). The three-detector fused
  * sweep projects this once per doc instead of walking the text twice
  * (signatures pass + anchors pass). */
case class FusedSig3Expr(child: Expression, k1: Int, numHashes: Int, seed: Long,
    k2: Int, q: Int, sample: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires StringType, got ${child.dataType}")
  override def dataType: DataType = StructType(Seq(
    StructField("mh", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sh", LongType, nullable = false),
    StructField("an", ArrayType(
      StructType(Seq(
        StructField("hi", LongType, nullable = false),
        StructField("lo", LongType, nullable = false))),
      containsNull = false), nullable = false)))
  override def prettyName: String = "graft_fused_sig3"
  override protected def nullSafeEval(input: Any): Any =
    GraftKernels.fusedSig3(input.asInstanceOf[UTF8String], k1, numHashes, seed, k2, q, sample)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.GraftKernels.fusedSig3($c, $k1, $numHashes, ${seed}L, $k2, $q, $sample)")
  override protected def withNewChildInternal(newChild: Expression): FusedSig3Expr =
    copy(child = newChild)
}

/** text → 64-bit SimHash over k-token shingles. */
case class SimHash64Expr(child: Expression, k: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires StringType, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"
  override protected def nullSafeEval(input: Any): Any =
    GraftKernels.simhash64(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GraftKernels.simhash64($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
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

/** text → winnowed anchor hashes of q-token grams. */
case class SubstrAnchorsExpr(child: Expression, q: Int, sample: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires StringType, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_substr_anchors"
  override protected def nullSafeEval(input: Any): Any =
    GraftKernels.substrAnchors(input.asInstanceOf[UTF8String], q, sample)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.GraftKernels.substrAnchors($c, $q, $sample)")
  override protected def withNewChildInternal(newChild: Expression): SubstrAnchorsExpr =
    copy(child = newChild)
}

/** text → 128-bit winnowed anchor keys, array<struct<hi,lo>>. The
  * 64-bit [[SubstrAnchorsExpr]] selects the same grams; this variant
  * carries a second independently-initialized rolling hash so a bucket
  * match implies a 128-bit key match — collision-safe at the 10^12-doc
  * design point where 64-bit anchor instances cross the birthday bound. */
case class SubstrAnchors128Expr(child: Expression, q: Int, sample: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires StringType, got ${child.dataType}")
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("hi", LongType, nullable = false),
      StructField("lo", LongType, nullable = false))),
    containsNull = false)
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
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires StringType, got ${child.dataType}")
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
  * `graft_minhash_sig(text, 5, 128, 42)`. */
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
    "graft_minhash_sig" -> (cs =>
      MinHashSigExpr(cs.head, litInt(cs(1), "k"), litInt(cs(2), "numHashes"), litLong(cs(3), "seed"))),
    "graft_simhash64" -> (cs => SimHash64Expr(cs.head, litInt(cs(1), "k"))),
    "graft_band_hashes" -> (cs =>
      BandHashesExpr(cs.head, litInt(cs(1), "bands"), litInt(cs(2), "rowsPerBand"))),
    "graft_fused_sig" -> (cs =>
      FusedSigExpr(cs.head, litInt(cs(1), "k1"), litInt(cs(2), "numHashes"),
        litLong(cs(3), "seed"), litInt(cs(4), "k2"))),
    "graft_fused_sig3" -> (cs =>
      FusedSig3Expr(cs.head, litInt(cs(1), "k1"), litInt(cs(2), "numHashes"),
        litLong(cs(3), "seed"), litInt(cs(4), "k2"),
        litInt(cs(5), "q"), litInt(cs(6), "sample"))),
    "graft_substr_anchors" -> (cs =>
      SubstrAnchorsExpr(cs.head, litInt(cs(1), "q"), litInt(cs(2), "sample"))),
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
    // the internal bloom-filter aggregate/probe (Spark uses them for
    // runtime join filters but does not expose SQL names in 4.1):
    // graft_bloom_agg(longCol, expectedItems, numBits) → binary,
    // graft_bloom_contains(bf, longCol) → boolean
    "graft_bloom_agg" -> (cs =>
      new aggregate.BloomFilterAggregate(cs.head, cs(1), cs(2)).toAggregateExpression()),
    "graft_bloom_contains" -> (cs => BloomFilterMightContain(cs.head, cs(1))),
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
