package graft.functions

/** Deterministic hashing / signature primitives.
  *
  * All pure functions of their inputs (no RNG state), so every stage is
  * order-independent and embarrassingly parallel — signatures are computed
  * with a single narrow map over the docs table, no shuffle.
  *
  * Reference analogs: SHA-1 chunk fingerprinting
  * (/root/reference/src/dedup.c:80-88), rolling Adler-32 chunking
  * (/root/reference/src/adler32.c:12-45), sax/sdbm bloom hashes
  * (/root/reference/src/bloomfilter.c:14-28). We use splitmix64 — a
  * published, public-domain mixer (Steele et al., "Fast Splittable
  * Pseudorandom Number Generators", OOPSLA'14) — as the base 64-bit mixer
  * because it is trivially reproducible in any engine.
  */
object Hashing {

  /** splitmix64 finalizer: bijective 64-bit mixer. */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** 64-bit hash of a string (FNV-1a over UTF-8 bytes, then mixed).
    * Stable across JVMs (does not use String.hashCode). */
  def hashString(s: String, seed: Long = 0L): Long = {
    var h = 0xCBF29CE484222325L ^ seed
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xFFL)
      h *= 0x100000001B3L
      i += 1
    }
    mix64(h)
  }

  /** Combine an existing hash with the next token hash (ordered). */
  @inline def combine(h: Long, next: Long): Long =
    mix64(h * 0x9E3779B97F4A7C15L + next)

  // ---------------------------------------------------------------------
  // Normalization + tokenization
  // ---------------------------------------------------------------------

  /** Lowercase + collapse runs of whitespace. Normalization must be
    * identical across all detectors (recall parity requires identical
    * shingle config, BASELINE.json north_rule). */
  def normalize(text: String): String = {
    val sb = new java.lang.StringBuilder(text.length)
    var lastWs = true
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (Character.isWhitespace(c)) {
        if (!lastWs) { sb.append(' '); lastWs = true }
      } else {
        sb.append(Character.toLowerCase(c)); lastWs = false
      }
      i += 1
    }
    // trim trailing single space
    val n = sb.length
    if (n > 0 && sb.charAt(n - 1) == ' ') sb.setLength(n - 1)
    sb.toString
  }

  def tokens(text: String): Array[String] = {
    val norm = normalize(text)
    if (norm.isEmpty) Array.empty else norm.split(' ')
  }

  /** Per-token hashes in ONE pass over the raw text — no intermediate
    * normalized String, no String[] tokens, no boxing. Equivalent to
    * `tokens(text).map(hashString(_))`: tokens are maximal
    * non-whitespace runs, case-folded per char; FNV-1a runs over the
    * token's UTF-8 bytes (chars < 0x80 hash directly; rare non-ASCII
    * tokens fall back to a String slice). Allocation discipline matters
    * at corpus scale: the signature kernels run on every document and
    * boxed-HashSet churn saturates memory bandwidth before CPUs. */
  def tokenHashes(text: String): Array[Long] = {
    var out = new Array[Long](math.max(8, text.length / 6))
    var n = 0
    val len = text.length
    var i = 0
    while (i < len) {
      while (i < len && Character.isWhitespace(text.charAt(i))) i += 1
      if (i < len) {
        val start = i
        var h = 0xCBF29CE484222325L
        var ascii = true
        while (i < len && !Character.isWhitespace(text.charAt(i))) {
          val c = Character.toLowerCase(text.charAt(i))
          if (c < 0x80) {
            h ^= (c & 0xFFL)
            h *= 0x100000001B3L
          } else ascii = false
          i += 1
        }
        val th =
          if (ascii) mix64(h)
          else {
            val sb = new java.lang.StringBuilder(i - start)
            var p = start
            while (p < i) { sb.append(Character.toLowerCase(text.charAt(p))); p += 1 }
            hashString(sb.toString)
          }
        if (n == out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
        out(n) = th
        n += 1
      }
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** Hashes of all k-token shingles of `text` (deduplicated — shingle
    * SETS, so Jaccard on hash sets equals Jaccard on shingle sets up to
    * 64-bit collisions). Short docs (< k tokens) get one whole-doc
    * shingle so they still carry a signature. Primitive arrays + sort
    * dedup — zero boxing on the hot path. */
  def shingleHashes(text: String, k: Int): Array[Long] =
    shingleHashesFromTokens(tokenHashes(text), k)

  /** Same as [[shingleHashes]] but over an already-tokenized hash
    * stream — lets callers that need SEVERAL shingle widths of the same
    * text (the `graft_doc_sig` kernel) tokenize once. */
  def shingleHashesFromTokens(th: Array[Long], k: Int): Array[Long] = {
    if (th.isEmpty) return Array.empty
    val n = math.max(1, th.length - k + 1)
    val buf = new Array[Long](n)
    var i = 0
    while (i < n) {
      var h = 0x2545F4914F6CDD1DL
      var j = i
      val end = math.min(i + k, th.length)
      while (j < end) { h = combine(h, th(j)); j += 1 }
      buf(i) = h
      i += 1
    }
    sortedDistinct(buf, n)
  }

  /** In-place sort + dedup of buf[0,n) → distinct sorted array. */
  private[functions] def sortedDistinct(buf: Array[Long], n: Int): Array[Long] = {
    java.util.Arrays.sort(buf, 0, n)
    var m = 0
    var i = 0
    while (i < n) {
      if (i == 0 || buf(i) != buf(i - 1)) { buf(m) = buf(i); m += 1 }
      i += 1
    }
    if (m == buf.length) buf else java.util.Arrays.copyOf(buf, m)
  }

  // ---------------------------------------------------------------------
  // MinHash
  // ---------------------------------------------------------------------

  /** MinHash signature via ONE-PERMUTATION HASHING with rotation
    * densification (Li–Owen–Zhang, "One Permutation Hashing", NIPS'12;
    * Shrivastava–Li, "Densifying One Permutation Hashing via Rotation",
    * ICML'14 — public techniques): each shingle is hashed ONCE; its top
    * bits pick one of `numHashes` bins and the doc's min hash per bin is
    * the signature component. Empty bins borrow the value of the nearest
    * filled bin to their right (circular), mixed with the hop distance so
    * borrowed components only collide when the borrow structure matches.
    * P[sig_a(i)=sig_b(i)] ≈ J exactly as with k independent permutations
    * (HashingSpec's property loop validates the estimator empirically),
    * but the hashing cost is O(|shingles| + numHashes) instead of
    * O(|shingles| × numHashes) — a 128× reduction of the permutation
    * loop at the default 128 hashes. (The kernel's other component, the
    * normalize+tokenize text walk, is shared with simhash via the
    * `graft_doc_sig` kernel and unchanged — for short conversational docs it
    * dominates, so the end-to-end win grows with document length.)
    *
    * Deterministic pure function of the shingle SET (bin mins are
    * order-independent; densification reads only the binned mins).
    * Empty docs → all-MaxValue sentinel signature, as before. */
  def minhashSignature(shingles: Array[Long], numHashes: Int, seed: Long): Array[Long] = {
    require(Integer.bitCount(numHashes) == 1,
      s"numHashes must be a power of two (OPH bins), got $numHashes")
    val sig = Array.fill(numHashes)(Long.MaxValue)
    if (shingles.isEmpty) return sig
    // JVM long shifts mask the distance to 6 bits, so numHashes = 1
    // (shift 64) would be h >>> 0 = h, not 0 — guard the one-bin case
    val shift = 64 - Integer.numberOfTrailingZeros(numHashes)
    var s = 0
    while (s < shingles.length) {
      val h = mix64(shingles(s) ^ seed)
      val bin = if (numHashes == 1) 0 else (h >>> shift).toInt
      val v = mix64(h) // value bits independent of the bin-choice bits
      if (v < sig(bin)) sig(bin) = v
      s += 1
    }
    // rotation densification: empty bin i takes the first filled bin j
    // to its right (circular), hop-mixed. Two docs agree on a densified
    // bin iff they agree on the source bin AND on the run of empties
    // before it — the hop mix prevents accidental cross-bin equality.
    var anyFilled = false
    var i = 0
    while (i < numHashes && !anyFilled) { anyFilled = sig(i) != Long.MaxValue; i += 1 }
    if (!anyFilled) return sig // unreachable for nonempty shingles; belt+braces
    val out = new Array[Long](numHashes)
    i = 0
    while (i < numHashes) {
      if (sig(i) != Long.MaxValue) out(i) = sig(i)
      else {
        var j = (i + 1) & (numHashes - 1)
        var hops = 1L
        while (sig(j) == Long.MaxValue) { j = (j + 1) & (numHashes - 1); hops += 1 }
        out(i) = mix64(sig(j) ^ (hops * 0x632BE59BD9B4E019L))
      }
      i += 1
    }
    out
  }

  /** Hash one LSH band (rows `[b*r, (b+1)*r)`) of a signature into a
    * single 64-bit bucket key. Includes the band index so buckets from
    * different bands never collide. */
  def bandHash(sig: Array[Long], band: Int, rowsPerBand: Int): Long = {
    var h = mix64(0x71E9F0327B2C1D4EL + band)
    var j = band * rowsPerBand
    val end = j + rowsPerBand
    while (j < end) { h = combine(h, sig(j)); j += 1 }
    h
  }

  /** Estimated Jaccard = fraction of equal signature components. */
  def signatureJaccard(a: Array[Long], b: Array[Long]): Double = {
    var eq = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  /** Exact Jaccard over two sorted hash arrays (merge intersect). */
  def exactJaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    if (a.isEmpty || b.isEmpty) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  // ---------------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------------

  /** 64-bit SimHash: per-bit majority vote over the doc's feature hashes
    * (Charikar, STOC'02). The feature set on the live path is the
    * k-token shingle hashes (simhashShingleK in [[graft.DedupConfig]])
    * computed by [[shingleHashes]]. */
  def simhash(shingles: Array[Long]): Long = {
    val counts = new Array[Int](64)
    var s = 0
    while (s < shingles.length) {
      val h = shingles(s)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      s += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Hamming-ball candidate keys: for each 16-bit block, the exact block
    * value plus all 16 one-bit-flipped variants (tagged by block id).
    * Two hashes at total distance k have some block with ≤ ⌊k/4⌋ flips
    * (pigeonhole); the 1-bit expansion on both sides matches blocks up
    * to 2 flips apart, so any pair with HD ≤ 11 shares a key. 68 keys
    * per doc at 16-bit selectivity (Manku et al. WWW'07 multi-table
    * scheme with ball expansion). */
  def simhashBallKeys(h: Long, blocks: Int = 4): Array[Long] = {
    val width = 64 / blocks
    val mask = (1L << width) - 1
    val out = new Array[Long](blocks * (width + 1))
    var m = 0
    var i = 0
    while (i < blocks) {
      val v = (h >>> (i * width)) & mask
      val tag = i.toLong << 56
      out(m) = tag | v; m += 1
      var b = 0
      while (b < width) { out(m) = tag | (v ^ (1L << b)); m += 1; b += 1 }
      i += 1
    }
    out
  }

  def hammingDistance(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  // ---------------------------------------------------------------------
  // Long-substring anchors (suffix-array-pass analog, SURVEY.md §7.7)
  // ---------------------------------------------------------------------

  /** Every q-gram's 128-bit key WITH its 0-based token start position,
    * interleaved [pos0, hi0, lo0, pos1, hi1, lo1, ...] in stream order
    * and WITHOUT dedup — the span-cut consumer needs every occurrence,
    * not the distinct key set. Key derivation is IDENTICAL to
    * [[substringAnchors128]] at sample = 1, so keys from the two
    * kernels join against each other. */
  def gramFps128WithPos(text: String, q: Int): Array[Long] = {
    val th = tokenHashes(text)
    if (th.length < q) return Array.empty
    val out = new Array[Long](3 * (th.length - q + 1))
    var i = 0
    while (i + q <= th.length) {
      val (h, h2) = gramKey128(th, i, q)
      out(3 * i) = i.toLong
      out(3 * i + 1) = h
      out(3 * i + 2) = h2
      i += 1
    }
    out
  }

  /** The shared per-gram 128-bit key derivation: (hi, lo) of the
    * q-token run starting at `i`. ALL gram-key producers
    * ([[substringAnchors128]], [[gramFps128WithPos]]) MUST go through
    * this — their keys join against each other, and a one-sided seed
    * or combine change would silently turn every cross-kernel join
    * into zero matches. */
  @inline private def gramKey128(th: Array[Long], i: Int, q: Int): (Long, Long) = {
    var h = 0x1D8E4E27C47D124FL
    var h2 = 0x5851F42D4C957F2DL
    var j = i
    while (j < i + q) { h = combine(h, th(j)); h2 = combine(h2, th(j)); j += 1 }
    (h, h2)
  }

  /** Winnowed 128-bit anchor keys of q-token grams, interleaved
    * [hi0, lo0, hi1, lo1, ...] sorted and deduplicated by (hi, lo). A
    * q-gram is an anchor when its 64-bit `hi` chain hash is 0 mod
    * `sample`. Two docs sharing a ≥q-token substring share all its
    * q-gram keys, hence (with prob ≥ 1-(1-1/s)^(L-q+1)) at least one
    * anchor — the candidate-join key for the exact long-substring
    * detector. Reference analog: content-defined chunk boundaries chosen
    * by `(csum & MASK) == MASK` (the reference's src/chunk.c:91-96) —
    * the same "content decides the cut points so copies align" idea,
    * applied to token streams.
    *
    * The JOIN KEY carries a second rolling hash `lo` with an independent
    * initial state over the same gram. Each combine step is a different
    * bijection per token sequence, so two grams colliding on `hi` do not
    * collide on `lo` — the detector's bucket-match-is-the-decision
    * contract survives the 10^13–10^14 anchor instances of a 10^12-doc
    * corpus, where 64-bit keys cross the birthday bound (same width
    * rationale as [[graft.Fp]]). Residual risk is only via two distinct
    * TOKENS colliding at 64 bits inside an otherwise-identical
    * (q-1)-token context — vanishingly unlikely. */
  def substringAnchors128(text: String, q: Int, sample: Int): Array[Long] =
    substringAnchors128FromTokens(tokenHashes(text), q, sample)

  /** Same as [[substringAnchors128]] but over an already-tokenized hash
    * stream — lets the signature kernel (`graft_doc_sig`) tokenize once
    * for signatures AND anchors. */
  def substringAnchors128FromTokens(th: Array[Long], q: Int, sample: Int): Array[Long] = {
    // mask-based "≡ 0 mod sample" requires a power of two — any other
    // value silently changes the sampling rate (DedupConfig enforces
    // this too; re-checked here for direct callers)
    require(Integer.bitCount(sample) == 1, s"sample must be a power of two, got $sample")
    if (th.length < q) return Array.empty
    val buf = new Array[Long](2 * (th.length - q + 1))
    var n = 0
    var i = 0
    while (i + q <= th.length) {
      val (h, h2) = gramKey128(th, i, q)
      if ((h & (sample - 1)) == 0) { buf(2 * n) = h; buf(2 * n + 1) = h2; n += 1 }
      i += 1
    }
    // sort + dedup pairs by (hi, lo)
    val idx = Array.range(0, n)
    val sorted = idx.sortBy(k => (buf(2 * k), buf(2 * k + 1)))
    val out = new Array[Long](2 * n)
    var m = 0
    var p = 0
    while (p < n) {
      val k = sorted(p)
      if (m == 0 || out(2 * (m - 1)) != buf(2 * k) || out(2 * m - 1) != buf(2 * k + 1)) {
        out(2 * m) = buf(2 * k); out(2 * m + 1) = buf(2 * k + 1); m += 1
      }
      p += 1
    }
    if (m == n) out else java.util.Arrays.copyOf(out, 2 * m)
  }
}
