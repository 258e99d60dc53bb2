package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Hashing._

class HashingSpec extends AnyFunSuite {

  test("normalize collapses whitespace and lowercases") {
    assert(normalize("  Hello   World\t\n x ") == "hello world x")
    assert(normalize("") == "")
    assert(normalize("   ") == "")
  }

  test("hashString is deterministic and seed-sensitive") {
    assert(hashString("abc") == hashString("abc"))
    assert(hashString("abc") != hashString("abd"))
    assert(hashString("abc", 1) != hashString("abc", 2))
  }

  test("shingleHashes: short docs get one whole-doc shingle") {
    val h = shingleHashes("one two", 5)
    assert(h.length == 1)
    assert(shingleHashes("", 5).isEmpty)
  }

  test("shingleHashes: count = distinct k-grams, sorted output") {
    val text = (1 to 20).map(i => s"w$i").mkString(" ")
    val h = shingleHashes(text, 5)
    assert(h.length == 16)
    assert(h.sameElements(h.sorted))
  }

  test("minhash signature deterministic + permutation count") {
    val sh = shingleHashes("a b c d e f g h i j", 3)
    val s1 = minhashSignature(sh, 128, 42)
    val s2 = minhashSignature(sh, 128, 42)
    assert(s1.sameElements(s2))
    assert(s1.length == 128)
    assert(!s1.sameElements(minhashSignature(sh, 128, 43)))
  }

  test("minhash numHashes = 1 (shift-64 edge): single bin, no crash") {
    // JVM long shifts mask the distance to 6 bits, so the one-bin case
    // must not index by h >>> 64 == h
    val sh = shingleHashes("a b c d e f g h i j", 3)
    val s = minhashSignature(sh, 1, 42)
    assert(s.length == 1 && s(0) != Long.MaxValue)
    assert(s.sameElements(minhashSignature(sh, 1, 42)))
  }

  test("identical docs → identical signatures, exactJaccard = 1") {
    val a = shingleHashes("the quick brown fox jumps over the lazy dog", 3)
    assert(exactJaccard(a, a) == 1.0)
    assert(signatureJaccard(minhashSignature(a, 128, 42), minhashSignature(a, 128, 42)) == 1.0)
  }

  test("signatureJaccard approximates exactJaccard (seeded property loop)") {
    val vocab = Array("a", "b", "c", "d", "e", "f", "g", "h", "alpha", "beta", "gamma", "delta")
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 30) {
      val t1 = Array.fill(60)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      val t2 = Array.fill(60)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      val s1 = shingleHashes(t1, 3); val s2 = shingleHashes(t2, 3)
      val exact = exactJaccard(s1, s2)
      val est = signatureJaccard(
        minhashSignature(s1, 256, 42), minhashSignature(s2, 256, 42))
      // σ = sqrt(J(1-J)/256) ≤ 0.032; 6σ bound
      assert(math.abs(exact - est) < 0.2, s"exact=$exact est=$est")
    }
  }

  test("OPH minhash: sparse docs (fewer shingles than bins) still estimate J") {
    // 256 bins but only ~12 shingles per doc: most bins densified.
    // Identical sets must match everywhere; high-overlap sets must
    // estimate high; disjoint sets near zero.
    val a = shingleHashes("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi", 3)
    val b = shingleHashes("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu XI", 3)
    val c = shingleHashes("one two three four five six seven eight nine ten eleven twelve thirteen fourteen", 3)
    assert(signatureJaccard(minhashSignature(a, 256, 42), minhashSignature(a, 256, 42)) == 1.0)
    val estAB = signatureJaccard(minhashSignature(a, 256, 42), minhashSignature(b, 256, 42))
    val exactAB = exactJaccard(a, b)
    assert(math.abs(estAB - exactAB) < 0.25, s"sparse est=$estAB exact=$exactAB")
    val estAC = signatureJaccard(minhashSignature(a, 256, 42), minhashSignature(c, 256, 42))
    assert(estAC < 0.1, s"disjoint est=$estAC")
    // no MaxValue sentinel survives densification of a nonempty doc
    assert(!minhashSignature(a, 256, 42).contains(Long.MaxValue))
    // empty input keeps the all-sentinel contract
    assert(minhashSignature(Array.empty[Long], 256, 42).forall(_ == Long.MaxValue))
  }

  test("simhash: identical → distance 0, small edit → small distance") {
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val edited = base.replace("word30", "wordX")
    val h1 = simhash(shingleHashes(base, 5))
    val h2 = simhash(shingleHashes(edited, 5))
    assert(hammingDistance(h1, h1) == 0)
    assert(hammingDistance(h1, h2) < 16)
    // unrelated text lands far away
    val other = (1 to 60).map(i => s"zzz$i qqq$i").mkString(" ")
    assert(hammingDistance(h1, simhash(shingleHashes(other, 5))) > 16)
  }

  test("shingle simhash (live config k=2): two-token edits stay within verify radius") {
    val base = (1 to 120).map(i => s"word$i").mkString(" ")
    val edited = base.replace("word40 ", "zzzz ").replace("word90 ", "qqqq ")
    val k = DedupConfig.default.simhashShingleK
    val h1 = simhash(shingleHashes(base, k))
    val h2 = simhash(shingleHashes(edited, k))
    assert(hammingDistance(h1, h2) <= DedupConfig.default.hammingRadius,
      s"hd=${hammingDistance(h1, h2)}")
  }

  test("simhashBallKeys: HD<=11 pairs share a key; count/selectivity") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 50) {
      val h1 = rnd.nextLong()
      // flip up to 11 random bits
      val bits = rnd.shuffle((0 until 64).toList).take(rnd.nextInt(12))
      val h2 = bits.foldLeft(h1)((h, b) => h ^ (1L << b))
      val k1 = simhashBallKeys(h1, 4).toSet
      val k2 = simhashBallKeys(h2, 4).toSet
      assert(k1.intersect(k2).nonEmpty, s"HD=${hammingDistance(h1, h2)} no shared key")
      assert(k1.size <= 68)
    }
    // far-apart hashes share no key (overwhelmingly)
    val far = simhashBallKeys(0L, 4).toSet
      .intersect(simhashBallKeys(-1L, 4).toSet)
    assert(far.isEmpty)
  }

  test("substringAnchors: shared 64-token block ⇒ shared anchor (high prob)") {
    val block = (1 to 80).map(i => s"blk$i").mkString(" ")
    val a = "prefix one two three " + block + " suffix four"
    val b = "other intro words here now " + block + " different tail"
    def keys(t: String): Set[(Long, Long)] =
      substringAnchors128(t, 32, 8).grouped(2).map(p => (p(0), p(1))).toSet
    val aa = keys(a)
    val bb = keys(b)
    assert(aa.intersect(bb).nonEmpty)
    // unrelated docs share nothing
    val c = (1 to 100).map(i => s"unrel$i").mkString(" ")
    assert(keys(c).intersect(aa).isEmpty)
  }

  test("substringAnchors128: same gram selection as 64-bit, independent lo half") {
    val block = (1 to 80).map(i => s"blk$i").mkString(" ")
    val a = "prefix one two three " + block + " suffix four"
    val b = "other intro words here now " + block + " different tail"
    def pairs(flat: Array[Long]): Set[(Long, Long)] =
      flat.grouped(2).map(p => (p(0), p(1))).toSet
    val aa = pairs(substringAnchors128(a, 32, 8))
    val bb = pairs(substringAnchors128(b, 32, 8))
    // grams are selected by the 64-bit hi chain: hi ≡ 0 (mod sample)
    assert(aa.nonEmpty && aa.forall(_._1 % 8 == 0))
    // shared block ⇒ shared FULL 128-bit key (both halves agree on the
    // shared gram), and lo is not a copy of hi
    assert(aa.intersect(bb).nonEmpty)
    assert(aa.forall { case (hi, lo) => hi != lo })
    // deterministic
    assert(pairs(substringAnchors128(a, 32, 8)) == aa)
  }

  test("substringAnchors rejects non-power-of-two sample rates") {
    intercept[IllegalArgumentException] {
      substringAnchors128("a b c", 2, 6)
    }
    intercept[IllegalArgumentException] {
      DedupConfig.default.copy(substrSample = 6)
    }
  }
}
