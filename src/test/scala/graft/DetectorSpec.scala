package graft

import graft.corpus.CorpusGen
import graft.functions.Hashing
import graft.operators._
import org.apache.spark.sql.functions._

/** Per-detector recall against the planted ground truth. */
class DetectorSpec extends SparkSpec {
  import org.apache.spark.sql.Dataset

  val N = 400L
  lazy val transcripts = CorpusGen.transcripts(spark, N).toDF.cache()
  lazy val docs: Dataset[Doc] = {
    val d = DocAssembly.assemble(spark, transcripts).cache()
    d.count()
    d
  }
  def truth(kind: String): Set[(String, String)] = {
    import spark.implicits._
    CorpusGen.truthPairs(spark, N).filter($"kind" === kind)
      .select($"doc_a", $"doc_b").as[(String, String)].collect().toSet
  }
  def normPairs(df: org.apache.spark.sql.DataFrame): Set[(String, String)] = {
    import spark.implicits._
    df.select(least($"doc_a", $"doc_b"), greatest($"doc_a", $"doc_b"))
      .as[(String, String)].collect().toSet
  }

  test("minhash-LSH finds all planted near-dup and exact pairs") {
    val got = normPairs(MinHashLSH.dupPairs(spark, docs, DedupConfig.default).toDF)
    val expected = truth("near") ++ truth("exact")
    val missing = expected.diff(got)
    val recall = 1.0 - missing.size.toDouble / expected.size
    assert(recall >= 0.99, s"recall=$recall missing=${missing.take(5)}")
  }

  test("simhash finds the planted fuzzy pairs within Hamming radius") {
    val got = normPairs(SimHashDetector.dupPairs(spark, docs, DedupConfig.default).toDF)
    val expected = truth("fuzzy")
    val missing = expected.diff(got)
    val recall = 1.0 - missing.size.toDouble / expected.size
    assert(recall >= 0.99, s"recall=$recall missing=${missing.take(5)}")
  }

  test("fused sweep is row-identical to minhash ∪ simhash run standalone") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, String, Double)] =
      df.select($"doc_a", $"doc_b", $"detector", $"score")
        .as[(String, String, String, Double)].collect().toSet
    val standalone =
      rows(MinHashLSH.dupPairs(spark, docs, DedupConfig.default).toDF) ++
      rows(SimHashDetector.dupPairs(spark, docs, DedupConfig.default).toDF)
    val fused = rows(FusedDetectors.dupPairs(spark, docs, DedupConfig.default).toDF)
    assert(fused == standalone,
      s"fused-only=${fused.diff(standalone).take(3)} standalone-only=${standalone.diff(fused).take(3)}")
    assert(fused.nonEmpty, "equivalence test is vacuous: no pairs found")
  }

  test("three-detector fused sweep is row-identical to minhash ∪ simhash ∪ substring standalone") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, String, Double)] =
      df.select($"doc_a", $"doc_b", $"detector", $"score")
        .as[(String, String, String, Double)].collect().toSet
    val standalone =
      rows(MinHashLSH.dupPairs(spark, docs, DedupConfig.default).toDF) ++
      rows(SimHashDetector.dupPairs(spark, docs, DedupConfig.default).toDF) ++
      rows(SubstringDetector.dupPairs(spark, docs, DedupConfig.default).toDF)
    val fused = rows(FusedDetectors.dupPairs(spark, docs, DedupConfig.default,
      withSubstring = true).toDF)
    assert(fused == standalone,
      s"fused-only=${fused.diff(standalone).take(3)} standalone-only=${standalone.diff(fused).take(3)}")
    assert(fused.exists(_._3 == "substring"),
      "equivalence test is vacuous: no substring pairs found")
    assert(fused.exists(_._3 == "minhash") && fused.exists(_._3 == "simhash"),
      "equivalence test is vacuous: a near-dup detector found no pairs")
  }

  // The standalone detectors' kernels are graft_doc_sig with their single
  // mask bit (MinHashLSH = 1, SimHashDetector = 2, SubstringDetector = 4).
  test("fused triple signatures are bit-identical to the standalone kernels") {
    import spark.implicits._
    import FusedDetectors.{MinHash, SimHash, Substring}
    val cfg = DedupConfig.default
    val f = FusedDetectors.signatures(spark, docs, cfg, MinHash | SimHash | Substring)
      .select($"conv_id", $"sig", $"simhash", $"anchors")
      .as[(String, Array[Long], Long, Array[(Long, Long)])].collect()
      .map(t => t._1 -> ((t._2.toSeq, t._3, t._4.toSeq))).toMap
    val mh = FusedDetectors.signatures(spark, docs, cfg, MinHash)
      .select($"conv_id", $"sig").as[(String, Array[Long])].collect()
      .map(t => t._1 -> t._2.toSeq).toMap
    val sh = FusedDetectors.signatures(spark, docs, cfg, SimHash)
      .select($"conv_id", $"simhash").as[(String, Long)].collect().toMap
    val an = FusedDetectors.signatures(spark, docs, cfg, Substring)
      .select($"conv_id", $"anchors").as[(String, Array[(Long, Long)])].collect()
      .map(t => t._1 -> t._2.toSeq).toMap
    assert(f.size == mh.size && f.size == sh.size && f.size == an.size)
    f.foreach { case (cid, (sig, sim, anchors)) =>
      assert(sig == mh(cid), s"minhash sig differs for $cid")
      assert(sim == sh(cid), s"simhash differs for $cid")
      assert(anchors == an(cid), s"anchor keys differ for $cid")
    }
    assert(f.values.exists(_._3.nonEmpty), "vacuous: no doc produced anchors")
  }

  test("fused signatures are bit-identical to the standalone kernels") {
    import spark.implicits._
    import FusedDetectors.{MinHash, SimHash}
    val cfg = DedupConfig.default
    val f = FusedDetectors.signatures(spark, docs, cfg)
      .select($"conv_id", $"sig", $"simhash")
      .as[(String, Array[Long], Long)].collect().map(t => t._1 -> ((t._2.toSeq, t._3))).toMap
    val mh = FusedDetectors.signatures(spark, docs, cfg, MinHash)
      .select($"conv_id", $"sig").as[(String, Array[Long])].collect()
      .map(t => t._1 -> t._2.toSeq).toMap
    val sh = FusedDetectors.signatures(spark, docs, cfg, SimHash)
      .select($"conv_id", $"simhash").as[(String, Long)].collect().toMap
    assert(f.size == mh.size)
    f.foreach { case (cid, (sig, sim)) =>
      assert(sig == mh(cid), s"minhash sig differs for $cid")
      assert(sim == sh(cid), s"simhash differs for $cid")
    }
  }

  test("graft_doc_sig is bit-identical to the composed Hashing primitives for every mask") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    val cfg = DedupConfig.default
    graft.plans.GraftFunctions.register(spark)
    val texts = docs.toDF.select($"conv_id", $"doc_text").as[(String, String)].collect().toMap
    var anchored = false
    for (mask <- 1 to 7) {
      val df = docs.toDF.select($"conv_id", FusedDetectors.docSig($"doc_text", cfg, mask).as("s"))
      val fields = Seq("mh" -> 1, "sh" -> 2, "an" -> 4).collect { case (f, b) if (mask & b) != 0 => f }
      assert(df.select($"s.*").columns.toSeq == fields, s"mask $mask struct fields")
      val got = df.collect()
      assert(got.length == texts.size)
      got.foreach { r =>
        val cid = r.getString(0)
        val t = texts(cid)
        val s = r.getStruct(1)
        if ((mask & 1) != 0)
          assert(s.getSeq[Long](s.fieldIndex("mh")) == Hashing.minhashSignature(
            Hashing.shingleHashes(t, cfg.shingleK), cfg.numHashes, cfg.seed).toSeq,
            s"mask $mask: minhash differs for $cid")
        if ((mask & 2) != 0)
          assert(s.getAs[Long]("sh") == Hashing.simhash(Hashing.shingleHashes(t, cfg.simhashShingleK)),
            s"mask $mask: simhash differs for $cid")
        if ((mask & 4) != 0) {
          val an = s.getSeq[Row](s.fieldIndex("an")).map(a => (a.getLong(0), a.getLong(1)))
          val want = Hashing.substringAnchors128(t, cfg.substrQ, cfg.substrSample)
            .grouped(2).map(p => (p(0), p(1))).toSeq
          assert(an == want, s"mask $mask: anchors differ for $cid")
          anchored ||= an.nonEmpty
        }
      }
    }
    assert(anchored, "vacuous: no doc produced anchors")
  }

  test("standalone detectors: repeated runs on distinct doc subsets do not accumulate cached blocks") {
    import spark.implicits._
    val cfg = DedupConfig.default
    val subsets = (0 until 3).map(i => docs.filter(abs(hash($"conv_id")) % 3 =!= i))
    val detectors = Seq[(String, Dataset[Doc] => Dataset[DupPair])](
      "minhash" -> (d => MinHashLSH.dupPairs(spark, d, cfg)),
      "simhash" -> (d => SimHashDetector.dupPairs(spark, d, cfg)),
      "substring" -> (d => SubstringDetector.dupPairs(spark, d, cfg)))
    for ((name, run) <- detectors) {
      // settle: each detector keeps exactly one live result
      run(docs).count()
      val baseline = spark.sparkContext.getPersistentRDDs.size
      subsets.foreach { d =>
        assert(run(d).count() > 0, s"$name found no pairs on a subset")
        assert(spark.sparkContext.getPersistentRDDs.size <= baseline,
          s"$name leaked cached blocks: ${spark.sparkContext.getPersistentRDDs.size} > $baseline")
      }
    }
  }

  test("single-detector and fused results stay readable while all four are held") {
    import spark.implicits._
    val cfg = DedupConfig.default
    def rows(ds: Dataset[DupPair]): Set[(String, String, String, Double)] =
      ds.toDF.select($"doc_a", $"doc_b", $"detector", $"score")
        .as[(String, String, String, Double)].collect().toSet
    val held = Seq(
      MinHashLSH.dupPairs(spark, docs, cfg),
      SimHashDetector.dupPairs(spark, docs, cfg),
      SubstringDetector.dupPairs(spark, docs, cfg),
      FusedDetectors.dupPairs(spark, docs, cfg, withSubstring = true))
    // every handle is read only after all four exist: none retired another
    val got = held.map(rows)
    Seq("minhash", "simhash", "substring").zip(got).foreach { case (d, r) =>
      assert(r.nonEmpty && r.forall(_._3 == d), s"$d result")
    }
    assert(got(3) == got(0) ++ got(1) ++ got(2))
  }

  test("substring detector links docs sharing the planted boilerplate block") {
    import spark.implicits._
    val got = normPairs(SubstringDetector.dupPairs(spark, docs, DedupConfig.default).toDF)
    // truth: all block-family convs using the same global block are
    // pairwise linked THROUGH connectivity; check each block conv is
    // linked to at least one other conv sharing its block
    val blockConvs = spark.range(0, N)
      .filter(i => CorpusGen.family(i) == "block")
      .map(i => (CorpusGen.convId(i), (i / 100) % CorpusGen.BoilerplateBlocks.length))
      .collect()
    val byBlock = blockConvs.groupBy(_._2).values.filter(_.length > 1)
    val linked = got.flatMap(p => Seq(p._1 -> p._2, p._2 -> p._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for (group <- byBlock; (cid, _) <- group) {
      val others = group.map(_._1).toSet - cid
      assert(linked.getOrElse(cid, Set.empty).intersect(others).nonEmpty,
        s"$cid not linked to any of its block group")
    }
    // and exact-dup convs also share everything → must be linked too
    assert(truth("exact").diff(got).isEmpty)
  }

  test("connected components on a toy graph") {
    import spark.implicits._
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("d", "e"), ("f", "g"), ("g", "h"), ("h", "a"))
      .toDF("doc_a", "doc_b")
    val comps = ConnectedComponents.run(spark, edges)
      .as[(String, String)].collect().toMap
    assert(comps("a") == "a" && comps("b") == "a" && comps("c") == "a")
    assert(comps("f") == "a" && comps("g") == "a" && comps("h") == "a")
    assert(comps("d") == "d" && comps("e") == "d")
  }

  test("connected components on a long chain (pointer-jumping convergence)") {
    import spark.implicits._
    val n = 64
    val edges = (0 until n - 1)
      .map(i => (f"v$i%03d", f"v${i + 1}%03d")).toDF("doc_a", "doc_b")
    // singleTaskMaxEdges = 0: pointer jumping lives in the hash-min loop
    val comps = ConnectedComponents.run(spark, edges, 25, 1, 0, singleTaskMaxEdges = 0L)
      .as[(String, String)].collect()
    assert(comps.forall(_._2 == "v000"), comps.filter(_._2 != "v000").take(3).mkString)
  }

  test("LSH bucket cap: mega-template bucket emits linear star edges, cluster still forms") {
    import spark.implicits._
    // tiny cap forces the star path on every bucket
    val cfg = DedupConfig.default.copy(bucketCap = 2)
    val pairs = MinHashLSH.dupPairs(spark, docs, cfg).toDF
    val comps = ConnectedComponents.run(spark, pairs.select($"doc_a", $"doc_b"))
      .as[(String, String)].collect().toMap
    // all mega convs (slots 90,91 of each group) still share one component
    val megas = (0L until N).filter(i => CorpusGen.family(i) == "mega").map(CorpusGen.convId)
    val labels = megas.flatMap(comps.get).distinct
    assert(labels.size == 1, s"mega split across $labels")
  }
}
