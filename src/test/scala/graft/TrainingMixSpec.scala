package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Training-mix construction operators: quality-ranked representative
  * election, model-based quality scoring, temperature rebalancing,
  * reproducible corpus ordering. */
class TrainingMixSpec extends SparkSpec {

  test("electRepresentative: best quality wins, ties break to min conv_id, missing scores lose") {
    import spark.implicits._
    val assigns = Seq(
      // cluster A: first-writer a1 currently rep; a2 has the best score
      ClusterAssign("a1", "A", "a1", true),
      ClusterAssign("a2", "A", "a1", false),
      ClusterAssign("a3", "A", "a1", false),
      // cluster B: tied scores -> min conv_id
      ClusterAssign("b2", "B", "b2", true),
      ClusterAssign("b1", "B", "b2", false),
      // cluster C: c1 has NO score row, c2 a very low one -> c2 wins
      ClusterAssign("c1", "C", "c1", true),
      ClusterAssign("c2", "C", "c1", false),
      // singleton with no score at all stays its own representative
      ClusterAssign("d1", "D", "d1", true)
    ).toDS()
    val scores = Seq(
      ("a1", 10L), ("a2", 99L), ("a3", 99L),
      ("b1", 5L), ("b2", 5L),
      ("c2", Long.MinValue + 1)
    ).toDF("conv_id", "quality_score")

    val out = Clustering.electRepresentative(spark, assigns, scores)
      .collect().map(a => a.conv_id -> a).toMap
    assert(out.size == 8)
    assert(Seq("a1", "a2", "a3").forall(c => out(c).representative == "a2"))
    assert(out("a2").is_representative && !out("a1").is_representative)
    // tie at 99 between a2 and a3 -> a2 (min conv_id); tie in B -> b1
    assert(Seq("b1", "b2").forall(c => out(c).representative == "b1"))
    // a present score equal to the missing-score sentinel still wins
    // the tiebreak only by conv_id; here c1 (missing) vs c2 (sentinel
    // value): equal keys -> min conv_id = c1. The sentinel doc can
    // only lose to a STRICTLY higher score:
    assert(out("c1").representative == "c1")
    assert(out("d1").representative == "d1" && out("d1").is_representative)
    // cluster_id is preserved untouched
    assert(out("a3").cluster_id == "A")
  }

  test("electRepresentative: strictly higher score beats a missing one") {
    import spark.implicits._
    val assigns = Seq(
      ClusterAssign("c1", "C", "c1", true),
      ClusterAssign("c2", "C", "c1", false)).toDS()
    val scores = Seq(("c2", -5L)).toDF("conv_id", "quality_score")
    val out = Clustering.electRepresentative(spark, assigns, scores)
      .collect().map(a => a.conv_id -> a.representative).toMap
    assert(out == Map("c1" -> "c2", "c2" -> "c2"))
  }

  test("electRepresentative: a repeated score row keeps one row per conv_id") {
    import spark.implicits._
    val assigns = Seq(
      ClusterAssign("c1", "C", "c1", true),
      ClusterAssign("c2", "C", "c1", false)).toDS()
    // c1 scored twice (disagreeing): its highest score counts
    val scores = Seq(("c1", 1L), ("c1", 9L), ("c2", 5L)).toDF("conv_id", "quality_score")
    val out = Clustering.electRepresentative(spark, assigns, scores).collect()
    assert(out.length == 2, out.mkString(", "))
    assert(out.map(a => a.conv_id -> a.representative).toMap == Map("c1" -> "c1", "c2" -> "c1"))
  }

  test("QualityModel.score: mean of term weights, unknown terms 0, empty doc = bias") {
    import spark.implicits._
    val docs = Seq(
      (1L, "good good bad"),   // (5 + 5 - 7) / 3 = 1 -> logit 1 + bias
      (2L, "bad"),             // -7
      (3L, "novel words here"),// all unknown -> 0
      (4L, ""),                // no tokens -> bias only
      (5L, "   \t  "),         // whitespace-only -> no tokens
      (6L, "good bad")         // (5 - 7) / 2 = -1 -> floor(-1.0) = -1
    ).toDF("doc_id", "text")
    val weights = Seq(("good", 5L), ("bad", -7L)).toDF("term", "weight_x10000")
    val out = QualityModel.score(spark, docs, "doc_id", "text", weights, biasX10000 = 2L)
      .select($"doc_id", $"n_tokens", $"logit_x10000", $"keep")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == (1L, 3L, 3L, true))
    assert(out(2L) == (2L, 1L, -5L, false))
    assert(out(3L) == (3L, 3L, 2L, true))
    assert(out(4L) == (4L, 0L, 2L, true))
    assert(out(5L) == (5L, 0L, 2L, true))
    // floor on a negative mean: (5-7)/2 = -1 exactly; (5-7-7)/3 with
    // doc "good bad bad" would be floor(-3.0) = -3
    assert(out(6L) == (6L, 2L, 1L, true))
  }

  test("QualityModel.score: negative mean floors toward -inf") {
    import spark.implicits._
    val docs = Seq((1L, "a a b")).toDF("doc_id", "text") // (1+1-2)/3 = 0; (1-2)/2...
    val weights = Seq(("a", 1L), ("b", -2L)).toDF("term", "weight_x10000")
    // sum = 0 -> 0; now craft sum = -1 over 2 tokens -> floor(-0.5) = -1
    val docs2 = Seq((2L, "a b")).toDF("doc_id", "text")
    val out = QualityModel.score(spark, docs.union(docs2), "doc_id", "text", weights, 0L)
      .select($"doc_id", $"logit_x10000").as[(Long, Long)].collect().toMap
    assert(out(1L) == 0L)
    assert(out(2L) == -1L)
  }

  test("temperatureT2: small stratum keeps base rate, 4x stratum keeps half") {
    import spark.implicits._
    // lang x: ids 0..3 (4 rows); lang y: ids 0..15 (16 rows)
    // rate_x = floor(1000*sqrt(4/4)) = 1000 -> keep all
    // rate_y = floor(1000*sqrt(4/16)) = 500 -> keep ids 0..499 (all 16 here)
    // use base 600: rate_x = 600, rate_y = 300
    val df = ((0 until 4).map(i => (i.toLong, "x")) ++
      (0 until 16).map(i => (i.toLong * 100, "y"))).toDF("doc_id", "lang")
    val kept = Sampling.temperatureT2(df, "doc_id", "lang", basePermille = 600)
      .select($"doc_id", $"lang").as[(Long, String)].collect().toSet
    // x: all ids 0..3 < 600 -> kept
    assert(kept.filter(_._2 == "x").map(_._1) == Set(0L, 1L, 2L, 3L))
    // y ids are 0,100,...,1500; id % 1000 < 300 keeps 0,100,200,1000,1100,1200
    assert(kept.filter(_._2 == "y").map(_._1) ==
      Set(0L, 100L, 200L, 1000L, 1100L, 1200L))
    // output schema = input columns only
    assert(Sampling.temperatureT2(df, "doc_id", "lang", 600).columns.toSeq ==
      Seq("doc_id", "lang"))
  }

  test("TopFraction.keep: exact cut, ties at the cut all kept, full keep at 1000") {
    import spark.implicits._
    val df = Seq(
      (1L, 10L), (2L, 10L), (3L, 9L),
      (4L, 8L), (5L, 8L), (6L, 8L), (7L, 1L)
    ).toDF("doc_id", "score")
    def ids(permille: Int): Set[Long] =
      TopFraction.keep(spark, df, "score", permille)
        .select($"doc_id").as[Long].collect().toSet
    // N=7, 300‰ -> target ceil(2.1)=3: cum(10)=2, cum(9)=3 -> cut 9
    assert(ids(300) == Set(1L, 2L, 3L))
    // 430‰ -> target ceil(3.01)=4: cut lands inside the 8-tie -> all
    // three ties kept (threshold semantics, never undershoot)
    assert(ids(430) == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // 1000‰ keeps everything; 1‰ keeps at least the single best-tie set
    assert(ids(1000) == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    assert(ids(1) == Set(1L, 2L))
    // partitioning-independent
    assert(TopFraction.keep(spark, df.repartition(5), "score", 300)
      .select($"doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("TopFraction.keep: over-cardinality score column fails fast with the contract message") {
    import spark.implicits._
    // MaxHistRows + 2 distinct scores — a raw-id "score" nobody bucketed
    val df = spark.range(TopFraction.MaxHistRows + 2L)
      .select($"id".as("doc_id"), $"id".as("score"))
    val e = intercept[IllegalArgumentException] {
      TopFraction.keep(spark, df, "score", 500)
    }
    assert(e.getMessage.contains("distinct values"), e.getMessage)
  }

  test("QualityModel.score: broadcast and shuffle join paths produce identical scores") {
    import spark.implicits._
    val docs = Seq(
      (1L, "good good bad"), (2L, "bad"), (3L, "novel words"), (4L, "")
    ).toDF("doc_id", "text")
    val weights = Seq(("good", 5L), ("bad", -7L)).toDF("term", "weight_x10000")
    def run(cap: Long) =
      QualityModel.score(spark, docs, "doc_id", "text", weights, 2L, broadcastCapBytes = cap)
        .select($"doc_id", $"n_tokens", $"logit_x10000", $"keep")
        .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    // cap 0 forces the shuffle-join fallback; the default broadcasts
    assert(run(0L) == run(256L << 20))
  }

  test("Curate.report with a model gate: schema gains model_ok, keep = axes AND model") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bench = docs.filter($"doc_id" % 97 === 0)
    val weights = QualityModel.vocabulary(docs, "text")
      .withColumn("weight_x10000", (length($"term") - 5).cast("long") * 1000L)

    val base = Curate.report(spark, docs, bench)
    assert(!base.columns.contains("model_ok"), "no model -> schema unchanged")
    val withM = Curate.report(spark, docs, bench, model = Some((weights, 0L)))
    assert(withM.columns.contains("model_ok"))

    // closed loop: model_ok must equal QualityModel's own keep, and
    // keep must be the base verdict AND the model gate, row for row
    val m = QualityModel.score(spark, docs, "doc_id", "text", weights, 0L)
      .select($"doc_id", $"keep".as("expect_model_ok"))
    val joined = withM
      .join(base.select($"doc_id", $"keep".as("base_keep")), Seq("doc_id"))
      .join(m, Seq("doc_id"))
    assert(joined.filter($"model_ok" =!= $"expect_model_ok").count() == 0)
    assert(joined.filter($"keep" =!= ($"base_keep" && $"model_ok")).count() == 0)
    // non-vacuous: the fixture model rejects someone the axes kept
    assert(joined.filter($"base_keep" && !$"model_ok").count() > 0,
      "fixture model should reject at least one axes-kept doc")
  }

  test("CorpusOrder.seeded: identical order at any input partitioning, seed changes order") {
    import spark.implicits._
    val ids = (0L until 500L).toDF("doc_id")
    def orderOf(df: org.apache.spark.sql.DataFrame, seed: String): Seq[Long] =
      CorpusOrder.seeded(df, "doc_id", seed, Some(4))
        .select($"doc_id").as[Long].collect().toSeq
    val o1 = orderOf(ids.repartition(7), "s1")
    val o2 = orderOf(ids.repartition(2), "s1")
    assert(o1 == o2, "order must be partitioning-independent")
    assert(o1.toSet == (0L until 500L).toSet)
    assert(o1 != (0L until 500L), "shuffled order should not be the input order")
    val o3 = orderOf(ids, "s2")
    assert(o3 != o1, "a different seed must give a different order")
    // the realized order is exactly ascending by shuffle_key
    val keys = CorpusOrder.seeded(ids, "doc_id", "s1", Some(4))
      .select($"shuffle_key").as[String].collect().toSeq
    assert(keys == keys.sorted)
  }
}
