package graft

import graft.operators.ConnectedComponents
import org.apache.spark.sql.DataFrame
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** The two regimes of ConnectedComponents.run must label every node
  * identically: the single-task union-find (graphs at or below the
  * bound — the default for everything here) and the hash-min loop
  * (forced with `singleTaskMaxEdges = 0`). The union-find pass is also
  * a pure function of the edge set, so task retries reproduce it. */
class CcPathsSpec extends SparkSpec {

  /** chains (≤ 200 nodes), stars, disjoint pairs, then duplicate edges
    * in both orientations. Ids carry a random prefix, so the min member
    * is not the creation order. With `randomChains` the chain ids are
    * random too and a few cross-links merge structures; otherwise ids
    * increase along each chain. The hash-min loop needs Θ(length)
    * iterations on a random-id chain — more than its default maxIters
    * of 25 at length 200 — so only the single-task path is held to the
    * oracle on those (the loop's limit is an open ROADMAP item). */
  private def randomGraph(seed: Long, randomChains: Boolean = false): Seq[(String, String)] = {
    val rng = new Random(seed)
    var next = 0
    def node(): String = { next += 1; f"${rng.nextInt(1 << 20)}%05x-$next" }
    val edges = ArrayBuffer.empty[(String, String)]
    def link(a: String, b: String): Unit = edges += (if (rng.nextBoolean()) (a, b) else (b, a))
    (1 to 8).foreach { _ =>
      val length = 2 + rng.nextInt(199)
      val prefix = node()
      val chain = if (randomChains) Seq.fill(length)(node()) else (0 until length).map(i => f"$prefix-$i%03d")
      chain.sliding(2).foreach { case Seq(a, b) => link(a, b) }
    }
    (1 to 10).foreach { _ =>
      val hub = node()
      (1 to 1 + rng.nextInt(60)).foreach(_ => link(hub, node()))
    }
    (1 to 40).foreach(_ => link(node(), node()))
    if (randomChains) {
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.toIndexedSeq
      (1 to 6).foreach(_ => link(nodes(rng.nextInt(nodes.size)), nodes(rng.nextInt(nodes.size))))
    }
    val dups = Seq.fill(edges.size / 5)(edges(rng.nextInt(edges.size)))
    rng.shuffle(edges.toSeq ++ dups ++ dups.take(dups.size / 2).map(_.swap))
  }

  /** independent oracle: BFS per component, label = min member under
    * Spark's binary (UTF-8) string order */
  private def truth(edges: Seq[(String, String)]): Map[String, String] = {
    val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    val utf8Order = Ordering.by[String, Array[Byte]](_.getBytes("UTF-8"))(
      (a, b) => java.util.Arrays.compareUnsigned(a, b))
    val out = scala.collection.mutable.Map.empty[String, String]
    adj.keys.foreach { start =>
      if (!out.contains(start)) {
        val seen = scala.collection.mutable.LinkedHashSet(start)
        val todo = scala.collection.mutable.Queue(start)
        while (todo.nonEmpty) adj(todo.dequeue()).foreach(v => if (seen.add(v)) todo.enqueue(v))
        val label = seen.min(utf8Order)
        seen.foreach(out(_) = label)
      }
    }
    out.toMap
  }

  private def labels(edges: DataFrame, singleTaskMaxEdges: Long): Map[String, String] = {
    import spark.implicits._
    val rows = ConnectedComponents.run(spark, edges, 25, 1, 0, singleTaskMaxEdges)
      .as[(String, String)].collect()
    val m = rows.toMap
    assert(m.size == rows.length, "more than one row per conv_id")
    m
  }

  private def assertPathsAgree(edges: Seq[(String, String)]): Map[String, String] = {
    import spark.implicits._
    val df = edges.toDF("doc_a", "doc_b")
    val local = labels(df, ConnectedComponents.SingleTaskMaxEdges)
    val loop = labels(df, 0L)
    val want = truth(edges)
    assert(local == want, (local.toSet diff want.toSet).take(5).mkString(", "))
    assert(loop == want, (loop.toSet diff want.toSet).take(5).mkString(", "))
    local
  }

  test("chains, stars, pairs and duplicate edges on random seeds: single-task == hash-min loop") {
    Seq(11L, 12L, 13L).foreach(seed => assertPathsAgree(randomGraph(seed)))
  }

  test("labels follow Spark's UTF-8 string order, not UTF-16 String.compareTo") {
    // U+FF21 sorts below U+1F600 in UTF-8 (and code point) order, above
    // it in UTF-16 code units (the surrogate 0xD83D < 0xFF21)
    val fullwidth = "Ａ"
    val emoji = "😀"
    val got = assertPathsAgree(Seq((emoji, fullwidth), ("ｚ", emoji)))
    assert(got.values.toSet == Set(fullwidth))
  }

  test("planted mega-cluster of 10^5 nodes: single-task == hash-min loop") {
    val n = 100000
    val star = (0 until n).map(i => ("m_hub", f"m$i%06d"))
    val got = assertPathsAgree(star ++ Seq(("x1", "x0")))
    assert(got.size == n + 3)
    assert(got.count(_._2 == "m000000") == n + 1 && got("x1") == "x0")
  }

  test("single-task pass is exact on random-id chains and a pure function of the edge set") {
    val edges = randomGraph(21L, randomChains = true)
    val symmetric = (edges ++ edges.map(_.swap)).distinct
    val base = ConnectedComponents.singleTaskLabels(symmetric.iterator).toSeq.sorted
    assert(base.toMap == truth(edges))
    // shuffled input order, identical output: task retries reproduce it
    val rng = new Random(5)
    (1 to 5).foreach { _ =>
      assert(ConnectedComponents.singleTaskLabels(rng.shuffle(symmetric).iterator).toSeq.sorted == base)
    }
  }
}
