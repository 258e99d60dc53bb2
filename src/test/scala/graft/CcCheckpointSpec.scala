package graft

import graft.operators.ConnectedComponents
import org.apache.spark.sql.functions._

/** The RELIABLE-checkpoint branch of the CC loop (cluster-safe
  * truncation: persist → count → checkpoint so the checkpoint-write job
  * reads cache, files survive executor loss). Pipeline.run wires a
  * store-relative checkpoint dir, so this branch is the production path
  * on any deployment; here it is exercised directly. */
class CcCheckpointSpec extends SparkSpec {

  test("reliable branch writes checkpoint files, result correct and reusable") {
    import spark.implicits._
    val sc = spark.sparkContext
    val dir = tmpDir("cc_ck")
    sc.setCheckpointDir(dir)
    assert(sc.getCheckpointDir.isDefined)
    // a 10-node path graph (worst-case diameter for its size) plus two
    // disjoint pairs; checkpointEvery=1 forces a reliable truncation on
    // EVERY iteration
    val edges = ((0 until 9).map(i => (s"n$i", s"n${i + 1}")) ++
      Seq(("p0", "p1"), ("q0", "q1"))).toDF("doc_a", "doc_b")
    // singleTaskMaxEdges = 0: the reliable checkpoint lives in the
    // hash-min loop, which this tiny graph would otherwise skip
    val out = ConnectedComponents.run(spark, edges, maxIters = 25, checkpointEvery = 1,
      batchIters = 0, singleTaskMaxEdges = 0L)
    val got = out.as[(String, String)].collect().toMap
    assert(got.size == 14)
    assert((0 to 9).forall(i => got(s"n$i") == "n0"))
    assert(got("p0") == "p0" && got("p1") == "p0")
    assert(got("q0") == "q0" && got("q1") == "q0")

    // checkpoint files actually landed under the configured dir
    val ckFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .count()
    assert(ckFiles > 0, s"no checkpoint part files under $dir")

    // label-table reuse: the returned frame is materialized and usable
    // for further jobs (self-join) after the loop's internals were
    // unpersisted
    assert(out.count() == 14)
    val sizes = out.groupBy($"cluster_id").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(sizes("n0") == 10 && sizes("p0") == 2 && sizes("q0") == 2)
  }

  test("two sessions can hold two live CC outputs (retire policy is per-session)") {
    import spark.implicits._
    val s2 = spark.newSession()
    val edges1 = ((0 until 4).map(i => (s"a$i", s"a${i + 1}"))).toDF("doc_a", "doc_b")
    val out1 = ConnectedComponents.run(spark, edges1)
    val got1 = out1.as[(String, String)].collect().toMap
    // a run on ANOTHER session must not free out1's blocks
    val edges2 = {
      import s2.implicits._
      Seq(("b0", "b1"), ("b1", "b2")).toDF("doc_a", "doc_b")
    }
    val out2 = ConnectedComponents.run(s2, edges2)
    // BOTH results readable after both runs
    assert(out2.as[(String, String)]
      .collect().toMap == Map("b0" -> "b0", "b1" -> "b0", "b2" -> "b0"))
    assert(out1.as[(String, String)].collect().toMap == got1,
      "first session's live CC output was invalidated by another session's run")
  }

  test("batched iterations (batchIters=3) converge identically to per-iteration runs") {
    import spark.implicits._
    // path graph (worst-case diameter) + star + pairs: exercises both
    // multi-round convergence and the inside-batch fixpoint detection
    val edges = ((0 until 20).map(i => (s"n$i", s"n${i + 1}")) ++
      (1 to 5).map(i => ("hub", s"s$i")) ++ Seq(("x0", "x1"))).toDF("doc_a", "doc_b")
    // singleTaskMaxEdges = 0 forces the loop that batchIters configures
    val perIter = ConnectedComponents.run(spark, edges, 25, 1, batchIters = 1, singleTaskMaxEdges = 0L)
      .as[(String, String)].collect().toMap
    val batched = ConnectedComponents.run(spark, edges, 25, 1, batchIters = 3, singleTaskMaxEdges = 0L)
      .as[(String, String)].collect().toMap
    assert(batched == perIter)
    assert((0 to 20).forall(i => batched(s"n$i") == "n0"))
    assert(batched("hub") == "hub" && (1 to 5).forall(i => batched(s"s$i") == "hub"))
  }

  test("repeated CC runs do not accumulate cached blocks") {
    import spark.implicits._
    val edges = ((0 until 9).map(i => (s"n$i", s"n${i + 1}")) ++
      Seq(("p0", "p1"), ("q0", "q1"))).toDF("doc_a", "doc_b")
    // both regimes: the single-task pass (default bound) and the loop
    Seq(ConnectedComponents.SingleTaskMaxEdges, 0L).foreach { bound =>
      def runOnce() = ConnectedComponents.run(spark, edges, 25, 1, 0, bound)
      // settle: one run whose output stays live (the retire-previous
      // policy keeps exactly one label table alive)
      runOnce().count()
      val baseline = spark.sparkContext.getPersistentRDDs.size
      (1 to 3).foreach { _ =>
        assert(runOnce().count() == 14)
        // each run retires the previous output before registering its
        // own, so the live-block census must not grow with invocations
        assert(spark.sparkContext.getPersistentRDDs.size <= baseline,
          s"CC (bound $bound) leaked cached blocks: ${spark.sparkContext.getPersistentRDDs.size} > $baseline")
      }
    }
  }
}
