package graft

import graft.functions.Hashing
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

/** Native graft_* expressions: SQL-callable, parity with the pure
  * Scala kernels, codegen path exercised (whole-stage codegen is on by
  * default — a projection through these expressions runs generated
  * code, falling back to eval only if Janino failed). */
class ExpressionSpec extends SparkSpec {

  override def beforeAll(): Unit = { super.beforeAll(); GraftFunctions.register(spark) }

  val texts = Seq(
    "the quick brown fox jumps over the lazy dog again and again",
    "completely different content with other words entirely here",
    "")

  test("graft_doc_sig mh field matches Hashing.minhashSignature") {
    import spark.implicits._
    val got = texts.toDF("t")
      .selectExpr("graft_doc_sig(t, 1, 5, 128, 42, 2, 32, 8).mh AS sig")
      .as[Array[Long]].collect()
    val want = texts.map(t =>
      Hashing.minhashSignature(Hashing.shingleHashes(t, 5), 128, 42))
    got.zip(want).foreach { case (g, w) => assert(g.sameElements(w)) }
  }

  test("graft_doc_sig sh / band_hashes / substr_anchors128 / ball_keys parity") {
    import spark.implicits._
    val row = texts.take(1).toDF("t").selectExpr(
      "graft_doc_sig(t, 2, 5, 128, 42, 2, 32, 8).sh AS sh",
      "graft_band_hashes(graft_doc_sig(t, 1, 5, 128, 42, 2, 32, 8).mh, 32, 4) AS bands",
      "graft_substr_anchors128(t, 3, 2) AS anchors",
      "graft_ball_keys(graft_doc_sig(t, 2, 5, 128, 42, 2, 32, 8).sh, 4) AS balls").collect()(0)
    val t = texts.head
    assert(row.getLong(0) == Hashing.simhash(Hashing.shingleHashes(t, 2)))
    val sig = Hashing.minhashSignature(Hashing.shingleHashes(t, 5), 128, 42)
    assert(row.getSeq[Long](1).toArray.sameElements(
      Array.tabulate(32)(b => Hashing.bandHash(sig, b, 4))))
    val anchors = row.getSeq[org.apache.spark.sql.Row](2).flatMap(a => Seq(a.getLong(0), a.getLong(1)))
    assert(anchors.nonEmpty && anchors.toArray.sameElements(Hashing.substringAnchors128(t, 3, 2)))
    assert(row.getSeq[Long](3).toArray.sameElements(
      Hashing.simhashBallKeys(Hashing.simhash(Hashing.shingleHashes(t, 2)), 4)))
  }

  test("graft_sig_jaccard on identical and disjoint signatures") {
    import spark.implicits._
    val df = Seq((texts(0), texts(0)), (texts(0), texts(1))).toDF("a", "b")
      .selectExpr(
        "graft_sig_jaccard(graft_doc_sig(a, 1, 5, 128, 42, 2, 32, 8).mh, " +
          "graft_doc_sig(b, 1, 5, 128, 42, 2, 32, 8).mh) AS j")
      .as[Double].collect()
    assert(df(0) == 1.0)
    assert(df(1) < 0.2)
  }

  test("null propagation: null text yields null signature") {
    import spark.implicits._
    val got = Seq[Option[String]](None, Some("a b c")).toDF("t")
      .selectExpr("graft_doc_sig(t, 7, 5, 128, 42, 2, 32, 8) AS sig")
      .collect()
    assert(got(0).isNullAt(0))
    assert(!got(1).isNullAt(0))
  }

  test("a second register on a session replaces no function and logs no warning") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    val registry = spark.sessionState.functionRegistry
    def warnings(body: => Unit): Seq[String] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val appender = new AbstractAppender("register-capture", null, null, true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
      }
      appender.start()
      val logger = LogManager.getLogger(registry.getClass.getName).asInstanceOf[Logger]
      logger.addAppender(appender)
      try body finally { logger.removeAppender(appender); appender.stop() }
      seen.toArray.map(_.toString).toSeq
    }
    val before = registry.lookupFunction(FunctionIdentifier("graft_doc_sig"))
    assert(warnings(GraftFunctions.register(spark)).isEmpty) // beforeAll registered once
    assert(registry.lookupFunction(FunctionIdentifier("graft_doc_sig")).exists(_ eq before.get))
    // the capture sees the warning an unguarded re-registration logs
    val (name, builder) = GraftFunctions.builders.head
    val forced = warnings(registry.registerFunction(
      FunctionIdentifier(name), new ExpressionInfo("graft.plans.GraftKernels", null, name), builder))
    assert(forced.exists(_.contains("replaced a previously registered function")), forced)
  }

  test("non-literal config argument is rejected") {
    import spark.implicits._
    val e = intercept[Exception] {
      Seq(("x", 3)).toDF("t", "k").selectExpr("graft_doc_sig(t, 1, k, 128, 42, 2, 32, 8)").collect()
    }
    assert(e.getMessage.contains("literal") || e.getMessage.contains("foldable"),
      e.getMessage.take(200))
  }
}
