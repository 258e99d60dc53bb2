package graft.bench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.Bench

/** The benchmark's JVM side: one workload, one process, one closed-loop
  * client (this thread) running one iteration at a time.
  *
  *   DedupBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *              --work <dir> [--convs <n>] [--commit <id>] [--spans <file>]
  *              [--plant-corruption]
  *
  * Set-up writes the inputs [[SetupReps]] times, then prepares the
  * workload's starting state and runs one warm-up iteration. Then
  * iterations run until `--seconds` of iteration wall time are measured,
  * each checked outside the timed window. The last stdout line is the
  * result:
  * {"correct", "attempted", "failed", "metrics"} with the end-to-end
  * metrics (`--trace 0`) or the per-layer metrics (`--trace 1`). Exit
  * code 1 when any check failed. */
object DedupBench {

  val SetupReps = 2

  val EndToEnd: Seq[(String, String)] = Seq(
    "turns_per_s" -> "turns/s", "setup_s" -> "s", "pair_recall" -> "ratio",
    "pair_precision" -> "ratio", "shuffle_bytes_per_turn" -> "bytes/turn", "peak_rss_mb" -> "MB")

  val Layers: Seq[String] = Seq("assembly", "turn_dedup", "detect", "cluster", "restore",
    "store_write", "store_read", "incr_sigs", "incr_pairs", "incr_labels")

  private val LayerMetrics: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "task_s" -> "s", "idle_core_s" -> "s", "gc_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB", "spill_mb" -> "MB",
    "task_skew" -> "ratio", "rows_out" -> "count")

  val PerLayer: Seq[(String, String)] =
    Layers.flatMap(l => LayerMetrics.map { case (m, u) => s"$l.$m" -> u }) ++ Seq(
      "turn_dedup.unique_frac" -> "ratio",
      "detect.pairs_exact" -> "count", "detect.pairs_minhash" -> "count",
      "detect.pairs_simhash" -> "count", "detect.pairs_substring" -> "count",
      "cluster.edges_in" -> "count", "cluster.clusters" -> "count",
      "store_write.bytes" -> "bytes", "store_write.files" -> "count",
      "store_write.bytes_per_text_byte" -> "ratio", "incr_labels.changed_frac" -> "ratio",
      "iteration.wall_s" -> "s", "iteration.self_s" -> "s", "iteration.layer_sum_frac" -> "ratio",
      "trace.overhead_turns_per_s" -> "turns/s")

  final case class Opts(workload: String = "", seed: Long = 42L, seconds: Double = 10.0,
      trace: Boolean = false, work: String = "", convs: Option[Long] = None,
      commit: String = "unknown", spans: Option[String] = None, plant: Boolean = false)

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: rest => parse(rest, o.copy(workload = v))
    case "--seed" :: v :: rest     => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest  => parse(rest, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest    => parse(rest, o.copy(trace = v == "1"))
    case "--work" :: v :: rest     => parse(rest, o.copy(work = v))
    case "--convs" :: v :: rest    => parse(rest, o.copy(convs = Some(v.toLong)))
    case "--commit" :: v :: rest   => parse(rest, o.copy(commit = v))
    case "--spans" :: v :: rest    => parse(rest, o.copy(spans = Some(v)))
    case "--plant-corruption" :: rest => parse(rest, o.copy(plant = true))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unexpected arguments: ${other.mkString(" ")}")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString else x.toString

  /** Peak resident set size of this process, sampled every 10 ms while
    * `on` is set. */
  final class RssSampler extends Thread("dedupbench-rss") {
    @volatile var on = false
    @volatile var peakKb = 0L
    setDaemon(true)
    private def rssKb(): Long = {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmRSS:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
      finally src.close()
    }
    override def run(): Unit =
      try while (true) {
        if (on) peakKb = math.max(peakKb, rssKb())
        Thread.sleep(10)
      } catch { case _: InterruptedException => () }
  }

  def main(args: Array[String]): Unit = {
    val mainEntry = System.currentTimeMillis()
    val o = parse(args.toList)
    require(Workloads.Names.contains(o.workload),
      s"--workload must be one of ${Workloads.Names.mkString(", ")}")
    require(o.work.nonEmpty, "--work <dir> is required")
    val n = o.convs.getOrElse(Workloads.DefaultConvs(o.workload))
    val nproc = Runtime.getRuntime.availableProcessors()
    val pfDir = s"${o.work}/page_fault_probe"
    val pfBefore = Bench.pageFaultProbeMbps(pfDir)

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = Bench.buildSession(nproc.toString)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (mainEntry - jvmStart) / 1e3 + (System.nanoTime() - t0) / 1e9
    val wl = Workloads(o.workload, spark, n, o.seed, o.work, o.plant)
    val tracer = new Tracer(spark.sparkContext)

    // set-up: the inputs are generated and written SetupReps times and
    // the median counts; then, once each, the state the iterations start
    // from is prepared and one warm-up iteration runs (JIT, codegen). The
    // warm-up counts shuffle bytes, with the listener attached for that
    // iteration only.
    val reps = (1 to SetupReps).map { r =>
      val r0 = System.nanoTime()
      wl.setup()
      val secs = (System.nanoTime() - r0) / 1e9
      System.err.println(f"[dedupbench] set-up $r: $secs%.3f s")
      secs
    }
    val p0 = System.nanoTime()
    wl.prepare()
    val prepareS = (System.nanoTime() - p0) / 1e9
    tracer.start()
    val (warmOut, warm) = tracer.iteration(0)(wl.iterate(tracer, mutable.Map.empty))
    val shuffleBytes = tracer.layersOf(warm).map(_._2.shuffleWriteBytes).sum
    tracer.stop()
    warmOut.close()
    System.err.println(f"[dedupbench] prepared in $prepareS%.3f s, warm-up ${warm.wallS}%.3f s")
    val setupS = sessionS + median(reps) + prepareS + warm.wallS

    val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def sample(k: String, v: Double): Unit = samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val untracedTps, tracedTps = mutable.ArrayBuffer.empty[Double]
    val rss = new RssSampler
    rss.start()
    var measured = 0.0
    var attempted = 0
    var failed = 0
    var lastFailed = false
    // at least one iteration; a traced run needs an untraced and a
    // traced one for the overhead
    val minIterations = if (o.trace) 2 else 1
    while (measured < o.seconds || attempted < minIterations) {
      attempted += 1
      // traced runs alternate untraced and traced iterations: the
      // difference of their medians is the tracing overhead
      val traced = o.trace && attempted % 2 == 0
      if (traced) tracer.start()
      val m = mutable.Map.empty[String, Double]
      val failures = mutable.ArrayBuffer.empty[String]
      val i0 = System.nanoTime()
      rss.on = true
      val res = try Right(tracer.iteration(attempted)(wl.iterate(tracer, m)))
        catch { case e: Throwable => Left(e) }
      rss.on = false
      res match {
        case Right((out, span)) =>
          measured += span.wallS
          (if (traced) tracedTps else untracedTps) += wl.inputTurns / span.wallS
          if (traced) {
            recordLayers(tracer.layersOf(span), span, nproc, m)
            tracer.stop()
          }
          try failures ++= out.check(m, traced)
          catch { case e: Throwable => failures += s"check threw $e" }
          finally out.close()
        case Left(e) =>
          measured += (System.nanoTime() - i0) / 1e9
          tracer.stop()
          failures += s"iteration threw $e"
          e.printStackTrace()
      }
      val wall = res.map(_._2.wallS).getOrElse(Double.NaN)
      System.err.println(f"[dedupbench] iteration $attempted${if (traced) " (traced)" else ""}: $wall%.3f s, " +
        f"then ${(System.nanoTime() - i0) / 1e9 - wall}%.3f s of checks")
      lastFailed = failures.nonEmpty
      if (lastFailed) {
        failed += 1
        System.err.println(s"[dedupbench] iteration $attempted FAILED: ${failures.mkString("; ")}")
      }
      if (traced || !o.trace) m.foreach { case (k, v) => sample(k, v) }
    }
    rss.interrupt()
    // the once-per-run check grades the last iteration's output
    val finalFailures = try wl.finalCheck() catch { case e: Throwable => Seq(s"final check threw $e") }
    if (finalFailures.nonEmpty) {
      System.err.println(s"[dedupbench] final check FAILED: ${finalFailures.mkString("; ")}")
      if (!lastFailed) failed += 1
    }
    val pfAfter = Bench.pageFaultProbeMbps(pfDir)
    val healthy = math.min(pfBefore, pfAfter) >= 50.0

    val metrics: Seq[(String, String, Double)] =
      if (!o.trace) {
        val values = Map(
          "turns_per_s" -> median(untracedTps.toSeq),
          "setup_s" -> setupS,
          "pair_recall" -> median(samples.getOrElse("pair_recall", Nil).toSeq),
          "pair_precision" -> median(samples.getOrElse("pair_precision", Nil).toSeq),
          "shuffle_bytes_per_turn" -> shuffleBytes.toDouble / wl.inputTurns,
          "peak_rss_mb" -> rss.peakKb * 1024.0 / 1e6)
        EndToEnd.map { case (k, u) => (k, u, values(k)) }
      } else {
        val overhead = median(untracedTps.toSeq) - median(tracedTps.toSeq)
        PerLayer.map { case (k, u) =>
          val v = if (k == "trace.overhead_turns_per_s") overhead
            else samples.get(k).map(xs => median(xs.toSeq)).getOrElse(0.0)
          (k, u, v)
        }
      }

    val xmx = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("-Xmx")).lastOption.getOrElse("default")
    val env = Seq(
      "workload" -> q(o.workload), "seed" -> o.seed.toString, "convs" -> n.toString,
      "input_turns" -> wl.inputTurns.toString, "nproc" -> nproc.toString,
      "spark_master" -> q(spark.sparkContext.master), "spark_version" -> q(spark.version),
      "driver_xmx" -> q(xmx), "git_commit" -> q(o.commit), "trace" -> o.trace.toString,
      "page_fault_mbps_before" -> num(pfBefore), "page_fault_mbps_after" -> num(pfAfter),
      "host_healthy" -> healthy.toString, "session_s" -> num(sessionS),
      "setup_reps_s" -> reps.map(num).mkString("[", ",", "]"),
      "prepare_s" -> num(prepareS), "warmup_s" -> num(warm.wallS),
      "iterations" -> attempted.toString,
      "untraced_turns_per_s" -> untracedTps.map(num).mkString("[", ",", "]"),
      "traced_turns_per_s" -> tracedTps.map(num).mkString("[", ",", "]"),
    ).map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
    if (!healthy) System.err.println(
      f"[dedupbench] HOST UNHEALTHY: page-fault probe $pfBefore%.0f MB/s before, $pfAfter%.0f after (< 50)")
    if (o.trace) {
      printLayerTable(samples)
      o.spans.foreach { p =>
        Files.createDirectories(Paths.get(p).toAbsolutePath.getParent)
        Files.write(Paths.get(p), s"""{"env":$env,"spans":${tracer.toJson}}\n"""
          .getBytes(StandardCharsets.UTF_8))
      }
    }
    spark.stop()

    val correct = failed == 0
    println(s"""{"env":$env}""")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":""" +
      metrics.map { case (k, u, v) => q(k) + s""":{"value":${num(v)},"unit":${q(u)}}""" }
        .mkString("{", ",", "}") + "}")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** Per-layer metrics of one traced iteration, plus the sum check: the
    * layer walls should cover the iteration's wall. */
  private def recordLayers(layers: Seq[(Span, TaskTotals)], iter: Span, cores: Int,
      m: mutable.Map[String, Double]): Unit = {
    Layers.foreach { l => LayerMetrics.map(_._1).filter(_ != "rows_out").foreach(k => m(s"$l.$k") = 0.0) }
    layers.groupBy(_._1.name).foreach { case (l, calls) =>
      val wall = calls.map(_._1.wallS).sum
      val task = calls.map(_._2.runMs).sum / 1e3
      m(s"$l.wall_s") = wall
      m(s"$l.task_s") = task
      m(s"$l.idle_core_s") = wall * cores - task
      m(s"$l.gc_s") = calls.map(_._1.gcMs).sum / 1e3
      m(s"$l.jobs") = calls.map(_._2.jobs).sum.toDouble
      m(s"$l.tasks") = calls.map(_._2.tasks).sum.toDouble
      m(s"$l.shuffle_write_mb") = calls.map(_._2.shuffleWriteBytes).sum / 1e6
      m(s"$l.shuffle_read_mb") = calls.map(_._2.shuffleReadBytes).sum / 1e6
      m(s"$l.spill_mb") = calls.map(_._2.spillBytes).sum / 1e6
      m(s"$l.task_skew") = calls.map(_._2.taskSkew).max
    }
    val sum = layers.map(_._1.wallS).sum
    m("iteration.wall_s") = iter.wallS
    m("iteration.self_s") = iter.wallS - sum
    m("iteration.layer_sum_frac") = sum / iter.wallS
    val ok = math.abs(sum - iter.wallS) <= 0.1 * iter.wallS
    System.err.println(f"[dedupbench] iteration ${iter.iteration} sum check: layers $sum%.3f s of " +
      f"wall ${iter.wallS}%.3f s (${100 * sum / iter.wallS}%.1f%%) ${if (ok) "OK" else "OVER 10%"}")
  }

  private def printLayerTable(samples: mutable.Map[String, mutable.ArrayBuffer[Double]]): Unit = {
    def med(k: String) = samples.get(k).map(xs => median(xs.toSeq)).getOrElse(0.0)
    val cols = LayerMetrics.map(_._1)
    System.err.println(f"[dedupbench] ${"layer"}%-12s" + cols.map(c => f"$c%17s").mkString)
    Layers.filter(l => med(s"$l.wall_s") > 0).foreach { l =>
      System.err.println(f"[dedupbench] $l%-12s" + cols.map(c => f"${med(s"$l.$c")}%17.3f").mkString)
    }
    System.err.println(f"[dedupbench] ${"sum"}%-12s${Layers.map(l => med(s"$l.wall_s")).sum}%17.3f" +
      f"   iteration wall ${med("iteration.wall_s")}%.3f s, harness self ${med("iteration.self_s")}%.3f s")
  }
}
