package graft.bench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{DedupConfig, Doc, DupPair, Pipeline}
import graft.corpus.CorpusGen
import graft.operators._
import graft.sources.TableStore

/** What one timed iteration left behind for its checks. */
trait Outcome {
  /** Runs the correctness checks, outside the timed window, and with
    * `detail` also the per-layer counts that need jobs of their own,
    * recording both in `m`. Returns the failed checks. */
  def check(m: mutable.Map[String, Double], detail: Boolean): Seq[String]
  def close(): Unit
}

/** One workload: `setup` generates and writes its inputs under `dir`,
  * `prepare` builds any state the iterations start from, `iterate` runs
  * one timed iteration through the engine's public operators, recording
  * each layer's output row count in `m`. The engine sees only the
  * parquet written by `setup`, never the seed. */
abstract class Workload(val spark: SparkSession, val dir: String, val plant: Boolean) {
  def setup(): Unit
  def prepare(): Unit = ()
  /** Turns one iteration processes: the denominator of turns_per_s. */
  def inputTurns: Long
  def iterate(t: Tracer, m: mutable.Map[String, Double]): Outcome
  /** Checks made once per run, after the last iteration. */
  def finalCheck(): Seq[String] = Nil

  protected val cfg: DedupConfig = DedupConfig.default

  /** Cache and count: the iteration's stage outputs are materialized
    * once, inside the span of the layer that produces them. */
  protected def materialize(df: DataFrame): (DataFrame, Long) = {
    val c = df.cache()
    (c, c.count())
  }

  protected def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val all = Files.walk(root)
      try all.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally all.close()
    }
  }

  protected def clear(frames: DataFrame*): Unit = frames.foreach(_.unpersist(false))

  /** Size of everything a store commit left on disk, against the UTF-8
    * bytes of the text it holds. */
  protected def recordStore(root: String, textBytes: Long, m: mutable.Map[String, Double]): Unit = {
    val w = Files.walk(Paths.get(root))
    val files = try w.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally w.close()
    val bytes = files.map(Files.size(_)).sum
    m("store_write.bytes") = bytes.toDouble
    m("store_write.files") = files.size.toDouble
    m("store_write.bytes_per_text_byte") = bytes.toDouble / textBytes
  }

  protected def textBytesOf(turns: DataFrame): Long =
    turns.agg(sum(octet_length(col("text")))).head().getLong(0)
}

/** The generated transcripts table, written once per set-up, plus the
  * generator's truth (which depends on the conversation count only). */
final class Corpus(spark: SparkSession, n: Long, seed: Long, dir: String) {
  import spark.implicits._
  val path = s"$dir/corpus"
  private var target: Seq[Long] = Nil

  /** Generates and writes the transcripts, and digests them as the
    * restore target. */
  def write(): Unit = {
    CorpusGen.transcripts(spark, n, seed).write.mode("overwrite").parquet(path)
    target = Checks.digest(turns)
  }
  def turns: DataFrame = spark.read.parquet(path)
  def turnCount: Long = target.head

  /** Truth pairs of the whole-doc duplicate families. */
  lazy val truthPairs: DataFrame = CorpusGen.truthPairs(spark, n)
    .filter($"kind".isin("exact", "near", "fuzzy", "mega")).toDF.cache()
  lazy val truthClusters: DataFrame = CorpusGen.truthClusters(spark, n).toDF.cache()

  /** The restored rows must digest equal to the input; with `plant`,
    * one restored turn's text is altered first. */
  def checkRestore(restored: DataFrame, plant: Boolean): Seq[String] = {
    val rows = if (!plant) restored else restored.withColumn("text",
      when($"conv_id" === CorpusGen.convId(0) && $"turn_idx" === 0, concat($"text", lit("#")))
        .otherwise($"text"))
    val got = Checks.digest(rows)
    if (got == target) Nil
    else Seq(s"restore digest ${got.mkString(",")} != input ${target.mkString(",")}")
  }

  /** Recall and precision of a cluster assignment against the truth. */
  def grade(assign: DataFrame, m: mutable.Map[String, Double]): Seq[String] = {
    val recall = Checks.pairRecall(spark, assign, truthPairs)
    m("pair_recall") = recall
    m("pair_precision") = Checks.pairPrecision(assign, truthClusters)
    if (recall < Checks.MinRecall) Seq(f"pair_recall $recall%.5f < ${Checks.MinRecall}") else Nil
  }
}

object Workloads {
  val Names: Seq[String] = Seq("near_dup_batch", "exact_restore", "incremental_ingest")

  /** Conversations per workload. Iterations of the batch and
    * incremental paths cost 8 to 10 s on 4 cores at any size up to
    * here: Spark's per-job overhead over the CC loop's ~35 jobs sets
    * that floor. */
  val DefaultConvs: Map[String, Long] = Map(
    "near_dup_batch" -> 2000L, "exact_restore" -> 20000L, "incremental_ingest" -> 2000L)

  def apply(name: String, spark: SparkSession, n: Long, seed: Long, dir: String,
      plant: Boolean): Workload = name match {
    case "near_dup_batch"     => new NearDupBatch(spark, new Corpus(spark, n, seed, dir), dir, plant)
    case "exact_restore"      => new ExactRestore(spark, new Corpus(spark, n, seed, dir), dir, plant)
    case "incremental_ingest" => new IncrementalIngest(spark, new Corpus(spark, n, seed, dir), dir, plant)
    case other => throw new IllegalArgumentException(s"unknown workload $other (one of ${Names.mkString(", ")})")
  }
}

/** The batch scale path, in the shape of `Bench.runDedupWorkload`:
  * assembly → turn dedup → exact ∪ fused detectors → clustering →
  * restore, each stage's output cached and counted once. */
final class NearDupBatch(spark: SparkSession, corpus: Corpus, dir: String, plant: Boolean)
    extends Workload(spark, dir, plant) {
  import spark.implicits._

  def setup(): Unit = corpus.write()
  def inputTurns: Long = corpus.turnCount

  def iterate(tr: Tracer, m: mutable.Map[String, Double]): Outcome = {
    val s = spark
    val t = corpus.turns
    val (docs, nDocs) = tr.layer("assembly") {
      materialize(DocAssembly.assemble(s, t).repartition(s.sparkContext.defaultParallelism * 4).toDF)
    }
    m("assembly.rows_out") = nDocs.toDouble
    val docSet = docs.as[Doc]
    val (turnMap, nTurns) = tr.layer("turn_dedup") { materialize(ExactDedup.dedupTurns(s, t)) }
    m("turn_dedup.rows_out") = nTurns.toDouble
    val (pairs, nPairs) = tr.layer("detect") {
      materialize(ExactDedup.docDupPairs(s, docs).as[DupPair]
        .unionByName(FusedDetectors.dupPairs(s, docSet, cfg, withSubstring = true)).toDF)
    }
    m("detect.rows_out") = nPairs.toDouble
    val wholeDoc = pairs.filter($"detector" =!= "substring").as[DupPair]
    val (assign, nAssign) = tr.layer("cluster") {
      materialize(Clustering.assign(s, docSet, wholeDoc, cfg).toDF)
    }
    m("cluster.rows_out") = nAssign.toDouble
    val (restored, nRestored) = tr.layer("restore") {
      materialize(Restore.restore(s, turnMap.select($"conv_id", $"turn_idx", $"fp"),
        ExactDedup.uniqueTurns(s, t)))
    }
    m("restore.rows_out") = nRestored.toDouble

    new Outcome {
      def check(m: mutable.Map[String, Double], detail: Boolean): Seq[String] = {
        if (detail) {
          val byDetector = pairs.groupBy($"detector").count().as[(String, Long)].collect().toMap
          Seq("exact", "minhash", "simhash", "substring").foreach { d =>
            m(s"detect.pairs_$d") = byDetector.getOrElse(d, 0L).toDouble
          }
          m("cluster.edges_in") = wholeDoc.count().toDouble
          m("cluster.clusters") = assign.select($"cluster_id").distinct().count().toDouble
          m("turn_dedup.unique_frac") = turnMap.filter($"is_unique").count().toDouble / nTurns
        }
        corpus.checkRestore(restored, plant) ++ corpus.grade(assign, m)
      }
      def close(): Unit = clear(docs, turnMap, pairs, assign, restored)
    }
  }
}

/** The paper's own workload: turn dedup → commit lineage + unique store
  * (write path) → read the committed tables back → restore (read path).
  * Never calls the detectors or clustering. */
final class ExactRestore(spark: SparkSession, corpus: Corpus, dir: String, plant: Boolean)
    extends Workload(spark, dir, plant) {
  import spark.implicits._
  private var textBytes = 0L
  private var storeNo = 0

  def setup(): Unit = {
    corpus.write()
    textBytes = textBytesOf(corpus.turns)
  }
  def inputTurns: Long = corpus.turnCount

  def iterate(tr: Tracer, m: mutable.Map[String, Double]): Outcome = {
    val s = spark
    val t = corpus.turns
    storeNo += 1
    val storeDir = s"$dir/store-$storeNo"
    val store = new TableStore(storeDir)
    val (lineage, nLineage, unique, nUnique) = tr.layer("turn_dedup") {
      val (l, nl) = materialize(ExactDedup.dedupTurns(s, t)
        .select($"conv_id", $"turn_idx", $"fp", Pipeline.pbucket($"conv_id").as("pbucket")))
      val (u, nu) = materialize(ExactDedup.uniqueTurns(s, t))
      (l, nl, u, nu)
    }
    m("turn_dedup.rows_out") = (nLineage + nUnique).toDouble
    tr.layer("store_write") {
      store.stage(s, "exact", Seq("lineage", "unique_turns"), Map("lineage" -> Pipeline.LineageLayout)) {
        Map("lineage" -> lineage, "unique_turns" -> unique)
      }
    }
    m("store_write.rows_out") = (nLineage + nUnique).toDouble
    val (storedLineage, storedUnique) = tr.layer("store_read") {
      (store.read(s, "exact", "lineage"), store.read(s, "exact", "unique_turns"))
    }
    val (restored, nRestored) = tr.layer("restore") {
      materialize(Restore.restore(s, storedLineage, storedUnique))
    }
    m("restore.rows_out") = nRestored.toDouble

    new Outcome {
      def check(m: mutable.Map[String, Double], detail: Boolean): Seq[String] = {
        if (detail) m("store_read.rows_out") = (storedLineage.count() + storedUnique.count()).toDouble
        m("turn_dedup.unique_frac") = nUnique.toDouble / nLineage
        recordStore(storeDir, textBytes, m)
        // turn-level duplicate pairs: two turns with identical text must
        // share one stored fingerprint, and two turns sharing a stored
        // fingerprint must have identical text
        val (precision, recall) = Checks.pairwise(
          corpus.turns.select($"conv_id", $"turn_idx", $"text")
            .join(storedLineage.select($"conv_id", $"turn_idx", $"fp"), Seq("conv_id", "turn_idx")),
          "fp", "text")
        m("pair_recall") = recall
        m("pair_precision") = precision
        corpus.checkRestore(restored, plant) ++
          (if (recall < Checks.MinRecall) Seq(f"turn pair_recall $recall%.5f < ${Checks.MinRecall}") else Nil)
      }
      def close(): Unit = {
        clear(lineage, unique, restored)
        deleteTree(storeDir)
      }
    }
  }
}

/** Corpus growth: set-up commits the base 90% (signature table plus
  * labels, by the batch path); each iteration ingests the same 10% from
  * the stored tables and commits the delta to a fresh store, so every
  * iteration starts from the same base. */
final class IncrementalIngest(spark: SparkSession, corpus: Corpus, dir: String, plant: Boolean)
    extends Workload(spark, dir, plant) {
  import spark.implicits._
  private val newPath = s"$dir/new_batch"
  private val base = new TableStore(s"$dir/base_store")
  private var newTurns = 0L
  private var newTextBytes = 0L
  private var storeNo = 0
  /** The last iteration's labels, kept for the once-per-run equivalence check. */
  private var last: Option[DataFrame] = None

  /** The new batch: the 10% of convs with the largest conv_id hash. */
  private val isNew = pmod(hash($"conv_id"), lit(100)) >= lit(90)

  private def batchPairs(docs: Dataset[Doc]): Dataset[DupPair] =
    ExactDedup.docDupPairs(spark, docs.toDF).as[DupPair]
      .unionByName(FusedDetectors.dupPairs(spark, docs, cfg))

  def setup(): Unit = {
    corpus.write()
    corpus.turns.filter(isNew).write.mode("overwrite").parquet(newPath)
    newTurns = spark.read.parquet(newPath).count()
    newTextBytes = textBytesOf(spark.read.parquet(newPath))
  }

  /** Commits the base: signature table and labels of the other 90%, by
    * the batch path. */
  override def prepare(): Unit = {
    deleteTree(base.root)
    val (baseDocs, _) = materialize(DocAssembly.assemble(spark, corpus.turns.filter(!isNew)).toDF)
    val docSet = baseDocs.as[Doc]
    base.stage(spark, "sigs", Seq("signatures")) {
      Map("signatures" -> IncrementalNearDup.signatureTable(spark, docSet, cfg))
    }
    val (labels, _) = materialize(Clustering.assign(spark, docSet, batchPairs(docSet), cfg).toDF)
    base.stage(spark, "labels", Seq("labels")) { Map("labels" -> labels) }
    clear(baseDocs, labels)
  }
  def inputTurns: Long = newTurns

  /** Planted corruption: one member of a multi-member cluster split off. */
  private def corruptLabel(labels: DataFrame): DataFrame = {
    val victim = labels.filter(!$"is_representative").agg(min($"conv_id")).head().getString(0)
    labels.withColumn("hit", $"conv_id" === victim)
      .select($"conv_id",
        when($"hit", $"conv_id").otherwise($"cluster_id").as("cluster_id"),
        when($"hit", $"conv_id").otherwise($"representative").as("representative"),
        ($"hit" || $"is_representative").as("is_representative"))
  }

  def iterate(tr: Tracer, m: mutable.Map[String, Double]): Outcome = {
    val s = spark
    storeNo += 1
    val deltaDir = s"$dir/delta-$storeNo"
    val delta = new TableStore(deltaDir)
    val batch = s.read.parquet(newPath)
    val (newDocs, nDocs) = tr.layer("assembly") { materialize(DocAssembly.assemble(s, batch).toDF) }
    m("assembly.rows_out") = nDocs.toDouble
    val (fresh, nFresh) = tr.layer("incr_sigs") {
      materialize(IncrementalNearDup.signatureTable(s, newDocs.as[Doc], cfg))
    }
    m("incr_sigs.rows_out") = nFresh.toDouble
    val (stored, prevLabels) = tr.layer("store_read") {
      (base.read(s, "sigs", "signatures"), base.read(s, "labels", "labels"))
    }
    val (pairs, nPairs) = tr.layer("incr_pairs") {
      val p = IncrementalNearDup.newTouchingPairs(s, stored, fresh, cfg)
      (p, p.count())
    }
    m("incr_pairs.rows_out") = nPairs.toDouble
    val tsMin = stored.select($"conv_id", $"ts_min").unionByName(fresh.select($"conv_id", $"ts_min"))
    val (updated, nUpdated) = tr.layer("incr_labels") {
      materialize(IncrementalNearDup.updateLabels(s, prevLabels, pairs, tsMin, cfg).toDF)
    }
    m("incr_labels.rows_out") = nUpdated.toDouble
    tr.layer("store_write") {
      delta.stage(s, "sigs_delta", Seq("signatures")) { Map("signatures" -> fresh) }
      delta.stage(s, "labels2", Seq("labels")) { Map("labels" -> updated) }
    }
    m("store_write.rows_out") = (nFresh + nUpdated).toDouble

    new Outcome {
      def check(m: mutable.Map[String, Double], detail: Boolean): Seq[String] = {
        if (detail) {
          m("store_read.rows_out") = (stored.count() + prevLabels.count()).toDouble
          // rewritten = new convs + members of prior clusters a new edge
          // touched; changed = rewritten rows whose label differs from
          // the base run's (or that had none)
          val touched = prevLabels.join(
              pairs.select($"doc_a".as("conv_id")).union(pairs.select($"doc_b".as("conv_id"))),
              Seq("conv_id"), "left_semi")
            .select($"cluster_id".as("prev_cluster"), lit(true).as("touched")).distinct()
          val r = updated.join(prevLabels.select($"conv_id", $"cluster_id".as("prev_cluster"),
              $"representative".as("prev_rep"), $"is_representative".as("prev_is_rep")),
              Seq("conv_id"), "left")
            .join(touched, Seq("prev_cluster"), "left")
            .filter($"prev_cluster".isNull || $"touched".isNotNull)
            .agg(count(lit(1)), count(when($"prev_cluster".isNull || $"cluster_id" =!= $"prev_cluster" ||
              $"representative" =!= $"prev_rep" || $"is_representative" =!= $"prev_is_rep", 1))).head()
          m("incr_labels.changed_frac") = if (r.getLong(0) == 0) 0.0 else r.getLong(1).toDouble / r.getLong(0)
        }
        recordStore(deltaDir, newTextBytes, m)
        corpus.grade(if (plant) corruptLabel(updated) else updated, m)
      }
      def close(): Unit = {
        last.foreach(_.unpersist(false))
        last = Some(updated)
        newDocs.unpersist(false); fresh.unpersist(false)
        deleteTree(deltaDir)
      }
    }
  }

  /** The incremental labels must equal a full batch recompute over the
    * whole corpus, up to the documented benign coarsening. */
  override def finalCheck(): Seq[String] = last.toSeq.flatMap { labels =>
    val (docs, _) = materialize(DocAssembly.assemble(spark, corpus.turns).toDF)
    val docSet = docs.as[Doc]
    val (full, _) = materialize(Clustering.assign(spark, docSet, batchPairs(docSet), cfg).toDF)
    try Checks.incrementalMatchesFull(spark, if (plant) corruptLabel(labels) else labels, full).toSeq
    finally clear(docs, full, labels)
  }
}
