package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over dup-pair edges: one in-task union-find
  * pass when the graph fits a task, otherwise an iterative DataFrame
  * algorithm — hash-min label propagation with pointer jumping (the
  * public "hash-to-min" family, Rastogi et al. ICDE'13; no GraphX, no
  * RDDs per north_rule).
  *
  * Reference analog: container co-location of duplicates — every chunk
  * referencing the same stored copy belongs to one group
  * (/root/reference/src/container.c:435-483 +
  * /root/reference/src/dedup.c:150-173).
  *
  * Each iteration: comp(v) ← min(comp(v), min_{(u,v)∈E} comp(u)), then
  * two pointer-jumping steps comp(v) ← comp(comp(v)) which cut path
  * lengths 4× where ids increase along a path, giving O(log d)
  * convergence there. On chains with randomly ordered ids convergence
  * is linear in d: a simulation of this update (without the seed pass)
  * needed 38-83 iterations on 200-node random-id chains, past the
  * default maxIters of 25 (graphs that small take the single-task path
  * below).
  *
  * Labels are DICTIONARY-ENCODED before the loop: each distinct node id
  * gets a dense 64-bit code (shuffle-partition id << 40 | in-partition
  * rank — a pure function of the data, so task retries reproduce it),
  * and every loop shuffle moves 8-byte longs instead of strings. The
  * string cluster_id contract (= lexicographic min member) is restored
  * after convergence by a per-component min(conv_id) regroup, so the
  * output is bit-identical to the un-encoded algorithm.
  *
  * Driver round-trips — two regimes, split on the symmetric distinct
  * edge count `nEdges` that the symmetrize job counts anyway:
  *
  *  - `nEdges` ≤ [[SingleTaskMaxEdges]] (2^20): the whole graph is
  *    solved in ONE task — the cached symmetric edges coalesce to a
  *    single partition and an in-task union-find ([[singleTaskLabels]])
  *    emits (conv_id, lexicographic min member) for every node. One job
  *    after the count; no dictionary, no loop, no decode. A symmetric
  *    distinct edge set has no more nodes than edges, so the bound also
  *    caps the task's node count. Task heap at the bound, measured
  *    at the pass's peak (input exhausted, id map full) on JDK 17 with
  *    compressed oops: 123 MB for 2^20 distinct 12-char ids (2^19
  *    disjoint pairs, the node-count worst case); each further id byte
  *    adds ~1 MB. That stays under a 256 MB task budget. A distributed
  *    LSH join's output graph is far smaller than its corpus, so this
  *    is the common case; the hash-min loop only pays off when the
  *    graph outgrows one worker.
  *  - above the bound: the dictionary-encoded hash-min loop. ONE job
  *    per ROUND of `batchIters` iterations (0 = auto by deployment
  *    shape; see [[graft.DedupConfig.ccBatchIters]]) — intermediate
  *    iterations end at lazy plan boundaries
  *    ([[org.apache.spark.sql.GraftPlanBridge.planBoundary]]) so the
  *    whole batch executes as a single job, and the convergence metric
  *    (sum of label hashes, which only ever decreases) rides the
  *    materializing action itself as an `observe()` metric instead of
  *    a separate collect. Plan truncation between rounds is FREE: each
  *    round starts from a lazy plan boundary over the previous round's
  *    persisted blocks. When the SparkContext has a checkpoint dir
  *    configured, every `checkpointEvery` rounds the round is
  *    additionally RELIABLY checkpointed (survives executor loss on a
  *    real cluster; the round is persisted first so the
  *    checkpoint-write job re-reads cache instead of recomputing).
  *    Every superseded round's blocks — including the initial label
  *    table — are unpersisted as soon as the next round is material,
  *    so repeated CC invocations in one session do not accumulate dead
  *    blocks. `maxIters`, `checkpointEvery` and `batchIters` only
  *    apply in this regime.
  *
  * Skew: star-capped candidate generation upstream keeps component
  * diameter small; the groupBy(dst) min-aggregation is a partial
  * (map-side) aggregate so a mega-cluster's fan-in is combined before
  * the shuffle.
  */
object ConnectedComponents {

  // the returned frame is localCheckpoint'd (its lineage — detectors +
  // loop — is gone, so the blocks ARE the data and can't be dropped
  // while a caller may still read it). Callers don't manage it, so each
  // run() retires the PREVIOUS invocation's output FOR ITS OWN SESSION
  // via the shared [[Retire]] slot: at most one live label table per
  // session instead of one per invocation.

  /** Largest symmetric distinct edge count solved in a single task
    * (see the class doc: it also bounds the task's node count). */
  final val SingleTaskMaxEdges: Long = 1L << 20

  /** edges: DataFrame with string columns (doc_a, doc_b).
    * @return (conv_id, cluster_id) where cluster_id = min member id.
    *         Valid until the next run() on the SAME SparkSession (blocks
    *         are then freed); persist/write it first if you need it
    *         longer, or run from another session to hold two results. */
  def run(spark: SparkSession, edges: DataFrame, maxIters: Int = 25, checkpointEvery: Int = 1, batchIters: Int = 0): DataFrame =
    run(spark, edges, maxIters, checkpointEvery, batchIters, SingleTaskMaxEdges)

  /** [[run]] with the single-task bound exposed, so specs can force the
    * hash-min loop (`singleTaskMaxEdges = 0`) on graphs of any size. */
  private[graft] def run(spark: SparkSession, edges: DataFrame, maxIters: Int, checkpointEvery: Int,
      batchIters: Int, singleTaskMaxEdges: Long): DataFrame = {
    import spark.implicits._
    // batchIters = 0 → AUTO by deployment shape (DedupConfig.ccBatchIters
    // scaladoc has the measurements): in-process local masters have no
    // per-stage RPC, so fewer job-syncs win (3); everywhere else each
    // post-fixpoint overshoot iteration costs real stage dispatch (1).
    val batch =
      if (batchIters > 0) batchIters
      else if (spark.sparkContext.master.startsWith("local[")) 3
      else 1
    val debug = sys.env.contains("GRAFT_CC_DEBUG")
    var tPhase = System.nanoTime()
    def lap(phase: String): Unit = if (debug) {
      val now = System.nanoTime()
      System.err.println(f"[cc] phase=$phase ${(now - tPhase) / 1e9}%.2fs")
      tPhase = now
    }
    // ---- phase 1 (session settings: codegen + AQE on) ----
    // symmetrize in ONE pass over the edge input with a generator
    // (explode of the two orientations), not a self-union: the edge
    // input is often a full detector pipeline (MinHash/SimHash
    // kernels), and a union of two projections of that un-cached plan
    // embeds it in BOTH branches — the map-side work between the
    // detectors' last exchange and the union executes twice
    // (ReuseExchange only dedups the exchanges themselves), measured
    // ~2× the detector cost at sf0.1. The generator keeps a single
    // detector subtree, so one materializing count below runs the
    // detectors exactly once — no separate pre-symmetrize cache+count
    // job (which was one more full driver job-sync per CC run).
    val symWide = edges
      .select(explode(array(
        struct($"doc_a".as("src"), $"doc_b".as("dst")),
        struct($"doc_b".as("src"), $"doc_a".as("dst")))).as("e"))
      .select($"e.src".as("src"), $"e.dst".as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // dictionary: distinct node → dense long code. The encoding is a
    // pure function of the data (hash partition on conv_id, rank within
    // sorted partition), so retries are deterministic. 2^40 ids per
    // partition / 2^23 partitions of headroom at 10^12 nodes.
    // Partition count is sized to the EDGE volume (~32k edges/part,
    // capped at the session setting): a dup graph is far smaller than
    // its corpus, and a fixed session-width dict means hundreds of
    // near-empty tasks in every downstream stage.
    val nEdges = symWide.count()
    lap("sym")
    if (nEdges <= singleTaskMaxEdges) {
      // the whole graph fits one task: one union-find pass over the
      // cached symmetric edges replaces dictionary, loop and decode
      val out = symWide.as[(String, String)]
        .coalesce(1)
        .mapPartitions(singleTaskLabels)
        .toDF("conv_id", "cluster_id")
        .localCheckpoint(true)
      symWide.unpersist(false)
      Retire.swap(spark, "cc_labels", out)
      lap("local")
      return out
    }
    val sessionShuffleParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val dictParts = math.max(1L, math.min(sessionShuffleParts.toLong,
      (nEdges + 32767L) / 32768L)).toInt
    val dict = symWide
      .select($"src".as("conv_id"))
      .distinct()
      .repartition(dictParts, $"conv_id")
      .sortWithinPartitions($"conv_id")
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId().toLong
        var i = 0L
        it.map { row =>
          val id = (pid << 40) | i
          i += 1
          (row.getString(0), id)
        }
      }
      .toDF("conv_id", "id")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // edges in code space: two hash joins against the dictionary —
    // one-time cost outside the loop, after which every iteration
    // shuffles longs only
    val symCoded = symWide
      .join(dict.withColumnsRenamed(Map("conv_id" -> "src", "id" -> "src_id")), Seq("src"))
      .join(dict.withColumnsRenamed(Map("conv_id" -> "dst", "id" -> "dst_id")), Seq("dst"))
      .select($"src_id".as("src"), $"dst_id".as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // no separate dict.count() job: the dict cache fills while
    // symCoded materializes (its two joins read it), and the loop only
    // needs the label count for PARTITION SIZING — a ≤2× estimate from
    // the already-known symmetric edge count is plenty (nodes ≤ nEdges;
    // ≈ nEdges/2 for the star-capped dup graphs upstream emits).
    // Concurrency note: symCoded's TWO join branches can race on the
    // cold dict cache under AQE, but the exposure is bounded — dict's
    // heavy upstream ends in shuffles, and the DAG scheduler shares
    // shuffle-map stages across concurrently submitted jobs, so only
    // dict's post-shuffle narrow tail (the per-partition id zip) can
    // compute twice on partitions whose first-writer task lands on a
    // different executor. Measured cheaper than re-adding the eager
    // count (one full driver round-trip per CC call in cluster mode —
    // the exact fixed cost this path exists to cut).
    val nLabelsEst = if (nEdges == 0) 0L else math.max(nEdges / 2, 1L)
    symCoded.count()
    symWide.unpersist(false)
    // PLAN boundaries over the two cached frames every later step reads:
    // their logical trees embed the whole upstream detector pipeline
    // (dict contains symWide contains the edge input — measured as a
    // multi-megabyte plan string), and Catalyst re-optimizes a frame's
    // FULL tree at every materialization that references it — i.e. every
    // loop iteration. The boundary swaps in an opaque scan of the
    // already-cached data (partitioning preserved, cache respected by
    // the physical planning underneath), so per-iteration driver
    // analysis is over a three-node tree instead of the corpus pipeline.
    val dictB = org.apache.spark.sql.GraftPlanBridge.planBoundary(dict)
    val symCodedB = org.apache.spark.sql.GraftPlanBridge.planBoundary(symCoded)
    lap("encode")

    // ---- phase 2 (loop settings) ----
    // label tables are tiny relative to the corpus; AQE's per-shuffle
    // re-planning adds fixed latency to every one of the loop's jobs —
    // turn it off for the loop, restore afterwards. Same for codegen:
    // every iteration's plan carries fresh expression ids, so
    // whole-stage codegen JANINO-COMPILES anew each iteration (~0.5-1s
    // of pure driver serial time) for code that processes a tiny label
    // table — interpreted eval is strictly faster here
    // (-Dgraft.cc.codegen=true re-enables it, for A/B probing).
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val codegenBefore = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    if (!sys.props.get("graft.cc.codegen").contains("true"))
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val coded =
      try runLoop(spark, symCodedB, dictB, nLabelsEst, maxIters, checkpointEvery, batch)
      finally {
        lap("loop")
        spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
        spark.conf.set("spark.sql.shuffle.partitions", partsBefore)
        spark.conf.set("spark.sql.codegen.wholeStage", codegenBefore)
      }

    // ---- phase 3 (session settings): decode + restore the
    // "cluster_id = lexicographic min member" contract. The min member
    // name is a window aggregate over the comp partition — one exchange
    // of the (conv_id, comp) rows instead of a groupBy + join-back
    // (which re-shuffled the same rows into a second join at scale) ----
    val wComp = org.apache.spark.sql.expressions.Window.partitionBy($"comp")
    val out = coded
      .join(dictB, Seq("id"))
      .select($"conv_id", $"comp")
      .withColumn("cluster_id", min($"conv_id").over(wComp))
      .select($"conv_id", $"cluster_id")
      .localCheckpoint(true)
    coded.unpersist(false)
    symCoded.unpersist(false)
    dict.unpersist(false)
    Retire.swap(spark, "cc_labels", out)
    lap("decode")
    out
  }

  /** Single-task connected components over string-id edges: every
    * node → its component's least member under Spark's string order
    * (UTF-8 bytes, so labels equal the loop's `min(conv_id)` decode
    * even outside the BMP, where `String.compareTo` disagrees). The
    * output SET is a pure function of the edge set — membership is
    * order-independent and each label is a min over members — so task
    * retries reproduce it. Heap: one map entry + one id string per
    * node, ints for the union-find (see the class doc's measurement). */
  private[graft] def singleTaskLabels(it: Iterator[(String, String)]): Iterator[(String, String)] = {
    val slotOf = new java.util.HashMap[String, Integer](1 << 14)
    val ids = scala.collection.mutable.ArrayBuffer.empty[String]
    val uf = new UnionFind(1 << 14)
    def slot(id: String): Int = {
      val known = slotOf.get(id)
      if (known != null) known.intValue
      else { val k = uf.add(); slotOf.put(id, k); ids += id; k }
    }
    it.foreach { case (s, d) => uf.union(slot(s), slot(d)) }
    slotOf.clear() // the label pass needs only ids and the union-find
    def utf8(i: Int) = org.apache.spark.unsafe.types.UTF8String.fromString(ids(i))
    val minOf = Array.fill(uf.size)(-1)
    var i = 0
    while (i < uf.size) {
      val r = uf.find(i)
      if (minOf(r) < 0 || utf8(i).binaryCompare(utf8(minOf(r))) < 0) minOf(r) = i
      i += 1
    }
    Iterator.range(0, uf.size).map(j => (ids(j), ids(minOf(uf.find(j)))))
  }

  /** Growable union-find over dense slots 0 until `size`: path halving,
    * union links the larger root under the smaller. The ONE union-find
    * of the CC operator — shared by the loop's partition-local seed
    * pass ([[localSeeds]]) and the single-task solve
    * ([[singleTaskLabels]]); callers map their keys to slots and pick
    * the component label (min key) themselves. */
  private[operators] final class UnionFind(initialCapacity: Int) {
    private var parent = new Array[Int](math.max(initialCapacity, 16))
    private var n = 0
    def size: Int = n
    /** A new singleton; returns its slot. */
    def add(): Int = {
      if (n == parent.length) parent = java.util.Arrays.copyOf(parent, n * 2)
      parent(n) = n
      n += 1
      n - 1
    }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
  }

  /** Partition-local union-find over a stream of coded (src, dst)
    * edges: emits (node, localComponentMin) for every node whose local
    * min differs from itself (identity rows come from the dict overlay
    * in the caller). Primitive arrays throughout — an open-addressing
    * long table (≤50% load) mapping ids to [[UnionFind]] slots — so the
    * per-task footprint is ~24 B/node, GROWN on demand (the
    * table starts at 2^14 slots and doubles; a task's allocation tracks
    * its partition's distinct-node count, never the worst-case `cap`:
    * executors run many tasks concurrently, and paying ~110 MB per task
    * up front for partitions sized to ~64k nodes is an OOM risk at
    * common executor memory sizes). The output is a pure function of
    * the partition's edge SET (union-find membership is
    * order-independent, and the only order-sensitive state — which
    * edges fit under the cap — is collapsed to an all-or-nothing rule
    * on the order-independent distinct-node count), so task retries
    * reproduce it exactly. */
  private[graft] def localSeeds(
      it: Iterator[(Long, Long)], cap: Int): Iterator[(Long, Long)] = {
    val maxTable = Integer.highestOneBit(math.max(cap, 16)) * 4
    var tableSize = math.min(1 << 14, maxTable)
    var mask = tableSize - 1
    var keys = Array.fill[Long](tableSize)(-1L) // coded ids are ≥ 0
    var slotOf = new Array[Int](tableSize)
    val uf = new UnionFind(math.min(cap, tableSize / 2))
    var overflow = false
    // golden-ratio spread (public constant, same family as Hashing)
    def tableIdx(id: Long): Int = {
      val h = id * -7046029254386353131L
      var i = ((h ^ (h >>> 32)).toInt) & mask
      while (keys(i) >= 0 && keys(i) != id) i = (i + 1) & mask
      i
    }
    def grow(): Unit = {
      val old = keys; val oldSlot = slotOf
      tableSize *= 2; mask = tableSize - 1
      keys = Array.fill[Long](tableSize)(-1L)
      slotOf = new Array[Int](tableSize)
      var i = 0
      while (i < old.length) {
        if (old(i) >= 0) { val j = tableIdx(old(i)); keys(j) = old(i); slotOf(j) = oldSlot(i) }
        i += 1
      }
    }
    def slot(id: Long): Int = {
      val i = tableIdx(id)
      if (keys(i) == id) slotOf(i)
      else if (uf.size >= cap) { overflow = true; -1 }
      else {
        keys(i) = id; slotOf(i) = uf.add()
        // keep load ≤ 50%; re-probe not needed for the slot just written
        if (uf.size * 2 >= tableSize && tableSize < maxTable) grow()
        uf.size - 1
      }
    }
    while (it.hasNext && !overflow) {
      val (s, d) = it.next()
      val a = slot(s)
      val b = if (a < 0) -1 else slot(d)
      if (b >= 0) uf.union(a, b)
    }
    if (overflow) Iterator.empty
    else {
      val minId = Array.fill[Long](uf.size)(Long.MaxValue)
      var i = 0
      while (i < tableSize) {
        if (keys(i) >= 0) {
          val r = uf.find(slotOf(i))
          if (keys(i) < minId(r)) minId(r) = keys(i)
        }
        i += 1
      }
      (0 until tableSize).iterator
        .filter(j => keys(j) >= 0 && minId(uf.find(slotOf(j))) != keys(j))
        .map(j => (keys(j), minId(uf.find(slotOf(j)))))
    }
  }

  /** Hash-min loop in code space. edges: (src: Long, dst: Long),
    * symmetric and distinct. Returns a MATERIALIZED (id, comp) frame —
    * caller unpersists. */
  private def runLoop(
      spark: SparkSession,
      sym0: DataFrame,
      dict: DataFrame,
      nLabelsEst: Long,
      maxIters: Int,
      checkpointEvery: Int,
      batchIters: Int): DataFrame = {
    import spark.implicits._
    val reliable = spark.sparkContext.getCheckpointDir.isDefined

    // size the loop's shuffles to the LABEL table, not the session
    // default: per-task overhead dominates below ~100k rows/partition,
    // and with AQE off nothing coalesces the empties. At 10^9 labels
    // this climbs back to the session setting. ~16k rows/partition:
    // small enough that iterations use the cores (interpreted join work
    // is ~µs/row), large enough that task scheduling doesn't dominate.
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val loopParts = math.max(1L, math.min(sessionParts.toLong, (nLabelsEst + 16383L) / 16384L))
    spark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)

    // initial labels: comp(v)=v identity OVERLAID with partition-local
    // union-find seeds. One narrow pass over the coded edges collapses
    // every WITHIN-PARTITION connected subset to its local min member
    // before the first shuffle round. Under the hash(dst) cache
    // partitioning all edges INTO a node co-locate, so each node's
    // in-star merges locally — detector chains (doc A~B in one bucket,
    // B~C in another) start the loop at roughly HALF their diameter,
    // and denser locally-co-located structures collapse entirely
    // (measured: one round saved on a 10^6-turn chain-heavy corpus;
    // the narrow pass costs no extra job — it rides round 1).
    // Correctness: each
    // seed is the min of a CONNECTED local subset, so comp(v) stays an
    // upper bound within v's component, the global-min node keeps its
    // own id, and hash-min still converges to exactly the component
    // min. The seed pass is lazy — it rides round 1's job. Identity
    // rows from the cached dict cover every node (seeds emit only
    // id != comp rows, and a partition whose distinct-node count
    // exceeds the memory cap emits nothing — an order-independent SET
    // property, so task retries reproduce the output bit-for-bit).
    var labels = org.apache.spark.sql.GraftPlanBridge.planBoundary(
      sym0
        .mapPartitions(it => localSeeds(it.map(r => (r.getLong(0), r.getLong(1))), 1 << 21))
        .toDF("id", "comp")
        .union(dict.select($"id", $"id".as("comp")))
        .groupBy($"id").agg(min($"comp").as("comp")))
    if (nLabelsEst == 0) return labels

    // the loop re-reads sym every iteration: coalesce its cached
    // partitioning down to loopParts so each iteration's map stages are
    // a handful of right-sized tasks, not sessionParts tiny ones
    val sym =
      if (sym0.rdd.getNumPartitions <= loopParts * 2) sym0
      else {
        val c = sym0.coalesce(loopParts.toInt).persist(StorageLevel.MEMORY_AND_DISK)
        c.count()
        c
      }

    // convergence detection: labels only ever decrease, so the fixpoint
    // is reached exactly when the label-hash sum is unchanged.
    // decimal(38,0) accumulator: Long sum would overflow (ANSI throws).
    def labelSumCol = sum(xxhash64($"comp").cast("decimal(38,0)")).as("label_sum")

    // no initial-sum job: on a nonempty symmetric edge set some label
    // strictly decreases in iteration 1 (for any edge (a,b), a<b, node
    // b\'s label drops), so iter 1 can never be the fixpoint — the null
    // sentinel never equals a real sum
    // one hash-min + double-pointer-jump iteration as a pure plan
    // transform (partial agg before the groupBy(dst) shuffle; the
    // repeated self-join subtrees share physical exchanges via
    // ReuseExchange, so each jump costs two more small shuffles, not a
    // recompute)
    def step(cur: DataFrame): DataFrame = {
      val nbrMin = sym
        .join(cur.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy($"dst")
        .agg(min($"comp").as("nbr_comp"))
        .withColumnRenamed("dst", "id")
      val propagated = cur
        .join(nbrMin, Seq("id"), "left")
        .select($"id", least($"comp", coalesce($"nbr_comp", $"comp")).as("comp"))
      val compMap = propagated.select($"id".as("cid"), $"comp".as("ccomp"))
      val jump1 = propagated
        .join(compMap, propagated("comp") === compMap("cid"), "left")
        .select($"id", least($"comp", coalesce($"ccomp", $"comp")).as("comp"))
      val compMap2 = jump1.select($"id".as("cid2"), $"comp".as("ccomp2"))
      jump1
        .join(compMap2, jump1("comp") === compMap2("cid2"), "left")
        .select($"id", least($"comp", coalesce($"ccomp2", $"comp")).as("comp"))
    }

    var prevSum: Any = null
    var iter = 0
    var mat = 0 // materializations ("rounds"): one job each
    var converged = false
    // blocks backing the CURRENT round — freed as soon as the next one
    // is material (includes the initial label table; reliable
    // checkpoint files are owned by the ContextCleaner when
    // cleanCheckpoints is on)
    var retired = List[DataFrame](labels)
    // the materialized frame the caller decodes (run() unpersists it)
    var lastMat: DataFrame = labels
    while (iter < maxIters && !converged) {
      val tIter = System.nanoTime()
      // BATCH `batchIters` iterations into ONE job: intermediate
      // iterations end at a lazy plan boundary (GraftPlanBridge — an
      // opaque LogicalRDD, so Catalyst analyzes one iteration's tree at
      // a time instead of the ~8×/iteration tree blowup the self-joins
      // cause; see ccCheckpointEvery's notes), but nothing runs until
      // the batch's single materializing count. One driver job-sync —
      // the CC loop's measured input-independent fixed cost — per
      // `batchIters` iterations instead of per iteration. No blocks are
      // persisted at the boundaries and shuffle lineage is intact, so
      // fault tolerance is unchanged.
      val thisBatch = math.min(batchIters, maxIters - iter)
      var cur = labels
      var b = 0
      while (b < thisBatch) {
        cur = step(cur)
        b += 1
        if (b < thisBatch)
          cur = org.apache.spark.sql.GraftPlanBridge.planBoundary(cur)
      }
      // one job: materialize the round AND deliver the convergence
      // metric through observe() — no separate driver collect
      val obs = org.apache.spark.sql.Observation()
      val observed = cur.observe(obs, labelSumCol)
      val truncate = (mat + 1) % checkpointEvery == 0
      val p = observed.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      val curSum = obs.get.getOrElse("label_sum", null)
      // the previous round's blocks are dead once this round is
      // material: the next round reads THIS round's cache, and on block
      // loss the intact shuffle lineage re-runs only the final stage
      // from its still-on-disk shuffle files (Retire.free also reaches
      // localCheckpoint RDDs the cache manager doesn't track)
      retired.foreach(Retire.free)
      if (truncate && reliable) {
        // a REAL fault-tolerance cut (survives executor loss — the only
        // thing shuffle lineage can't recover): one extra job that
        // re-reads the cached blocks just counted. Only taken when the
        // context has a checkpoint dir (Pipeline runs).
        val ck = p.checkpoint(true)
        Retire.free(p)
        retired = List(ck)
        lastMat = ck
        labels = ck
      } else {
        // plan truncation alone is FREE: the next round starts from a
        // lazy boundary over this round's cached blocks — same opaque
        // LogicalRDD a checkpoint would build, minus the job that
        // copies blocks. (Earlier revisions paid an eager
        // localCheckpoint here — one whole extra job per round, the
        // dominant input-independent serial cost in cluster mode.)
        retired = List(p)
        lastMat = p
        labels = org.apache.spark.sql.GraftPlanBridge.planBoundary(p)
      }
      // sums compare round-end to round-end: labels only decrease, so
      // an unchanged sum across a whole batch means no iteration inside
      // it changed anything — the fixpoint
      converged = curSum == prevSum
      prevSum = curSum
      iter += thisBatch
      mat += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(f"[cc] round=$mat iters=$iter ${(System.nanoTime() - tIter) / 1e9}%.2fs converged=$converged")
    }
    if (!(sym eq sym0)) sym.unpersist(false)
    // `lastMat` is the last materialized round (still persisted /
    // checkpointed — the retired list is only drained when a NEWER
    // round supersedes it, which hasn't happened for the final one);
    // run() unpersists it via the coded handle after decoding
    lastMat
  }
}
