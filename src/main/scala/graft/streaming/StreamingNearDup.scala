package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.DedupConfig
import graft.functions.Hashing
import graft.operators.FusedDetectors

/** Structured-Streaming MinHash near-duplicate detection — the
  * streaming form of [[graft.operators.MinHashLSH]] (the reference is
  * batch replay only, so like [[StreamingDedup]] this is an EXTENSION).
  *
  * Shape: signature + band keys are the same narrow codegen'd
  * expressions the batch detector uses; each LSH band bucket then
  * becomes a [[org.apache.spark.sql.KeyValueGroupedDataset
  * .flatMapGroupsWithState]] group whose state is the bucket's recent
  * membership (conv_id, signature, event time). An arriving document
  * is compared (signature-estimated Jaccard, same `threshold - slack`
  * accept rule as the batch verifier) against the bucket's live
  * members and emits its qualifying pairs immediately — continuous
  * near-dup detection with bounded latency.
  *
  * Bounded state (the 10^12-turn requirement):
  *  - event-time WATERMARK horizon: members older than the watermark
  *    are evicted on every bucket invocation, and an idle bucket's
  *    whole state is removed by its event-time timeout — state size is
  *    O(docs in horizon), never O(corpus).
  *  - per-bucket cap: a bucket holds at most `memberCap` members
  *    (oldest evicted first); an arrival therefore costs ≤ cap
  *    signature compares. Eviction by cap loses the evicted member's
  *    future pairs in THIS band (its other bands are the redundancy),
  *    so the cap defaults high — see the param note.
  *
  * Emission is at-least-once across BANDS: a pair sharing several
  * bands is emitted by each (the batch path's cross-band
  * `dropDuplicates` is a second stateful operator, which Structured
  * Streaming does not allow downstream of flatMapGroupsWithState);
  * consumers take the distinct set, as the CC edge stage does anyway.
  * Within one band the pair is emitted exactly once (the later doc
  * finds the earlier in state).
  */
object StreamingNearDup {

  /** One bucket member held in state. */
  final case class Member(conv_id: String, sig: Array[Long], tsMs: Long)

  /** Input row after keying: one per (band, doc). */
  final case class Keyed(band_key: Long, conv_id: String, sig: Array[Long],
      ts: java.sql.Timestamp)

  /** Emitted near-dup pair (doc_a < doc_b; ts = the later arrival's
    * event time, so downstream watermark ops keep working). */
  final case class StreamPair(doc_a: String, doc_b: String, detector: String,
      score: Double, ts: java.sql.Timestamp)

  /** docs stream (conv_id, doc_text, ts) → near-dup pair stream.
    * @param watermark how late a document may arrive and still be
    *        matched against its bucket; also the state horizon.
    * @param memberCap max members held per bucket (newest win).
    *        Deliberately NOT cfg.bucketCap: the batch cap bounds n²
    *        all-pairs emission, whereas here an arrival costs at most
    *        `memberCap` signature compares (linear), so a much larger
    *        cap is affordable — and a too-small cap silently loses
    *        pairs whose earlier member was evicted by unrelated bucket
    *        traffic before its near-dup arrived (the other `bands - 1`
    *        band keys are the only redundancy). Size it to the expected
    *        per-bucket arrivals within one watermark horizon. */
  def nearDupPairsStream(
      spark: SparkSession,
      docs: DataFrame,
      cfg: DedupConfig = DedupConfig.default,
      watermark: String = "1 hour",
      slack: Double = 0.05,
      memberCap: Int = 1024): DataFrame = {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val threshold = cfg.jaccardThreshold - slack
    val cap = memberCap
    val keyed = docs
      .withColumn("sig", FusedDetectors.docSig($"doc_text", cfg, FusedDetectors.MinHash)
        .getField("mh"))
      .select(
        explode(call_function("graft_band_hashes", $"sig",
          lit(cfg.bands), lit(cfg.rowsPerBand))).as("band_key"),
        $"conv_id", $"sig", $"ts")
      .withWatermark("ts", watermark)
      .as[Keyed]

    keyed
      .groupByKey(_.band_key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: Long, rows: Iterator[Keyed], state: GroupState[List[Member]]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val horizonMs = state.getCurrentWatermarkMs()
            // deterministic arrival order within the micro-batch
            val arrivals = rows.toArray.sortBy(k => (k.ts.getTime, k.conv_id))
            // live members: prior state minus past-watermark entries
            var members = state.getOption.getOrElse(Nil)
              .filter(_.tsMs >= horizonMs)
            val out = List.newBuilder[StreamPair]
            var maxTs = members.foldLeft(0L)((m, x) => math.max(m, x.tsMs))
            for (k <- arrivals) {
              for (m <- members if m.conv_id != k.conv_id) {
                val score = Hashing.signatureJaccard(m.sig, k.sig)
                if (score >= threshold) {
                  val (a, b) =
                    if (m.conv_id < k.conv_id) (m.conv_id, k.conv_id)
                    else (k.conv_id, m.conv_id)
                  out += StreamPair(a, b, "minhash", score, k.ts)
                }
              }
              // newest-first; cap drops the oldest (tail)
              members = (Member(k.conv_id, k.sig, k.ts.getTime) :: members)
                .take(cap)
              maxTs = math.max(maxTs, k.ts.getTime)
            }
            state.update(members)
            // whole bucket evaporates once the watermark passes its
            // newest member + horizon (horizon = watermark delay, which
            // equals newest-ts-allowed-to-match-it). Clamp to strictly
            // above the current watermark: a below-watermark straggler
            // reaching a bucket whose surviving state is empty would
            // otherwise compute maxTs <= watermark, and
            // setTimeoutTimestamp THROWS on that — killing the whole
            // streaming query for one late row.
            state.setTimeoutTimestamp(math.max(maxTs, horizonMs + 1), watermark)
            out.result().iterator
          }
        })
      .toDF()
  }
}
