package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A token-stream event: [[graft.engine.TokenRow]]'s identity and cost
  * columns plus the event time the producer stamped. The payload array
  * itself stays out of these monitoring/dedup paths on purpose — at
  * 100 TB the `tokens` column dominates bytes, and neither windowed
  * stats nor first-seen dedup needs it.
  */
final case class StampedToken(
    doc_id: String,
    source: String,
    n_tok: Int,
    event_time: Timestamp
)

/** Streaming operators beyond the encode sink ([[StreamEncode]]):
  * watermarked event-time windowed aggregation and stateful
  * first-seen deduplication — the two streaming shapes a continuous
  * training-data ingest needs around the encoder (ingest-rate
  * monitoring and upstream-replay suppression).
  *
  * Both are declarative Structured Streaming plans: state lives in the
  * Spark state store (RocksDB-backed on a real cluster), partitioned
  * by the grouping key, so a 1000-executor topology shards state with
  * no coordination. The watermark bounds state size — windows older
  * than (max event time - delay) are finalized and evicted, so state
  * is O(active windows x sources), not O(stream length).
  */
object StreamOps {

  /** Per-source tumbling-window ingest stats with late-data handling:
    * events later than `maxLateness` behind the stream's max event
    * time are dropped and their window finalized. Append output mode
    * means a window emits exactly once, when the watermark passes it —
    * the shape a downstream alerting/metrics sink wants.
    */
  def windowedTokenStats(
      stream: Dataset[StampedToken],
      windowLength: String = "10 minutes",
      maxLateness: String = "5 minutes"
  ): DataFrame = {
    stream.toDF()
      .withWatermark("event_time", maxLateness)
      .groupBy(window(col("event_time"), windowLength), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        max(col("n_tok")).as("max_doc_tokens"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("source"), col("n_docs"), col("n_tokens"), col("max_doc_tokens"))
  }

  /** Per-source gap-based session stats — the streaming twin of the
    * batch sessionization query (SparkEntry q56, same 30-minute-gap
    * semantics, which is the oracle-checked side of the pair): a
    * session extends while consecutive events arrive within
    * `sessionGap` of each other and closes when the watermark passes
    * its end. Built on `session_window`, so merge/extend logic runs in
    * the state store partitioned by the grouping key — sessions for
    * 10^9 sources shard across executors with no coordination, and the
    * watermark bounds state to open sessions only. Append mode: one
    * row per closed session, never revised.
    */
  def sessionStats(
      stream: Dataset[StampedToken],
      sessionGap: String = "30 minutes",
      maxLateness: String = "5 minutes"
  ): DataFrame = {
    stream.toDF()
      .withWatermark("event_time", maxLateness)
      .groupBy(session_window(col("event_time"), sessionGap), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("source"), col("n_docs"), col("n_tokens"))
  }

  /** First-seen streaming dedup on (source, doc_id): an at-least-once
    * upstream (Kafka replay, file redelivery) can emit the same
    * document many times; only the FIRST occurrence passes, any later
    * one is suppressed, across micro-batch boundaries. State per key is
    * a single last-seen timestamp, evicted once the WATERMARK passes
    * last-seen + `ttlMs` (event-time TTL, not wall clock — replays are
    * suppressed while they arrive within `ttlMs` of stream time, and
    * eviction needs no extra batches: Spark only reruns the operator
    * when the watermark advances, unlike a processing-time timeout
    * which forces continuous empty micro-batches). After eviction a
    * replay of the same key would pass again, which is the right trade
    * at 10^12 keys: the encode pipeline's chunk-id resume filter
    * ([[graft.engine.Pipeline]]) remains the durable exactly-once
    * ledger; this operator is the cheap in-flight filter in front of
    * it. (This is `dropDuplicatesWithinWatermark` semantics, built on
    * flatMapGroupsWithState so the TTL policy is explicit.)
    *
    * @param maxLateness watermark delay applied to `event_time`
    * @param ttlMs state lifetime in EVENT-time ms past a key's
    *              latest observed event_time
    */
  def dedupFirstSeen(
      stream: Dataset[StampedToken],
      maxLateness: String = "5 minutes",
      ttlMs: Long = 3600L * 1000
  ): Dataset[StampedToken] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .withWatermark("event_time", maxLateness)
      .groupByKey(r => (r.source, r.doc_id))
      .flatMapGroupsWithState[Long, StampedToken](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows, state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // a key with new data never gets the timed-out invocation,
            // so an expired-but-not-yet-evicted entry must be detected
            // here: past its event-time TTL it counts as absent
            val live = state.exists &&
              state.get + ttlMs > state.getCurrentWatermarkMs
            var first: StampedToken = null
            var maxSeen = if (live) state.get else Long.MinValue
            rows.foreach { r =>
              if (first == null) first = r
              maxSeen = math.max(maxSeen, r.event_time.getTime)
            }
            val out =
              if (live || first == null) Iterator.empty
              else Iterator.single(first)
            state.update(maxSeen)
            // the timeout must sit strictly above the current watermark
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs + 1, maxSeen + ttlMs))
            out
          }
      }
  }
}
