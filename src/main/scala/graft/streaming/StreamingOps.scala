package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming variants of the events pipeline.
  *
  * The transformations are written once against an unbounded
  * DataFrame and work identically on a batch frame — Spark's
  * batch/stream unification. The streaming specs drive them through
  * `MemoryStream`; production would swap `readStream` sources
  * (kafka/files) and `writeStream` sinks without touching the logic.
  */
object StreamingOps {

  /** Tumbling-window event counts + value sums per event_type with a
    * watermark for state eviction: the canonical streaming agg. On a
    * batch frame the watermark is a no-op and the result equals the
    * batch time-bucket query. */
  def windowedTypeCounts(events: DataFrame, windowLen: String,
      watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      // money in exact BIGINT cents: the sum is order- and
      // partitioning-independent, and the final IEEE division is
      // engine-unambiguous (unlike double→decimal casts)
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
          .as("sum_value"))
      .select(col("window.start").as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Per-user running anomaly flag via stateful arbitrary processing
    * is intentionally NOT used here: sessionization on a stream is
    * expressed with the same watermark + session_window primitive. */
  def sessionWindowCounts(events: DataFrame, gap: String,
      watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n_events"))

  /** Streaming exact dedup: keep the first event per `idCols` and
    * drop replays — the streaming twin of the batch cross-batch
    * anti-join ([[graft.ops.EtlOps.RichDF.antiJoinAll]] /
    * capital_sendas.py:112-125). `dropDuplicatesWithinWatermark`
    * bounds the dedup state by the watermark, so state size tracks
    * the window, not the stream's lifetime — the 100 TB/continuous
    * requirement. */
  def dedupStream(events: DataFrame, idCols: Seq[String],
      watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Stream-static enrichment join: each streaming event picks up
    * dimension attributes from a bounded table. The static side is
    * explicitly broadcast — on a cluster every executor holds the dim
    * once and the stream NEVER shuffles for the join (a shuffled
    * stream-static join would re-exchange every micro-batch). The
    * static frame is re-read per micro-batch by the engine, so slowly
    * changing dims are picked up on file refresh. */
  def streamStaticEnrich(events: DataFrame, dim: DataFrame,
      eventKey: String, dimKey: String,
      dimCols: Seq[String]): DataFrame = {
    // The dim key rides under a unique internal alias so the join
    // condition resolves even when eventKey and dimKey share a name
    // (col(k) === col(k) is ambiguous, and drop(k) would then drop
    // the event's key too).
    val k = "__dim_" + dimKey
    val slim = broadcast(
      dim.select((col(dimKey).as(k) +: dimCols.map(c => col(c))): _*))
    events.join(slim, col(eventKey) === col(k), "left")
      .drop(k)
  }

  /** Watermarked stream-stream join of `joinType` ("inner",
    * "left_outer", "right_outer" or "full_outer"): each left event
    * pairs with right events for the same key whose timestamp lies
    * within [left.ts - before, left.ts + after]. Both sides carry
    * watermarks so the join state is evictable — unbounded-state
    * stream joins don't survive production. Column names must be
    * disjoint except the key.
    *
    * An outer side's "never matched" rows emit ONCE, null-padded, but
    * only after the watermark passes their join window, because that
    * is the moment "no match yet" becomes "no match EVER" (late data
    * inside the watermark could still pair them): an unmatched left
    * event once the watermark passes left.ts + after, an unmatched
    * right event once it passes the last left timestamp that could
    * still pair it (right.ts itself under a [0, after] window). The
    * time-interval condition + both watermarks are what make the
    * outer emission decidable with EVICTABLE state — Structured
    * Streaming rejects outer stream-stream joins without them, and an
    * engine that accepted one would hold every row forever.
    *
    * The key survives from the side that is always present: the left
    * for inner and left outer, the right for right outer. A full
    * outer row may lack either, so its key is coalesce(left key,
    * right key), landing as the LAST column. */
  def streamStreamJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, before: String, after: String,
      watermark: String, joinType: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    val joined = l.join(r, l(key) === r(key) &&
      // the range bound is what lets the state store evict rows
      // older than watermark − window
      r(rightTs) >= l(leftTs) - expr(s"INTERVAL $before") &&
      r(rightTs) <= l(leftTs) + expr(s"INTERVAL $after"), joinType)
    joinType match {
      case "inner" | "left_outer" => joined.drop(r(key))
      case "right_outer" => joined.drop(l(key))
      case "full_outer" =>
        joined.withColumn(s"__k_$key", coalesce(l(key), r(key)))
          .drop(l(key)).drop(r(key))
          .withColumnRenamed(s"__k_$key", key)
      case other => throw new IllegalArgumentException(
        s"streamStreamJoin: unsupported join type $other")
    }
  }
}
