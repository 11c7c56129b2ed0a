package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming CDC APPLY: consumes an applyable change feed
  * ([[graft.sources.Versioned.changeFeed]] rows — key columns, new
  * non-key values, `change_type` ∈ insert/update/delete) and MERGEs
  * each micro-batch into a keyed VERSIONED mirror, so a downstream
  * serving table tracks the versioned source without ever re-reading
  * its snapshots.
  *
  * Semantics per batch: rows whose key appears in the batch leave
  * the mirror (delete), then the batch's insert/update rows come
  * back with their new values — `MERGE ... WHEN MATCHED
  * UPDATE/DELETE WHEN NOT MATCHED INSERT` as one
  * [[graft.sources.Versioned.applyChangeFeed]] commit: the matched
  * rows are masked and the batch appends as one dir, so each
  * micro-batch writes bytes ∝ the batch, never the mirror.
  */
object CdcSink {

  /** Start the apply stream against a versioned mirror (seed it from
    * the snapshot the feed starts at): every micro-batch becomes one
    * atomic commit carrying the idempotence token `<appId>:<batchId>`
    * — so the mirror is a real versioned table (time travel across
    * applied batches comes free), foreachBatch replays are
    * deduplicated by the manifest ledger (exactly-once, not just
    * idempotent-converging), and a concurrent committer on the mirror
    * is handled by the merge's optimistic re-derive. `compact` the
    * mirror on a cadence to fold the accumulated masks and dirs. */
  def startVersioned(feed: DataFrame, keys: Seq[String], tablePath: String,
      appId: String, checkpointDir: String): StreamingQuery =
    feed.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Versioned.applyChangeFeed(batch.sparkSession,
          tablePath, batch, keys, txn = Some(s"$appId:$batchId")): Unit
      }
      .outputMode("append")
      .start()
}
