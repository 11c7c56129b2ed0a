package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Versioned

/** Streaming MATERIALIZED-VIEW maintenance from a change-data feed:
  * a keyed mirror table and a grouped aggregate table are both kept
  * current by consuming the stored feed ([[Versioned.readChangeStream]])
  * — the aggregate is never recomputed from scratch and never reads
  * the source snapshots.
  *
  * Maintenance strategy: PARTIAL RECOMPUTE, not delta arithmetic.
  * Each micro-batch (1) MERGEs into the keyed mirror, then (2)
  * recomputes ONLY the groups the batch touched from the mirror and
  * MERGEs those rows into the aggregate table (groups whose last row
  * vanished are deleted). Work per batch is proportional to the
  * touched groups' data — never the table — and, unlike +/- delta
  * maintenance, it is correct for NON-INVERTIBLE aggregates (min,
  * max, count-distinct) and needs no update pre-images, which this
  * feed (documented) does not carry.
  *
  * Exactly-once: both merges are [[Versioned.mergeDV]] commits carrying
  * distinct txn tokens (`<appId>:m:<batchId>` / `<appId>:a:<batchId>`).
  * A crash between the two replays the batch: the mirror merge
  * dedupes on its token, and the aggregate recompute re-derives the
  * identical rows from the (converged) mirror — the pair converges
  * under at-least-once replay with no second transaction log.
  */
object MaterializedAgg {

  /** One micro-batch (exposed for batch catch-up and specs). `batch`
    * is an applyable change feed: `keys` ++ non-key columns ++
    * `change_type`. `aggs` are named aggregate columns over the
    * mirror's rows; a `n_rows` count is always maintained (it doubles
    * as the group-vanished marker). */
  def applyBatch(batch: DataFrame, keys: Seq[String],
      groupCols: Seq[String], aggs: Seq[(String, Column)],
      mirrorPath: String, aggPath: String, appId: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    require(Versioned.latestVersion(mirrorPath) >= 0,
      s"MaterializedAgg: seed the mirror at $mirrorPath first")
    val vm = Versioned.applyChangeFeed(spark, mirrorPath, batch, keys,
      txn = Some(s"$appId:m:$batchId"))
    // Affected groups = the batch's own groups PLUS the groups its
    // keys belonged to BEFORE the merge — a delete row carries null
    // non-keys (this feed stores no pre-images), so the vanished
    // row's group is only recoverable from the pre-batch mirror.
    // Time travel makes that crash-safe: mergeDV publishes at base+1,
    // so version vm-1 IS the state the batch applied against — and a
    // REPLAYED batch (txn dedup returns the original vm) reads the
    // same vm-1, keeping the recompute idempotent across the
    // crash-between-two-merges window (vacuum retention must cover
    // in-flight replays, the standard ledger contract).
    val preMirror = Versioned.read(spark, mirrorPath, Some(vm - 1))
    val keysDf = batch.select(keys.map(col): _*).distinct()
    val groupsOf = (df: DataFrame) =>
      df.select(groupCols.map(col): _*).distinct()
    val affected = groupsOf(batch)
      .filter(groupCols.map(col(_).isNotNull).reduce(_ && _))
      .unionByName(groupsOf(
        preMirror.join(keysDf, keys.toIndexedSeq, "left_semi")))
      .distinct()
    val mirror = Versioned.read(spark, mirrorPath, Some(vm))
    val aggExprs = (("n_rows", count(lit(1))) +: aggs).map {
      case (name, c) => c.as(name)
    }
    val recomputed = mirror
      .join(affected, groupCols.toIndexedSeq, "left_semi")
      .groupBy(groupCols.map(col): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
    if (Versioned.latestVersion(aggPath) < 0)
      Versioned.commit(recomputed.limit(0), aggPath,
        overwrite = false): Unit
    // groups the batch touched but that now hold zero rows leave the
    // aggregate — the left join marks them with a null n_rows
    val updates = affected
      .join(recomputed, groupCols.toIndexedSeq, "left")
    Versioned.mergeDV(spark, aggPath, updates, groupCols,
      txn = Some(s"$appId:a:$batchId"),
      deleteWhen = Some(col("n_rows").isNull)): Unit
  }

  /** Wire a streaming change feed (e.g. `Versioned.readChangeStream`
    * renamed to carry `change_type`) to the maintenance sink. */
  def start(feed: DataFrame, keys: Seq[String], groupCols: Seq[String],
      aggs: Seq[(String, Column)], mirrorPath: String, aggPath: String,
      appId: String, checkpointDir: String): StreamingQuery =
    feed.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, keys, groupCols, aggs, mirrorPath, aggPath,
          appId, batchId)
      }
      .outputMode("append")
      .start()
}
