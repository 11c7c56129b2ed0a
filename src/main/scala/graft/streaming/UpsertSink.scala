package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming MERGE sink: every micro-batch upserts into a parquet
  * target via `foreachBatch` — the standard way to keep a serving
  * table current from a stream when the sink must be a keyed table,
  * not an append log.
  *
  * Plain-parquet mechanics (read target → [[graft.ops.EtlOps.RichDF
  * .upsert]] → write fresh → atomic directory swap): at warehouse
  * scale the swap is what a table format (Delta/Iceberg) does
  * transactionally, and this sink is the drop-in seam for one — only
  * the apply function changes. Batches are deduped to one row per
  * key first (last-writer-wins needs a total order; `tieBreak`
  * provides it), so replayed micro-batches converge to the same
  * table state.
  */
object UpsertSink {

  /** Start the sink. `keys` must identify rows; `tieBreak` orders
    * same-key rows within a batch (latest first). */
  def start(stream: DataFrame, keys: Seq[String],
      tieBreak: Seq[org.apache.spark.sql.Column], targetDir: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(batch, keys, tieBreak, targetDir)
      }
      .outputMode("update")
      .start()

  /** One micro-batch application — also directly usable in batch
    * backfills so stream and backfill share one code path. */
  def applyBatch(batch: DataFrame, keys: Seq[String],
      tieBreak: Seq[org.apache.spark.sql.Column],
      targetDir: String): Unit = {
    import graft.ops.EtlOps.RichDF
    val spark = batch.sparkSession
    val deduped = new RichDF(batch).dedupFirst(keys, tieBreak)
    val target = Paths.get(targetDir)
    val merged =
      if (Files.exists(target))
        new RichDF(spark.read.parquet(targetDir)).upsert(deduped, keys)
      else deduped
    // atomic swap: readers see the old table or the new one, never a
    // half-written directory (a table format does this via metadata)
    swapInto(merged, targetDir)
  }

  /** Atomic directory swap: write `df` to a staging dir, then rename
    * over `targetDir` — readers see the old table or the new one,
    * never a half-written directory. */
  private def swapInto(df: DataFrame, targetDir: String): Unit = {
    val target = Paths.get(targetDir)
    val tmp = Paths.get(targetDir + ".__staging")
    rm(tmp)
    df.write.mode("overwrite").parquet(tmp.toString)
    val old = Paths.get(targetDir + ".__old")
    rm(old)
    if (Files.exists(target)) Files.move(target, old)
    Files.move(tmp, target)
    rm(old)
  }

  private def rm(p: Path): Unit =
    if (Files.exists(p)) {
      def loop(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(loop)); f.delete(); ()
      }
      loop(p.toFile)
    }
}
