package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** The default state store keeps every key on the executor heap —
  * fine for tests, fatal for production streams whose keyed state
  * exceeds memory (continuous dedup over billions of ids). RocksDB
  * is the scale-grade backend: state lives off-heap/on-disk with
  * incremental checkpoints. This spec proves the graft streaming
  * operators run unchanged on it — the config is the ONLY change,
  * which is exactly the claim that matters at 100 TB. */
class RocksDbStateSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowed aggregation + streaming dedup run on the RocksDB state store") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sq = spark.sqlContext
      val stream = MemoryStream[(Timestamp, String, Double, Long)]
      stream.addData(
        (ts("2024-01-01 00:05:00"), "click", 1.0, 1L),
        (ts("2024-01-01 00:20:00"), "click", 2.0, 1L),
        (ts("2024-01-01 00:40:00"), "view", 3.0, 2L))
      val events = stream.toDF().toDF("ts", "event_type", "value", "user_id")
      val q = StreamingOps.windowedTypeCounts(events, "30 minutes", "1 hour")
        .writeStream.format("memory").queryName("rocks_win")
        .outputMode("complete").start()
      q.processAllAvailable()
      // the running query's state must actually be RocksDB-backed
      val lastProgress = q.lastProgress
      q.stop()
      val got = spark.table("rocks_win")
        .select("event_type", "n_events").as[(String, Long)]
        .collect().sortBy(_._1)
      assert(got.toSeq == Seq(("click", 2L), ("view", 1L)))
      assert(lastProgress.stateOperators.nonEmpty)

      // dedup (dropDuplicatesWithinWatermark state) on RocksDB too,
      // across two micro-batches
      val s2 = MemoryStream[(Timestamp, Long)]
      s2.addData((ts("2024-01-01 00:00:00"), 1L))
      val dedup = StreamingOps.dedupStream(
        s2.toDF().toDF("ts", "event_id"), Seq("event_id"), "1 hour")
      val q2 = dedup.writeStream.format("memory").queryName("rocks_dedup")
        .outputMode("append").start()
      q2.processAllAvailable()
      s2.addData((ts("2024-01-01 00:10:00"), 1L), // replay → dropped
        (ts("2024-01-01 00:11:00"), 2L))
      q2.processAllAvailable()
      q2.stop()
      assert(spark.table("rocks_dedup").select("event_id")
        .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("merging session-window state runs on RocksDB (append mode, watermark-closed sessions)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sq = spark.sqlContext
      val s = MemoryStream[(Timestamp, Long)]
      val sess = s.toDF().toDF("ts", "user_id")
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      val q = sess.select("user_id", "n")
        .writeStream.format("memory").queryName("rocks_sess")
        .outputMode("append").start()
      // two events 10 min apart MERGE into one session; a later event
      // starts a second session and pushes the watermark past the
      // first, which then emits exactly once
      s.addData((ts("2024-01-01 00:00:00"), 1L),
        (ts("2024-01-01 00:10:00"), 1L))
      q.processAllAvailable()
      s.addData((ts("2024-01-01 06:00:00"), 1L))
      q.processAllAvailable()
      s.addData((ts("2024-01-01 06:00:01"), 9L))
      q.processAllAvailable()
      val lastProgress = q.lastProgress
      q.stop()
      val got = spark.table("rocks_sess").as[(Long, Long)]
        .collect().toSet
      assert(got.contains((1L, 2L)),
        s"merged 2-event session must emit once closed, got $got")
      assert(!got.contains((1L, 1L)) || got.count(_._1 == 1L) <= 2,
        s"session fragments emitted separately: $got")
      assert(lastProgress.stateOperators.nonEmpty)
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("outer stream-stream join state (both sides + null-emission bookkeeping) runs on RocksDB") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sq = spark.sqlContext
      val clicks = MemoryStream[(Timestamp, Long, String)]
      val views = MemoryStream[(Timestamp, Long, String)]
      val q = StreamingOps.streamStreamJoin(
          clicks.toDF().toDF("cts", "user_id", "click"),
          views.toDF().toDF("vts", "user_id", "view"),
          "user_id", "cts", "vts", "0 seconds", "30 minutes", "1 hour", "left_outer")
        .select("user_id", "click", "view")
        .writeStream.format("memory").queryName("rocks_outer")
        .outputMode("append").start()
      clicks.addData((ts("2024-01-01 00:00:00"), 1L, "c-matched"),
        (ts("2024-01-01 00:00:00"), 2L, "c-unmatched"))
      views.addData((ts("2024-01-01 00:10:00"), 1L, "v-in-window"))
      q.processAllAvailable()
      // advance the watermark past user 2's window, then one more
      // batch so the store flushes the expired row (same cadence as
      // the default-store spec in StreamingSpec)
      clicks.addData((ts("2024-01-01 04:00:00"), 9L, "c-late"))
      views.addData((ts("2024-01-01 04:00:00"), 9L, "v-late"))
      q.processAllAvailable()
      views.addData((ts("2024-01-01 04:00:01"), 9L, "v-later"))
      q.processAllAvailable()
      val lastProgress = q.lastProgress
      q.stop()
      val got = spark.table("rocks_outer")
        .as[(Long, String, Option[String])].collect().toSet
      assert(got.contains((1L, "c-matched", Some("v-in-window"))))
      assert(got.contains((2L, "c-unmatched", None)),
        s"expired unmatched left row must emit on RocksDB too, got $got")
      assert(lastProgress.stateOperators.nonEmpty)
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
