package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowedTypeCounts over a MemoryStream equals the batch result") {
    implicit val sq = spark.sqlContext
    val data = Seq(
      (ts("2024-01-01 00:05:00"), "click", 1.0, 1L),
      (ts("2024-01-01 00:20:00"), "click", 2.0, 1L),
      (ts("2024-01-01 00:40:00"), "view", 3.0, 2L),
      (ts("2024-01-01 01:10:00"), "click", 4.0, 1L))
    val stream = MemoryStream[(Timestamp, String, Double, Long)]
    stream.addData(data: _*)
    val events = stream.toDF()
      .toDF("ts", "event_type", "value", "user_id")
    val q = StreamingOps.windowedTypeCounts(events, "30 minutes", "1 hour")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("win_counts")
      .select(col("win_start"), col("event_type"), col("n_events"),
        col("sum_value").cast("double"))
      .as[(Timestamp, String, Long, Double)].collect().toSet
    val batch = StreamingOps.windowedTypeCounts(
        data.toDF("ts", "event_type", "value", "user_id"),
        "30 minutes", "1 hour")
      .select(col("win_start"), col("event_type"), col("n_events"),
        col("sum_value").cast("double"))
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(streamed == batch)
    assert(batch.contains((ts("2024-01-01 00:00:00"), "click", 2L, 3.0)))
  }

  test("q_stream_window e2e: MemoryStream over real events == batch oracle projection") {
    // Exactly the driver row's window spec (1h tumble, 1h watermark)
    // driven through a real streaming query on the sf0.001 events
    // table, then the same final projection as q_stream_window. The
    // cents-exact sum makes the doubles bit-comparable.
    implicit val sq = spark.sqlContext
    val rows = graft.Tables(spark, "/root/testdata/sf0.001", "events")
      .select(col("ts"), col("event_type"), col("value"))
      .as[(Timestamp, String, Double)].collect()
    val stream = MemoryStream[(Timestamp, String, Double)]
    stream.addData(rows.toIndexedSeq: _*)
    val q = StreamingOps.windowedTypeCounts(
        stream.toDF().toDF("ts", "event_type", "value"), "1 hour", "1 hour")
      .writeStream.format("memory").queryName("stream_window_e2e")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    def finalProj(df: org.apache.spark.sql.DataFrame) = df
      .select(col("win_start").cast("date").cast("string").as("day"),
        hour(col("win_start")).as("hr"),
        col("event_type"), col("n_events"), col("sum_value"))
      .as[(String, Int, String, Long, Double)].collect().sortBy(r => (r._1, r._2, r._3))
    val streamed = finalProj(spark.table("stream_window_e2e"))
    val batch = finalProj(StreamingOps.windowedTypeCounts(
      graft.Tables(spark, "/root/testdata/sf0.001", "events"), "1 hour", "1 hour"))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("dedupStream drops replays across micro-batches, state bounded by watermark") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Long, String)]
    val events = stream.toDF().toDF("ts", "event_id", "v")
    val q = StreamingOps.dedupStream(events, Seq("event_id"), "1 hour")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    stream.addData((ts("2024-01-01 00:00:00"), 1L, "a"),
      (ts("2024-01-01 00:05:00"), 2L, "b"),
      (ts("2024-01-01 00:05:00"), 1L, "dup-in-batch"))
    q.processAllAvailable()
    stream.addData((ts("2024-01-01 00:10:00"), 1L, "dup-next-batch"),
      (ts("2024-01-01 00:15:00"), 3L, "c"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_stream")
      .select("event_id", "v").as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("streamStreamJoin pairs events within the time bound, evictable state") {
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, String)]
    val views = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingOps.streamStreamJoin(
        clicks.toDF().toDF("cts", "user_id", "click"),
        views.toDF().toDF("vts", "user_id", "view"),
        "user_id", "cts", "vts", "0 seconds", "30 minutes", "1 hour", "inner")
      .select("user_id", "click", "view")
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    clicks.addData((ts("2024-01-01 00:00:00"), 1L, "c1"),
      (ts("2024-01-01 00:00:00"), 2L, "c2"))
    views.addData(
      (ts("2024-01-01 00:10:00"), 1L, "v-in-window"),
      (ts("2024-01-01 00:50:00"), 1L, "v-too-late"),
      (ts("2024-01-01 00:20:00"), 3L, "v-no-click"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ss_join")
      .as[(Long, String, String)].collect().toSet
    assert(got == Set((1L, "c1", "v-in-window")))
  }

  test("streamStreamJoinLeftOuter emits null-padded rows after watermark expiry") {
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, String)]
    val views = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingOps.streamStreamJoin(
        clicks.toDF().toDF("cts", "user_id", "click"),
        views.toDF().toDF("vts", "user_id", "view"),
        "user_id", "cts", "vts", "0 seconds", "30 minutes", "1 hour", "left_outer")
      .select("user_id", "click", "view")
      .writeStream.format("memory").queryName("ss_join_outer")
      .outputMode("append").start()
    clicks.addData((ts("2024-01-01 00:00:00"), 1L, "c-matched"),
      (ts("2024-01-01 00:00:00"), 2L, "c-unmatched"))
    views.addData((ts("2024-01-01 00:10:00"), 1L, "v-in-window"))
    q.processAllAvailable()
    // inner match emits immediately; the unmatched left row must NOT
    // emit yet — a right event inside the watermark could still pair
    val early = spark.table("ss_join_outer")
      .as[(Long, String, Option[String])].collect().toSet
    assert(early == Set((1L, "c-matched", Some("v-in-window"))))
    // push the watermark far past user 2's window [00:00, 00:30]:
    // watermark = max(ts) − 1h = 03:00 after this batch, making the
    // no-match decision final
    clicks.addData((ts("2024-01-01 04:00:00"), 9L, "c-late"))
    views.addData((ts("2024-01-01 04:00:00"), 9L, "v-late"))
    q.processAllAvailable()
    // one more micro-batch so the state store flushes expired rows
    views.addData((ts("2024-01-01 04:00:01"), 9L, "v-later"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ss_join_outer")
      .as[(Long, String, Option[String])].collect().toSet
    assert(got.contains((2L, "c-unmatched", None)),
      s"expired unmatched left row must emit null-padded, got $got")
    assert(!got.exists(r => r._1 == 2L && r._3.isDefined),
      "the unmatched row must never ALSO emit a matched version")
  }

  test("streamStreamJoinRightOuter emits null-padded right-only rows after expiry") {
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, String)]
    val views = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingOps.streamStreamJoin(
        clicks.toDF().toDF("cts", "user_id", "click"),
        views.toDF().toDF("vts", "user_id", "view"),
        "user_id", "cts", "vts", "0 seconds", "30 minutes", "1 hour", "right_outer")
      .select("user_id", "click", "view")
      .writeStream.format("memory").queryName("ss_join_right")
      .outputMode("append").start()
    clicks.addData((ts("2024-01-01 00:00:00"), 1L, "c-matched"))
    views.addData((ts("2024-01-01 00:10:00"), 1L, "v-in-window"),
      (ts("2024-01-01 00:10:00"), 3L, "v-only"))
    q.processAllAvailable()
    clicks.addData((ts("2024-01-01 04:00:00"), 9L, "c-late"))
    views.addData((ts("2024-01-01 04:00:00"), 9L, "v-late"))
    q.processAllAvailable()
    views.addData((ts("2024-01-01 04:00:01"), 9L, "v-later"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ss_join_right")
      .as[(Long, Option[String], String)].collect().toSet
    assert(got.contains((1L, Some("c-matched"), "v-in-window")))
    assert(got.contains((3L, None, "v-only")),
      s"expired right-only row must emit null-padded, got $got")
  }

  test("streamStreamJoinFullOuter emits null-padded rows on BOTH sides") {
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, String)]
    val views = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingOps.streamStreamJoin(
        clicks.toDF().toDF("cts", "user_id", "click"),
        views.toDF().toDF("vts", "user_id", "view"),
        "user_id", "cts", "vts", "0 seconds", "30 minutes", "1 hour", "full_outer")
      .select("user_id", "click", "view")
      .writeStream.format("memory").queryName("ss_join_full")
      .outputMode("append").start()
    clicks.addData((ts("2024-01-01 00:00:00"), 1L, "c-matched"),
      (ts("2024-01-01 00:00:00"), 2L, "c-only"))
    views.addData((ts("2024-01-01 00:10:00"), 1L, "v-in-window"),
      (ts("2024-01-01 00:10:00"), 3L, "v-only"))
    q.processAllAvailable()
    // push the watermark far past both unmatched windows, then one
    // more batch so the state store flushes expired rows
    clicks.addData((ts("2024-01-01 04:00:00"), 9L, "c-late"))
    views.addData((ts("2024-01-01 04:00:00"), 9L, "v-late"))
    q.processAllAvailable()
    views.addData((ts("2024-01-01 04:00:01"), 9L, "v-later"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ss_join_full")
      .as[(Long, Option[String], Option[String])].collect().toSet
    assert(got.contains((1L, Some("c-matched"), Some("v-in-window"))))
    assert(got.contains((2L, Some("c-only"), None)),
      s"expired left-only row must emit null-padded, got $got")
    assert(got.contains((3L, None, Some("v-only"))),
      s"expired right-only row must emit null-padded, got $got")
  }

  test("file-source replay: parquet landing dir streams to the same result as batch") {
    // the production ingest shape: files land in a directory, the
    // stream tails it (maxFilesPerTrigger throttles); same transform,
    // same result as the batch read
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = graft.Tables(spark, "/root/testdata/sf0.001", "events")
      .select("ts", "event_type", "value")
    val dir = Files.createTempDirectory("landing")
    src.coalesce(2).write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream
      .schema(src.schema)
      .option("maxFilesPerTrigger", "1") // several micro-batches
      .parquet(dir.toString)
    val q = StreamingOps.windowedTypeCounts(stream, "1 hour", "1 hour")
      .writeStream.format("memory").queryName("file_replay")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    def proj(df: org.apache.spark.sql.DataFrame) = df
      .select(col("win_start").cast("string"), col("event_type"),
        col("n_events"), col("sum_value"))
      .as[(String, String, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val streamed = proj(spark.table("file_replay"))
    val batch = proj(StreamingOps.windowedTypeCounts(src, "1 hour", "1 hour"))
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("streamStaticEnrich joins the broadcast dim without shuffling the stream") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Long, String)]
    stream.addData(
      (ts("2024-01-01 00:00:00"), 1L, "click"),
      (ts("2024-01-01 00:05:00"), 2L, "view"),
      (ts("2024-01-01 00:10:00"), 99L, "click")) // no dim row → null
    val events = stream.toDF().toDF("ts", "user_id", "event_type")
    val dim = Seq((1L, "gold", "EU"), (2L, "basic", "US"))
      .toDF("cust_id", "tier", "geo")
    val enriched = StreamingOps.streamStaticEnrich(
      events, dim, "user_id", "cust_id", Seq("tier", "geo"))
    val q = enriched.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enriched")
      .select("user_id", "tier", "geo")
      .as[(Long, Option[String], Option[String])].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, Some("gold"), Some("EU")),
      (2L, Some("basic"), Some("US")),
      (99L, None, None)))
    // the batch twin of the same plan must broadcast the dim side —
    // the stream must never pay a per-micro-batch exchange
    val batchPlan = StreamingOps.streamStaticEnrich(
      Seq((ts("2024-01-01 00:00:00"), 1L, "click"))
        .toDF("ts", "user_id", "event_type"),
      dim, "user_id", "cust_id", Seq("tier", "geo"))
      .queryExecution.executedPlan.toString
    assert(batchPlan.contains("BroadcastHashJoin"),
      s"dim side not broadcast:\n$batchPlan")
  }

  test("sessionWindowCounts groups events within the gap") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Long)]
    stream.addData(
      (ts("2024-01-01 00:00:00"), 1L),
      (ts("2024-01-01 00:10:00"), 1L), // same session (gap 30m)
      (ts("2024-01-01 02:00:00"), 1L)) // new session
    val events = stream.toDF().toDF("ts", "user_id")
    val q = StreamingOps.sessionWindowCounts(events, "30 minutes", "1 hour")
      .writeStream.format("memory").queryName("sess_counts")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_counts")
      .select("user_id", "n_events").as[(Long, Long)].collect().sorted
    assert(got.toSeq == Seq((1L, 1L), (1L, 2L)))
  }
}
