package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.util.Comparator

/** Regression suite for the r10 advisor findings on [[Versioned]]:
  * (1) repairChangeFeed's link-feed branches published EMPTY feeds
  * for hive-partitioned dirs (silent insert loss in the CDC stream,
  * AND the empty dir un-bumped the epoch so reseed never fired);
  * (2) per-dir partitioned reads relied on partition-column TYPE
  * INFERENCE — a string column of numeric-looking values ('00123')
  * round-tripped corrupted ('123') and readPartitionPruned silently
  * dropped its rows; (3) withRowId's rel-path regex matched the
  * FIRST '/data/' in the absolute path, breaking deletion vectors
  * for any table rooted under a path containing '/data/'. */
class VersionedRepairSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String = Files
    .createTempDirectory("graft_repair").toString

  private def rows(lo: Long, hi: Long) =
    (lo to hi).map(k => (k, s"g${k % 3}", k * 10))
      .toDF("k", "grp", "val")

  private def dropFeed(path: String, v: Int): Unit = {
    val d = Versioned.changeDirPath(path, v)
    if (Files.isDirectory(d))
      Files.walk(d).sorted(Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
  }

  test("repair backfills a partitioned-append feed gap with REAL rows") {
    val path = tmpTable()
    Versioned.commit(rows(1, 10), path, overwrite = false)
    Versioned.commitPartitioned(rows(11, 25), path, "grp")
    // simulate the crash window: manifest landed, feed rename didn't
    dropFeed(path, 1)
    assert(Versioned.repairChangeFeed(spark, path, Seq("k")) == Seq(1))
    val feed = Versioned.readChanges(spark, path, 1, 1)
    assert(feed.count() == 15, "the repaired feed must carry the batch")
    assert(feed.filter(col("grp").isNull).count() == 0,
      "link repair of a hive dir would lose the partition column")
    assert(feed.select("k").as[Long].collect().toSet ==
      (11L to 25L).toSet)
  }

  test("repair backfills a partitioned clone's birth feed (the documented gap)") {
    val src = tmpTable()
    Versioned.commitPartitioned(rows(1, 12), src, "grp")
    val dst = tmpTable() + "/clone"
    Versioned.cloneTable(src, dst)
    // cloneTable deliberately leaves the gap for partSpecs tables
    assert(!Files.isDirectory(Versioned.changeDirPath(dst, 0)))
    assert(Versioned.repairChangeFeed(spark, dst, Seq("k")) == Seq(0))
    val feed = Versioned.readChanges(spark, dst, 0, 0)
    assert(feed.count() == 12 &&
      feed.filter(col("grp").isNull).count() == 0)
  }

  test("repair backfills a v0 partitioned-overwrite feed gap") {
    val path = tmpTable()
    Versioned.commitPartitioned(rows(1, 9), path, "grp", overwrite = true)
    dropFeed(path, 0)
    assert(Versioned.repairChangeFeed(spark, path, Seq("k")) == Seq(0))
    val feed = Versioned.readChanges(spark, path, 0, 0)
    assert(feed.count() == 9 &&
      feed.filter(col("grp").isNull).count() == 0)
  }

  test("string partition values that LOOK numeric round-trip exactly") {
    val path = tmpTable()
    val df = Seq((1L, "00123", "a"), (2L, "1e3", "b"), (3L, "0.10", "c"),
      (4L, "plain", "d")).toDF("k", "code", "v")
    Versioned.commitPartitioned(df, path, "code")
    // full read: inference would have flipped '00123'→'123' etc.
    val got = Versioned.read(spark, path)
      .select("code").as[String].collect().toSet
    assert(got == Set("00123", "1e3", "0.10", "plain"),
      s"partition values corrupted by type inference: $got")
    // pruned read: the dir name matches but an inferred-then-cast
    // value diverges, so the final isin filter silently dropped rows
    val (pruned, rd, tot) =
      Versioned.readPartitionPruned(spark, path, "code", Seq("00123"))
    assert(rd < tot)
    assert(pruned.select("k").as[Long].collect().toSeq == Seq(1L))
    // and the written insert feed carries the exact string values
    val feed = Versioned.readChanges(spark, path, 0, 0)
    assert(feed.select("code").as[String].collect().toSet ==
      Set("00123", "1e3", "0.10", "plain"))
  }

  test("deletion vectors work for a table rooted under a '/data/' path") {
    // files land at <root>/data/t/data/<dir>/<file> — a first-match
    // '/data/' regex would yield rel 't/data/<dir>/<file>' and the
    // mask's file keys would miss
    val root = Files.createTempDirectory("graft_data").toString
    val path = s"$root/data/t"
    Versioned.commit(rows(1, 20), path, overwrite = false)
    val r = Versioned.deleteWhereDV(spark, path, col("k") === 7L)
    assert(r.deletedRows == 1L)
    val got = Versioned.read(spark, path).select("k").as[Long].collect().toSet
    assert(!got.contains(7L) && got.size == 19)
    // a second delete reads through the first mask and grows the chain
    val r2 = Versioned.deleteWhereDV(spark, path, col("k") === 8L)
    assert(r2.deletedRows == 1L)
    assert(Versioned.read(spark, path).count() == 18)
  }
}
