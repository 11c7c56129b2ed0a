package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Feed epochs + mechanical reseed across restore/overwrite
  * boundaries. The load-bearing claim (VERDICT r9 gap #5): an
  * incremental subscriber using [[Versioned.readChangesOrReseed]]
  * converges across a restore WITHOUT manual intervention — inside an
  * epoch it applies the normal row-change feed, across a bump it gets
  * the target snapshot as `ct=insert` rows flagged `reseeded=true`
  * and truncate-and-loads. */
class VersionedEpochSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String = java.nio.file.Files
    .createTempDirectory("graft_epoch").toString

  /** The subscriber under test: a driver-side keyed mirror applying
    * epoch-aware batches the way any downstream store would. */
  private def applyBatch(mirror: collection.mutable.Map[Long, String],
      b: Versioned.ChangeBatch): Unit = {
    val rows = b.df.select(col("k"), col("v"), col("_change_type"))
      .collect()
    if (b.reseeded) mirror.clear() // truncate-and-load
    rows.foreach { r =>
      val k = r.getLong(0)
      r.getString(2) match {
        case "delete" => mirror.remove(k): Unit
        case _ => mirror(k) = r.getString(1)
      }
    }
  }

  test("feedEpoch counts restore/overwrite commits; appends and merges don't bump") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), path,
      overwrite = false) // v0 append
    Versioned.commit(Seq((2L, "b")).toDF("k", "v"), path,
      overwrite = false) // v1 append
    Versioned.mergeDV(spark, path, Seq((2L, "b2")).toDF("k", "v"),
      Seq("k")) // v2 merge (feed-published)
    assert(Versioned.feedEpoch(path, 2) == 0)
    Versioned.restore(path, 1) // v3: epoch bump
    assert(Versioned.feedEpoch(path, 3) == 1)
    Versioned.commit(Seq((9L, "z")).toDF("k", "v"), path,
      overwrite = true) // v4: plain overwrite, second bump
    assert(Versioned.feedEpoch(path, 4) == 2)
  }

  test("a crashed manifest-to-feed window reseeds mechanically; repair un-bumps it") {
    // crash simulation: a mergeDV commit whose feed dir vanishes
    // (the process died between publishManifest and publishMergeFeed)
    // — raw readChanges throws, but the epoch-aware reader treats
    // ANY feed-less manifest as a bump and reseeds; repairChangeFeed
    // backfills the feed and the version stops being a bump
    val path = tmpTable()
    val mirror = collection.mutable.Map.empty[Long, String]
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path,
      overwrite = false)
    applyBatch(mirror, Versioned.readChangesOrReseed(spark, path, 0, 0))
    val v1 = Versioned.mergeDV(spark, path,
      Seq((2L, "b2"), (3L, "c")).toDF("k", "v"), Seq("k"))
    // simulate the crash window: drop v1's published feed dir
    val feedDir = java.nio.file.Paths.get(path, "_changes", s"cv=$v1")
    java.nio.file.Files.walk(feedDir)
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(f => { java.nio.file.Files.deleteIfExists(f): Unit })
    intercept[RuntimeException] {
      Versioned.readChanges(spark, path, v1, v1).collect()
    }
    val b = Versioned.readChangesOrReseed(spark, path, v1, v1)
    assert(b.reseeded, "feed-less merge-dv window must reseed")
    applyBatch(mirror, b)
    assert(mirror.toMap == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    // repair backfills the merge feed (snapshot key-diff) — the
    // version is no longer a bump and incremental reading resumes
    assert(Versioned.repairChangeFeed(spark, path, Seq("k")) == Seq(v1))
    val b2 = Versioned.readChangesOrReseed(spark, path, v1, v1)
    assert(!b2.reseeded)
    assert(b2.df.count() == 2) // update k=2 + insert k=3
  }

  test("subscriber converges across a restore without manual intervention") {
    val path = tmpTable()
    val mirror = collection.mutable.Map.empty[Long, String]
    // v0 append + v1 merge (insert/update/delete all exercised)
    Versioned.commit(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("k", "v"), path, overwrite = false)
    Versioned.mergeDV(spark, path,
      Seq((2L, "b2"), (3L, "dead"), (4L, "d")).toDF("k", "v"),
      Seq("k"), deleteWhen = Some(col("v") === "dead"))
    val b1 = Versioned.readChangesOrReseed(spark, path, 0, 1)
    assert(!b1.reseeded && b1.epoch == 0)
    applyBatch(mirror, b1)
    assert(mirror.toMap == Map(1L -> "a", 2L -> "b2", 4L -> "d"))
    // rollback to v0, then keep appending — the feed range 2..3 now
    // crosses an epoch: a raw readChanges would fail loudly on the
    // restore; the epoch-aware reader reseeds mechanically
    Versioned.restore(path, 0) // v2
    Versioned.commit(Seq((7L, "g")).toDF("k", "v"), path,
      overwrite = false) // v3
    intercept[RuntimeException] {
      Versioned.readChanges(spark, path, 2, 3).collect()
    }
    val b2 = Versioned.readChangesOrReseed(spark, path, 2, 3)
    assert(b2.reseeded && b2.epoch == 1)
    applyBatch(mirror, b2)
    // the mirror equals the head snapshot — converged, no operator
    // hand-holding
    val want = Versioned.read(spark, path).as[(Long, String)]
      .collect().toMap
    assert(mirror.toMap == want)
    assert(mirror.toMap ==
      Map(1L -> "a", 2L -> "b", 3L -> "c", 7L -> "g"))
    // and the NEXT range is incremental again (same epoch)
    Versioned.commit(Seq((8L, "h")).toDF("k", "v"), path,
      overwrite = false) // v4
    val b3 = Versioned.readChangesOrReseed(spark, path, 4, 4)
    assert(!b3.reseeded && b3.epoch == 1)
    applyBatch(mirror, b3)
    assert(mirror(8L) == "h" && mirror.size == 5)
  }
}
