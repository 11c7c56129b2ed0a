package graft.sources

import graft.{JobCounter, SparkSpec}
import org.apache.spark.sql.functions._

/** MERGE with batch-proportional write amplification ([[Versioned
  * .mergeDV]]). Load-bearing claims: the exact expected END STATE
  * (matched keys updated, deleteWhen'd keys removed, new keys
  * inserted, the rest untouched), ZERO pre-existing data files
  * rewritten (all carried dirs byte-identical; one new batch-sized
  * dir + one mask sidecar), the classified change feed, txn dedup,
  * constraint enforcement on incoming rows, compact materializing the
  * mask away, and the deterministic lost-race retry. */
class VersionedMergeDvSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String = java.nio.file.Files
    .createTempDirectory("graft_mergedv").toString

  private def seed(path: String): Unit = {
    Versioned.commit((1L to 50L).map(k => (k, s"v$k")).toDF("k", "v"),
      path, overwrite = false)
    Versioned.commit((51L to 100L).map(k => (k, s"v$k")).toDF("k", "v"),
      path, overwrite = false)
  }

  private def batch() = Seq(
    (10L, "updated10"), (60L, "updated60"), // matched → update
    (200L, "new200"), // unmatched → insert
    (20L, "DEAD"), (70L, "DEAD"), // matched + deleteWhen → delete
    (300L, "DEAD") // unmatched + deleteWhen → no-op
  ).toDF("k", "v")

  private def dataFiles(path: String, dirs: Seq[String]) =
    dirs.flatMap { d =>
      val dir = java.nio.file.Paths.get(path, "data", d)
      val s = java.nio.file.Files.walk(dir)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .toArray.toSeq.map { p0 =>
          val p = p0.asInstanceOf[java.nio.file.Path]
          (d, dir.relativize(p).toString, java.nio.file.Files.size(p))
        }
      finally s.close()
    }.toSet

  test("mergeDV end state is the expected snapshot; zero files rewritten") {
    val b = tmpTable()
    seed(b)
    val beforeDirs = Versioned.dataDirIds(b, 1)
    val before = dataFiles(b, beforeDirs)
    val vb = Versioned.mergeDV(spark, b, batch(), Seq("k"),
      deleteWhen = Some(col("v") === "DEAD"))
    val sb = Versioned.read(spark, b).as[(Long, String)].collect().toSet
    // the six batch rows: 10 and 60 updated, 200 inserted, 20 and 70
    // deleted, 300 (absent + deleteWhen) a no-op; the rest untouched
    val want = (1L to 100L).filterNot(Set(10L, 60L, 20L, 70L))
      .map(k => (k, s"v$k")).toSet ++
      Set((10L, "updated10"), (60L, "updated60"), (200L, "new200"))
    assert(sb == want)
    // the pre-merge snapshot still time-travels
    assert(Versioned.read(spark, b, Some(1)).as[(Long, String)]
      .collect().toSet == (1L to 100L).map(k => (k, s"v$k")).toSet)
    // accounting: both seed dirs carried BY REFERENCE, byte-identical;
    // exactly one new (batch-sized) dir; one mask dir
    val afterDirs = Versioned.dataDirIds(b, vb)
    assert(afterDirs.take(2) == beforeDirs)
    assert(dataFiles(b, afterDirs.filter(beforeDirs.contains)) == before)
    assert(afterDirs.size == 3)
    assert(Versioned.dvDirIds(b, vb).size == 1)
  }

  test("mergeDV publishes the same classified feed as merge") {
    val path = tmpTable()
    seed(path)
    val v = Versioned.mergeDV(spark, path, batch(), Seq("k"),
      deleteWhen = Some(col("v") === "DEAD"))
    val feed = Versioned.readChanges(spark, path, v, v)
      .select("k", "v", "_change_type").as[(Long, Option[String], String)]
      .collect().toSet
    assert(feed == Set(
      (10L, Some("updated10"), "update"),
      (60L, Some("updated60"), "update"),
      (200L, Some("new200"), "insert"),
      (20L, None, "delete"),
      (70L, None, "delete")))
    // feedEpoch does NOT bump — the feed fully represents the change
    assert(Versioned.feedEpoch(path, v) == 0)
  }

  test("NULL deleteWhen rows: feed classification matches the data path (delete, not update)") {
    // the data path drops a NULL-predicate row from the upserts while
    // its key still leaves via the touched set — the row is DELETED;
    // the feed must say so (a ct=update here silently diverged any
    // mirror applying the feed). Absent-key NULL rows are no-ops.
    val path = tmpTable()
    Versioned.commit(Seq((1L, Option("a")), (2L, Option("b")))
      .toDF("k", "v"), path, overwrite = false)
    // del flag: NULL for existing k=2 and absent k=9; true for k=1
    val batch = Seq((1L, Option("x"), Option(true)),
      (2L, Option("y"), Option.empty[Boolean]),
      (9L, Option("z"), Option.empty[Boolean]))
      .toDF("k", "v", "del")
    val v = Versioned.mergeDV(spark, path, batch, Seq("k"),
      deleteWhen = Some(col("del")))
    // table: both existing keys deleted, nothing inserted
    assert(Versioned.read(spark, path).count() == 0)
    val feed = Versioned.readChanges(spark, path, v, v)
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(feed == Set((1L, "delete"), (2L, "delete")),
      s"feed must match the data path, got $feed")
  }

  test("mergeDV chains with DV deletes, compact materializes everything away") {
    val path = tmpTable()
    seed(path)
    Versioned.deleteWhereDV(spark, path, col("k") <= 5L) // mask 5 rows
    val v = Versioned.mergeDV(spark, path,
      Seq((6L, "u6"), (101L, "n101")).toDF("k", "v"), Seq("k"))
    assert(Versioned.dvDirIds(path, v).size == 2)
    val want = ((7L to 100L).map(k => (k, s"v$k")) ++
      Seq((6L, "u6"), (101L, "n101"))).toSet
    assert(Versioned.read(spark, path).as[(Long, String)]
      .collect().toSet == want)
    val vc = Versioned.compact(spark, path, 1)
    assert(Versioned.dvDirIds(path, vc).isEmpty)
    assert(Versioned.read(spark, path).as[(Long, String)]
      .collect().toSet == want)
  }

  test("txn replay is deduplicated; constraints reject violating incoming rows") {
    val path = tmpTable()
    seed(path)
    val v1 = Versioned.mergeDV(spark, path,
      Seq((10L, "u")).toDF("k", "v"), Seq("k"), txn = Some("mdv:1"))
    val v2 = Versioned.mergeDV(spark, path,
      Seq((10L, "u")).toDF("k", "v"), Seq("k"), txn = Some("mdv:1"))
    assert(v1 == v2 && Versioned.latestVersion(path) == v1)
    Versioned.addConstraint(spark, path, "k > 0")
    intercept[IllegalArgumentException] {
      Versioned.mergeDV(spark, path,
        Seq((-5L, "bad")).toDF("k", "v"), Seq("k"))
    }
    assert(!Versioned.read(spark, path).as[(Long, String)]
      .collect().exists(_._1 == -5L))
  }

  test("mergeDV loses a deterministic race and re-derives against the new head") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path,
      overwrite = false)
    var fired = false
    Versioned.prePublishHook = () => {
      if (!fired) {
        fired = true
        // racer updates the SAME key the merge targets — the retry
        // must mask the racer's row too, not the stale original only
        Versioned.commit(Seq((2L, "b-race")).toDF("k", "v"), path,
          overwrite = false): Unit
      }
    }
    try {
      val v = Versioned.mergeDV(spark, path,
        Seq((2L, "merged")).toDF("k", "v"), Seq("k"))
      assert(fired)
      assert(v == 2)
      assert(Versioned.read(spark, path).as[(Long, String)]
        .collect().toSet == Set((1L, "a"), (2L, "merged")))
    } finally Versioned.prePublishHook = () => ()
  }

  test("mergeDV of all-new keys adds no mask dir") {
    val path = tmpTable()
    seed(path)
    val v = Versioned.mergeDV(spark, path,
      Seq((500L, "n500"), (501L, "n501")).toDF("k", "v"), Seq("k"))
    assert(Versioned.dvDirIds(path, v).isEmpty)
    val dv = java.nio.file.Paths.get(path, "dv")
    assert(!java.nio.file.Files.exists(dv) || {
      val s = java.nio.file.Files.list(dv)
      try s.count() == 0L finally s.close()
    }, "the empty mask dir was not dropped")
    assert(Versioned.read(spark, path).count() == 102L)
  }

  test("job budget: mergeDV on a masked table; no mask read infers a schema") {
    val path = tmpTable()
    seed(path)
    Versioned.deleteWhereDV(spark, path, col("k") <= 5L) // masked
    val (v, jobs) = JobCounter(spark) {
      Versioned.mergeDV(spark, path, batch(), Seq("k"),
        deleteWhen = Some(col("v") === "DEAD"))
    }
    assert(Versioned.dvDirIds(path, v).size == 2)
    // measured: the mask write and the feed write with their key
    // shuffles (three jobs each) and the upsert write; the head's mask
    // applies inside the scans, so neither broadcasts it, and no job
    // re-reads the staged mask
    assert(jobs.size <= 7, jobs.mkString("\n"))
    val inferring = jobs.filter(_.isReaderJob)
    assert(inferring.isEmpty, inferring.mkString("\n"))
  }

  test("type drift in the batch fails loudly before staging") {
    val path = tmpTable()
    seed(path)
    intercept[IllegalArgumentException] {
      Versioned.mergeDV(spark, path,
        Seq((1, "x")).toDF("k", "v"), Seq("k")) // k INT, table BIGINT
    }
  }
}
