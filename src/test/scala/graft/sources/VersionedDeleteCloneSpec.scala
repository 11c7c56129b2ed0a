package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** DELETE WHERE (merge-on-read deletion vectors) and SHALLOW CLONE
  * (zero-copy fork) on the versioned table. The load-bearing claims:
  * SQL NULL-predicate rows survive a delete, a no-op delete leaves
  * the ledger alone, the stored feed carries pre-image delete rows, a
  * delete re-derives against a head a concurrent commit moved, and a
  * clone shares inodes with its source (nlink ≥ 2) yet diverges
  * independently and survives a source vacuum. */
class VersionedDeleteCloneSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String = java.nio.file.Files
    .createTempDirectory("graft_delclone").toString

  test("deleteWhere keeps NULL-predicate rows (SQL DELETE semantics) and no-ops cleanly") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, Option("a")), (2L, Option.empty[String]),
      (3L, Option("b"))).toDF("k", "v"), path, overwrite = false)
    // v = NULL row: predicate is NULL → row must be KEPT
    val r = Versioned.deleteWhereDV(spark, path, col("v") =!= "a")
    assert(r.deletedRows == 1L)
    assert(Versioned.read(spark, path).select("k")
      .as[Long].collect().toSet == Set(1L, 2L))
    // nothing matches → NO new version (a pure no-op must not
    // pollute the ledger)
    val head = Versioned.latestVersion(path)
    val r2 = Versioned.deleteWhereDV(spark, path, col("k") > 99L)
    assert(r2.version == head && r2.deletedRows == 0L)
    assert(Versioned.latestVersion(path) == head)
  }

  test("deleteWhere publishes pre-image delete rows to the stored feed") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, "keep"), (2L, "drop"), (3L, "drop"))
      .toDF("k", "v"), path, overwrite = false)
    Versioned.deleteWhereDV(spark, path, col("v") === "drop")
    val feed = Versioned.readChanges(spark, path, 1, 1)
    assert(feed.filter(col("_change_type") === "delete")
      .select("k", "v").as[(Long, String)].collect().toSet ==
      Set((2L, "drop"), (3L, "drop")))
  }

  test("deleteWhere loses the race to a concurrent commit and re-derives") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, "x"), (2L, "y")).toDF("k", "v"),
      path, overwrite = false)
    // a racer takes v1 with NEW matching rows before our publish —
    // simulate by pre-creating v1 as a real append manifest whose dir
    // we stage by committing to a scratch table and splicing
    val scratch = tmpTable()
    Versioned.commit(Seq((9L, "y")).toDF("k", "v"), scratch,
      overwrite = false)
    val scratchDir = Versioned.dataDirIds(scratch, 0).head
    val srcData = java.nio.file.Paths.get(scratch, "data", scratchDir)
    val dstData = java.nio.file.Paths.get(path, "data", scratchDir)
    java.nio.file.Files.walk(srcData).forEach { p =>
      val out = dstData.resolve(srcData.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(out)
      else java.nio.file.Files.copy(p, out): Unit
    }
    val v0Dirs = Versioned.dataDirIds(path, 0)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "_versions", "v1.json"),
      s"""{"version":1,"mode":"append","dataDirs":[${
        (v0Dirs :+ scratchDir).map(d => "\"" + d + "\"").mkString(",")
      }]}""".getBytes("UTF-8"))
    // the delete derives from whatever head it sees; the winning
    // append's row (9,"y") matches the predicate and must ALSO die
    val r = Versioned.deleteWhereDV(spark, path, col("v") === "y")
    assert(r.deletedRows == 2L, s"expected 2 deletions, got $r")
    assert(Versioned.read(spark, path).select("k").as[Long]
      .collect().toSet == Set(1L))
  }

  test("cloneTable forks zero-copy (nlink ≥ 2), diverges independently, survives source vacuum") {
    val src = tmpTable()
    val dst = tmpTable() + "/clone"
    Versioned.commit((1L to 50L).map(k => (k, s"s$k")).toDF("k", "v"),
      src, overwrite = false)
    Versioned.commit((51L to 60L).map(k => (k, s"s$k")).toDF("k", "v"),
      src, overwrite = false)
    assert(Versioned.cloneTable(src, dst) == 0)
    // same content at birth
    assert(Versioned.read(spark, dst).count() == 60)
    // zero-copy: every cloned parquet file shares its inode
    val aFile = java.nio.file.Files.walk(
      java.nio.file.Paths.get(dst, "data"))
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
    val nlink = java.nio.file.Files.getAttribute(aFile, "unix:nlink")
      .asInstanceOf[Number].intValue()
    assert(nlink >= 2, s"expected hardlink, nlink=$nlink")
    // schema + constraints ride: add one to src AFTER clone, clone
    // must NOT see it
    Versioned.addConstraint(spark, src, "k > 0")
    assert(Versioned.constraints(dst).isEmpty)
    // divergence: delete in the clone, source unchanged
    Versioned.deleteWhereDV(spark, dst, col("k") <= 50L)
    assert(Versioned.read(spark, dst).count() == 10)
    assert(Versioned.read(spark, src).count() == 60)
    // birth feed: clone v0 readable as whole-table inserts
    assert(Versioned.readChanges(spark, dst, 0, 0)
      .filter(col("_change_type") === "insert").count() == 60)
    // source vacuum can't hurt the clone: links pin inodes
    Versioned.commit(Seq((99L, "z")).toDF("k", "v"), src,
      overwrite = true)
    Versioned.vacuum(src, Versioned.latestVersion(src))
    assert(Versioned.read(spark, dst, Some(0)).count() == 60)
  }

  test("a clone's index-pruned reads open the clone's own files, even once the source is gone") {
    val src = tmpTable()
    val dst = tmpTable() + "/clone"
    Versioned.commitBloomIndexed((1L to 4000L).map(k => (k, k * 2))
      .toDF("k", "v").repartition(4, col("k")), src, "k",
      expectedPerFile = 1000L)
    Versioned.buildStatsIndex(spark, src, Seq("v"))
    Versioned.cloneTable(src, dst)
    java.nio.file.Files.walk(java.nio.file.Paths.get(src))
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(f => { java.nio.file.Files.deleteIfExists(f): Unit })
    val (eq, eqRead, eqTotal) =
      Versioned.readEqualityClustered(spark, dst, "k", 42L)
    assert(eqRead < eqTotal && eqTotal == 4, s"($eqRead, $eqTotal)")
    assert(eq.select("v").as[Long].collect().toSeq == Seq(84L))
    val (rg, _, _) = Versioned.readRangeClustered(spark, dst, "v", 10, 20)
    assert(rg.count() == 6L)
  }

  test("clone refuses a non-empty destination; repair backfills a clone's missing birth feed") {
    val src = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), src, overwrite = false)
    val dst = tmpTable() + "/c"
    Versioned.cloneTable(src, dst)
    intercept[IllegalArgumentException] {
      Versioned.cloneTable(src, dst)
    }
    // simulate the crash window: drop the birth feed, then repair
    val feed = java.nio.file.Paths.get(dst, "_changes", "cv=0")
    java.nio.file.Files.walk(feed)
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(f => { java.nio.file.Files.deleteIfExists(f): Unit })
    val repaired = Versioned.repairChangeFeed(spark, dst, Seq("k"))
    assert(repaired == Seq(0))
    assert(Versioned.readChanges(spark, dst, 0, 0).count() == 1)
  }
}
