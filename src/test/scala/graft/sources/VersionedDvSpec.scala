package graft.sources

import graft.{JobCounter, SparkSpec}
import org.apache.spark.sql.functions._

/** MERGE-ON-READ deletion vectors on the versioned table. The
  * load-bearing claims: a DV delete rewrites ZERO data files (the
  * manifest's data-dir chain — and every physical file under it — is
  * byte-identical to the parent's), reads overlay the mask exactly
  * (incl. time travel, range reads, chained deletes and appends after
  * a delete), compact() materializes the mask away, and
  * restore/vacuum/clone account for mask sidecars. The pre-image
  * change feed is checked in VersionedDeleteCloneSpec. */
class VersionedDvSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String = java.nio.file.Files
    .createTempDirectory("graft_dv").toString

  /** Every (dir, fileName, size) physical data file of version `v` —
    * the "zero files rewritten" witness. */
  private def dataFiles(path: String, v: Int): Set[(String, String, Long)] =
    Versioned.dataDirIds(path, v).flatMap { d =>
      val dir = java.nio.file.Paths.get(path, "data", d)
      val s = java.nio.file.Files.walk(dir)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .toArray.toSeq.map { p0 =>
          val p = p0.asInstanceOf[java.nio.file.Path]
          (d, dir.relativize(p).toString, java.nio.file.Files.size(p))
        }
      finally s.close()
    }.toSet

  test("a 1-row DV delete rewrites ZERO data files") {
    val path = tmpTable()
    Versioned.commit((1L to 100L).map(k => (k, k % 7)).toDF("k", "m"),
      path, overwrite = false)
    Versioned.commit((101L to 200L).map(k => (k, k % 7)).toDF("k", "m"),
      path, overwrite = false)
    val before = dataFiles(path, 1)
    val r = Versioned.deleteWhereDV(spark, path, col("k") === 150L)
    assert(r.version == 2)
    assert(r.deletedRows == 1L)
    // the physical file set is BYTE-IDENTICAL — zero rewritten files
    assert(dataFiles(path, 2) == before)
    assert(Versioned.dataDirIds(path, 2) == Versioned.dataDirIds(path, 1))
    assert(Versioned.dvDirIds(path, 2).size == 1)
    // the row is logically gone; the rest of the table is untouched
    val got = Versioned.read(spark, path).as[(Long, Long)].collect().toSet
    assert(got == (1L to 200L).filterNot(_ == 150L)
      .map(k => (k, k % 7)).toSet)
    // time travel still sees the pre-delete snapshot
    assert(Versioned.read(spark, path, Some(1)).count() == 200)
  }

  test("chained DV deletes compose and never double-count masked rows") {
    val path = tmpTable()
    Versioned.commit((1L to 50L).map(k => (k, k % 5)).toDF("k", "m"),
      path, overwrite = false)
    val r1 = Versioned.deleteWhereDV(spark, path, col("m") === 0)
    assert(r1.deletedRows == 10L)
    // overlapping predicate: m=0 rows are ALREADY masked — only the
    // m=1 rows may be counted (and masked) by the second delete
    val r2 = Versioned.deleteWhereDV(spark, path,
      col("m") === 0 || col("m") === 1)
    assert(r2.deletedRows == 10L, s"double-counted masked rows: $r2")
    assert(Versioned.dvDirIds(path, r2.version).size == 2)
    assert(Versioned.read(spark, path).as[(Long, Long)].collect().toSet ==
      (1L to 50L).filter(k => k % 5 >= 2).map(k => (k, k % 5)).toSet)
    // NULL predicate keeps the row (SQL DELETE semantics) + pure
    // no-op publishes NO commit
    val head = Versioned.latestVersion(path)
    val masks = dvEntries(path)
    val r3 = Versioned.deleteWhereDV(spark, path, col("k") > 999L)
    assert(r3.version == head && r3.deletedRows == 0L)
    assert(Versioned.latestVersion(path) == head)
    assert(Versioned.dvDirIds(path, head).size == 2) // no orphan grew in
    assert(dvEntries(path) == masks, "the empty mask dir was not dropped")
  }

  test("appends after a DV delete carry the mask; deleted rows stay dead") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      path, overwrite = false)
    Versioned.deleteWhereDV(spark, path, col("v") === "b")
    // append NEW rows — incl. one that matches the old predicate:
    // the mask is positional, not logical; the new (4,"b") must live
    Versioned.commit(Seq((4L, "b"), (5L, "d")).toDF("k", "v"),
      path, overwrite = false)
    assert(Versioned.read(spark, path).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (3L, "c"), (4L, "b"), (5L, "d")))
    assert(Versioned.dvDirIds(path, Versioned.latestVersion(path))
      .size == 1)
  }

  test("compact materializes the mask away; restore resurrects it") {
    val path = tmpTable()
    Versioned.commit((1L to 40L).map(k => (k, k % 4)).toDF("k", "m"),
      path, overwrite = false)
    Versioned.deleteWhereDV(spark, path, col("m") === 3) // v1, mask
    val want = (1L to 40L).filterNot(_ % 4 == 3).map(k => (k, k % 4)).toSet
    val v2 = Versioned.compact(spark, path, targetFiles = 1)
    assert(Versioned.dvDirIds(path, v2).isEmpty,
      "compact must clear the mask chain")
    assert(Versioned.read(spark, path).as[(Long, Long)]
      .collect().toSet == want)
    // restore BACK to the masked version: dvDirs ride the manifest
    val v3 = Versioned.restore(path, 1)
    assert(Versioned.dvDirIds(path, v3).size == 1)
    assert(Versioned.read(spark, path).as[(Long, Long)]
      .collect().toSet == want)
  }

  test("vacuum keeps live mask dirs, reclaims unreferenced ones") {
    val path = tmpTable()
    Versioned.commit((1L to 20L).map(k => (k, k % 2)).toDF("k", "m"),
      path, overwrite = false)
    Versioned.deleteWhereDV(spark, path, col("m") === 0) // v1: mask A
    Versioned.compact(spark, path, 1) // v2: mask cleared
    Versioned.deleteWhereDV(spark, path, col("k") === 1L) // v3: mask B
    val dvA = Versioned.dvDirIds(path, 1).head
    val dvB = Versioned.dvDirIds(path, 3).head
    Versioned.vacuum(path, retainFrom = 2)
    val left = dvEntries(path)
    assert(left == Set(dvB), s"expected only $dvB to survive, got $left")
    assert(dvA != dvB)
    // the surviving snapshot still reads correctly
    assert(Versioned.read(spark, path).count() == 9)
  }

  test("DV mask composes with clustered range reads (file skipping + pushed filters)") {
    // row identities must be ABSOLUTE file positions: a range read
    // applies a pushed predicate and prunes files, and the mask —
    // built from an unfiltered scan — must still line up
    val path = tmpTable()
    val df = spark.range(0, 1000).selectExpr("id AS k",
      "CAST(id % 100 AS DOUBLE) AS x", "CAST(id / 10 AS DOUBLE) AS y")
    Versioned.commitClustered(df, path, "x", "y", files = 4,
      overwrite = false)
    Versioned.deleteWhereDV(spark, path,
      col("x") >= 20.0 && col("x") < 30.0 && col("k") % 2 === 0)
    val (got, filesRead, filesTotal) =
      Versioned.readRangeClustered(spark, path, "x", 10.0, 40.0)
    assert(filesRead < filesTotal, "range read should skip files")
    val want = (0L until 1000L)
      .filter(k => k % 100 >= 10 && k % 100 <= 40)
      .filterNot(k => k % 100 >= 20 && k % 100 < 30 && k % 2 == 0)
      .toSet
    assert(got.select("k").as[Long].collect().toSet == want)
  }

  test("txn replay of a DV delete is deduplicated by the ledger") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, 0L), (2L, 1L)).toDF("k", "m"),
      path, overwrite = false)
    val r1 = Versioned.deleteWhereDV(spark, path, col("m") === 1,
      txn = Some("dv:batch:7"))
    val r2 = Versioned.deleteWhereDV(spark, path, col("m") === 1,
      txn = Some("dv:batch:7"))
    assert(r2.version == r1.version && r2.deletedRows == -1L)
    assert(Versioned.latestVersion(path) == r1.version)
  }

  test("DV delete loses a deterministic race and re-derives (retry loop exercised)") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, "x"), (2L, "y")).toDF("k", "v"),
      path, overwrite = false)
    // inject a racing APPEND (carrying a matching row) INSIDE the
    // probe→publish window via the test hook: the first publish
    // attempt hits FileAlreadyExists and the retry must re-derive
    // against the new head, deleting the racer's row too
    var fired = false
    Versioned.prePublishHook = () => {
      if (!fired) {
        fired = true
        Versioned.commit(Seq((9L, "y")).toDF("k", "v"), path,
          overwrite = false): Unit
      }
    }
    try {
      val r = Versioned.deleteWhereDV(spark, path, col("v") === "y")
      assert(fired, "race hook never fired")
      assert(r.deletedRows == 2L, s"retry did not re-derive: $r")
      // ledger: v0 seed commit, v1 racer append, v2 the delete
      assert(r.version == 2)
      assert(Versioned.read(spark, path).select("k").as[Long]
        .collect().toSet == Set(1L))
      // the stale first-attempt mask was dropped, not leaked into
      // the manifest chain
      assert(Versioned.dvDirIds(path, r.version).size == 1)
    } finally Versioned.prePublishHook = () => ()
  }

  test("point-lookup DML prunes the mask scan on the bloom sidecar; soundness across mixed dirs") {
    val path = tmpTable()
    // v0: bloom-indexed, keys hash-spread over 8 files
    Versioned.commitBloomIndexed((1L to 4000L).map(i => (i, i % 13))
      .toDF("k", "v").repartition(8, col("k")), path, "k",
      expectedPerFile = 1000L, overwrite = false)
    // v1: a PLAIN append also carrying k=42 — un-indexed dirs keep
    // every file, so the pruned mask MUST still cover this row
    Versioned.commit(Seq((42L, 99L)).toDF("k", "v"), path,
      overwrite = false)
    Versioned.lastDmlScan.set(("", -1, -1))
    val r = Versioned.deleteWhereDV(spark, path, col("k") === 42L)
    val (p, read, tot) = Versioned.lastDmlScan.get()
    assert(p == path && read < tot && read > 0,
      s"expected a bloom-pruned mask scan, got ($p, $read, $tot)")
    assert(r.deletedRows == 2L, s"both k=42 rows (indexed dir + plain " +
      s"append) must mask, got ${r.deletedRows}")
    assert(Versioned.read(spark, path).filter(col("k") === 42L)
      .count() == 0)
    assert(Versioned.read(spark, path).count() == 4000L + 1L - 2L)
    // an equality under OR must NOT prune (it does not bound the
    // matching files) — the full-scan fallback still deletes exactly
    Versioned.lastDmlScan.set(("", -1, -1))
    val r2 = Versioned.deleteWhereDV(spark, path,
      col("k") === 7L || col("v") === 12L)
    assert(Versioned.lastDmlScan.get()._2 == -1,
      "an OR-guarded equality must not claim the pruned path")
    assert(r2.deletedRows ==
      (1L to 4000L).count(i => i != 42L && (i == 7L || i % 13 == 12L)))
    // UPDATE rides the same pruned scan: post-image lands, accounting set
    Versioned.lastDmlScan.set(("", -1, -1))
    val r3 = Versioned.updateWhereDV(spark, path, col("k") === 100L,
      Seq("v" -> lit(777L)))
    assert(Versioned.lastDmlScan.get()._2 > 0 &&
      Versioned.lastDmlScan.get()._2 < Versioned.lastDmlScan.get()._3)
    assert(r3.deletedRows == 1L)
    assert(Versioned.read(spark, path).filter(col("k") === 100L)
      .select("v").head.getLong(0) == 777L)
  }

  test("clone of a masked table: zero-copy mask, repair writes the masked birth feed") {
    val src = tmpTable()
    val dst = tmpTable() + "/clone"
    Versioned.commit((1L to 20L).map(k => (k, k % 2)).toDF("k", "m"),
      src, overwrite = false)
    Versioned.deleteWhereDV(spark, src, col("m") === 0)
    Versioned.cloneTable(src, dst)
    // masked content arrives; mask files are links (nlink ≥ 2)
    assert(Versioned.read(spark, dst).count() == 10)
    val dvFile = {
      val s = java.nio.file.Files.walk(
        java.nio.file.Paths.get(dst, "dv"))
      try s.filter(p => p.toString.endsWith(".parquet"))
        .findFirst().get()
      finally s.close()
    }
    assert(java.nio.file.Files.getAttribute(dvFile, "unix:nlink")
      .asInstanceOf[Number].intValue() >= 2)
    // the birth feed is a documented gap (links would resurrect
    // masked rows); repair backfills the MASKED snapshot
    intercept[RuntimeException] {
      Versioned.readChanges(spark, dst, 0, 0).collect()
    }
    assert(Versioned.repairChangeFeed(spark, dst, Seq("k")) == Seq(0))
    val feed = Versioned.readChanges(spark, dst, 0, 0)
    assert(feed.filter(col("_change_type") === "insert").count() == 10)
  }

  /** Entry names under the table's `dv/` dir. */
  private def dvEntries(path: String): Set[String] = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(path, "dv"))
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  test("the count a DV delete/update returns is the committed mask, the feed and the snapshot change") {
    // a nondeterministic predicate: a second evaluation would pick
    // other rows, so every figure must come from the one mask write
    val path = tmpTable()
    Versioned.commit((1L to 400L).map(k => (k, 0L)).toDF("k", "v"),
      path, overwrite = false)
    Versioned.commit((401L to 800L).map(k => (k, 0L)).toDF("k", "v"),
      path, overwrite = false)
    def maskRows(v: Int): Long = spark.read
      .parquet(s"$path/dv/${Versioned.dvDirIds(path, v).last}").count()
    def feedRows(v: Int, ct: String): Long = Versioned
      .readChanges(spark, path, v, v)
      .filter(col("_change_type") === ct).count()
    def snap(v: Int) = Versioned.read(spark, path, Some(v))

    val d = Versioned.deleteWhereDV(spark, path, rand() < 0.5)
    assert(d.deletedRows > 0L && d.deletedRows < 800L)
    assert(maskRows(d.version) == d.deletedRows)
    assert(feedRows(d.version, "delete") == d.deletedRows)
    assert(snap(d.version - 1).count() - snap(d.version).count() ==
      d.deletedRows)

    val u = Versioned.updateWhereDV(spark, path, rand() < 0.5,
      Seq("v" -> lit(1L)))
    assert(u.deletedRows > 0L)
    assert(maskRows(u.version) == u.deletedRows)
    assert(feedRows(u.version, "update") == u.deletedRows)
    assert(snap(u.version - 1).exceptAll(snap(u.version)).count() ==
      u.deletedRows)
    assert(snap(u.version).filter(col("v") === 1L).count() ==
      u.deletedRows)
  }

  test("job budget: a masked read and a DV delete on a masked table; no mask read infers a schema") {
    val path = tmpTable()
    Versioned.commit((1L to 200L).map(k => (k, k % 5)).toDF("k", "m"),
      path, overwrite = false)
    Versioned.commit((201L to 400L).map(k => (k, k % 5)).toDF("k", "m"),
      path, overwrite = false)
    val (_, unmaskedRead) = JobCounter(spark) {
      Versioned.read(spark, path).collect()
    }
    val (_, unmaskedCount) = JobCounter(spark) {
      Versioned.read(spark, path).count()
    }
    Versioned.deleteWhereDV(spark, path, col("m") === 0) // masked
    val (rows, readJobs) = JobCounter(spark) {
      Versioned.read(spark, path).collect()
    }
    assert(rows.length == 320)
    val (n, countJobs) = JobCounter(spark) {
      Versioned.read(spark, path).count()
    }
    assert(n == 320L)
    val (r, deleteJobs) = JobCounter(spark) {
      Versioned.deleteWhereDV(spark, path, col("m") === 1)
    }
    assert(r.deletedRows == 80L)
    val (u, updateJobs) = JobCounter(spark) {
      Versioned.updateWhereDV(spark, path, col("m") === 2,
        Seq("m" -> lit(9L)))
    }
    assert(u.deletedRows == 80L)
    // measured: the mask applies inside the scan, so a masked read or
    // count runs the jobs an unmasked one does (1 and 2); the delete
    // is the mask write and the feed write, the update adds its
    // post-image write — no mask scan, no broadcast, and no job
    // re-reads the staged mask
    assert(readJobs.size == 1 && readJobs.size == unmaskedRead.size,
      readJobs.mkString("\n"))
    assert(countJobs.size == 2 && countJobs.size == unmaskedCount.size,
      countJobs.mkString("\n"))
    assert(deleteJobs.size <= 2, deleteJobs.mkString("\n"))
    assert(updateJobs.size <= 3, updateJobs.mkString("\n"))
    val inferring = (readJobs ++ countJobs ++ deleteJobs ++ updateJobs)
      .filter(_.isReaderJob)
    assert(inferring.isEmpty, inferring.mkString("\n"))
  }

  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }
}
