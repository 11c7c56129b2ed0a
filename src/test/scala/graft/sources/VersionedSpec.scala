package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VersionedSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String = java.nio.file.Files
    .createTempDirectory("graft_versioned").toString

  test("append/overwrite commits version in order; reads are snapshots with time travel") {
    val path = tmpTable()
    assert(Versioned.latestVersion(path) == -1)
    val v0 = Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      path, overwrite = false)
    val v1 = Versioned.commit(Seq((3L, "c")).toDF("k", "v"),
      path, overwrite = false)
    val v2 = Versioned.commit(Seq((9L, "z")).toDF("k", "v"),
      path, overwrite = true)
    assert((v0, v1, v2) == ((0, 1, 2)))
    assert(Versioned.latestVersion(path) == 2)
    // latest = the overwrite snapshot
    assert(Versioned.read(spark, path).as[(Long, String)].collect()
      .toSet == Set((9L, "z")))
    // time travel: v1 composes v0 + append, v0 is the original
    assert(Versioned.read(spark, path, Some(1)).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(Versioned.read(spark, path, Some(0)).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("a commit racing a taken version retries against the new head") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), path, overwrite = false)
    // simulate a concurrent winner: v1 appears between this commit's
    // head read and its publish — pre-creating it forces the loser
    // path (manifest content = an empty append so retries compose)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "_versions", "v1.json"),
      """{"version":1,"mode":"append","dataDirs":[]}""".getBytes("UTF-8"))
    val got = Versioned.commit(Seq((2L, "b")).toDF("k", "v"),
      path, overwrite = false)
    assert(got == 2, s"loser should land at v2, landed at v$got")
    // the retried append composed against the winner's (empty) head,
    // which itself chains to nothing — so v2 = winner dirs + new data
    assert(Versioned.read(spark, path, Some(2)).as[(Long, String)]
      .collect().toSet == Set((2L, "b")))
    // v0 still time-travels
    assert(Versioned.read(spark, path, Some(0)).as[(Long, String)]
      .collect().toSet == Set((1L, "a")))
  }

  test("real concurrent committers: every append lands exactly once under a live race") {
    val path = tmpTable()
    Versioned.commit(Seq((0L, "base")).toDF("k", "v"), path, overwrite = false)
    val writers = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val gate = new java.util.concurrent.CountDownLatch(1)
    try {
      val futures = (1 to writers).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            gate.await() // release all writers into the race at once
            Versioned.commit(Seq((i.toLong, s"w$i")).toDF("k", "v"),
              path, overwrite = false)
          }
        })
      }
      gate.countDown()
      val versions = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      // every writer won SOME version, all distinct, exactly 1..writers
      assert(versions.toSet == (1 to writers).toSet,
        s"expected versions 1..$writers, got $versions")
    } finally pool.shutdownNow()
    assert(Versioned.latestVersion(path) == writers)
    // head composes base + every writer's rows exactly once — no lost
    // update, no double-apply from a retried loser
    val head = Versioned.read(spark, path).as[(Long, String)].collect()
    assert(head.length == writers + 1, s"row dup/loss: ${head.toSeq}")
    assert(head.toSet ==
      (Set((0L, "base")) ++ (1 to writers).map(i => (i.toLong, s"w$i"))))
    // and every intermediate version is still a consistent snapshot:
    // v_k holds exactly k writer rows + base (append-only chain)
    for (k <- 0 to writers)
      assert(Versioned.read(spark, path, Some(k)).count() == k + 1,
        s"v$k snapshot size")
  }

  test("snapshot reads resolve the manifest first: a later overwrite does not tear them") {
    val path = tmpTable()
    Versioned.commit(spark.range(0, 100).select(col("id").as("k"),
      lit("x").as("v")), path, overwrite = false)
    val snap = Versioned.read(spark, path) // resolved at v0
    Versioned.commit(Seq((-1L, "y")).toDF("k", "v"), path, overwrite = true)
    // the already-resolved snapshot still reads v0's files
    assert(snap.count() == 100)
    assert(Versioned.read(spark, path).count() == 1)
  }

  test("vacuum reclaims unreachable data dirs but keeps retained history readable") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), path, overwrite = false)
    Versioned.commit(Seq((2L, "b")).toDF("k", "v"), path, overwrite = true)
    Versioned.commit(Seq((3L, "c")).toDF("k", "v"), path, overwrite = false)
    Versioned.vacuum(path, retainFrom = 1)
    // v0's data dir (only referenced below the retain floor) is gone
    val dataDirs = java.nio.file.Files
      .list(java.nio.file.Paths.get(path, "data")).count()
    assert(dataDirs == 2, s"expected 2 retained data dirs, got $dataDirs")
    assert(Versioned.read(spark, path, Some(2)).as[(Long, String)]
      .collect().toSet == Set((2L, "b"), (3L, "c")))
    assert(Versioned.read(spark, path, Some(1)).as[(Long, String)]
      .collect().toSet == Set((2L, "b")))
    intercept[Exception] { Versioned.read(spark, path, Some(0)).collect() }
  }

  test("vacuumOlderThan: age-based retention keeps stamped versions at/after the cutoff, never breaks the head") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), path, overwrite = false)
    Versioned.commit(Seq((2L, "b")).toDF("k", "v"), path, overwrite = false)
    Thread.sleep(5) // millis stamps: order the clock reads
    val cutoff = System.currentTimeMillis()
    Thread.sleep(5)
    Versioned.commit(Seq((3L, "c")).toDF("k", "v"), path, overwrite = false)
    Versioned.commit(Seq((4L, "d")).toDF("k", "v"), path, overwrite = false)
    val oldest = Versioned.vacuumOlderThan(path, cutoff, force = true)
    assert(oldest == 2)
    // every version at/after the cutoff stays readable...
    assert(Versioned.read(spark, path, Some(2)).count() == 3)
    assert(Versioned.read(spark, path, Some(3)).count() == 4)
    // ...time travel below it fails loudly...
    intercept[Exception] { Versioned.read(spark, path, Some(0)).collect() }
    intercept[Exception] { Versioned.read(spark, path, Some(1)).collect() }
    // ...and the append lineage keeps the OLD data dirs alive by
    // reference (reclaim is manifest-first; bytes follow liveness)
    assert(Versioned.read(spark, path).as[(Long, String)]
      .collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // a future cutoff clamps to the head — the live table always
    // survives its own retention policy
    val clamped = Versioned.vacuumOlderThan(
      path, System.currentTimeMillis() + 3600000L, force = true)
    assert(clamped == Versioned.latestVersion(path))
    assert(Versioned.read(spark, path).count() == 4)
    // feed trims consistently: cv dirs below the floor are gone and
    // the feed epoch still resolves at the head
    assert(!java.nio.file.Files.isDirectory(
      Versioned.changeDirPath(path, 0)))
    assert(Versioned.feedEpoch(path, clamped) >= 0)
  }

  test("changes classifies insert/delete/update/unchanged between versions") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("k", "v", "n"), path, overwrite = false)
    // v1: 1 unchanged, 2 revalued, 3 dropped, 4 new
    Versioned.commit(Seq((1L, "a", 10), (2L, "B", 20), (4L, "d", 40))
      .toDF("k", "v", "n"), path, overwrite = true)
    val got = Versioned.changes(spark, path, 0, 1, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "update",
      3L -> "delete", 4L -> "insert"))
  }

  test("a corrupt manifest fails loudly and does not poison other versions") {
    // fail-stop contract for the commit log: a torn/garbage manifest
    // must throw on ITS version only — every other version has its
    // own manifest file and stays readable (including the latest,
    // whose resolution scans file NAMES, not contents)
    val path = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), path, overwrite = false)
    Versioned.commit(Seq((2L, "b")).toDF("k", "v"), path, overwrite = false)
    Versioned.commit(Seq((3L, "c")).toDF("k", "v"), path, overwrite = false)
    val v1 = java.nio.file.Paths.get(path, "_versions", "v1.json")
    java.nio.file.Files.writeString(v1, "{\"garbage\": tru")
    intercept[Exception] { Versioned.read(spark, path, Some(1)).collect() }
    assert(Versioned.read(spark, path, Some(0)).count() == 1)
    assert(Versioned.read(spark, path, Some(2)).count() == 3)
    assert(Versioned.read(spark, path).count() == 3) // latest = v2
  }

  test("changeFeed carries new values for insert/update, nulls for delete, omits unchanged") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("k", "v", "n"), path, overwrite = false)
    Versioned.commit(Seq((1L, "a", 10), (2L, "B", 99), (4L, "d", 40))
      .toDF("k", "v", "n"), path, overwrite = true)
    val got = Versioned.changeFeed(spark, path, 0, 1, Seq("k"))
      .select(col("k"), col("v"), col("n"), col("change_type"))
      .as[(Long, Option[String], Option[Int], String)].collect().toSet
    assert(got == Set(
      (2L, Some("B"), Some(99), "update"),   // NEW values, not v0's
      (3L, None, None, "delete"),            // key only
      (4L, Some("d"), Some(40), "insert")))  // 1L unchanged → absent
  }

  test("schema evolution: appended columns null-fill older files; type drift fails loudly") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), path, overwrite = false)
    // append ADDS column n: the head schema evolves, v0's file
    // null-fills n under the manifest-carried read schema
    Versioned.commit(Seq((2L, "b", 20)).toDF("k", "v", "n"),
      path, overwrite = false)
    val head = Versioned.read(spark, path)
    assert(head.columns.toSeq == Seq("k", "v", "n"))
    assert(head.as[(Long, String, Option[Int])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", Some(20))))
    // time travel to v0 shows the ORIGINAL two-column schema
    assert(Versioned.read(spark, path, Some(0)).columns.toSeq ==
      Seq("k", "v"))
    // an append DROPPING a column keeps the table schema (the file
    // simply null-fills what it does not carry)
    Versioned.commit(Seq((3L, "c")).toDF("k", "v"), path, overwrite = false)
    val h2 = Versioned.read(spark, path)
    assert(h2.columns.toSeq == Seq("k", "v", "n"))
    assert(h2.filter(col("k") === 3L).select("n").as[Option[Int]]
      .collect().toSeq == Seq(None))
    // same-name type drift is rejected, not silently coerced —
    // int→long would now be a legal WIDENING (VersionedEvolveSpec),
    // so the drift case is an off-ladder string arrival
    val err = intercept[RuntimeException] {
      Versioned.commit(Seq((4L, "not-an-int")).toDF("k", "n"), path,
        overwrite = false)
    }
    assert(err.getMessage.contains("type drift"))
    // an OVERWRITE resets the schema baseline
    Versioned.commit(Seq((5L, 1.5)).toDF("k", "score"), path,
      overwrite = true)
    assert(Versioned.read(spark, path).columns.toSeq == Seq("k", "score"))
  }

  test("compact rewrites the head as one commit; history and rows survive") {
    val path = tmpTable()
    (1 to 8).foreach(i => Versioned.commit(
      Seq((i.toLong, s"r$i")).toDF("k", "v"), path, overwrite = false))
    val headBefore = Versioned.latestVersion(path)
    assert(Versioned.readManifestDirCount(path, headBefore) == 8)
    val vc = Versioned.compact(spark, path, targetFiles = 1)
    assert(vc == headBefore + 1)
    // one data dir at the head, same rows
    assert(Versioned.readManifestDirCount(path, vc) == 1)
    assert(Versioned.read(spark, path).as[(Long, String)].collect().toSet ==
      (1 to 8).map(i => (i.toLong, s"r$i")).toSet)
    // pre-compaction history still time-travels
    assert(Versioned.read(spark, path, Some(headBefore)).count() == 8)
    assert(Versioned.read(spark, path, Some(2)).count() == 3)
  }

  test("compact loses a racing append and re-derives — the append is never dropped") {
    val path = tmpTable()
    (1 to 3).foreach(i => Versioned.commit(
      Seq((i.toLong, s"r$i")).toDF("k", "v"), path, overwrite = false))
    // inject a concurrent APPEND inside compact's read→publish window:
    // the rewrite derived from the pre-append head, so its publish
    // must lose and re-derive — publishing the stale snapshot at
    // head+1 would silently drop the racer's row
    var fired = false
    Versioned.prePublishHook = () => {
      if (!fired) {
        fired = true
        Versioned.commit(Seq((99L, "raced")).toDF("k", "v"), path,
          overwrite = false): Unit
      }
    }
    try {
      val vc = Versioned.compact(spark, path, targetFiles = 1)
      assert(fired, "race hook never fired")
      assert(Versioned.read(spark, path, Some(vc)).as[(Long, String)]
        .collect().toSet ==
        ((1 to 3).map(i => (i.toLong, s"r$i")).toSet + ((99L, "raced"))),
        "the racing append must survive the compaction")
      assert(Versioned.readManifestDirCount(path, vc) == 1)
    } finally Versioned.prePublishHook = () => ()
  }

  test("auto-index: appends to an indexed table inherit the head's sidecars, no CALL needed") {
    val path = tmpTable()
    // v0: bloom-indexed on k AND stats-indexed on v
    Versioned.commitBloomIndexed((1L to 4000L).map(i => (i, i * 2))
      .toDF("k", "v").repartition(4, col("k")), path, "k",
      expectedPerFile = 2000L, overwrite = false)
    Versioned.buildStatsIndex(spark, path, Seq("v"))
    // a PLAIN append: the new dir's _files.json must name BOTH
    // indexes at commit time (pre-r15 it sat un-indexed until a
    // manual CALL index), the bloom sized as the head's
    Versioned.commit((4001L to 8000L).map(i => (i, i * 2))
      .toDF("k", "v").repartition(4, col("k")), path,
      overwrite = false)
    val newDir = Versioned.dataDirIds(path, 1).last
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(
      Clustered.bloomPath(s"$path/data/$newDir", "k"))),
      "appended dir did not inherit the bloom sidecar")
    val facts = Versioned.dirFacts(path, newDir)
    assert(facts.blooms.get("k").map(_.expectedPerFile).contains(2000L),
      "appended dir did not inherit the bloom index")
    assert(facts.stats == Seq("v") &&
      facts.files.forall(_.bounds("v")._1.isDefined),
      "appended dir did not inherit the stats index")
    // the point lookup prunes files of the NEW dir too — a key in
    // the appended range skips most of both dirs' files
    val (df, read, tot) = Versioned.readEqualityClustered(
      spark, path, "k", 6000L)
    assert(read < tot, s"no files skipped ($read/$tot)")
    assert(df.select("v").as[Long].head() == 12000L)
    // range skipping on the inherited stats index covers the append
    val (df2, r2, t2) = Versioned.readRangeClustered(
      spark, path, "v", 15000.0, 15010.0)
    assert(r2 < t2, s"stats index did not skip ($r2/$t2)")
    assert(df2.count() == 6) // v = 15000..15010 even
    // merge-dv's upsert dir inherits too
    Versioned.mergeDV(spark, path,
      Seq((2L, 999L), (9999L, 9L)).toDF("k", "v"), Seq("k"))
    val mergeDir = Versioned.dataDirIds(path, 2).last
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(
      Clustered.bloomPath(s"$path/data/$mergeDir", "k"))),
      "merge-dv dir did not inherit the bloom sidecar")
    assert(Versioned.dirFacts(path, mergeDir).blooms.contains("k"),
      "merge-dv dir did not inherit the bloom index")
    assert(Versioned.read(spark, path)
      .filter(col("k") === 2L).select("v").as[Long].head() == 999L)
  }

  test("clusterRewrite (CALL cluster's engine path) loses a racing append and re-derives") {
    val path = tmpTable()
    Versioned.commit((1L to 100L).map(i => (i, i % 7)).toDF("a", "b"),
      path, overwrite = false)
    var fired = false
    Versioned.prePublishHook = () => {
      if (!fired) {
        fired = true
        Versioned.commit(Seq((999L, 999L)).toDF("a", "b"), path,
          overwrite = false): Unit
      }
    }
    try {
      val vc = Versioned.clusterRewrite(spark, path, "a", "b", files = 2)
      assert(fired, "race hook never fired")
      val rows = Versioned.read(spark, path, Some(vc))
        .as[(Long, Long)].collect().toSet
      assert(rows.contains((999L, 999L)),
        "the racing append must survive the cluster rewrite")
      assert(rows.size == 101)
      // the rewrite still carries its skipping index
      val (_, read, tot) =
        Versioned.readRangeClustered(spark, path, "a", 1, 5)
      assert(read <= tot)
    } finally Versioned.prePublishHook = () => ()
  }

  test("restore republishes an old version's dirs: metadata-only, history intact, vacuum-safe") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      path, overwrite = false)
    Versioned.commit(Seq((3L, "BAD")).toDF("k", "v"),
      path, overwrite = false)
    val dirsBefore = java.nio.file.Files
      .list(java.nio.file.Paths.get(path, "data")).count()
    val v2 = Versioned.restore(path, 0)
    assert(v2 == 2)
    // metadata-only: no new data dir was written
    assert(java.nio.file.Files
      .list(java.nio.file.Paths.get(path, "data")).count() == dirsBefore)
    // head == v0's content; the bad v1 still time-travels
    assert(Versioned.read(spark, path).as[(Long, String)].collect()
      .toSet == Set((1L, "a"), (2L, "b")))
    assert(Versioned.read(spark, path, Some(1)).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b"), (3L, "BAD")))
    // schema baseline and appendability survive the rollback
    Versioned.commit(Seq((4L, "d")).toDF("k", "v"), path,
      overwrite = false)
    assert(Versioned.read(spark, path).as[(Long, String)].collect()
      .toSet == Set((1L, "a"), (2L, "b"), (4L, "d")))
    // vacuum composes: the restore manifest keeps v0's dirs alive
    // even when retention trims everything below the restore commit
    Versioned.vacuum(path, retainFrom = 2)
    assert(Versioned.read(spark, path).as[(Long, String)].collect()
      .toSet == Set((1L, "a"), (2L, "b"), (4L, "d")))
    intercept[Exception] { Versioned.read(spark, path, Some(1)).collect() }
    // a restore commit is not representable as a row-change feed
    val err = intercept[Exception] {
      Versioned.readChanges(spark, path, 2, 2).collect()
    }
    assert(err.getMessage.contains("restore"))
  }

  test("applyChangeFeed converges a versioned mirror to the source head") {
    // source: v0 -> v1 with an update, a delete, and an insert
    val src = tmpTable()
    Versioned.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      src, overwrite = false)
    Versioned.commit(Seq((1L, "a"), (2L, "B2"), (4L, "d")).toDF("k", "v"),
      src, overwrite = true)
    // mirror seeded from v0, then the applyable feed MERGEs as one
    // versioned commit with a txn token
    val mirror = tmpTable()
    Versioned.commit(Versioned.read(spark, src, Some(0)), mirror,
      overwrite = false)
    val feed = Versioned.changeFeed(spark, src, 0, 1, Seq("k"))
    val v = Versioned.applyChangeFeed(spark, mirror, feed, Seq("k"),
      txn = Some("app:0"))
    assert(v == 1)
    assert(Versioned.read(spark, mirror).as[(Long, String)].collect()
      .toSet == Versioned.read(spark, src, Some(1))
        .as[(Long, String)].collect().toSet)
    // replaying the same batch (same txn) is a no-op returning the
    // committed version — exactly-once, not merely convergent
    assert(Versioned.applyChangeFeed(spark, mirror, feed, Seq("k"),
      txn = Some("app:0")) == 1)
    assert(Versioned.latestVersion(mirror) == 1)
  }

  test("merge never drops a concurrent append: stale base aborts, retry re-derives") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), path, overwrite = false)
    // a racer lands an append INSIDE the merge's derive→publish
    // window: the first publish must lose, and the retry re-derives
    // from the new head instead of publishing stale work
    var fired = false
    Versioned.prePublishHook = () => {
      if (!fired) {
        fired = true
        Versioned.commit(Seq((5L, "racer")).toDF("k", "v"), path,
          overwrite = false): Unit
      }
    }
    try {
      val v = Versioned.mergeDV(spark, path,
        Seq((2L, "m")).toDF("k", "v"), Seq("k"))
      assert(fired, "race hook never fired")
      assert(v == 2)
      // both the racer's row and the merge effect survive
      assert(Versioned.read(spark, path).as[(Long, String)].collect()
        .toSet == Set((1L, "a"), (5L, "racer"), (2L, "m")))
    } finally Versioned.prePublishHook = () => ()
  }

  test("clustered commits carry their index: time travel with file skipping") {
    val path = tmpTable()
    def grid(n: Int) = (0 until n).map { i =>
      (i.toLong, (i * 7919L) % 10000, (i * 104729L) % 10000)
    }.toDF("id", "x", "y").repartition(4)
    // v0: a clustered commit — data dir in z-layout, stats inside it
    assert(Versioned.commitClustered(grid(8000), path, "x", "y",
      files = 8, overwrite = false) == 0)
    val (d0, k0, t0) =
      Versioned.readRangeClustered(spark, path, "y", 100, 600)
    assert(t0 == 8 && k0 < t0,
      s"v0 read $k0 of $t0 files — no skipping")
    val want0 = grid(8000).filter(col("y").between(100, 600)).count()
    assert(d0.count() == want0)

    // v1: a PLAIN append — mixed dirs: the indexed dir still prunes,
    // the un-indexed dir keeps all of its files (never skipped blind)
    val plain = (0 until 1000).map(i =>
      (100000L + i, (i * 13L) % 10000, 300L)).toDF("id", "x", "y")
      .repartition(4)
    Versioned.commit(plain, path, overwrite = false)
    val (d1, k1, t1) =
      Versioned.readRangeClustered(spark, path, "y", 100, 600)
    assert(t1 == t0 + 4, s"plain dir files uncounted: $t1")
    assert(k1 < t1 && k1 >= k0 + 4,
      s"v1 kept $k1 of $t1 — plain dir must be fully kept")
    assert(d1.count() == want0 + 1000) // appended y=300 rows all match

    // v2: clustered OVERWRITE re-clusters everything — index reset
    assert(Versioned.commitClustered(Versioned.read(spark, path), path,
      "x", "y", files = 8, overwrite = true) == 2)
    val (d2, k2, t2) =
      Versioned.readRangeClustered(spark, path, "y", 100, 600)
    assert(t2 == 8 && k2 < t2)
    assert(d2.count() == want0 + 1000)

    // time travel: v0 prunes with ITS OWN index, rows as of v0
    val (d0b, k0b, t0b) =
      Versioned.readRangeClustered(spark, path, "y", 100, 600, Some(0))
    assert(t0b == 8 && k0b == k0)
    assert(d0b.count() == want0)
  }

  test("bloom-indexed commits: point lookups skip files; appends and mixed indexes stay sound") {
    val path = tmpTable()
    // v0: keys hash-spread over 8 files — min/max cannot prune this
    // layout, the per-file bloom can
    assert(Versioned.commitBloomIndexed((1L to 4000L)
      .map(i => (i, i % 13)).toDF("k", "v").repartition(8, col("k")),
      path, "k", expectedPerFile = 1000L, overwrite = false) == 0)
    val (d0, k0, t0) = Versioned.readEqualityClustered(
      spark, path, "k", 42L)
    assert(t0 == 8 && k0 < t0 && k0 > 0,
      s"v0 read $k0 of $t0 files — no bloom skipping")
    assert(d0.as[(Long, Long)].collect().toSeq == Seq((42L, 42L % 13)))
    // v1: plain append — its un-indexed dir keeps every file, rows
    // from both dirs surface
    Versioned.commit(Seq((42L, 99L)).toDF("k", "v"), path,
      overwrite = false)
    val (d1, k1, t1) = Versioned.readEqualityClustered(
      spark, path, "k", 42L)
    assert(t1 > t0 && k1 > k0, s"plain dir files must all stay: $k1/$t1")
    assert(d1.as[(Long, Long)].collect().toSet ==
      Set((42L, 42L % 13), (42L, 99L)))
    // an absent key reads ZERO files (bloom: definitely not here) but
    // still returns an empty frame with the right schema
    val (dAbsent, kAbsent, _) = Versioned.readEqualityClustered(
      spark, path, "k", -7L)
    assert(dAbsent.count() == 0 && kAbsent <= 1 + 1,
      s"absent key read $kAbsent files") // ≤ fp allowance + plain dir
  }

  test("stats prune is column-tolerant: a sidecar indexing OTHER columns counts as un-indexed") {
    val path = tmpTable()
    // v0 indexes x; v1 indexes y — a range read on x must prune v0's
    // dir on its sidecar and keep ALL of v1's files (its sidecar has
    // no lo_x/hi_x: un-indexed for x, not an error)
    Versioned.commitIndexed((0 until 2000).map(i =>
      (i.toLong, i.toLong, (i * 3L) % 100)).toDF("id", "x", "y")
      .repartitionByRange(4, col("x")), path, Seq("x"),
      overwrite = false)
    Versioned.commitIndexed((0 until 1000).map(i =>
      (10000L + i, 5L, i.toLong)).toDF("id", "x", "y")
      .repartitionByRange(4, col("y")), path, Seq("y"),
      overwrite = false)
    val (df, kept, total) = Versioned.readRangeClustered(
      spark, path, "x", 0, 99)
    assert(total == 8 && kept == 1 + 4,
      s"expected 1 x-pruned + 4 unpruned files, kept $kept of $total")
    assert(df.count() == 100 + 1000) // x∈[0,99] of v0 + all of v1 (x=5)
  }

  test("dropConstraint: exact-text metadata commit, loud when absent, gate provably gone") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, 10L)).toDF("k", "v"), path,
      overwrite = false) // v0
    assert(Versioned.addConstraint(spark, path, "v >= 0") == 1)
    intercept[Exception] {
      Versioned.commit(Seq((2L, -1L)).toDF("k", "v"), path,
        overwrite = false) }
    // wrong text: loud, names the live ledger
    val e = intercept[IllegalArgumentException] {
      Versioned.dropConstraint(path, "v > 0") }
    assert(e.getMessage.contains("no constraint") &&
      e.getMessage.contains("v >= 0"))
    // whitespace-trimmed exact text drops; constraint ledger empties
    assert(Versioned.dropConstraint(path, "  v >= 0  ") == 2)
    assert(Versioned.constraints(path).isEmpty)
    assert(Versioned.history(spark, path)
      .filter(col("version") === 2).head.getAs[String]("mode") == "meta")
    // the previously-rejected commit now lands
    Versioned.commit(Seq((2L, -1L)).toDF("k", "v"), path,
      overwrite = false)
    assert(Versioned.read(spark, path).count() == 2)
    // history below the drop still shows the constraint it enforced
    assert(Versioned.constraints(path, Some(1)) == Seq("v >= 0"))
  }

  test("a corrupt/mid-rebuild bloom sidecar degrades to un-indexed; a garbage _files.json fails pruned reads loudly") {
    val path = tmpTable()
    Versioned.commitIndexed((0 until 1000).map(i => (i.toLong, i.toLong))
      .toDF("id", "x").repartitionByRange(4, col("x")), path, Seq("x"),
      overwrite = false)
    // healthy index prunes
    val (_, k0, t0) = Versioned.readRangeClustered(spark, path, "x", 0, 99)
    assert(k0 < t0)
    val dirId = Versioned.dataDirIds(path, 0).head
    val dir = s"$path/data/$dirId"
    Versioned.buildBloomIndex(spark, path, "id", 1000L)
    // bloom twin: garbage bloom sidecar also degrades to keep-all
    val bp = java.nio.file.Paths.get(Clustered.bloomPath(dir, "id"))
    java.nio.file.Files.createDirectories(bp)
    java.nio.file.Files.write(bp.resolve("part-junk.parquet"),
      "not parquet".getBytes("UTF-8"))
    val (df2, k2, t2) = Versioned.readEqualityClustered(
      spark, path, "id", 42L)
    assert(k2 == t2, s"corrupt bloom must keep all files ($k2/$t2)")
    assert(df2.count() == 1)
    // the dir's file manifest is the ledger itself, like a manifest:
    // garbage there fails a pruned read, naming the file — and a
    // plain read, which never opens it, still works
    java.nio.file.Files.write(java.nio.file.Paths.get(dir,
      DirFacts.FileName), "not json".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      Versioned.readRangeClustered(spark, path, "x", 0, 99)
    }
    assert(e.getMessage.contains(s"$dirId/${DirFacts.FileName}"),
      e.getMessage)
    assert(Versioned.read(spark, path).count() == 1000L)
  }

  test("an index rebuild racing pruned reads never exposes a torn _files.json") {
    val path = tmpTable()
    Versioned.commitIndexed((0 until 2000).map(i => (i.toLong, i.toLong))
      .toDF("id", "x").repartitionByRange(8, col("x")), path, Seq("x"),
      overwrite = false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val indexer = new Thread(() =>
      try (0 until 6).foreach { i =>
        if (i % 2 == 0) Versioned.buildStatsIndex(spark, path, Seq("x", "id"))
        else Versioned.buildStatsIndex(spark, path, Seq("x"))
      } catch { case t: Throwable => failure.set(t) })
    indexer.start()
    var reads = 0
    while (indexer.isAlive || reads < 3) {
      val (df, kept, total) =
        Versioned.readRangeClustered(spark, path, "x", 0, 99)
      assert(kept < total && total == 8, s"($kept, $total)")
      assert(df.count() == 100L)
      reads += 1
    }
    indexer.join()
    assert(failure.get == null, String.valueOf(failure.get))
  }

  test("vacuum reclaims orphaned streaming stage dirs by age; a live query's stage survives") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, 10L)).toDF("k", "v"), path,
      overwrite = false)
    val stage = java.nio.file.Paths.get(path, ".stream_stage")
    // an ORPHAN: a crashed query's staged epoch, mtimes in the past
    val orphan = stage.resolve("dead-query/e3")
    java.nio.file.Files.createDirectories(orphan)
    val f = orphan.resolve("part-0-1.parquet")
    java.nio.file.Files.writeString(f, "x")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10L * 24 * 3600 * 1000)
    Seq(stage.resolve("dead-query"), orphan, f).foreach(p =>
      java.nio.file.Files.setLastModifiedTime(p, old))
    // a LIVE query's stage: fresh mtimes
    val live = stage.resolve("live-query/e9")
    java.nio.file.Files.createDirectories(live)
    java.nio.file.Files.writeString(
      live.resolve("part-0-2.parquet"), "y")
    // cutoff = 7 days ago: the orphan (10d) goes, the live one stays
    Versioned.vacuumOlderThan(path,
      System.currentTimeMillis() - 7L * 24 * 3600 * 1000,
      force = true)
    assert(!java.nio.file.Files.exists(stage.resolve("dead-query")),
      "10-day-old orphaned stage dir must be reclaimed")
    assert(java.nio.file.Files.exists(
      live.resolve("part-0-2.parquet")),
      "a fresh (live) stage dir must survive the sweep")
    // the table itself is untouched
    assert(Versioned.read(spark, path).count() == 1)
  }

  test("commitTxn rejects tokens outside the manifest-safe charset") {
    val path = tmpTable()
    // a quote or backslash in the token would be interpolated raw
    // into the manifest JSON and corrupt the ledger for every reader
    for (bad <- Seq("app\"x:1", "app\\x:1", "", "app x:1", "tokén:1")) {
      val err = intercept[IllegalArgumentException] {
        Versioned.commitTxn(Seq((1L, "a")).toDF("k", "v"), path,
          overwrite = false, txn = Some(bad))
      }
      assert(err.getMessage.contains("txn token"), bad)
    }
    // the documented charset commits fine
    assert(Versioned.commitTxn(Seq((1L, "a")).toDF("k", "v"), path,
      overwrite = false, txn = Some("app_1:batch-7")) == 0)
  }

  test("changes treats null vs value as an update, null vs null as unchanged") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, Option.empty[String]), (2L, Some("x")))
      .toDF("k", "v"), path, overwrite = false)
    Versioned.commit(Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("k", "v"), path, overwrite = true)
    val got = Versioned.changes(spark, path, 0, 1, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "update"))
  }
}
