package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** PARTITION EVOLUTION on the versioned table: per-DIR hive partition
  * specs in the manifest, so commits under different specs (or none)
  * coexist in one snapshot, readers handle each dir by its own
  * recorded layout, and changing the partitioning never rewrites
  * history. Load-bearing claims: mixed-layout snapshot reads are
  * row-exact (the partition column re-derives from directory names —
  * a flat explicit-schema read would silently null it),
  * readPartitionPruned skips whole partition directories BEFORE IO
  * yet stays row-exact across mixed layouts, deletion-vector deletes
  * compose, and restore/clone/time-travel carry the specs. */
class VersionedPartitionSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String = java.nio.file.Files
    .createTempDirectory("graft_partevo").toString

  private def rows(lo: Long, hi: Long) =
    (lo to hi).map(k => (k, s"g${k % 3}", k * 10))
      .toDF("k", "grp", "val")

  test("mixed-layout snapshot: partitioned + plain dirs read row-exact") {
    val path = tmpTable()
    Versioned.commitPartitioned(rows(1, 60), path, "grp")
    Versioned.commit(rows(61, 100), path, overwrite = false)
    assert(Versioned.partSpecIds(path, 1).size == 1)
    val got = Versioned.read(spark, path)
      .as[(Long, String, Long)].collect().toSet
    val want = (1L to 100L).map(k => (k, s"g${k % 3}", k * 10)).toSet
    assert(got == want, "partition column must re-derive from dir names")
    // schema order and types survive the union
    assert(Versioned.read(spark, path).columns.toSeq ==
      Seq("k", "grp", "val"))
  }

  test("readPartitionPruned skips partition dirs before IO, row-exact across layouts") {
    val path = tmpTable()
    Versioned.commitPartitioned(rows(1, 60), path, "grp")
    Versioned.commit(rows(61, 100), path, overwrite = false)
    val (df, read, total) =
      Versioned.readPartitionPruned(spark, path, "grp", Seq("g1"))
    assert(read < total, s"expected pruning, read $read of $total")
    val got = df.as[(Long, String, Long)].collect().toSet
    val want = (1L to 100L).map(k => (k, s"g${k % 3}", k * 10))
      .filter(_._2 == "g1").toSet
    assert(got == want,
      "pruned read must still row-filter the plain dir exactly")
    // value matching none: zero files of the partitioned dir are read
    val (none, r2, t2) =
      Versioned.readPartitionPruned(spark, path, "grp", Seq("nope"))
    assert(none.count() == 0 && r2 < t2)
  }

  test("evolution: a later commit partitions by a DIFFERENT column; both prune") {
    val path = tmpTable()
    Versioned.commitPartitioned(rows(1, 50), path, "grp")
    val byK = (51L to 90L).map(k => (k, s"g${k % 3}", k * 10))
      .toDF("k", "grp", "val").withColumn("band", col("k") % 2)
    // second spec on a different (numeric) column — and it ADDS a
    // column, so partition evolution composes with schema evolution
    Versioned.commitPartitioned(byK, path, "band")
    val specs = Versioned.partSpecIds(path,
      Versioned.latestVersion(path))
    assert(specs.values.toSet == Set("grp", "band"))
    // full read: older dir null-fills band, partition cols re-derive
    val full = Versioned.read(spark, path)
    assert(full.count() == 90)
    assert(full.filter(col("band").isNull).count() == 50)
    // prune on band: the grp-partitioned dir is read fully (unknown
    // never justifies a skip), band dirs prune
    val (bandDf, br, bt) =
      Versioned.readPartitionPruned(spark, path, "band", Seq("1"))
    assert(br < bt)
    assert(bandDf.count() == (51L to 90L).count(_ % 2 == 1))
    // prune on grp: symmetric
    val (grpDf, gr, gt) =
      Versioned.readPartitionPruned(spark, path, "grp", Seq("g0"))
    assert(gr < gt)
    assert(grpDf.count() == (1L to 90L).count(k => k % 3 == 0))
  }

  test("deletion vectors mask rows inside a partitioned dir; feed keeps the column") {
    val path = tmpTable()
    Versioned.commitPartitioned(rows(1, 60), path, "grp")
    val r = Versioned.deleteWhereDV(spark, path, col("k") === 7L)
    assert(r.version == 1 && r.deletedRows == 1L)
    val got = Versioned.read(spark, path).select("k")
      .as[Long].collect().toSet
    assert(!got.contains(7L) && got.size == 59)
    // the pre-image delete feed re-derived the partition value from
    // the file's path (basePath read) — not null
    val feed = Versioned.readChanges(spark, path, 1, 1)
      .filter(col("_change_type") === "delete")
    assert(feed.select("grp").as[String].collect().toSeq == Seq("g1"))
    // pruned read composes with the mask: g1 minus the masked row
    val (df, rd, tot) =
      Versioned.readPartitionPruned(spark, path, "grp", Seq("g1"))
    assert(rd < tot)
    assert(df.select("k").as[Long].collect().toSet ==
      (1L to 60L).filter(k => k % 3 == 1 && k != 7L).toSet)
  }

  test("restore and clone carry partition specs; time travel prunes per version") {
    val path = tmpTable()
    Versioned.commitPartitioned(rows(1, 30), path, "grp")
    Versioned.commit(rows(31, 50), path, overwrite = false)
    Versioned.restore(path, 0)
    val head = Versioned.latestVersion(path)
    assert(Versioned.partSpecIds(path, head).nonEmpty)
    assert(Versioned.read(spark, path).count() == 30)
    // clone shares the layout and the spec
    val dst = tmpTable() + "/clone"
    Versioned.cloneTable(path, dst)
    assert(Versioned.partSpecIds(dst, 0).nonEmpty)
    assert(Versioned.read(spark, dst)
      .as[(Long, String, Long)].collect().toSet ==
      (1L to 30L).map(k => (k, s"g${k % 3}", k * 10)).toSet)
    val (pruned, rd, tot) =
      Versioned.readPartitionPruned(spark, dst, "grp", Seq("g2"))
    assert(rd < tot && pruned.count() == (1L to 30L).count(_ % 3 == 2))
  }

  test("a partitioned append publishes a WRITTEN insert feed with the column") {
    val path = tmpTable()
    Versioned.commit(rows(1, 10), path, overwrite = false)
    Versioned.commitPartitioned(rows(11, 25), path, "grp")
    val feed = Versioned.readChanges(spark, path, 1, 1)
    assert(feed.filter(col("_change_type") === "insert").count() == 15)
    // the zero-copy link feed CANNOT represent a hive layout (files
    // lack the column) — the written feed must carry real values
    assert(feed.filter(col("grp").isNull).count() == 0)
    assert(feed.select("grp").distinct().as[String].collect().toSet ==
      Set("g0", "g1", "g2"))
  }

  test("compact materializes a mixed-layout table back to one plain dir") {
    val path = tmpTable()
    Versioned.commitPartitioned(rows(1, 40), path, "grp")
    Versioned.commit(rows(41, 60), path, overwrite = false)
    val v = Versioned.compact(spark, path, targetFiles = 2)
    assert(Versioned.partSpecIds(path, v).isEmpty)
    assert(Versioned.read(spark, path)
      .as[(Long, String, Long)].collect().toSet ==
      (1L to 60L).map(k => (k, s"g${k % 3}", k * 10)).toSet)
  }

  // ---- multi-column and time-transform specs (r15) ----

  private def tsRows(lo: Long, hi: Long) =
    (lo to hi).map(k => (k, s"g${k % 2}",
      java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
          .plusHours(k * 7)), k * 10))
      .toDF("k", "grp", "ts", "val")

  test("multi-identity spec: nested hive layout reads exactly, prunes on EITHER column") {
    val path = tmpTable()
    Versioned.commitPartitionedSpec(rows(1, 60), path,
      Seq(Versioned.PartField("grp", None),
        Versioned.PartField("val", None)))
    // the manifest records the comma-joined spec
    assert(Versioned.partSpecIds(path, 0).values.toSeq ==
      Seq("grp,val"))
    // nested dirs: grp=g0/val=30/…
    val d = Versioned.dataDirIds(path, 0).head
    assert(java.nio.file.Files.list(
        java.nio.file.Paths.get(path, "data", d)).iterator().asScala
      .exists(p => p.getFileName.toString.startsWith("grp=")))
    // row-exact read (both columns re-derive from dir names)
    assert(Versioned.read(spark, path)
      .as[(Long, String, Long)].collect().toSet ==
      (1L to 60L).map(k => (k, s"g${k % 3}", k * 10)).toSet)
    // prune on the FIRST level
    val (df1, r1, t1) = Versioned.readPartitionPruned(
      spark, path, "grp", Seq("g1"))
    assert(r1 < t1, s"level-0 prune did not skip files ($r1/$t1)")
    assert(df1.as[(Long, String, Long)].collect().toSet ==
      (1L to 60L).filter(_ % 3 == 1)
        .map(k => (k, "g1", k * 10)).toSet)
    // prune on the SECOND level (the walker descends to its depth)
    val (df2, r2, t2) = Versioned.readPartitionPruned(
      spark, path, "val", Seq("300"))
    assert(r2 < t2, s"level-1 prune did not skip files ($r2/$t2)")
    assert(df2.as[(Long, String, Long)].collect().toSet ==
      Set((30L, "g0", 300L)))
  }

  test("days(ts) transform: files keep the full timestamp, dirs carry the rendering, range prunes") {
    val path = tmpTable()
    Versioned.commitPartitionedSpec(tsRows(1, 40), path,
      Seq(Versioned.PartField("ts", Some("days"))))
    // TimestampType transforms record the WRITER's session clock
    assert(Versioned.partSpecIds(path, 0).values.toSeq ==
      Seq("days(ts)@UTC"))
    // dirs named ts__days=yyyy-MM-dd
    val d = Versioned.dataDirIds(path, 0).head
    val dirNames = {
      val ls = java.nio.file.Files.list(
        java.nio.file.Paths.get(path, "data", d))
      try ls.iterator().asScala.map(_.getFileName.toString).toSet
      finally ls.close()
    }
    assert(dirNames.exists(_.startsWith("ts__days=2024-01-")),
      s"unexpected layout: $dirNames")
    // the FULL timestamp survives in the file bytes — read is exact
    val back = Versioned.read(spark, path)
      .as[(Long, String, java.sql.Timestamp, Long)].collect().toSet
    assert(back == tsRows(1, 40)
      .as[(Long, String, java.sql.Timestamp, Long)].collect().toSet)
    // time-range pruning: only the asked days' dirs read
    val (pdf, read, tot) = Versioned.readPartitionPrunedTime(
      spark, path, "ts",
      java.time.LocalDateTime.of(2024, 1, 3, 0, 0),
      java.time.LocalDateTime.of(2024, 1, 4, 23, 59))
    assert(read < tot, s"day-range prune did not skip files ($read/$tot)")
    // superset contract: every row of the kept days present
    val days = pdf.select(date_format(col("ts"), "yyyy-MM-dd"))
      .as[String].collect().toSet
    assert(days == Set("2024-01-03", "2024-01-04"))
  }

  test("transform partitioning composes with DV deletes and partition evolution") {
    val path = tmpTable()
    Versioned.commitPartitionedSpec(tsRows(1, 20), path,
      Seq(Versioned.PartField("ts", Some("days"))))
    Versioned.commit(tsRows(21, 30), path, overwrite = false) // plain
    Versioned.deleteWhereDV(spark, path, col("k") % 5 === 0)
    val want = (1L to 30L).filter(_ % 5 != 0).toSet
    assert(Versioned.read(spark, path).select("k")
      .as[Long].collect().toSet == want)
    // pruned read overlays the mask and keeps the un-specced dir
    val (pdf, _, _) = Versioned.readPartitionPrunedTime(
      spark, path, "ts",
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0),
      java.time.LocalDateTime.of(2024, 12, 31, 0, 0))
    assert(pdf.select("k").as[Long].collect().toSet == want)
  }

  test("mixed layouts keep sidecar skipping: a partitioned dir no longer disables indexed reads") {
    val path = tmpTable()
    // v0: a hive-partitioned dir (no flat sidecar possible)
    Versioned.commitPartitioned(
      (1L to 30L).map(k => (k, s"g${k % 3}", k * 10))
        .toDF("k", "grp", "val"), path, "grp")
    // v1: a BLOOM-indexed plain append — pre-r15, the mere presence
    // of the v0 hive dir disabled skipping for the whole table
    Versioned.commitBloomIndexed(
      (1000L to 4999L).map(k => (k, "x", k)).toDF("k", "grp", "val")
        .repartition(8, col("k")), path, "k",
      expectedPerFile = 1000L, overwrite = false)
    assert(Versioned.hasSkippingIndex(path, 1, "k", "bloom"),
      "mixed layout must keep the index route")
    val (df, read, tot) = Versioned.readEqualityClustered(
      spark, path, "k", 3000L)
    // the hive dir reads fully, the indexed dir prunes — net skip
    assert(read < tot, s"no files skipped ($read/$tot)")
    assert(df.select("val").as[Long].collect().toSeq == Seq(3000L))
    // a key living in the HIVE dir is still found (full read there)
    val (df2, _, _) = Versioned.readEqualityClustered(
      spark, path, "k", 7L)
    assert(df2.select("val").as[Long].collect().toSeq == Seq(70L))
    // bloom-pruned DML masks stay sound across the mix: the delete
    // covers matches in BOTH dirs
    Versioned.commit(Seq((7L, "y", 777L)).toDF("k", "grp", "val"),
      path, overwrite = false)
    val r = Versioned.deleteWhereDV(spark, path, col("k") === 7L)
    assert(r.deletedRows == 2L,
      s"mask must cover hive-dir + plain-dir matches: $r")
    assert(Versioned.read(spark, path).filter(col("k") === 7L)
      .count() == 0L)
  }

  test("bucket(n) transform: point reads walk one bucket dir, row-exact, NULL keys land somewhere") {
    val path = tmpTable()
    val df = (1L to 200L).map(k => (if (k % 50 == 0) None else Some(k),
      k * 10)).toDF("k", "val")
    Versioned.commitPartitionedSpec(df, path,
      Seq(Versioned.PartField("k", Some("bucket8"))))
    // layout: the dir records the spec and carries k__bucket8=… dirs
    val spec = Versioned.partSpecIds(path, 0).values.head
    assert(spec == "bucket8(k)", s"recorded spec: $spec")
    // full read is row-exact (the derived bucket column never leaks)
    val full = Versioned.read(spark, path)
    assert(full.columns.toSeq == Seq("k", "val"))
    assert(full.count() == 200L)
    // point probe: only the probe's bucket dir reads
    val (pruned, read, tot) =
      Versioned.readPartitionPrunedBucket(spark, path, "k", Seq(42L))
    assert(read < tot, s"expected bucket pruning, read $read of $tot")
    // SUPERSET contract: the caller re-applies the exact predicate
    assert(pruned.filter(col("k") === 42L).count() == 1L)
    // IN probe spans its buckets; still pruned vs total
    val (pruned2, read2, tot2) =
      Versioned.readPartitionPrunedBucket(spark, path, "k",
        Seq(7L, 8L, 9L))
    assert(read2 < tot2)
    assert(pruned2.filter(col("k").isin(7L, 8L, 9L)).count() == 3L)
    // NULL keys hashed into a real bucket — never lost
    assert(full.filter(col("k").isNull).count() == 4L)
  }

  test("SQL bucket(n): CREATE TABLE PARTITIONED BY (bucket(8, k)), point SELECT prunes dirs") {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_bucket_sql").toString
    GraftCatalog.register(spark, "gbkt", wh)
    spark.sql("CREATE TABLE gbkt.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.sql("INSERT INTO gbkt.t SELECT id, id * 2 FROM range(1, 501)")
    // the declared partitioning surfaces as a bucket transform
    val cat = spark.sessionState.catalogManager.catalog("gbkt")
      .asInstanceOf[GraftCatalog]
    val tbl = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty, "t"))
    assert(tbl.partitioning().map(_.describe()).toSeq ==
      Seq("bucket(8, k)"), tbl.partitioning().map(_.describe()).toSeq)
    // point lookup: pushed equality routes through the bucket prune
    val got = spark.sql("SELECT k, v FROM gbkt.t WHERE k = 42")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((42L, 84L)))
    val (accPath, read, tot) = GraftCatalog.lastVersionedScan.get()
    assert(accPath == s"$wh/t" && read < tot,
      s"expected bucket dir pruning, read $read of $tot at $accPath")
    // a second INSERT auto-buckets under the policy; the probe still
    // prunes across BOTH dirs
    spark.sql("INSERT INTO gbkt.t SELECT id, id * 2 " +
      "FROM range(501, 1001)")
    assert(spark.sql("SELECT count(*) FROM gbkt.t WHERE k = 777")
      .head.getLong(0) == 1L)
    val (_, read2, tot2) = GraftCatalog.lastVersionedScan.get()
    assert(read2 < tot2, s"read $read2 of $tot2")
  }

  test("commitPartitionedSpec guards: unknown transform, non-time column, derived collision") {
    val path = tmpTable()
    val df = tsRows(1, 5)
    intercept[Exception] { Versioned.commitPartitionedSpec(df, path,
      Seq(Versioned.PartField("ts", Some("buckets")))) }
    intercept[Exception] { Versioned.commitPartitionedSpec(df, path,
      Seq(Versioned.PartField("grp", Some("days")))) }
    intercept[Exception] { Versioned.commitPartitionedSpec(
      df.withColumn("ts__days", lit("x")), path,
      Seq(Versioned.PartField("ts", Some("days")))) }
    assert(Versioned.latestVersion(path) == -1,
      "a rejected spec must commit nothing")
  }
}
