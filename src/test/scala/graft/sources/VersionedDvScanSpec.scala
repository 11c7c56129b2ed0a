package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Deletion vectors applied inside the parquet scan
  * ([[graft.plans.DvMaskFilter]]): each shape where a row's
  * (file, physical row index) identity could drift from what the mask
  * recorded, checked against a model of the table. */
class VersionedDvScanSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String = java.nio.file.Files
    .createTempDirectory("graft_dvscan").toString

  private def keys(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("k").as[Long].collect().toSet

  /** The `masks` records of version `v`'s manifest: (id, rows, rels). */
  private def maskRecords(path: String, v: Int): Seq[(String, Long, Seq[String])] =
    ManifestJson.parseObject(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_versions", s"v$v.json")), "UTF-8"))
      .getOrElse("masks", Nil).asInstanceOf[List[Map[String, Any]]]
      .map(k => (k("id").asInstanceOf[String], k("rows").asInstanceOf[Long],
        k("rels").asInstanceOf[List[String]]))

  test("row_index stays physical: masked rows in a later row group, a pushed predicate skipping the earlier ones") {
    val path = tmpDir()
    // one file, k ascending, small row groups: a `k > 7000` filter
    // pushed to parquet skips the first row groups by their stats
    spark.conf.set("parquet.block.size", "8192")
    try Versioned.commit(spark.range(0, 10000).coalesce(1)
      .selectExpr("id AS k", "id % 10 AS m"), path, overwrite = false)
    finally spark.conf.unset("parquet.block.size")
    val dir = java.nio.file.Paths.get(path, "data",
      Versioned.dataDirIds(path, 0).head)
    val file = {
      val s = java.nio.file.Files.list(dir)
      try s.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally s.close()
    }
    val groups = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        new org.apache.parquet.io.LocalInputFile(file))
      try r.getRowGroups.size finally r.close()
    }
    assert(groups > 3, s"expected several row groups, got $groups")
    val d = Versioned.deleteWhereDV(spark, path,
      col("k") > 8000L && col("m") === 0L)
    assert(d.deletedRows == 199L)
    val pushed = Versioned.read(spark, path).filter(col("k") > 7000L)
    assert(pushed.queryExecution.executedPlan.toString
      .contains("GreaterThan(k,7000)"), "the predicate must push down")
    assert(keys(pushed) == (7001L until 10000L)
      .filterNot(k => k > 8000L && k % 10 == 0).toSet)
    // the whole table: no masked row leaks, none outside the mask drops
    assert(Versioned.read(spark, path).count() == 10000L - 199L)
  }

  test("a hive-partitioned dir: the mask's rel is the nested path") {
    val path = tmpDir()
    Versioned.commitPartitionedSpec((1L to 40L)
      .map(k => (k, if (k % 2 == 0) "EU" else "US")).toDF("k", "region"),
      path, Seq(Versioned.PartField("region", None)))
    val d = Versioned.deleteWhereDV(spark, path, col("k") % 5 === 0L)
    assert(d.deletedRows == 8L)
    val rels = maskRecords(path, d.version).flatMap(_._3)
    assert(rels.nonEmpty && rels.forall(_.contains("/region=")), rels)
    val want = (1L to 40L).filterNot(_ % 5 == 0).toSet
    assert(keys(Versioned.read(spark, path)) == want)
    assert(Versioned.read(spark, path).filter(col("region") === "EU")
      .select("k").as[Long].collect().toSet == want.filter(_ % 2 == 0))
    // the delete feed reads the staged mask's rows back in the scan
    assert(Versioned.readChanges(spark, path, d.version, d.version)
      .filter(col("_change_type") === "delete").select("k").as[Long]
      .collect().toSet == (5L to 40L by 5).toSet)
  }

  test("a table rooted under a path containing /data/ keys its masks after the last /data/") {
    val path = s"${tmpDir()}/data/t"
    Versioned.commit((1L to 30L).map(k => (k, k % 3)).toDF("k", "m"), path,
      overwrite = false)
    val d = Versioned.deleteWhereDV(spark, path, col("m") === 1L)
    assert(d.deletedRows == 10L)
    assert(maskRecords(path, d.version).flatMap(_._3)
      .forall(r => !r.contains("/data/")))
    assert(keys(Versioned.read(spark, path)) ==
      (1L to 30L).filterNot(_ % 3 == 1).toSet)
    val u = Versioned.updateWhereDV(spark, path, col("k") === 3L,
      Seq("m" -> lit(7L)))
    assert(u.deletedRows == 1L)
    assert(Versioned.read(spark, path).filter(col("k") === 3L)
      .select("m").as[Long].collect().toSeq == Seq(7L))
  }

  test("clone after the source is deleted, restore, as-of reads around a mask, a renamed column") {
    val src = tmpDir()
    Versioned.commit((1L to 50L).map(k => (k, k % 5)).toDF("k", "m"), src,
      overwrite = false) // v0
    Versioned.deleteWhereDV(spark, src, col("m") === 0L) // v1
    Versioned.commit((51L to 60L).map(k => (k, k % 5)).toDF("k", "m"), src,
      overwrite = false) // v2
    Versioned.deleteWhereDV(spark, src, col("k") === 51L) // v3
    // a mask names positions in the files it was staged against:
    // the later append's m = 0 rows stay live
    val v1 = (1L to 50L).filterNot(_ % 5 == 0).toSet
    val v3 = v1 ++ (52L to 60L)
    // as-of reads before and after each mask
    assert(keys(Versioned.read(spark, src, Some(0))) == (1L to 50L).toSet)
    assert(keys(Versioned.read(spark, src, Some(1))) == v1)
    assert(keys(Versioned.read(spark, src, Some(2))) == v1 ++ (51L to 60L))
    assert(keys(Versioned.read(spark, src, Some(3))) == v3)
    // restore to v1: the first mask applies again, the later one not
    val r = Versioned.restore(src, 1)
    assert(Versioned.dvDirIds(src, r).size == 1)
    assert(keys(Versioned.read(spark, src)) == v1)
    // the clone links data and masks; it reads from its own root
    // once the source is gone
    val dst = s"${tmpDir()}/clone"
    Versioned.cloneTable(src, dst)
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(src))
    try w.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    finally w.close()
    assert(keys(Versioned.read(spark, dst)) == v1)
    // a renamed column: the mask keys files, not names
    Versioned.renameColumn(dst, "m", "bucket")
    val d = Versioned.deleteWhereDV(spark, dst, col("bucket") === 4L)
    assert(d.deletedRows == 10L)
    assert(Versioned.read(spark, dst).columns.toSeq == Seq("k", "bucket"))
    assert(keys(Versioned.read(spark, dst)) == v1.filterNot(_ % 5 == 4))
  }

  test("a mask touching 1 of N files: every row of the untouched files survives") {
    val path = tmpDir()
    // four slices of 100 rows, in order: one file each
    Versioned.commit(spark.sparkContext.parallelize(
      (0L until 400L).map(k => (k, k / 100)), 4).toDF("k", "f"), path,
      overwrite = false)
    val files = Versioned.dirFacts(path, Versioned.dataDirIds(path, 0).head)
      .files.size
    assert(files == 4, s"expected 4 files, got $files")
    val d = Versioned.deleteWhereDV(spark, path,
      col("f") === 2L && col("k") % 3 === 0L)
    val Seq((_, rows, rels)) = maskRecords(path, d.version)
    assert(rows == d.deletedRows && rels.size == 1, s"$rows $rels")
    assert(keys(Versioned.read(spark, path)) == (0L until 400L)
      .filterNot(k => k / 100 == 2 && k % 3 == 0).toSet)
    assert(Versioned.read(spark, path).filter(col("f") =!= 2L).count() == 300L)
  }
}
