package graft.sources

import graft.{JobCounter, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Differential fence over every versioned read path: ONE table that
  * mixes every layout a snapshot can hold — a plain dir, a
  * `commitIndexed` dir, both bloom-indexed in place, an
  * identity-partitioned dir, a `days(ts)` dir, a `bucket(4, b)` dir —
  * under a renamed column and a deletion-vector mask. Every pruned
  * read, the SQL `SELECT` routed to it, a point-key `DELETE` and the
  * `ct=delete` feed of a `deleteWhereDV` must return exactly
  * `read(...).filter(pred)`, and the file accounting of each pruned
  * read is pinned. */
class ReadPathSpec extends SparkSpec {

  private val cols = Seq("k", "b", "area", "ts", "amt")

  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi + 1).select(
      col("id").as("k"),
      (col("id") % 97).as("b"),
      element_at(array(lit("EU"), lit("US"), lit("APAC")),
        (col("id") % 3 + 1).cast("int")).as("region"),
      timestamp_seconds(lit(1704067200L) + (col("id") % 10) * 86400L +
        col("id") * 60L).as("ts"),
      (col("id") * 10).as("amt"))

  private var seq = 0

  /** A fresh warehouse holding the mixed-layout table `t`, registered
    * as its own catalog. v0 plain, v1 stats indexed, then a bloom
    * index built over both in place (no version), v2
    * identity(region), v3 days(ts), v4 bucket(4, b), v5 RENAME region
    * → area, v6 DV delete of every k ending in 3. */
  private def build(): (String, String) = {
    seq += 1
    val wh = java.nio.file.Files.createTempDirectory("graft_readpath")
      .toString
    val path = s"$wh/t"
    Versioned.commit(rows(1, 200), path, overwrite = false)
    Versioned.commitIndexed(rows(201, 400).repartitionByRange(4, col("k")),
      path, Seq("k"), overwrite = false)
    Versioned.buildBloomIndex(spark, path, "k", 1000L)
    Versioned.commitPartitioned(rows(401, 600), path, "region")
    Versioned.commitPartitionedSpec(rows(601, 800), path,
      Seq(Versioned.PartField("ts", Some("days"))))
    Versioned.commitPartitionedSpec(rows(801, 1000), path,
      Seq(Versioned.PartField("b", Some("bucket4"))))
    Versioned.renameColumn(path, "region", "area")
    Versioned.deleteWhereDV(spark, path, col("k") % 10 === 3)
    val cat = s"grp$seq"
    GraftCatalog.register(spark, cat, wh)
    (path, cat)
  }

  private lazy val fixture: (String, String) = build()

  private def sorted(df: DataFrame): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted

  private def expected(path: String, pred: org.apache.spark.sql.Column) =
    sorted(Versioned.read(spark, path).filter(pred))

  private val tsLo = java.time.LocalDateTime.of(2024, 1, 3, 0, 0)
  private val tsHi = java.time.LocalDateTime.of(2024, 1, 4, 23, 59)
  private val tsPred = expr("ts BETWEEN TIMESTAMP '2024-01-03 00:00:00' " +
    "AND TIMESTAMP '2024-01-04 23:59:00'")

  /** (name, pruned read, exact predicate, SQL WHERE, files read,
    * files total) — the five pruned reads. Superset reads are
    * filtered by the predicate before the compare; exact ones too
    * (a no-op on an exact read). */
  private def cases(path: String)
      : Seq[(String, () => (DataFrame, Int, Int),
        org.apache.spark.sql.Column, String, Int, Int)] = Seq(
    ("partition", () => Versioned.readPartitionPruned(spark, path,
      "area", Seq("EU")), col("area") === "EU", "area = 'EU'", 36, 40),
    ("time", () => Versioned.readPartitionPrunedTime(spark, path, "ts",
      tsLo, tsHi), tsPred,
      "ts BETWEEN TIMESTAMP '2024-01-03 00:00:00' AND " +
        "TIMESTAMP '2024-01-04 23:59:00'", 24, 40),
    ("bucket", () => Versioned.readPartitionPrunedBucket(spark, path,
      "b", Seq(7L)), col("b") === 7L, "b = 7", 34, 40),
    // the in-place bloom build indexed the plain dir too: its two
    // files, which lack k = 255, prune with the indexed dir's three
    ("bloom", () => Versioned.readEqualityClustered(spark, path, "k",
      255L), col("k") === 255L, "k = 255", 35, 40),
    ("stats", () => Versioned.readRangeClustered(spark, path, "k",
      250.0, 270.0), col("k").between(250L, 270L),
      "k BETWEEN 250 AND 270", 38, 40))

  test("each pruned read returns exactly read().filter(pred), with pinned file accounting") {
    val (path, _) = fixture
    val accounting = cases(path).map {
      case (name, run, pred, _, wantRead, wantTotal) =>
        val (df, read, total) = run()
        val want = expected(path, pred)
        assert(want.nonEmpty, s"$name: the fixture must hold matching rows")
        assert(sorted(df.filter(pred)) == want, s"$name: rows differ")
        (name, read, total)
    }
    assert(accounting == cases(path).map(c => (c._1, c._5, c._6)))
    // the exact-contract reads need no filter on top
    val (p, _, _) = Versioned.readPartitionPruned(spark, path, "area",
      Seq("EU"))
    assert(sorted(p) == expected(path, col("area") === "EU"))
    val (e, _, _) = Versioned.readEqualityClustered(spark, path, "k", 255L)
    assert(sorted(e) == expected(path, col("k") === 255L))
    val (r, _, _) = Versioned.readRangeClustered(spark, path, "k",
      250.0, 270.0)
    assert(sorted(r) == expected(path, col("k").between(250L, 270L)))
  }

  test("each SQL SELECT routes to its pruned read and equals read().filter(pred)") {
    val (path, cat) = fixture
    val accounting = cases(path).map { case (name, _, pred, where, _, _) =>
      GraftCatalog.lastVersionedScan.set(("", -1, -1))
      val got = sorted(spark.sql(s"SELECT * FROM $cat.t WHERE $where"))
      assert(got == expected(path, pred), s"$name: SQL rows differ")
      (name, GraftCatalog.lastVersionedScan.get())
    }
    assert(accounting == cases(path).map(c => (c._1, (path, c._5, c._6))))
    // an un-indexed predicate reads the plain snapshot
    GraftCatalog.lastVersionedScan.set(("", -1, -1))
    assert(sorted(spark.sql(s"SELECT * FROM $cat.t WHERE amt > 5000")) ==
      expected(path, col("amt") > 5000L))
    assert(GraftCatalog.lastVersionedScan.get()._2 == -1)
  }

  test("every file pruned away reads as one zero-row frame with the snapshot's columns") {
    val (path, _) = fixture
    assert(Versioned.read(spark, path).schema.fieldNames.toSeq == cols)
    val (e, er, _) = Versioned.readEqualityClustered(spark, path, "k", 5L)
    // k=5 lives only in the plain dir: the bloom drops every indexed
    // file, the other dirs read fully
    assert(er > 0 && sorted(e) == expected(path, col("k") === 5L))
    // a table whose only dirs all prune away
    val only = java.nio.file.Files.createTempDirectory("graft_readpath")
      .toString + "/p"
    Versioned.commitPartitioned(rows(1, 30), only, "region")
    Versioned.deleteWhereDV(spark, only, col("k") === 2L)
    val (pp, read, total) = Versioned.readPartitionPruned(spark, only,
      "region", Seq("NOWHERE"))
    assert(read == 0 && total > 0)
    assert(pp.count() == 0L)
    assert(pp.schema.fieldNames.toSeq ==
      Versioned.read(spark, only).schema.fieldNames.toSeq)
    val bl = java.nio.file.Files.createTempDirectory("graft_readpath")
      .toString + "/b"
    Versioned.commitBloomIndexed(rows(1, 400).repartition(4), bl, "k",
      expectedPerFile = 1000L)
    val (be, bRead, bTotal) = Versioned.readEqualityClustered(spark, bl,
      "k", 100000L)
    assert(bRead == 0 && bTotal == 4, s"($bRead, $bTotal)")
    assert(be.count() == 0L)
    assert(be.schema.fieldNames.toSeq ==
      Versioned.read(spark, bl).schema.fieldNames.toSeq)
  }

  test("a point-key SQL DELETE bloom-prunes its mask scan and masks exactly the matching rows") {
    val (path, cat) = build()
    val before = sorted(Versioned.read(spark, path))
    val doomed = expected(path, col("k") === 255L)
    assert(doomed.size == 1)
    Versioned.lastDmlScan.set(("", -1, -1))
    spark.sql(s"DELETE FROM $cat.t WHERE k = 255")
    assert(Versioned.lastDmlScan.get() == ((path, 35, 40)),
      s"mask scan accounting ${Versioned.lastDmlScan.get()}")
    assert(sorted(Versioned.read(spark, path)) == before.diff(doomed))
    val v = Versioned.latestVersion(path)
    val feed = Versioned.readChanges(spark, path, v, v)
    assert(sorted(feed.filter(col("_change_type") === "delete")) == doomed)
  }

  test("deleteWhereDV's ct=delete feed rows are exactly the masked pre-images across every layout") {
    val (path, _) = build()
    val pred = col("k") % 50 === 7
    val doomed = expected(path, pred)
    // one doomed row in every dir: plain, indexed and all three hive
    // layouts
    assert(doomed.size == 20)
    val r = Versioned.deleteWhereDV(spark, path, pred)
    assert(r.deletedRows == 20L)
    val feed = Versioned.readChanges(spark, path, r.version, r.version)
    assert(sorted(feed.filter(col("_change_type") === "delete")) == doomed)
    assert(Versioned.read(spark, path).filter(pred).count() == 0L)
  }

  test("job fence: SQL range SELECT on a masked stats-indexed table") {
    val (_, cat) = fixture
    val q = s"SELECT * FROM $cat.t WHERE k BETWEEN 250 AND 270"
    spark.sql(q).collect() // warm the _files.json memo
    val (got, jobs) = JobCounter(spark) { spark.sql(q).collect() }
    assert(got.length == 19)
    // the prune is driver-side arithmetic over _files.json and the
    // mask applies inside the scan: the one job is the read itself
    assert(jobs.size == 1, jobs.mkString("\n"))
    // the data files are read under the manifest schema: nothing
    // infers a schema
    val inferring = jobs.filter(_.isReaderJob)
    assert(inferring.isEmpty, inferring.mkString("\n"))
  }

  test("job fence: readRangeClustered on 4 indexed dirs starts no job before its frame runs") {
    val path = java.nio.file.Files.createTempDirectory("graft_readpath")
      .toString + "/r"
    (0 until 4).foreach(i => Versioned.commitIndexed(
      rows(i * 100L + 1, i * 100L + 100).repartitionByRange(4, col("k")),
      path, Seq("k"), overwrite = false))
    val ((df, read, total), jobs) = JobCounter(spark) {
      Versioned.readRangeClustered(spark, path, "k", 150.0, 170.0)
    }
    assert(jobs.isEmpty, jobs.mkString("\n"))
    assert((read, total) == ((2, 16)))
    assert(df.count() == 21L)
  }

  test("job fence: a bloom-pruned point read runs its probe only — no count, no reader job") {
    val path = java.nio.file.Files.createTempDirectory("graft_readpath")
      .toString + "/b"
    Versioned.commitBloomIndexed(rows(1, 400).repartition(4), path, "k",
      expectedPerFile = 1000L)
    val ((df, read, total), jobs) = JobCounter(spark) {
      Versioned.readEqualityClustered(spark, path, "k", 42L)
    }
    assert(jobs.size == 1, jobs.mkString("\n"))
    assert(jobs.forall(!_.isReaderJob), jobs.mkString("\n"))
    assert(read < total && total == 4, s"($read, $total)")
    assert(df.count() == 1L)
  }

  test("job fence: .changes WHERE _commit_version >= N") {
    val (_, cat) = fixture
    val (got, jobs) = JobCounter(spark) {
      spark.sql(s"SELECT * FROM $cat.t.changes WHERE _commit_version >= 5")
        .collect()
    }
    assert(got.length == 100, got.length)
    assert(jobs.size == 1, jobs.mkString("\n"))
    assert(jobs.forall(!_.isReaderJob), jobs.mkString("\n"))
  }

  test("job fence: .files WHERE part_spec LIKE 'x%'") {
    val (_, cat) = fixture
    val (got, jobs) = JobCounter(spark) {
      spark.sql(s"SELECT * FROM $cat.t.files WHERE part_spec LIKE 'days%'")
        .collect()
    }
    assert(got.length == 20, got.length)
    assert(jobs.size == 1, jobs.mkString("\n"))
    assert(jobs.forall(!_.isReaderJob), jobs.mkString("\n"))
  }
}
