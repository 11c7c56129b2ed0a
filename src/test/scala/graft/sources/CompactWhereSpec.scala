package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Partition-scoped compaction ([[Versioned.compactWhere]] + the
  * `CALL g.system.compact(scope => …)` verb): OPTIMIZE one partition,
  * not the table. Load-bearing claims: only the dirs provably covered
  * by the scope merge (everything else carries by reference), the
  * scope's deletion-vector masks materialize away while masks outside
  * the scope keep applying, the compacted dir keeps the scope's hive
  * layout (pruning survives), content is byte-identical, the change
  * feed records zero rows for the compact version, and an
  * already-compact scope no-ops without version churn. */
class CompactWhereSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String = java.nio.file.Files
    .createTempDirectory("graft_compactw").toString

  private def rows(region: String, lo: Long, hi: Long) =
    (lo to hi).map(k => (k, region, k * 10)).toDF("k", "region", "v")

  private val spec = Seq(Versioned.PartField("region", None))

  test("scoped compact merges only the covered dirs; content and pruning survive") {
    val path = tmpTable()
    // EU lands fragmented across three commits; US in one
    Versioned.commitPartitionedSpec(rows("EU", 1, 10), path, spec)
    Versioned.commitPartitionedSpec(rows("EU", 11, 20), path, spec)
    Versioned.commitPartitionedSpec(rows("EU", 21, 30), path, spec)
    Versioned.commitPartitionedSpec(rows("US", 31, 40), path, spec)
    val usDirs = Versioned.dataDirIds(path, 3).last
    val r = Versioned.compactWhere(spark, path,
      Seq("region" -> Set("EU")), targetFiles = 1)
    assert(r.rewrittenDirs == 3 && r.carriedDirs == 1,
      s"three EU dirs merge, US carries: $r")
    assert(r.filesAfter < r.filesBefore,
      s"fewer files after: $r")
    val dirs = Versioned.dataDirIds(path, r.version)
    assert(dirs.size == 2 && dirs.contains(usDirs),
      "US dir carried BY REFERENCE")
    val got = Versioned.read(spark, path)
      .as[(Long, String, Long)].collect().toSet
    assert(got == (1L to 40L).map(k =>
      (k, if (k <= 30) "EU" else "US", k * 10)).toSet)
    // the compacted dir kept the hive layout: pruning still skips
    val (pruned, read, total) =
      Versioned.readPartitionPruned(spark, path, "region", Seq("US"))
    assert(read < total && pruned.count() == 10L)
    // feed contract: a compact version contributes zero change rows
    assert(Versioned.readChanges(spark, path, r.version, r.version)
      .count() == 0L)
    // re-running the same scope no-ops: already compact
    val again = Versioned.compactWhere(spark, path,
      Seq("region" -> Set("EU")), targetFiles = 1)
    assert(again.version == -1 && again.rewrittenDirs == 0,
      s"already-compact scope must no-op, got $again")
    assert(Versioned.latestVersion(path) == r.version)
  }

  test("scope masks materialize away; masks outside the scope keep applying") {
    val path = tmpTable()
    Versioned.commitPartitionedSpec(rows("EU", 1, 10), path, spec)
    Versioned.commitPartitionedSpec(rows("EU", 11, 20), path, spec)
    Versioned.commitPartitionedSpec(rows("US", 21, 30), path, spec)
    // one DV delete in each region
    Versioned.deleteWhereDV(spark, path, col("k") === 5L)
    Versioned.deleteWhereDV(spark, path, col("k") === 25L)
    val r = Versioned.compactWhere(spark, path,
      Seq("region" -> Set("EU")), targetFiles = 1)
    assert(r.rewrittenDirs == 2, s"got $r")
    val got = Versioned.read(spark, path)
      .as[(Long, String, Long)].collect().toSet
    val want = (1L to 30L).filterNot(k => k == 5 || k == 25)
      .map(k => (k, if (k <= 20) "EU" else "US", k * 10)).toSet
    assert(got == want,
      "masked rows stay deleted in AND outside the compacted scope")
  }

  test("clusterWhere: the covered scope rewrites z-ordered with a stats sidecar; range reads skip") {
    val path = tmpTable()
    Versioned.commitPartitionedSpec(rows("EU", 1, 60), path, spec)
    Versioned.commitPartitionedSpec(rows("EU", 61, 120), path, spec)
    Versioned.commitPartitionedSpec(rows("US", 121, 160), path, spec)
    Versioned.deleteWhereDV(spark, path, col("k") === 10L)
    val r = Versioned.clusterWhere(spark, path,
      Seq("region" -> Set("EU")), "k", "v", targetFiles = 4)
    assert(r.rewrittenDirs == 2 && r.carriedDirs == 1, s"got $r")
    // content identical, the scope's DV mask materialized away
    val got = Versioned.read(spark, path)
      .as[(Long, String, Long)].collect().toSet
    assert(got == (1L to 160L).filterNot(_ == 10L).map(k =>
      (k, if (k <= 120) "EU" else "US", k * 10)).toSet)
    // the clustered dir's stats sidecar prunes a range read
    val (df, read, total) =
      Versioned.readRangeClustered(spark, path, "k", 1.0, 15.0)
    assert(read < total, s"expected skipping, read $read of $total")
    assert(df.count() == 14L) // 1..15 minus the masked k=10
    // a cluster version contributes ZERO feed rows (scoped AND full)
    assert(Versioned.readChanges(spark, path, r.version, r.version)
      .count() == 0L)
    val full = Versioned.clusterRewrite(spark, path, "k", "v", 2)
    assert(Versioned.readChanges(spark, path, full, full).count() == 0L)
  }

  test("a mask on ANOTHER partition never re-rewrites an already-compact scope; dangling dv dirs retire") {
    val path = tmpTable()
    Versioned.commitPartitionedSpec(rows("EU", 1, 10), path, spec)
    Versioned.commitPartitionedSpec(rows("EU", 11, 20), path, spec)
    Versioned.commitPartitionedSpec(rows("US", 21, 30), path, spec)
    // DV rows in BOTH regions
    Versioned.deleteWhereDV(spark, path, col("k") === 5L)
    Versioned.deleteWhereDV(spark, path, col("k") === 25L)
    // first EU compact absorbs the EU mask...
    val r1 = Versioned.compactWhere(spark, path,
      Seq("region" -> Set("EU")), targetFiles = 1)
    assert(r1.version > 0 && r1.rewrittenDirs == 2, s"got $r1")
    // ...and the nightly RE-RUN no-ops even though the US mask is
    // still live (pre-fix: the table-wide dvDirs.isEmpty gate made
    // every maintenance pass commit a fresh version forever)
    val r2 = Versioned.compactWhere(spark, path,
      Seq("region" -> Set("EU")), targetFiles = 1)
    assert(r2.version == -1 && r2.rewrittenDirs == 0,
      s"already-compact EU must no-op under a US-only mask, got $r2")
    assert(Versioned.latestVersion(path) == r1.version)
    // the US mask still applies (retirement never over-drops)
    val got = Versioned.read(spark, path)
      .as[(Long, String, Long)].collect().toSet
    assert(got == (1L to 30L).filterNot(k => k == 5 || k == 25)
      .map(k => (k, if (k <= 20) "EU" else "US", k * 10)).toSet)
    // now compact US too: BOTH masks' dirs are rewritten away, so
    // the whole dv chain retires from the manifest
    val r3 = Versioned.compactWhere(spark, path,
      Seq("region" -> Set("US")), targetFiles = 1)
    assert(r3.version > 0, s"got $r3")
    assert(Versioned.dvDirIds(path, r3.version).isEmpty,
      "fully-dangling dv dirs must retire from the chain")
    assert(Versioned.read(spark, path).count() == 28L)
    // retired chain: the next EU pass is STILL a no-op
    val r4 = Versioned.compactWhere(spark, path,
      Seq("region" -> Set("EU")), targetFiles = 1)
    assert(r4.version == -1, s"got $r4")
  }

  test("job fence: compactWhere reads its masks' files off the manifest, two mask dirs, no mask job") {
    val path = tmpTable()
    Versioned.commitPartitionedSpec(rows("EU", 1, 10), path, spec)
    Versioned.commitPartitionedSpec(rows("EU", 11, 20), path, spec)
    Versioned.commitPartitionedSpec(rows("US", 21, 30), path, spec)
    Versioned.deleteWhereDV(spark, path, col("k") === 5L)
    Versioned.deleteWhereDV(spark, path, col("k") === 25L)
    val head = Versioned.latestVersion(path)
    assert(Versioned.dvDirIds(path, head).size == 2)
    val (r1, rewrite) = graft.JobCounter(spark) {
      Versioned.compactWhere(spark, path, Seq("region" -> Set("EU")), 1)
    }
    assert(r1.version == head + 1 && r1.rewrittenDirs == 2, s"got $r1")
    // the one job is the scope's rewrite
    assert(rewrite.size == 1, rewrite.mkString("\n"))
    // the EU mask retired with its dirs; the US one stays
    assert(Versioned.dvDirIds(path, r1.version).size == 1)
    val (r2, noop) = graft.JobCounter(spark) {
      Versioned.compactWhere(spark, path, Seq("region" -> Set("EU")), 1)
    }
    assert(r2.version == -1, s"got $r2")
    assert(noop.isEmpty, noop.mkString("\n"))
    assert(Versioned.read(spark, path).select("k").as[Long].collect().toSet ==
      (1L to 30L).filterNot(k => k == 5L || k == 25L).toSet)
  }

  test("CALL cluster with scope routes through clusterWhere") {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_clusterw_sql").toString
    val path = s"$wh/t"
    GraftCatalog.register(spark, "gclw", wh)
    spark.sql("CREATE TABLE gclw.t (k BIGINT, v BIGINT, region STRING) " +
      "PARTITIONED BY (region)")
    spark.sql("INSERT INTO gclw.t SELECT id, id * 2, 'EU' FROM range(1, 200)")
    spark.sql("INSERT INTO gclw.t SELECT id, id * 2, 'US' FROM range(200, 300)")
    val out = spark.sql(
      "CALL gclw.system.cluster(`table` => 't', c1 => 'k', c2 => 'v', " +
        "files => 2, scope => 'region=EU')").collect().head
    assert(out.getInt(1) == 1 && out.getInt(2) == 2,
      s"EU dir rewritten, v0+US carried: $out")
    assert(spark.sql("SELECT count(*) FROM gclw.t").head.getLong(0) == 299L)
  }

  test("CALL compact with scope routes through compactWhere; bad scope is loud") {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_compactw_sql").toString
    val path = s"$wh/t"
    GraftCatalog.register(spark, "gcw", wh)
    spark.sql("CREATE TABLE gcw.t (k BIGINT, region STRING) " +
      "PARTITIONED BY (region)")
    spark.sql("INSERT INTO gcw.t SELECT id, 'EU' FROM range(1, 6)")
    spark.sql("INSERT INTO gcw.t SELECT id, 'EU' FROM range(6, 11)")
    spark.sql("INSERT INTO gcw.t SELECT id, 'US' FROM range(11, 16)")
    val out = spark.sql(
      "CALL gcw.system.compact(`table` => 't', target_files => 1, " +
        "scope => 'region=EU')").collect().head
    assert(out.getInt(1) == 2 && out.getInt(2) == 2,
      s"two EU dirs rewritten, v0+US carried: $out") // v0 schema dir
    assert(spark.sql("SELECT count(*) FROM gcw.t").head.getLong(0) == 15L)
    val e = intercept[Exception] {
      spark.sql("CALL gcw.system.compact(`table` => 't', " +
        "scope => 'region')").collect()
    }
    assert(e.getMessage.contains("bad scope"), e.getMessage)
  }
}
