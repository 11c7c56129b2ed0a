package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `<table>.changes` batch pushdown ([[ChangesSqlTable]]'s scan →
  * [[Versioned.readChangesPruned]]): `_commit_version` /
  * `_change_type` predicates must become DIRECTORY-list filters
  * (dirsRead < dirsTotal — real skipped IO, not plan shape), results
  * must stay row-exact against the unpruned read, and the feed-gap
  * contract must hold for the NARROWED range only (a query above an
  * overwrite gap succeeds; one crossing it still fails loudly). */
class ChangesPushdownSpec extends SparkSpec {
  import spark.implicits._

  private var seq = 0
  private def freshTable(): (String, String, String) = {
    seq += 1
    val wh = java.nio.file.Files
      .createTempDirectory("graft_chpush").toString
    val cat = s"gchp$seq"
    GraftCatalog.register(spark, cat, wh)
    (wh, s"$wh/t", cat)
  }

  /** v0: inserts 1..4; v1: inserts 5..8; v2: merge (update k=1,
    * delete k=2, insert k=9); v3: inserts 10..11. Four feed dirs of
    * mixed ct composition. */
  private def stage(path: String): Unit = {
    Versioned.commit((1L to 4L).map(i => (i, i * 10L)).toDF("k", "v"),
      path, overwrite = false)
    Versioned.commit((5L to 8L).map(i => (i, i * 10L)).toDF("k", "v"),
      path, overwrite = false)
    Versioned.applyChangeFeed(spark,
      path,
      Seq((1L, 111L, "update"), (2L, 0L, "delete"), (9L, 90L, "insert"))
        .toDF("k", "v", "change_type"),
      Seq("k")): Unit
    Versioned.commit((10L to 11L).map(i => (i, i * 10L)).toDF("k", "v"),
      path, overwrite = false)
  }

  private def acct(): (Int, Int) = {
    val (_, r, t) = GraftCatalog.lastChangesScan.get()
    (r, t)
  }

  test("_commit_version range prunes cv dirs before IO, row-exact vs the unpruned read") {
    val (_, path, cat) = freshTable()
    stage(path)
    val want = Versioned.readChanges(spark, path, 2, 3)
      .select("k", "_commit_version", "_change_type")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet
    val got = spark.sql(s"SELECT k, _commit_version, _change_type " +
      s"FROM $cat.t.changes WHERE _commit_version >= 2")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet
    assert(got == want && got.nonEmpty)
    val (read, total) = acct()
    assert(read < total, s"no dirs skipped: $read/$total")
    // exact single-version window
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t.changes " +
      "WHERE _commit_version = 0").head.getLong(0) == 4L)
    assert(acct()._1 == 1) // one cv dir, one ct subdir
  }

  test("_change_type equality prunes ct dirs; composes with the version window") {
    val (_, path, cat) = freshTable()
    stage(path)
    assert(spark.sql(s"SELECT k FROM $cat.t.changes " +
      "WHERE _change_type = 'delete'").as[Long].collect().toSeq ==
      Seq(2L))
    val (read, total) = acct()
    assert(read == 1 && total > 1, s"ct prune missing: $read/$total")
    // combined: version window ∩ change type
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t.changes " +
      "WHERE _commit_version >= 2 AND _change_type = 'insert'")
      .head.getLong(0) == 3L) // k=9 (v2) + k=10,11 (v3)
    assert(acct()._1 == 2) // cv=2/ct=insert + cv=3/ct=insert
  }

  test("IN prunes to its envelope and re-applies exactly; no filter reads everything") {
    val (_, path, cat) = freshTable()
    stage(path)
    // IN (0, 3): envelope reads cv 0..3 but rows are set-exact
    val vs = spark.sql(s"SELECT DISTINCT _commit_version " +
      s"FROM $cat.t.changes WHERE _commit_version IN (0, 3)")
      .as[Int].collect().toSet
    assert(vs == Set(0, 3))
    // no filter: full read, nothing skipped, accounting says so
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t.changes")
      .head.getLong(0) ==
      Versioned.readChanges(spark, path, 0, 3).count())
    val (read, total) = acct()
    assert(read == total && total >= 6)
    // over-narrowed window: valid empty read, zero dirs
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t.changes " +
      "WHERE _commit_version > 99").head.getLong(0) == 0L)
    assert(acct()._1 == 0)
  }

  test("data-column filters are accepted and row-exact through the pruned scan") {
    val (_, path, cat) = freshTable()
    stage(path)
    assert(spark.sql(s"SELECT _commit_version, _change_type " +
      s"FROM $cat.t.changes WHERE k = 9 AND _commit_version >= 2")
      .as[(Int, String)].collect().toSeq == Seq((2, "insert")))
  }

  test("feed-gap contract narrows with the window: above an overwrite gap reads; across it fails loudly") {
    val (_, path, cat) = freshTable()
    Versioned.commit((1L to 3L).map(i => (i, i)).toDF("k", "v"),
      path, overwrite = false) // v0 feed
    Versioned.commit(Seq((9L, 9L)).toDF("k", "v"),
      path, overwrite = true) // v1: plain overwrite — NO feed
    Versioned.commit(Seq((10L, 10L)).toDF("k", "v"),
      path, overwrite = false) // v2 feed
    // window ABOVE the gap: prunes v1 away, reads fine
    assert(spark.sql(s"SELECT k FROM $cat.t.changes " +
      "WHERE _commit_version >= 2").as[Long].collect().toSeq ==
      Seq(10L))
    // window CROSSING the gap keeps the loud contract
    val e = intercept[Exception] {
      spark.sql(s"SELECT k FROM $cat.t.changes " +
        "WHERE _commit_version >= 1").collect() }
    assert(e.getMessage.contains("overwrite") ||
      e.getMessage.contains("no published feed"))
  }
}
