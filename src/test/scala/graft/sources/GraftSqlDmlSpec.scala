package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SQL row-level DML + catalog CRUD + metadata tables
  * ([[GraftSqlDml]], [[GraftCatalog]]): DELETE / UPDATE / MERGE
  * through plain SQL must hit the engine's merge-on-read primitives
  * (zero data files rewritten, feed published, constraints enforced,
  * time travel intact), CREATE/CTAS/DROP/RENAME must round-trip with
  * the Scala API, and the error surface must name the actual problem
  * (corrupt ledger ≠ missing table; missing version ≠ missing
  * table). */
class GraftSqlDmlSpec extends SparkSpec {
  import spark.implicits._

  private def freshWarehouse(): String = java.nio.file.Files
    .createTempDirectory("graft_sqldml").toString

  private var seq = 0
  private def freshCat(wh: String): String = {
    seq += 1
    val cat = s"gdml$seq"
    GraftCatalog.register(spark, cat, wh)
    cat
  }

  test("SQL DELETE is merge-on-read: mask written, zero dirs rewritten, feed + time travel intact") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit((1L to 100L).map(i => (i, i % 7)).toDF("k", "m"),
      path, overwrite = false)
    val dirsBefore = Versioned.dataDirIds(path, 0)
    val cat = freshCat(wh)
    spark.sql(s"DELETE FROM $cat.t WHERE m = 3")
    // values: SQL head == Scala head == the predicate's complement
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t")
      .head.getLong(0) == (1L to 100L).count(_ % 7 != 3))
    // zero-rewrite: the same data dirs carried by reference, one mask
    assert(Versioned.dataDirIds(path, 1) == dirsBefore)
    assert(Versioned.dvDirIds(path, 1).size == 1)
    // pre-image feed, classified delete
    val feed = Versioned.readChanges(spark, path, 1, 1)
    assert(feed.filter(col("_change_type") === "delete").count() ==
      (1L to 100L).count(_ % 7 == 3))
    // time travel still shows the pre-delete snapshot through SQL
    assert(spark.sql(
      s"SELECT count(*) AS n FROM $cat.t VERSION AS OF 0")
      .head.getLong(0) == 100L)
  }

  test("SQL UPDATE writes post-images + mask in one commit; NULL predicate rows are untouched") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq((1L, Some(10L)), (2L, None: Option[Long]),
      (3L, Some(30L))).toDF("k", "v"), path, overwrite = false)
    val cat = freshCat(wh)
    spark.sql(s"UPDATE $cat.t SET v = v * 2 WHERE v >= 10")
    // NULL predicate row (k=2) untouched — SQL UPDATE semantics
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, Option[Long])].collect().toSeq ==
      Seq((1L, Some(20L)), (2L, None), (3L, Some(60L))))
    // one new data dir (post-images) + one mask; originals carried
    assert(Versioned.dataDirIds(path, 1).size == 2)
    assert(Versioned.dvDirIds(path, 1).size == 1)
    // feed carries the POST-image as ct=update
    val upd = Versioned.readChanges(spark, path, 1, 1)
      .filter(col("_change_type") === "update")
      .select("k", "v").as[(Long, Option[Long])].collect().toSet
    assert(upd == Set((1L, Some(20L)), (3L, Some(60L))))
  }

  test("SQL MERGE: conditional update/delete/insert through mergeDV, unmatched-clause rows persist") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "name", "v"), path, overwrite = false)
    val cat = freshCat(wh)
    spark.sql(s"""MERGE INTO $cat.t t USING (SELECT * FROM VALUES
        (1L, 'kill', 0L), (2L, 'bump', 5L), (3L, 'skip', 0L),
        (9L, 'new', 90L), (10L, 'low', 1L)
        AS s(k, name, v)) s
      ON t.k = s.k
      WHEN MATCHED AND s.name = 'kill' THEN DELETE
      WHEN MATCHED AND s.name = 'bump' THEN UPDATE SET v = t.v + s.v
      WHEN NOT MATCHED AND s.v > 50 THEN INSERT (k, name, v)
        VALUES (s.k, s.name, s.v)""")
    // k=1 deleted; k=2 updated with a TARGET-referencing expression;
    // k=3 matched but no clause applied -> persists untouched;
    // k=9 inserted; k=10 unmatched + condition false -> dropped
    assert(spark.sql(s"SELECT k, name, v FROM $cat.t ORDER BY k")
      .as[(Long, String, Long)].collect().toSeq ==
      Seq((2L, "b", 25L), (3L, "c", 30L), (9L, "new", 90L)))
    // the untouched row produced NO change-feed noise
    val ct = Versioned.readChanges(spark, path, 1, 1)
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(ct == Set((1L, "delete"), (2L, "update"), (9L, "insert")))
    // merge-on-read accounting: base dir carried, not rewritten
    assert(Versioned.dataDirIds(path, 1).head ==
      Versioned.dataDirIds(path, 0).head)
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: the full-sync mirror converges in one statement") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
      (4L, "d", 40L)).toDF("k", "name", "v"), path, overwrite = false)
    val dirs0 = Versioned.dataDirIds(path, 0)
    val cat = freshCat(wh)
    // mirror sync: k=1,2 stay (1 updated), k=5 appears, k=3,4 vanish
    // from the source — 4 must delete, 3 (condition false) must get
    // the conditional NMBS UPDATE instead
    spark.sql(s"""MERGE INTO $cat.t t USING (SELECT * FROM VALUES
        (1L, 'a2', 11L), (2L, 'b', 20L), (5L, 'e', 50L)
        AS s(k, name, v)) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE AND t.v >= 40 THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET name = 'orphan'""")
    assert(spark.sql(s"SELECT k, name, v FROM $cat.t ORDER BY k")
      .as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "a2", 11L), (2L, "b", 20L), (3L, "orphan", 30L),
        (5L, "e", 50L)))
    // merge-on-read accounting: base dir carried, one new dir + mask
    assert(Versioned.dataDirIds(path, 1).startsWith(dirs0))
    assert(Versioned.dataDirIds(path, 1).size == dirs0.size + 1)
    assert(Versioned.dvDirIds(path, 1).size == 1)
    // change feed classifies the NMBS outcomes
    val ct = Versioned.readChanges(spark, path, 1, 1)
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(ct == Set((1L, "update"), (2L, "update"), (3L, "update"),
      (4L, "delete"), (5L, "insert")))
    // NMBS key reassignment is refused like every other clause
    val eKey = intercept[Exception] {
      spark.sql(s"MERGE INTO $cat.t t USING (SELECT 1L AS k, 'x' AS " +
        "name, 0L AS v) s ON t.k = s.k " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET k = t.k + 100") }
    assert(eKey.getMessage.contains("ON key column"))
    // cardinality still enforced when NMBS clauses are present
    val eCard = intercept[Exception] {
      spark.sql(s"MERGE INTO $cat.t t USING (SELECT * FROM VALUES " +
        "(1L, 'x', 1L), (1L, 'y', 2L) AS s(k, name, v)) s " +
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE") }
    assert(eCard.getMessage.contains("cardinality"))
  }

  test("CHECK constraints enforce through SQL UPDATE and MERGE; head unmoved on violation") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      path, overwrite = false)
    Versioned.addConstraint(spark, path, "v >= 0") // v1 (meta)
    val cat = freshCat(wh)
    val head = Versioned.latestVersion(path)
    val eU = intercept[Exception] {
      spark.sql(s"UPDATE $cat.t SET v = -1 WHERE k = 1") }
    assert(eU.getMessage.contains("violates constraint"))
    val eM = intercept[Exception] {
      spark.sql(s"MERGE INTO $cat.t t USING (SELECT 9L AS k, -5L AS v) s " +
        "ON t.k = s.k WHEN NOT MATCHED THEN INSERT *") }
    assert(eM.getMessage.contains("violates constraint"))
    assert(Versioned.latestVersion(path) == head) // nothing landed
    spark.sql(s"UPDATE $cat.t SET v = v + 1 WHERE k = 1") // clean one lands
    assert(spark.sql(s"SELECT v FROM $cat.t WHERE k = 1")
      .head.getLong(0) == 11L)
  }

  test("SQL MERGE cardinality violation and unsupported shapes are loud") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq((1L, 10L)).toDF("k", "v"), path,
      overwrite = false)
    val cat = freshCat(wh)
    // two source rows match target k=1 -> standard MERGE error
    val eCard = intercept[Exception] {
      spark.sql(s"MERGE INTO $cat.t t USING (SELECT * FROM VALUES " +
        "(1L, 1L), (1L, 2L) AS s(k, v)) s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET *") }
    assert(eCard.getMessage.contains("cardinality"))
    // ...but duplicate source keys that match NOTHING are legal inserts
    spark.sql(s"MERGE INTO $cat.t t USING (SELECT * FROM VALUES " +
      "(7L, 1L), (7L, 2L) AS s(k, v)) s ON t.k = s.k " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t WHERE k = 7")
      .head.getLong(0) == 2L)
    val eOn = intercept[Exception] {
      spark.sql(s"MERGE INTO $cat.t t USING (SELECT 1L AS k, 1L AS v) s " +
        "ON t.k > s.k WHEN MATCHED THEN UPDATE SET *") }
    assert(eOn.getMessage.contains("ON conjunct"))
  }

  test("DELETE/UPDATE WHERE IN (subquery): exact semantics incl. NOT IN with NULLs") {
    val wh = freshWarehouse()
    val cat = freshCat(wh)
    def stage(name: String): String = {
      val p = s"$wh/$name"
      Versioned.commit((1L to 10L).map(i => (i, i * 10L)).toDF("k", "v"),
        p, overwrite = false)
      p
    }
    // the erasure list, with a NULL and a no-match key
    Versioned.commit(Seq(Some(2L), Some(4L), None, Some(99L))
      .toDF("id"), s"$wh/erasure", overwrite = false)
    // IN: deletes exactly the listed keys (NULL in the list and the
    // no-match key are inert)
    val pIn = stage("t_in")
    spark.sql(s"DELETE FROM $cat.t_in WHERE k IN " +
      s"(SELECT id FROM $cat.erasure)")
    assert(spark.sql(s"SELECT k FROM $cat.t_in ORDER BY k")
      .as[Long].collect().toSeq ==
      (1L to 10L).filterNot(Set(2L, 4L)))
    // it landed merge-on-read: mask sidecar, zero dirs rewritten
    assert(Versioned.dvDirIds(pIn, 1).size == 1)
    // NOT IN with a NULL in the subquery: SQL says NO row qualifies
    // (x NOT IN (…, NULL) is never TRUE) — the delete must be a no-op
    val pNotIn = stage("t_notin")
    spark.sql(s"DELETE FROM $cat.t_notin WHERE k NOT IN " +
      s"(SELECT id FROM $cat.erasure)")
    assert(Versioned.latestVersion(pNotIn) == 0) // pure no-op, no commit
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t_notin")
      .head.getLong(0) == 10L)
    // NOT IN against a NULL-free list deletes the complement
    Versioned.commit(Seq(2L, 4L).toDF("id"), s"$wh/clean",
      overwrite = false)
    val pNotIn2 = stage("t_notin2")
    spark.sql(s"DELETE FROM $cat.t_notin2 WHERE k NOT IN " +
      s"(SELECT id FROM $cat.clean)")
    assert(spark.sql(s"SELECT k FROM $cat.t_notin2 ORDER BY k")
      .as[Long].collect().toSeq == Seq(2L, 4L))
    // UPDATE WHERE IN rides the same rewrite
    val pUpd = stage("t_upd")
    spark.sql(s"UPDATE $cat.t_upd SET v = 0 WHERE k IN " +
      s"(SELECT id FROM $cat.clean)")
    assert(spark.sql(s"SELECT sum(v) AS s FROM $cat.t_upd")
      .head.getLong(0) == (1L to 10L).map(_ * 10).sum - 60L)
    // empty subquery result: IN is FALSE for every row — no-op
    val pEmpty = stage("t_empty")
    spark.sql(s"DELETE FROM $cat.t_empty WHERE k IN " +
      s"(SELECT id FROM $cat.clean WHERE id > 100)")
    assert(Versioned.latestVersion(pEmpty) == 0)
  }

  test("DELETE WHERE EXISTS: correlated single-equality decorrelates; NOT EXISTS exact") {
    val wh = freshWarehouse()
    val cat = freshCat(wh)
    Versioned.commit((1L to 10L).map(i => (i, i * 10L)).toDF("k", "v"),
      s"$wh/t", overwrite = false)
    Versioned.commit(Seq((2L, "x"), (4L, "y"), (4L, "z"))
      .toDF("id", "tag"), s"$wh/flagged", overwrite = false)
    // correlated EXISTS with an inner-only predicate beside the
    // correlation equality
    spark.sql(s"DELETE FROM $cat.t WHERE EXISTS " +
      s"(SELECT 1 FROM $cat.flagged f WHERE f.id = k AND f.tag <> 'z')")
    assert(spark.sql(s"SELECT k FROM $cat.t ORDER BY k")
      .as[Long].collect().toSeq == (1L to 10L).filterNot(Set(2L, 4L)))
    // NOT EXISTS: two-valued — deletes the complement exactly
    Versioned.commit((1L to 10L).map(i => (i, i * 10L)).toDF("k", "v"),
      s"$wh/t2", overwrite = false)
    spark.sql(s"DELETE FROM $cat.t2 WHERE NOT EXISTS " +
      s"(SELECT 1 FROM $cat.flagged f WHERE f.id = k)")
    assert(spark.sql(s"SELECT k FROM $cat.t2 ORDER BY k")
      .as[Long].collect().toSeq == Seq(2L, 4L))
    // uncorrelated EXISTS: constant gate (non-empty → delete all)
    Versioned.commit(Seq((1L, 1L)).toDF("k", "v"), s"$wh/t3",
      overwrite = false)
    spark.sql(s"DELETE FROM $cat.t3 WHERE EXISTS " +
      s"(SELECT 1 FROM $cat.flagged)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t3")
      .head.getLong(0) == 0L)
    // pure range correlation (pre-r16 loud):
    // ids {2,4} — k<4 rows see a larger id and die, k>=5 survive
    spark.sql(s"DELETE FROM $cat.t WHERE EXISTS " +
      s"(SELECT 1 FROM $cat.flagged f WHERE f.id > k)")
    assert(spark.sql(s"SELECT k FROM $cat.t ORDER BY k")
      .as[Long].collect().toSeq == (5L to 10L))
  }

  test("MERGE ON-key reassignment is refused loudly; key-preserving shapes pass") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), path,
      overwrite = false)
    val cat = freshCat(wh)
    // a matched UPDATE that moves the ON key would leave the
    // pre-image row unmasked (mergeDV masks by POST-image keys) —
    // the silent-duplication shape, so it throws instead
    val eU = intercept[Exception] {
      spark.sql(s"MERGE INTO $cat.t t USING (SELECT 1L AS k, 5L AS v) s " +
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET k = t.k + 1, v = s.v") }
    assert(eU.getMessage.contains("ON key column"))
    // an INSERT whose key diverges from the ON source expression can
    // mask-replace an UNRELATED existing row (k=2 here) — refused too
    val eI = intercept[Exception] {
      spark.sql(s"MERGE INTO $cat.t t USING (SELECT 1L AS k, 5L AS v) s " +
        "ON t.k = s.k WHEN NOT MATCHED THEN INSERT (k, v) " +
        "VALUES (s.k + 1, s.v)") }
    assert(eI.getMessage.contains("ON key column"))
    assert(Versioned.latestVersion(path) == 0) // nothing landed
    // key-preserving shapes all pass: identity (SET k = t.k),
    // SET * (k = s.k == the ON source key), canonical INSERT
    spark.sql(s"MERGE INTO $cat.t t USING (SELECT * FROM VALUES " +
      "(1L, 100L), (9L, 90L) AS s(k, v)) s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET k = t.k, v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)")
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, Long)].collect().toSeq ==
      Seq((1L, 100L), (2L, 20L), (9L, 90L)))
  }

  test("insert-only MERGE tolerates duplicate source keys that match a target row") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq((1L, 10L)).toDF("k", "v"), path,
      overwrite = false)
    val cat = freshCat(wh)
    // per the SQL standard, duplicates only violate cardinality when
    // a WHEN MATCHED clause would apply twice to one target row; an
    // insert-only merge anti-joins, so both rows simply drop out
    spark.sql(s"MERGE INTO $cat.t t USING (SELECT * FROM VALUES " +
      "(1L, 1L), (1L, 2L), (8L, 80L) AS s(k, v)) s ON t.k = s.k " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k, v")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 10L), (8L, 80L)))
  }

  test("duplicate SET assignments to one column error loudly (never silently last-win)") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq((1L, 10L)).toDF("k", "v"), path,
      overwrite = false)
    val e = intercept[Exception] {
      Versioned.updateWhereDV(spark, path, lit(true),
        Seq("v" -> lit(1L), "V" -> lit(2L))) } // folded compare too
    assert(e.getMessage.contains("duplicate assignment"))
    assert(Versioned.latestVersion(path) == 0)
  }

  test("identifier segments can never escape the warehouse (catalog paths and CALL args)") {
    val wh = freshWarehouse()
    val cat = freshCat(wh)
    spark.sql(s"CREATE TABLE $cat.t AS SELECT 1L AS k")
    // a decoy versioned table OUTSIDE the warehouse: traversal from
    // the catalog must never reach it
    val outside = s"$wh-outside/victim"
    Versioned.commit(Seq((1L, 1L)).toDF("k", "v"), outside,
      overwrite = false)
    def fails(sql: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql).collect() }
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
        .mkString(" | ")
      assert(chain.contains("illegal identifier segment") ||
        chain.contains("cannot be found") || chain.contains("NOT_FOUND"),
        s"traversal not refused: $chain")
    }
    fails(s"DROP TABLE $cat.`..`.`$wh-outside`.victim")
    fails(s"SELECT * FROM $cat.`../../tmp`.x")
    fails(s"CALL $cat.system.clone(source => 't', " +
      "target => '../escape')")
    fails(s"CALL $cat.system.vacuum(`table` => " +
      s"'../${wh.split('/').last}-outside/victim', " +
      "retain_hours => 0.0, force => true)")
    // the decoy is intact
    assert(Versioned.latestVersion(outside) == 0)
    assert(Versioned.read(spark, outside).count() == 1L)
  }

  test("CTAS round-trips: SQL-born table reads identically via Scala, evolves, time-travels") {
    val wh = freshWarehouse()
    val cat = freshCat(wh)
    spark.sql(s"CREATE TABLE $cat.born (k BIGINT, v BIGINT)")
    assert(spark.sql(s"SELECT * FROM $cat.born").count() == 0L) // empty v0
    spark.sql(s"INSERT INTO $cat.born VALUES (1, 10), (2, 20)")
    spark.sql(s"CREATE TABLE $cat.ctas AS SELECT k, v * 2 AS w " +
      s"FROM $cat.born")
    // Scala API reads the SQL-born tables identically
    assert(Versioned.read(spark, s"$wh/ctas").orderBy("k")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 20L), (2L, 40L)))
    // evolution + DML + time travel on the CTAS table
    spark.sql(s"ALTER TABLE $cat.ctas RENAME COLUMN w TO dbl")
    spark.sql(s"UPDATE $cat.ctas SET dbl = 0 WHERE k = 2")
    assert(spark.sql(s"SELECT dbl FROM $cat.ctas ORDER BY k")
      .as[Long].collect().toSeq == Seq(20L, 0L))
    // the CTAS write itself pinned as a version: v0 create, v1 insert
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.ctas VERSION AS OF 0")
      .head.getLong(0) == 0L)
    // duplicate create is TableAlreadyExists, not silent replace
    intercept[org.apache.spark.sql.catalyst.analysis
      .TableAlreadyExistsException] {
      spark.sql(s"CREATE TABLE $cat.ctas (x INT)") }
    // NOT NULL add column rejected loudly
    val eNn = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ctas ADD COLUMNS (q INT NOT NULL)") }
    assert(eNn.getMessage.contains("NOT NULL"))
    // unsupported partition transforms rejected loudly (identity,
    // time transforms, and bucket(n) are first-class — own tests)
    val ePart = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.p (k INT, d STRING) " +
        "PARTITIONED BY (truncate(4, d))") }
    assert(ePart.getMessage.contains("not supported"),
      ePart.getMessage)
  }

  test("CREATE TABLE … PARTITIONED BY: inserts land hive-laid-out, SQL reads partition-prune") {
    val wh = freshWarehouse()
    val cat = freshCat(wh)
    spark.sql(s"CREATE TABLE $cat.p (k BIGINT, grp STRING) " +
      "PARTITIONED BY (grp)")
    spark.sql(s"INSERT INTO $cat.p VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    spark.sql(s"INSERT INTO $cat.p VALUES (4, 'c')")
    // both insert commits recorded their per-dir spec (partition
    // evolution intact underneath the table-level policy)
    val head = Versioned.latestVersion(s"$wh/p")
    val specs = Versioned.partSpecIds(s"$wh/p", head)
    assert(specs.size == 2 && specs.values.toSet == Set("grp"))
    // equality read: correct rows AND whole directories skipped
    assert(spark.sql(s"SELECT k FROM $cat.p WHERE grp = 'a' ORDER BY k")
      .as[Long].collect().toSeq == Seq(1L, 3L))
    val (p, read, tot) = GraftCatalog.lastVersionedScan.get()
    assert(p == s"$wh/p" && read < tot,
      s"no files skipped: $read/$tot at $p")
    // IN prunes too
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.p " +
      "WHERE grp IN ('a', 'c')").head.getLong(0) == 3L)
    // CTAS PARTITIONED BY rides the same path
    spark.sql(s"CREATE TABLE $cat.p2 PARTITIONED BY (grp) AS " +
      s"SELECT k, grp FROM $cat.p")
    assert(Versioned.tableProps(s"$wh/p2").get("partCol")
      .contains("grp"))
    assert(Versioned.partSpecIds(s"$wh/p2", 1).values.toSet ==
      Set("grp"))
    // row-level DML composes with the hive layout
    spark.sql(s"DELETE FROM $cat.p WHERE k = 1")
    assert(spark.sql(s"SELECT k FROM $cat.p WHERE grp = 'a'")
      .as[Long].collect().toSeq == Seq(3L))
    // INSERT OVERWRITE keeps the policy (props survive overwrites)
    spark.sql(s"INSERT OVERWRITE $cat.p2 VALUES (9L, 'z')")
    assert(Versioned.tableProps(s"$wh/p2").get("partCol")
      .contains("grp"))
    assert(Versioned.partSpecIds(s"$wh/p2",
      Versioned.latestVersion(s"$wh/p2")).values.toSet == Set("grp"))
    // multi-column identity specs are supported since r15, bucket(n)
    // since r16 (dedicated tests); other transforms stay loud
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.bad (k BIGINT, g STRING) " +
        "PARTITIONED BY (truncate(8, g))") }
    assert(e.getMessage.contains("not supported"))
  }

  test("DROP TABLE and RENAME TABLE: tree moves whole, non-tables are never deleted") {
    val wh = freshWarehouse()
    val cat = freshCat(wh)
    spark.sql(s"CREATE TABLE $cat.a (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.a VALUES (1), (2)")
    spark.sql(s"ALTER TABLE $cat.a RENAME TO b")
    // ledger + data traveled together (table-relative paths)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.b")
      .head.getLong(0) == 2L)
    assert(Versioned.latestVersion(s"$wh/b") == 1)
    intercept[Exception] { spark.sql(s"SELECT * FROM $cat.a") }
    assert(spark.sql(s"DROP TABLE $cat.b").collect().isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$wh/b")))
    // a directory WITHOUT a ledger is not droppable through the catalog
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$wh/notatable"))
    intercept[Exception] { spark.sql(s"DROP TABLE $cat.notatable") }
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$wh/notatable")))
  }

  test("error surface: corrupt ledger rethrows, missing version names the retained range") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq((1L, 2L)).toDF("k", "v"), path,
      overwrite = false)
    val cat = freshCat(wh)
    val eV = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 42").collect() }
    assert(eV.getMessage.contains("version 42") &&
      eV.getMessage.contains("retained range"))
    // corrupt the manifest: the failure must NOT read as "not found"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_versions", "v0.json"),
      "{ this is not json")
    val eC = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.t").collect() }
    assert(!eC.getMessage.contains("cannot be found"),
      s"corrupt ledger masked as missing table: ${eC.getMessage}")
    // a genuinely missing table still reads as NOT FOUND
    val eM = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.nosuch").collect() }
    assert(eM.getMessage.contains("cannot be found"))
  }

  test("metadata tables: .history mirrors the ledger, .changes the stored feed; real tables win") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), path,
      overwrite = false)
    Versioned.deleteWhereDV(spark, path, col("k") === 1L)
    val cat = freshCat(wh)
    val hist = spark.sql(s"SELECT version, mode, n_data_dirs, n_dv_dirs " +
      s"FROM $cat.t.history ORDER BY version")
      .as[(Int, String, Int, Int)].collect().toSeq
    assert(hist == Seq((0, "append", 1, 0), (1, "delete-dv", 1, 1)))
    val ch = spark.sql(s"SELECT _commit_version, _change_type, k " +
      s"FROM $cat.t.changes ORDER BY _commit_version, k")
      .as[(Int, String, Long)].collect().toSeq
    assert(ch == Seq((0, "insert", 1L), (0, "insert", 2L),
      (1, "delete", 1L)))
    // a REAL table named history under the same namespace wins
    Versioned.commit(Seq(("real", 1L)).toDF("tag", "n"),
      s"$wh/t/history", overwrite = false)
    assert(spark.sql(s"SELECT tag FROM $cat.t.history")
      .as[String].head() == "real")
  }

  test("vacuum retention guard refuses young cutoffs; pinned readers fail loudly, never silently") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq((1L, 10L)).toDF("k", "v"), path,
      overwrite = false) // v0
    Versioned.commit(Seq((2L, 20L)).toDF("k", "v"), path,
      overwrite = true) // v1: v0's dir now unreachable from the head
    val e = intercept[IllegalArgumentException] {
      Versioned.vacuumOlderThan(path, System.currentTimeMillis()) }
    assert(e.getMessage.contains("safety window"))
    assert(Versioned.versionExists(path, 0)) // guard held: nothing reclaimed
    // a reader PINNED at v0 before the vacuum...
    val pinned = Versioned.read(spark, path, Some(0))
    Versioned.vacuumOlderThan(path, System.currentTimeMillis(),
      force = true)
    assert(!Versioned.versionExists(path, 0))
    // ...fails LOUDLY mid-scan (files gone), never returns wrong data
    intercept[Exception] { pinned.collect() }
    // the head keeps serving
    assert(Versioned.read(spark, path).as[(Long, Long)]
      .collect().toSeq == Seq((2L, 20L)))
  }

  test("CALL procedures: compact/restore/clone/add_constraint/vacuum map onto the engine verbs") {
    val wh = freshWarehouse()
    val cat = freshCat(wh)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
    (1 to 3).foreach(i =>
      spark.sql(s"INSERT INTO $cat.t VALUES ($i, ${i * 10})"))
    // compact: head rewritten as one commit of target_files files
    assert(spark.sql(s"CALL $cat.system.compact(`table` => 't', " +
      "target_files => 2)").head.getInt(0) == 4)
    assert(Versioned.dataDirIds(s"$wh/t", 4).size == 1)
    // add_constraint: later INSERT violating it is rejected loudly
    assert(spark.sql(s"CALL $cat.system.add_constraint(`table` => 't', " +
      "expr => 'v >= 0')").head.getInt(0) == 5)
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.t VALUES (9, -1)") }
    assert(e.getMessage.contains("violates constraint"))
    // restore: head becomes v1's content again (new commit, no rewrite)
    assert(spark.sql(s"CALL $cat.system.restore(`table` => 't', " +
      "version => 1)").head.getInt(0) == 6)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t")
      .head.getLong(0) == 1L)
    // clone: zero-copy fork readable through the catalog
    assert(spark.sql(s"CALL $cat.system.clone(source => 't', " +
      "target => 'fork')").head.getInt(0) == 0)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.fork")
      .head.getLong(0) == 1L)
    // vacuum keeps the retention guard through SQL too
    val eV = intercept[Exception] {
      spark.sql(s"CALL $cat.system.vacuum(`table` => 't', " +
        "retain_hours => 0.001)").collect() }
    assert(eV.getMessage.contains("safety window"))
    // retain_hours 0 => cutoff = now: every version is older, so
    // retainFrom clamps to the head (the live table survives its own
    // policy) and everything below it reclaims
    assert(spark.sql(s"CALL $cat.system.vacuum(`table` => 't', " +
      "retain_hours => 0.0, force => true)").head.getInt(0) == 6)
    assert(!Versioned.versionExists(s"$wh/t", 5))
    // repair_feed is idempotent (clone already published its birth feed)
    assert(spark.sql(s"CALL $cat.system.repair_feed(`table` => 'fork', " +
      "keys => 'k')").head.getInt(0) == 0)
    // unknown procedure fails loudly (Spark wraps it as
    // FAILED_TO_LOAD_ROUTINE; our verb list rides the cause chain)
    val eP = intercept[Exception] {
      spark.sql(s"CALL $cat.system.nope()") }
    val chain = Iterator.iterate[Throwable](eP)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      .mkString(" | ")
    assert(chain.contains("nope"))
    assert(chain.contains("no procedure") && chain.contains("compact"),
      s"verb list missing from the failure: $chain")
  }

  test("CALL cluster + drop_constraint: the maintenance verbs complete the OPTIMIZE surface") {
    val wh = freshWarehouse()
    val cat = freshCat(wh)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id AS k, id * 7 % 1000 AS v " +
      "FROM range(0, 2000)")
    // cluster = OPTIMIZE ZORDER: one overwrite commit, ledger mode
    // 'cluster', min/max of both columns in the new dir's _files.json
    assert(spark.sql(s"CALL $cat.system.cluster(`table` => 't', " +
      "c1 => 'k', c2 => 'v', files => 8)").head.getInt(0) == 2)
    assert(spark.sql(s"SELECT mode FROM $cat.t.history " +
      "WHERE version = 2").head.getString(0) == "cluster")
    val facts = Versioned.dirFacts(s"$wh/t",
      Versioned.dataDirIds(s"$wh/t", 2).head)
    assert(facts.stats == Seq("k", "v") &&
      facts.files.forall(_.bounds("k")._1.isDefined))
    // the clustered layout now prunes SQL range filters (files = 8,
    // k restricted to <2% of the domain → some files must skip)
    GraftCatalog.lastVersionedScan.set(("", -1, -1))
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t " +
      "WHERE k >= 0 AND k <= 30").head.getLong(0) == 31L)
    val (p, read, tot) = GraftCatalog.lastVersionedScan.get()
    assert(p == s"$wh/t" && read < tot && read > 0,
      s"expected a pruned sidecar scan, got ($p, $read, $tot)")
    // drop_constraint: exact-text removal, loud when absent
    spark.sql(s"CALL $cat.system.add_constraint(`table` => 't', " +
      "expr => 'v >= 0')").collect()
    intercept[Exception] { spark.sql(s"INSERT INTO $cat.t VALUES (9, -1)") }
    val eMiss = intercept[Exception] {
      spark.sql(s"CALL $cat.system.drop_constraint(`table` => 't', " +
        "expr => 'v > 0')").collect() }
    assert(eMiss.getMessage.contains("no constraint") &&
      eMiss.getMessage.contains("v >= 0"),
      s"absent-text drop must name the live ledger: ${eMiss.getMessage}")
    assert(spark.sql(s"CALL $cat.system.drop_constraint(`table` => 't', " +
      "expr => 'v >= 0')").head.getInt(0) == 4)
    spark.sql(s"INSERT INTO $cat.t VALUES (9, -1)") // gate really gone
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t WHERE v < 0")
      .head.getLong(0) == 1L)
  }

  test("SQL file skipping: pushed ranges prune on the min/max sidecar, equalities on the bloom sidecar") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    // bloom-indexed layout: keys hash-spread across 8 files — the
    // shape min/max ranges cannot prune, a per-file bloom can
    Versioned.commitBloomIndexed((1L to 4000L).map(i => (i, i % 13))
      .toDF("k", "v").repartition(8, col("k")), path, "k",
      expectedPerFile = 1000L, overwrite = false)
    val cat = freshCat(wh)
    GraftCatalog.lastVersionedScan.set(("", -1, -1))
    assert(spark.sql(s"SELECT v FROM $cat.t WHERE k = 42")
      .head.getLong(0) == 42L % 13)
    val (p, read, tot) = GraftCatalog.lastVersionedScan.get()
    assert(p == path && read < tot && read > 0,
      s"expected a bloom-pruned scan, got ($p, $read, $tot)")
    // a later PLAIN append stays readable: its un-indexed dir keeps
    // every file (unknown never justifies a skip) and the lookup
    // still sees rows from both dirs
    Versioned.commit(Seq((42L, 99L)).toDF("k", "v"), path,
      overwrite = false)
    assert(spark.sql(s"SELECT sum(v) AS s FROM $cat.t WHERE k = 42")
      .head.getLong(0) == 42L % 13 + 99L)
    // un-indexed column predicates take the plain path (no accounting)
    GraftCatalog.lastVersionedScan.set(("", -1, -1))
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t WHERE v = 5")
      .head.getLong(0) == (1L to 4000L).count(_ % 13 == 5))
    assert(GraftCatalog.lastVersionedScan.get()._2 == -1,
      "an un-indexed predicate must not claim skip accounting")
    // SQL DML rides the same bloom prune: the GDPR point DELETE's
    // mask-building scan reads only candidate files
    Versioned.lastDmlScan.set(("", -1, -1))
    spark.sql(s"DELETE FROM $cat.t WHERE k = 43")
    val (pd, readD, totD) = Versioned.lastDmlScan.get()
    assert(pd == path && readD < totD && readD > 0,
      s"SQL DELETE mask scan must bloom-prune, got ($pd, $readD, $totD)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t WHERE k = 43")
      .head.getLong(0) == 0L)
  }

  test("<t>.files inventories physical files: sidecars excluded, hive dirs nested, sizes real") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    // dir 0: hive-partitioned (nested files, spec recorded); dir 1:
    // clustered (its _files.json and any sidecar must NOT list)
    Versioned.commitPartitioned(Seq((1L, "a"), (2L, "b"), (3L, "a"))
      .toDF("k", "d"), path, "d", overwrite = false)
    Versioned.commitClustered((10L to 200L).map(i => (i, i % 9))
      .toDF("k", "n").withColumn("d", lit("z")), path, "k", "n",
      files = 4, overwrite = false)
    val cat = freshCat(wh)
    val rows = spark.sql(s"SELECT dir_id, file, size_bytes, part_spec " +
      s"FROM $cat.t.files").collect()
    val dirIds = Versioned.dataDirIds(path, 1).toSet
    assert(rows.map(_.getString(0)).toSet == dirIds)
    assert(rows.forall(_.getLong(2) > 0), "every file carries its size")
    assert(!rows.exists(r => r.getString(1).contains("_graft_") ||
      r.getString(1).contains(DirFacts.FileName)),
      "sidecar tables must not appear in the inventory")
    // the partitioned dir's files nest under their hive value dirs
    val parted = rows.filter(_.getString(3) == "d")
    assert(parted.nonEmpty && parted.forall(_.getString(1).contains("=")),
      s"hive files must list nested: ${parted.map(_.getString(1)).toSeq}")
    // the clustered dir contributes its 4 z-ordered part files
    assert(rows.count(_.getString(3) == "") == 4)
    // total bytes match an independent filesystem walk
    import scala.jdk.CollectionConverters._
    val fsBytes = dirIds.toSeq.map { d =>
      val root = java.nio.file.Paths.get(path, "data", d)
      val w = java.nio.file.Files.walk(root)
      try w.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        java.nio.file.Files.isRegularFile(p) && n.endsWith(".parquet") &&
          !n.startsWith("_") && !n.startsWith(".") &&
          !root.relativize(p).toString.contains("_graft_")
      }.map(p => java.nio.file.Files.size(p)).sum
      finally w.close()
    }.sum
    assert(rows.map(_.getLong(2)).sum == fsBytes)
  }

  test("CALL index + bloom_index: in-place sidecar builds retrofit skipping onto existing dirs") {
    val wh = freshWarehouse()
    val cat = freshCat(wh)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id AS k, id % 97 AS v " +
      "FROM range(0, 4000)")
    val head0 = Versioned.latestVersion(s"$wh/t")
    // retrofit the min/max index: NO new version, pruning immediate
    assert(spark.sql(s"CALL $cat.system.index(`table` => 't', " +
      "cols => 'k')").head.getInt(0) >= 1)
    assert(Versioned.latestVersion(s"$wh/t") == head0,
      "an index build must not publish a commit")
    GraftCatalog.lastVersionedScan.set(("", -1, -1))
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t " +
      "WHERE k >= 0 AND k <= 50").head.getLong(0) == 51L)
    val (p, read, tot) = GraftCatalog.lastVersionedScan.get()
    assert(p == s"$wh/t" && read < tot && read > 0,
      s"retrofitted stats must prune, got ($p, $read, $tot)")
    // bloom retrofit: the point lookup takes the bloom path (tried
    // before stats) and skips files that provably lack the key
    assert(spark.sql(s"CALL $cat.system.bloom_index(`table` => 't', " +
      "column => 'k')").head.getInt(0) >= 1)
    assert(Versioned.latestVersion(s"$wh/t") == head0)
    GraftCatalog.lastVersionedScan.set(("", -1, -1))
    assert(spark.sql(s"SELECT v FROM $cat.t WHERE k = 42")
      .head.getLong(0) == 42L % 97)
    val (p2, read2, tot2) = GraftCatalog.lastVersionedScan.get()
    assert(p2 == s"$wh/t" && read2 < tot2 && read2 > 0,
      s"retrofitted bloom must prune, got ($p2, $read2, $tot2)")
  }

  test("<t>.files pushdown: dir_id / part_spec filters walk only matching dirs") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    // three dirs: one grp-partitioned, two plain
    Versioned.commitPartitioned(
      (1L to 30L).map(i => (i, s"g${i % 3}")).toDF("k", "grp"),
      path, "grp")
    Versioned.commit((31L to 40L).map(i => (i, "x")).toDF("k", "grp"),
      path, overwrite = false)
    Versioned.commit((41L to 50L).map(i => (i, "y")).toDF("k", "grp"),
      path, overwrite = false)
    val cat = freshCat(wh)
    val dirs = Versioned.dataDirIds(path, 2)
    // part_spec prefix filter: only the hive-laid-out dir walks
    val n = spark.sql(s"""SELECT count(*) AS n FROM $cat.t.files
        WHERE part_spec LIKE 'grp%'""").head.getLong(0)
    val (p1, walked1, total1) = GraftCatalog.lastFilesScan.get()
    assert(p1 == path && total1 == 3 && walked1 == 1,
      s"part_spec prune walked $walked1/$total1 at $p1")
    assert(n > 0)
    // dir_id equality: exactly one dir walks, sizes are real
    val bytes = spark.sql(s"""SELECT sum(size_bytes) AS b
        FROM $cat.t.files WHERE dir_id = '${dirs.last}'""")
      .head.getLong(0)
    val (_, walked2, total2) = GraftCatalog.lastFilesScan.get()
    assert(walked2 == 1 && total2 == 3,
      s"dir_id prune walked $walked2/$total2")
    assert(bytes > 0)
    // un-pushable filters stay correct (applied on top, full walk)
    assert(spark.sql(s"""SELECT count(*) AS n FROM $cat.t.files
        WHERE size_bytes > 0""").head.getLong(0) ==
      spark.sql(s"SELECT count(*) AS n FROM $cat.t.files")
        .head.getLong(0))
  }

  test("CALL vacuum dry_run previews reclaimable history without deleting; real run matches") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    // v0 append, v1 OVERWRITE: v0's dir becomes reclaimable history
    Versioned.commit((1L to 50L).map(i => (i, i)).toDF("k", "v"),
      path, overwrite = false)
    Versioned.commit((1L to 5L).map(i => (i, i)).toDF("k", "v"),
      path, overwrite = true)
    val cat = freshCat(wh)
    val pre = spark.sql(s"""CALL $cat.system.vacuum(`table` => 't',
        retain_hours => 0.0, dry_run => true)""").head
    assert(pre.getInt(0) == 1, s"oldest_retained ${pre.getInt(0)}")
    assert(pre.getInt(1) == 1, s"n_manifests ${pre.getInt(1)}")
    assert(pre.getInt(2) == 1, s"n_data_dirs ${pre.getInt(2)}")
    assert(pre.getInt(3) == 0)
    // v0's insert feed dir (cv=0) falls below the cut too
    assert(pre.getInt(4) == 1, s"n_feed_dirs ${pre.getInt(4)}")
    assert(pre.getLong(5) > 0L, "reclaimable bytes must be real")
    // the preview deleted NOTHING: v0 still time-travels
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t VERSION AS OF 0")
      .head.getLong(0) == 50L)
    // the real (forced) run reclaims exactly what the preview said
    spark.sql(s"""CALL $cat.system.vacuum(`table` => 't',
        retain_hours => 0.0, force => true)""").collect()
    assert(Versioned.oldestRetainedVersion(path) == 1)
    val dataDirs = {
      val ls = java.nio.file.Files.list(
        java.nio.file.Paths.get(path, "data"))
      try ls.count() finally ls.close()
    }
    assert(dataDirs == 1, s"real vacuum left $dataDirs dirs")
  }

  test("optimistic concurrency through SQL: racing INSERTs all land, none lost") {
    val wh = freshWarehouse()
    val cat = freshCat(wh)
    spark.sql(s"CREATE TABLE $cat.race (w INT, i INT)")
    // two writers race 6 commits each through the SQL front door; the
    // manifest create-exclusive loop retries losers against the new
    // head — every batch must land exactly once, in SOME order
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 2).map { w =>
      new Thread(() => {
        try (0 until 6).foreach(i =>
          spark.sql(s"INSERT INTO $cat.race VALUES ($w, $i)"))
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"racing SQL INSERT failed: ${errs.peek()}")
    // 13 manifests (create + 12 inserts), 12 rows, both writers whole
    assert(Versioned.latestVersion(s"$wh/race") == 12)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.race")
      .head.getLong(0) == 12L)
    assert(spark.sql(s"SELECT w, count(*) AS n FROM $cat.race " +
      "GROUP BY w ORDER BY w").collect().map(_.getLong(1)).toSeq ==
      Seq(6L, 6L))
  }

  test("namespaces: USE / SHOW / CREATE NAMESPACE / CTAS into it / guarded DROP") {
    val wh = freshWarehouse()
    val cat = freshCat(wh)
    spark.sql(s"CREATE NAMESPACE $cat.ns1")
    assert(spark.sql(s"SHOW NAMESPACES IN $cat")
      .collect().map(_.getString(0)).contains("ns1"))
    spark.sql(s"CREATE TABLE $cat.ns1.t AS SELECT 1L AS k")
    assert(spark.sql(s"SELECT k FROM $cat.ns1.t").head.getLong(0) == 1L)
    // USE pins the catalog (+ namespace); bare names then resolve
    spark.sql(s"USE $cat.ns1")
    assert(spark.sql("SELECT k FROM t").head.getLong(0) == 1L)
    assert(spark.sql("SHOW TABLES").collect()
      .map(_.getString(1)).contains("t"))
    spark.sql("USE spark_catalog.default") // restore for later suites
    // non-empty namespace refuses to drop; empty one goes
    val e = intercept[Exception] {
      spark.sql(s"DROP NAMESPACE $cat.ns1") }
    assert(e.getMessage.contains("not empty"))
    spark.sql(s"DROP TABLE $cat.ns1.t")
    spark.sql(s"DROP NAMESPACE $cat.ns1")
    intercept[Exception] { spark.sql(s"SHOW TABLES IN $cat.ns1") }
  }

  test("streaming table read: .changes via readStream.table is exactly-once across restart") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), path,
      overwrite = false) // v0 feed: 2 inserts
    val cat = freshCat(wh)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_dml_ckpt").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    def drain(): Unit = {
      val q = spark.readStream.table(s"$cat.t.changes")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("k", "_change_type").collect()
            .foreach(r => got.add((r.getLong(0), r.getString(1)))): Unit
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    assert(got.size == 2) // the v0 birth feed
    // more commits while the stream is DOWN...
    Versioned.deleteWhereDV(spark, path, col("k") === 1L) // v1
    Versioned.commit(Seq((3L, 30L)).toDF("k", "v"), path,
      overwrite = false) // v2
    drain() // ...restart from the same checkpoint
    // exactly-once: v0's rows NOT re-delivered, v1+v2's rows present
    assert(got.size == 4, s"expected 4 total rows, got ${got.size}")
    import scala.jdk.CollectionConverters._
    val later = got.asScala.toSet
    assert(later.contains((1L, "delete")) && later.contains((3L, "insert")))
  }

  test("streaming the base table requires the explicit skip acknowledgment") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq((1L, 10L)).toDF("k", "v"), path,
      overwrite = false)
    val cat = freshCat(wh)
    // without the option: loud analysis-time refusal (silent
    // update/delete dropping is exactly what the engine refuses)
    val e = intercept[Exception] {
      spark.readStream.table(s"$cat.t")
        .writeStream.format("noop").start() }
    assert(e.getMessage.contains("skipChangeCommits"))
    // with it: the insert-only stream under the TABLE schema
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_dml_ckpt2").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val q = spark.readStream.option("skipChangeCommits", "true")
      .table(s"$cat.t")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        assert(batch.columns.toSeq == Seq("k", "v")) // table schema
        batch.select("k").collect()
          .foreach(r => got.add(java.lang.Long.valueOf(r.getLong(0)))): Unit
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.map(_.longValue).toSet == Set(1L))
  }

  test("MERGE WITH SCHEMA EVOLUTION: source-only column lands as a metadata commit, history null-fills") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("k", "name", "v"), path, overwrite = false)
    val cat = freshCat(wh)
    spark.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.t t
        USING (SELECT * FROM VALUES
          (2L, 'bump', 25L, 'x2'), (9L, 'new', 90L, 'x9')
          AS s(k, name, v, tag)) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    // the evolution is ONE metadata commit (v1: tag STRING added,
    // zero data moved) followed by the merge itself (v2)
    val hist = Versioned.history(spark, path)
      .select("version", "mode").as[(Int, String)].collect().toSeq
    assert(hist == Seq((0, "append"), (1, "meta"), (2, "merge-dv")),
      s"unexpected ledger: $hist")
    // head: matched row revalued WITH the new column, insert carries
    // it, untouched row null-fills
    assert(spark.sql(s"SELECT k, name, v, tag FROM $cat.t ORDER BY k")
      .as[(Long, String, Long, Option[String])].collect().toSeq ==
      Seq((1L, "a", 10L, None), (2L, "bump", 25L, Some("x2")),
        (9L, "new", 90L, Some("x9"))))
    // TIME TRAVEL below the evolution shows the old schema
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 0")
      .columns.toSeq == Seq("k", "name", "v"))
    // the FEED schema follows the head: v0's insert rows null-fill
    // `tag`, the merge's rows carry it
    val feed = Versioned.readChanges(spark, path, 0,
      Versioned.latestVersion(path))
    assert(feed.columns.contains("tag"))
    assert(feed.filter(col("_commit_version") === 0 &&
      col("tag").isNotNull).count() == 0)
    assert(feed.filter(col("_change_type") === "insert" &&
      col("tag") === "x9").count() == 1)
  }

  test("MERGE WITH SCHEMA EVOLUTION: a wider source column widens the target along the ladder") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq((1L, 10), (2L, 20)).toDF("k", "v"),
      path, overwrite = false) // v: INT
    val cat = freshCat(wh)
    spark.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.t t
        USING (SELECT * FROM VALUES (2L, 9000000000L), (3L, 30L)
          AS s(k, v)) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    // v is now BIGINT; the old INT files read upcast (zero rewritten)
    assert(spark.table(s"$cat.t").schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, Long)].collect().toSeq ==
      Seq((1L, 10L), (2L, 9000000000L), (3L, 30L)))
    // the widening was metadata-only: v0's data dir is carried by
    // reference into every later manifest
    val head = Versioned.latestVersion(path)
    assert(Versioned.dataDirIds(path, head)
      .containsSlice(Versioned.dataDirIds(path, 0)))
  }

  test("MERGE WITH SCHEMA EVOLUTION: off-ladder drift is loud, nothing publishes") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq((1L, 10L)).toDF("k", "v"), path,
      overwrite = false) // v: BIGINT
    val cat = freshCat(wh)
    val headBefore = Versioned.latestVersion(path)
    val err = intercept[Exception] {
      spark.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.t t
          USING (SELECT * FROM VALUES (1L, 'oops') AS s(k, v)) s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *""")
    }
    assert(err.getMessage.contains("lossless widening") ||
      err.getMessage.contains("cannot change"),
      s"wrong error: ${err.getMessage}")
    assert(Versioned.latestVersion(path) == headBefore,
      "a rejected evolution must leave the ledger untouched")
  }

  test("ALTER TABLE ALTER COLUMN TYPE: explicit widening works, narrowing is loud") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq((1L, 1.5f)).toDF("k", "x"), path,
      overwrite = false)
    val cat = freshCat(wh)
    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN x TYPE DOUBLE")
    assert(spark.table(s"$cat.t").schema("x").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(spark.sql(s"SELECT x FROM $cat.t").head.getDouble(0) == 1.5)
    // narrowing: Spark's own analyzer rejects BIGINT→INT before the
    // catalog is reached (NOT_SUPPORTED_CHANGE_COLUMN); an up-cast
    // Spark allows but the engine's lossless ladder does not
    // (INT→DOUBLE) is rejected by the engine guard — either way the
    // statement is loud and the ledger untouched
    val headBefore = Versioned.latestVersion(path)
    val errNarrow = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN k TYPE INT")
    }
    assert(errNarrow.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      s"wrong error: ${errNarrow.getMessage}")
    Versioned.commit(Seq((1L, 7, 1.5)).toDF("k", "i", "x2"),
      s"$wh/t2", overwrite = false)
    val errLadder = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t2 ALTER COLUMN i TYPE DOUBLE")
    }
    assert(errLadder.getMessage.contains("lossless widening") ||
      errLadder.getMessage.contains("cannot change"),
      s"wrong error: ${errLadder.getMessage}")
    assert(Versioned.latestVersion(path) == headBefore)
  }

  test("scalar subqueries in UPDATE SET and MERGE assignment values: one value lands, >1 row is loud") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq((1L, Some(10L)), (2L, Some(20L)),
        (3L, Some(30L))).toDF("k", "v"), path, overwrite = false)
    Versioned.commit(Seq((100L, "a"), (7L, "b")).toDF("x", "tag"),
      s"$wh/side", overwrite = false)
    val cat = freshCat(wh)
    // UPDATE SET v = (SELECT max(x) …): an uncorrelated scalar
    // subquery, one value for every row
    spark.sql(s"""UPDATE $cat.t SET v = (SELECT max(x) FROM $cat.side)
      WHERE k = 2""")
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, Option[Long])].collect().toSeq ==
      Seq((1L, Some(10L)), (2L, Some(100L)), (3L, Some(30L))))
    // MERGE assignment value carrying a scalar subquery
    spark.sql(s"""MERGE INTO $cat.t t USING (SELECT 3L AS k) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = (SELECT min(x) FROM $cat.side)""")
    assert(spark.sql(s"SELECT v FROM $cat.t WHERE k = 3")
      .head.getLong(0) == 7L)
    // >1-row scalar subquery: loud (Spark's own error), nothing lands
    val headBefore = Versioned.latestVersion(path)
    val err = intercept[Exception] {
      spark.sql(s"UPDATE $cat.t SET v = (SELECT x FROM $cat.side)")
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("SCALAR_SUBQUERY_TOO_MANY_ROWS")),
      s"wrong error: ${err.getMessage}")
    assert(Versioned.latestVersion(path) == headBefore)
    // an EMPTY scalar subquery assigns NULL (SQL semantics)
    spark.sql(s"""UPDATE $cat.t SET v =
      (SELECT max(x) FROM $cat.side WHERE x > 1000) WHERE k = 1""")
    assert(spark.sql(s"SELECT v FROM $cat.t WHERE k = 1")
      .head.isNullAt(0))
  }

  test("subqueries in MERGE clause conditions: uncorrelated IN, correlated EXISTS, ON prefilter") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
      .toDF("k", "v"), path, overwrite = false)
    Versioned.commit(Seq(20L, 40L).toDF("hot"), s"$wh/hot",
      overwrite = false)
    Versioned.commit(Seq((1L, "y"), (3L, "n")).toDF("hk", "flag"),
      s"$wh/aux", overwrite = false)
    val cat = freshCat(wh)
    // WHEN MATCHED AND t.v IN (SELECT …): uncorrelated IN in the
    // clause condition — only the hot-listed rows revalue
    spark.sql(s"""MERGE INTO $cat.t t
      USING (SELECT * FROM VALUES (1L), (2L), (4L) AS s(k)) s
      ON t.k = s.k
      WHEN MATCHED AND t.v IN (SELECT hot FROM $cat.hot)
        THEN UPDATE SET v = t.v * 100""")
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, Long)].collect().toSeq ==
      Seq((1L, 10L), (2L, 2000L), (3L, 30L), (4L, 4000L)))
    // WHEN MATCHED AND EXISTS (… WHERE aux.hk = t.k AND …): a
    // single-equality-correlated EXISTS over the merge row's own
    // column — only k=1 carries a 'y' aux row
    spark.sql(s"""MERGE INTO $cat.t t
      USING (SELECT * FROM VALUES (1L), (3L) AS s(k)) s
      ON t.k = s.k
      WHEN MATCHED AND EXISTS (SELECT 1 FROM $cat.aux a
          WHERE a.hk = t.k AND a.flag = 'y')
        THEN UPDATE SET v = 0L""")
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, Long)].collect().toSeq ==
      Seq((1L, 0L), (2L, 2000L), (3L, 30L), (4L, 4000L)))
    // ON source-only prefilter with a subquery: the source narrows
    // to hot values BEFORE the join
    spark.sql(s"""MERGE INTO $cat.t t
      USING (SELECT k, k * 10 AS nv FROM VALUES (2L), (3L) AS s(k)) s
      ON t.k = s.k AND s.nv * 100 IN (SELECT hot * 100 FROM $cat.hot)
      WHEN MATCHED THEN UPDATE SET v = s.nv""")
    assert(spark.sql(s"SELECT v FROM $cat.t WHERE k = 2")
      .head.getLong(0) == 20L)
    assert(spark.sql(s"SELECT v FROM $cat.t WHERE k = 3")
      .head.getLong(0) == 30L, "k=3 prefiltered out of the source")
    // correlated IN in a clause condition (pre-r16 this was loud) —
    // k=2's v=20 is in
    // {hot : hot = t.v} = {20}; k=1's v=0 matches nothing
    spark.sql(s"""MERGE INTO $cat.t t
      USING (SELECT * FROM VALUES (1L), (2L) AS s(k)) s
      ON t.k = s.k
      WHEN MATCHED AND t.v IN (SELECT hot FROM $cat.hot
          WHERE hot = t.v)
        THEN UPDATE SET v = -1L""")
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, Long)].collect().toSeq ==
      Seq((1L, 0L), (2L, -1L), (3L, 30L), (4L, 4000L)))
    // NON-EQUALITY correlation (outer range) in a clause condition —
    // k=4's v=4000 is in {hot*100 : hot > 4} = {2000, 4000}; k=1's
    // v=0 is not (pre-r16 this was loud)
    spark.sql(s"""MERGE INTO $cat.t t
      USING (SELECT * FROM VALUES (1L), (4L) AS s(k)) s
      ON t.k = s.k
      WHEN MATCHED AND t.v IN (SELECT hot * 100 FROM $cat.hot
          WHERE hot > t.k)
        THEN UPDATE SET v = -9L""")
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, Long)].collect().toSeq ==
      Seq((1L, 0L), (2L, -1L), (3L, 30L), (4L, -9L)))
  }

  test("correlated scalar subquery in SET: groupwise aggregate, empty-group default exact") {
    val wh = freshWarehouse()
    Versioned.commit(Seq((1L, "a", Some(0L)), (2L, "b", Some(0L)),
      (3L, "c", Some(0L))).toDF("k", "grp", "v"), s"$wh/t",
      overwrite = false)
    // group 'a' has rows, 'b' has only filtered-out rows, 'c' none
    Versioned.commit(Seq(("a", 10L, true), ("a", 30L, true),
      ("b", 99L, false)).toDF("g", "x", "ok"), s"$wh/s",
      overwrite = false)
    val cat = freshCat(wh)
    // max(): empty groups answer NULL (b and c)
    spark.sql(s"""UPDATE $cat.t SET v = (SELECT max(x) FROM $cat.s s
        WHERE s.g = t.grp AND s.ok)""")
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, Option[Long])].collect().toSeq ==
      Seq((1L, Some(30L)), (2L, None), (3L, None)))
    // count(): the empty-group default is 0, NOT NULL — the exactness
    // trap a naive ELSE NULL would fail
    spark.sql(s"""UPDATE $cat.t SET v = (SELECT count(*) FROM $cat.s s
        WHERE s.g = t.grp AND s.ok)""")
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, Long)].collect().toSeq ==
      Seq((1L, 2L), (2L, 0L), (3L, 0L)))
    // MERGE assignment values ride the same rewrite
    Seq(1L, 3L).toDF("k").createOrReplaceTempView("scalar_src")
    spark.sql(s"""MERGE INTO $cat.t t USING scalar_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = (SELECT sum(x) FROM $cat.s x
          WHERE x.g = t.grp)""")
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, Option[Long])].collect().toSeq ==
      Seq((1L, Some(40L)), (2L, Some(0L)), (3L, None)))
    // non-aggregate correlated scalars stay loud (the exact message
    // varies with Spark's own limit-decorrelation shape — what
    // matters is no silent wrong answer)
    intercept[Exception] {
      spark.sql(s"""UPDATE $cat.t SET v = (SELECT x FROM $cat.s s
          WHERE s.g = t.grp LIMIT 1)""")
    }
    // head unmoved by the failed statement
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, Option[Long])].collect().toSeq ==
      Seq((1L, Some(40L)), (2L, Some(0L)), (3L, None)))
    // MIXED (equality + outer-row-dependent range) correlation: the
    // range filters BELOW the aggregate, per outer row — never applied
    // to a per-group aggregate after the fact. s.x < t.k keeps no
    // inner row for any k (a: 10, 30; b: 99), so every group is empty
    spark.sql(s"""UPDATE $cat.t SET v = (SELECT max(x) FROM $cat.s s
        WHERE s.g = t.grp AND s.x < t.k)""")
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, Option[Long])].collect().toSeq ==
      Seq((1L, None), (2L, None), (3L, None)))
    // s.x < t.k * 20: k=1 (a) keeps x=10 only; k=2 (b) keeps nothing
    // (99 >= 40); k=3 (c) has no rows — max, then count's 0 default
    spark.sql(s"""UPDATE $cat.t SET v = (SELECT max(x) FROM $cat.s s
        WHERE s.g = t.grp AND s.x < t.k * 20)""")
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, Option[Long])].collect().toSeq ==
      Seq((1L, Some(10L)), (2L, None), (3L, None)))
    spark.sql(s"""UPDATE $cat.t SET v = (SELECT count(*) FROM $cat.s s
        WHERE s.g = t.grp AND s.x < t.k * 20)""")
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, Long)].collect().toSeq ==
      Seq((1L, 1L), (2L, 0L), (3L, 0L)))
  }

  test("range-correlated EXISTS in DML WHERE: an outer range alone and beside an equality") {
    val wh = freshWarehouse()
    Versioned.commit(Seq((1L, 10L), (2L, 25L), (3L, 50L))
      .toDF("k", "v"), s"$wh/t", overwrite = false)
    // thresholds: a row dies when some threshold row with th < v and
    // matching grp... use a pure range correlation plus an inner-only
    Versioned.commit(Seq((Some(30L), "live"), (None, "live"),
      (Some(100L), "dead")).toDF("th", "st"), s"$wh/s",
      overwrite = false)
    val cat = freshCat(wh)
    // EXISTS with NO equality correlation, one outer range: delete
    // rows with some live threshold BELOW v (th=30 < 50 only; the
    // NULL threshold witnesses nothing, 'dead' is inner-only-filtered)
    spark.sql(s"""DELETE FROM $cat.t WHERE EXISTS (
        SELECT 1 FROM $cat.s s WHERE s.th < t.v AND s.st = 'live')""")
    assert(spark.sql(s"SELECT k FROM $cat.t ORDER BY k")
      .as[Long].collect().toSeq == Seq(1L, 2L))
    // mixed + equality in one EXISTS: outer = inner equality AND an
    // outer range — only k=1 has grp 'a' with lo < 15
    Versioned.commit(Seq((10L, "a", 1L), (20L, "a", 2L), (5L, "b", 3L))
      .toDF("w", "grp", "kk"), s"$wh/t2", overwrite = false)
    Versioned.commit(Seq(("a", 15L), ("b", 3L)).toDF("g", "lo"),
      s"$wh/aux2", overwrite = false)
    spark.sql(s"""DELETE FROM $cat.t2 WHERE EXISTS (
        SELECT 1 FROM $cat.aux2 x WHERE x.g = t2.grp AND x.lo > t2.w)""")
    // (10,a): lo=15 > 10 -> dies; (20,a): 15 > 20 false; (5,b): 3 > 5 false
    assert(spark.sql(s"SELECT kk FROM $cat.t2 ORDER BY kk")
      .as[Long].collect().toSeq == Seq(2L, 3L))
  }

  test("MERGE clause conditions: composite-key EXISTS (2 equalities) and multi-column IN") {
    val wh = freshWarehouse()
    Versioned.commit(Seq(
      (1L, "eu", 10L), (2L, "eu", 20L), (3L, "us", 10L))
      .toDF("k", "region", "v"), s"$wh/t", overwrite = false)
    // aux carries (region, v) pairs + a NULL-keyed row that must
    // witness NOTHING under equality semantics
    Versioned.commit(Seq(
      (Some("eu"), Some(10L)), (Some("us"), Some(10L)),
      (None: Option[String], None: Option[Long]))
      .toDF("r", "w"), s"$wh/aux", overwrite = false)
    val cat = freshCat(wh)
    // 2-equality correlated EXISTS in a clause condition — pre-r16
    // loud ("exactly one outer = inner equality"); the NULL-keyed aux
    // row witnesses nothing
    spark.sql(s"""MERGE INTO $cat.t t
      USING (SELECT * FROM VALUES (1L), (2L), (3L) AS s(k)) s
      ON t.k = s.k
      WHEN MATCHED AND EXISTS (SELECT 1 FROM $cat.aux a
          WHERE a.r = t.region AND a.w = t.v)
        THEN UPDATE SET v = t.v * 100""")
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, Long)].collect().toSeq ==
      Seq((1L, 1000L), (2L, 20L), (3L, 1000L)))
    // multi-column IN in a clause condition (the same pairs)
    spark.sql(s"""MERGE INTO $cat.t t
      USING (SELECT * FROM VALUES (1L), (2L), (3L) AS s(k)) s
      ON t.k = s.k
      WHEN MATCHED AND (t.region, t.v) IN (SELECT a.r, a.w * 100
          FROM $cat.aux a)
        THEN UPDATE SET v = -1L""")
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, Long)].collect().toSeq ==
      Seq((1L, -1L), (2L, 20L), (3L, -1L)))
  }

  test("DELETE WHERE multi-column IN lands one mask; NULL tuples witness nothing") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq(
      (1L, Some("eu"), 10L), (2L, Some("eu"), 20L),
      (3L, Some("us"), 10L), (4L, None: Option[String], 40L))
      .toDF("k", "region", "v"), path, overwrite = false)
    Versioned.commit(Seq(
      (Some("eu"), Some(10L)), (None: Option[String], Some(40L)))
      .toDF("r", "w"), s"$wh/s", overwrite = false)
    val cat = freshCat(wh)
    // (region, v) IN (SELECT r, w …): only the (eu, 10) row provably
    // matches — the NULL-field tuples on EITHER side never witness
    // TRUE, and NULL/FALSE both keep the row in DML scope
    spark.sql(s"""DELETE FROM $cat.t WHERE (region, v) IN
        (SELECT r, w FROM $cat.s)""")
    assert(spark.sql(s"SELECT k FROM $cat.t ORDER BY k")
      .as[Long].collect().toSeq == Seq(2L, 3L, 4L))
    // merge-on-read: one mask, zero dirs rewritten
    assert(Versioned.dvDirIds(path, 1).size == 1)
    assert(Versioned.dataDirIds(path, 1) == Versioned.dataDirIds(path, 0))
  }

  test("clause-context NOT IN with a correlated subquery keeps three-valued semantics") {
    val wh = freshWarehouse()
    Versioned.commit(Seq(
      (1L, "a", 10L), (2L, "a", 99L), (3L, "b", 10L))
      .toDF("k", "grp", "v"), s"$wh/t", overwrite = false)
    // group 'a' carries a NULL inner value: NOT IN over a set with a
    // NULL is never TRUE (three-valued), so k=2 must NOT update even
    // though 99 matches nothing; group 'b' has no NULL, so k=3's
    // NOT IN {20} is TRUE
    Versioned.commit(Seq(
      (Some("a"), Some(10L)), (Some("a"), None: Option[Long]),
      (Some("b"), Some(20L))).toDF("g", "w"), s"$wh/s",
      overwrite = false)
    val cat = freshCat(wh)
    spark.sql(s"""MERGE INTO $cat.t t
      USING (SELECT * FROM VALUES (1L), (2L), (3L) AS s(k)) s
      ON t.k = s.k
      WHEN MATCHED AND t.v NOT IN (SELECT w FROM $cat.s x
          WHERE x.g = t.grp)
        THEN UPDATE SET v = -1L""")
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, Long)].collect().toSeq ==
      Seq((1L, 10L), (2L, 99L), (3L, -1L)),
      "k=1 in-set, k=2 NULL (not TRUE), k=3 true complement")
  }

  test("UPDATE WHERE correlated EXISTS on two equalities scopes the post-images") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq(
      (1L, "eu", 10L), (2L, "eu", 20L), (3L, "us", 10L))
      .toDF("k", "region", "v"), path, overwrite = false)
    Versioned.commit(Seq(("eu", 10L), ("us", 99L))
      .toDF("region", "v"), s"$wh/s", overwrite = false)
    val cat = freshCat(wh)
    // multi-equality correlated EXISTS in UPDATE WHERE — the same
    // one-mask scope as DELETE, post-images appended
    spark.sql(s"""UPDATE $cat.t SET v = v + 1000 WHERE EXISTS (
        SELECT 1 FROM $cat.s s
        WHERE s.region = t.region AND s.v = t.v)""")
    assert(spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k")
      .as[(Long, Long)].collect().toSeq ==
      Seq((1L, 1010L), (2L, 20L), (3L, 10L)))
    // merge-on-read shape: one mask + one post-image dir
    assert(Versioned.dvDirIds(path, 1).size == 1)
    assert(Versioned.dataDirIds(path, 1).size == 2)
  }

  test("DELETE with correlated EXISTS/IN: multi-equality correlations land as one mask") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit(Seq(
      (1L, "eu", 10L), (2L, "eu", 20L), (3L, "us", 10L),
      (4L, "us", 40L), (5L, "ap", 50L)).toDF("k", "region", "v"),
      path, overwrite = false)
    // the erase side: (region, v) pairs + a null-keyed row that must
    // witness NOTHING (equality semantics, not struct ordering)
    Versioned.commit(Seq(
      (Some("eu"), Some(10L), "x"), (Some("us"), Some(40L), "y"),
      (None: Option[String], None: Option[Long], "z"))
      .toDF("region", "v", "tag"), s"$wh/s", overwrite = false)
    val cat = freshCat(wh)
    // TWO outer equalities (pre-r15 this was loud): one mask
    spark.sql(s"""DELETE FROM $cat.t WHERE EXISTS (
        SELECT 1 FROM $cat.s s
        WHERE s.region = t.region AND s.v = t.v AND s.tag <> 'q')""")
    assert(spark.sql(s"SELECT k FROM $cat.t ORDER BY k")
      .as[Long].collect().toSeq == Seq(2L, 3L, 5L))
    // zero rewrite, one mask of exactly the two matches
    assert(Versioned.dvDirIds(path, 1).size == 1)
    assert(spark.read.parquet(
      s"$path/dv/${Versioned.dvDirIds(path, 1).head}").count() == 2)
    // correlated IN: the value pair plus the correlation pair
    spark.sql(s"""DELETE FROM $cat.t WHERE v IN (
        SELECT s.v FROM $cat.s s WHERE s.region = t.region)""")
    // remaining: (2,eu,20) kept, (3,us,10) kept (us rows in s carry
    // v=40 only), (5,ap,50) kept (no ap rows in s)
    assert(spark.sql(s"SELECT k FROM $cat.t ORDER BY k")
      .as[Long].collect().toSeq == Seq(2L, 3L, 5L))
  }

  test("DELETE with a 1.1M-key IN-subquery erases through one mask, no key set collected") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    // 1.3M-row target; the erase list holds 1.1M distinct keys (more
    // than 2^20) — the IN plans as a distributed semi-join, so the key
    // set is never collected
    val n = 1300000L
    val erased = 1100000L // > (1 << 20)
    Versioned.commit(
      spark.range(1, n + 1).toDF("k")
        .withColumn("m", col("k") % 7).repartition(4),
      path, overwrite = false)
    val dirsBefore = Versioned.dataDirIds(path, 0)
    spark.range(1, erased + 1).toDF("id")
      .createOrReplaceTempView("erase_src")
    val cat = freshCat(wh)
    // the extra conjunct filters beside the semi-join
    spark.sql(s"""DELETE FROM $cat.t WHERE k IN
        (SELECT id FROM erase_src) AND m <> 0""")
    val expectDeleted = (1L to erased).count(_ % 7 != 0).toLong
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t")
      .head.getLong(0) == n - expectDeleted)
    // merge-on-read: zero dirs rewritten, ONE mask ∝ the matches
    assert(Versioned.dataDirIds(path, 1) == dirsBefore)
    val dv = Versioned.dvDirIds(path, 1)
    assert(dv.size == 1)
    assert(spark.read.parquet(s"$path/dv/${dv.head}").count() ==
      expectDeleted)
    // the surviving rows are exactly the complement
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t " +
      s"WHERE k <= $erased").head.getLong(0) ==
      (1L to erased).count(_ % 7 == 0).toLong)
  }

  /** Commits each frame as the versioned table `<name>` under `wh`
    * and registers a plain temp view `<name>_v` over the same rows. */
  private def twins(wh: String, frames: (String, DataFrame)*): Unit =
    frames.foreach { case (n, df) =>
      Versioned.commit(df, s"$wh/$n", overwrite = false)
      df.createOrReplaceTempView(s"${n}_v")
    }

  /** The keys Spark itself keeps from the plain view `t_v` under
    * `NOT coalesce(pred, false)` — what a DML deleting `pred` leaves. */
  private def sparkKeeps(pred: (String => String) => String): Seq[Long] =
    spark.sql(s"""SELECT k FROM t_v t
        WHERE NOT coalesce(${pred(n => s"${n}_v")}, false) ORDER BY k""")
      .as[Long].collect().toSeq

  private def keysOf(cat: String): Seq[Long] =
    spark.sql(s"SELECT k FROM $cat.t ORDER BY k").as[Long].collect().toSeq

  test("DELETE WHERE EXISTS with a range correlation over 1,500 inner rows matches Spark") {
    val wh = freshWarehouse()
    twins(wh,
      "t" -> (Seq.tabulate(40)(i => (i + 1L, Some((i + 1L) * 50))) :+
        ((41L, None: Option[Long]))).toDF("k", "v"),
      "s" -> spark.range(1000, 2500).toDF("th"))
    val cat = freshCat(wh)
    val pred = (tbl: String => String) =>
      s"EXISTS (SELECT 1 FROM ${tbl("s")} s WHERE s.th < t.v)"
    val expect = sparkKeeps(pred)
    assert(expect.size == 21, expect) // v <= 1000 (k <= 20) and NULL v
    spark.sql(s"DELETE FROM $cat.t t WHERE ${pred(n => s"$cat.$n")}")
    assert(keysOf(cat) == expect)
  }

  test("MERGE WHEN MATCHED AND t.v IN (correlated subquery of 1,800 tuples) matches Spark") {
    val wh = freshWarehouse()
    twins(wh,
      "t" -> Seq.tabulate(30)(i => (i + 1L, Seq("a", "b", "c", "d")(i % 4),
        (i + 1L) * 37 % 700)).toDF("k", "grp", "v"),
      "s" -> (for (g <- Seq("a", "b", "c"); w <- 0L until 600L)
        yield (g, Option(w))).++(Seq(("b", None: Option[Long])))
        .toDF("g", "w"))
    val cat = freshCat(wh)
    val pred = (tbl: String => String) =>
      s"t.v IN (SELECT w FROM ${tbl("s")} x WHERE x.g = t.grp)"
    val expect = sparkKeeps(pred)
    assert(expect.nonEmpty && expect.size < 30, expect)
    spark.sql(s"""MERGE INTO $cat.t t USING t_v s ON t.k = s.k
      WHEN MATCHED AND ${pred(n => s"$cat.$n")} THEN DELETE""")
    assert(keysOf(cat) == expect)
  }

  test("DELETE with two uncorrelated IN conjuncts OR a range EXISTS matches Spark") {
    val wh = freshWarehouse()
    twins(wh,
      "t" -> Seq.tabulate(60)(i => (i + 1L, Seq("a", "b", "c")(i % 3),
        (i + 1L) * 13 % 97)).toDF("k", "grp", "v"),
      "a" -> (Seq.tabulate(20)(i => Option(i * 3L)) :+ None).toDF("id"),
      "b" -> Seq.tabulate(50)(i => i * 2L).toDF("w"),
      "s" -> (for (g <- Seq("a", "b"); th <- 0L until 750L)
        yield (g, th + 90L)).toDF("g", "th"))
    val cat = freshCat(wh)
    val pred = (tbl: String => String) =>
      s"""(t.k IN (SELECT id FROM ${tbl("a")}) AND
            t.v IN (SELECT w FROM ${tbl("b")}))
          OR EXISTS (SELECT 1 FROM ${tbl("s")} s
            WHERE s.g = t.grp AND s.th < t.v)"""
    val expect = sparkKeeps(pred)
    assert(expect.nonEmpty && expect.size < 60, expect)
    spark.sql(s"DELETE FROM $cat.t t WHERE ${pred(n => s"$cat.$n")}")
    assert(keysOf(cat) == expect)
  }

  test("SQL DELETE IN (subquery) and UPDATE WHERE correlated EXISTS start no job from GraftSqlDml") {
    val wh = freshWarehouse()
    Versioned.commit(Seq.tabulate(20)(i => (i + 1L, (i % 4).toLong))
      .toDF("k", "g"), s"$wh/t", overwrite = false)
    Versioned.commit(Seq(2L, 4L, 6L).toDF("id"), s"$wh/e",
      overwrite = false)
    Versioned.commit(Seq(1L, 3L).toDF("h"), s"$wh/hot", overwrite = false)
    val cat = freshCat(wh)
    val (_, delJobs) = graft.JobCounter(spark) {
      spark.sql(s"DELETE FROM $cat.t WHERE k IN (SELECT id FROM $cat.e)")
    }
    val (_, updJobs) = graft.JobCounter(spark) {
      spark.sql(s"""UPDATE $cat.t SET g = g + 10 WHERE EXISTS (
          SELECT 1 FROM $cat.hot h WHERE h.h = t.g)""")
    }
    assert(keysOf(cat) == (1L to 20L).filterNot(Set(2L, 4L, 6L)))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE g > 9")
      .head.getLong(0) == 7L) // g in {1, 3}: the even k, less 2, 4, 6
    Seq(delJobs, updJobs).foreach(jobs => assert(
      !jobs.exists(_.site.contains("GraftSqlDml")), jobs.mkString("\n")))
    // budgets at the measured counts (2 cores); each subquery runs
    // inside the engine's own jobs, and the mask the DELETE staged
    // applies inside the UPDATE's scans
    assert(delJobs.size <= 3, delJobs.mkString("\n"))
    assert(updJobs.size <= 4, updJobs.mkString("\n"))
  }

  test("CREATE TABLE PARTITIONED BY (days(ts)): inserts land daily dirs, SQL time ranges prune") {
    val wh = freshWarehouse()
    val cat = freshCat(wh)
    spark.sql(s"""CREATE TABLE $cat.tp (k BIGINT, ts TIMESTAMP,
      v BIGINT) PARTITIONED BY (days(ts))""")
    val base = java.time.LocalDateTime.of(2024, 3, 1, 0, 0)
    val rows = (1L to 48L).map(i => (i,
      java.sql.Timestamp.valueOf(base.plusHours(i * 6)), i * 10))
    rows.toDF("k", "ts", "v").createOrReplaceTempView("src_tp")
    spark.sql(s"INSERT INTO $cat.tp SELECT k, ts, v FROM src_tp")
    // daily hive dirs under the staged data dir
    val path = s"$wh/tp"
    assert(Versioned.partSpecIds(path, 1).values.toSeq ==
      Seq("days(ts)@UTC"))
    // row-exact full read (files keep the full timestamp)
    assert(spark.sql(s"SELECT k, ts, v FROM $cat.tp")
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet ==
      rows.toSet)
    // a pure-SQL time range prunes whole day directories
    val got = spark.sql(s"""SELECT k FROM $cat.tp
        WHERE ts >= TIMESTAMP '2024-03-03 00:00:00'
          AND ts <  TIMESTAMP '2024-03-05 00:00:00'""")
      .as[Long].collect().toSet
    val (accPath, read, tot) = GraftCatalog.lastVersionedScan.get()
    assert(accPath == path, s"accounting for '$accPath'")
    assert(read < tot, s"day range did not prune ($read/$tot)")
    // exactness: boundary days re-filter row-level
    val want = rows.filter { case (_, t, _) =>
      val l = t.toLocalDateTime
      !l.isBefore(java.time.LocalDateTime.of(2024, 3, 3, 0, 0)) &&
        l.isBefore(java.time.LocalDateTime.of(2024, 3, 5, 0, 0))
    }.map(_._1).toSet
    assert(got == want)
  }

  test("CREATE TABLE PARTITIONED BY (a, b): multi-identity nesting, prune on either column") {
    val wh = freshWarehouse()
    val cat = freshCat(wh)
    spark.sql(s"""CREATE TABLE $cat.tm (k BIGINT, region STRING,
      bucket BIGINT, v BIGINT) PARTITIONED BY (region, bucket)""")
    (1L to 40L).map(i => (i, s"r${i % 2}", i % 4, i))
      .toDF("k", "region", "bucket", "v")
      .createOrReplaceTempView("src_tm")
    spark.sql(s"INSERT INTO $cat.tm SELECT * FROM src_tm")
    val path = s"$wh/tm"
    assert(Versioned.partSpecIds(path, 1).values.toSeq ==
      Seq("region,bucket"))
    // prune on the SECOND spec column — the walker descends past the
    // region level
    val got = spark.sql(
      s"SELECT k FROM $cat.tm WHERE bucket = 2").as[Long]
      .collect().toSet
    val (accPath, read, tot) = GraftCatalog.lastVersionedScan.get()
    assert(accPath == path && read < tot,
      s"nested identity prune did not skip ($accPath $read/$tot)")
    assert(got == (1L to 40L).filter(_ % 4 == 2).toSet)
    // transforms outside identity/time/bucket stay loud
    val err = intercept[Exception] {
      spark.sql(s"""CREATE TABLE $cat.tb (k BIGINT, d STRING)
        PARTITIONED BY (truncate(4, d))""")
    }
    assert(err.getMessage.contains("not supported"),
      s"wrong error: ${err.getMessage}")
  }

  test("CALL system.detail: one-row head accounting (DESCRIBE DETAIL)") {
    val wh = freshWarehouse()
    val cat = freshCat(wh)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, region STRING) " +
      "PARTITIONED BY (region)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 'EU' FROM range(1, 11)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 'US' FROM range(11, 21)")
    spark.sql(s"DELETE FROM $cat.t WHERE k = 5")
    val d = spark.sql(s"CALL $cat.system.detail(`table` => 't')")
      .collect().head
    assert(d.getInt(0) == 3, s"head version: $d") // v0..v3
    assert(d.getInt(1) == 3, s"data dirs (v0 + two inserts): $d")
    assert(d.getInt(2) == 1, s"one dv dir: $d")
    assert(d.getLong(3) > 0L && d.getLong(4) > 0L, s"files/bytes: $d")
    assert(d.getString(6) == "region", s"policy: $d")
    assert(d.getInt(7) == 2, s"two spec'd dirs: $d")
  }

  test("UPDATE SET meta.flag: nested assignment rebuilds the struct, other fields untouched") {
    val wh = freshWarehouse()
    val cat = freshCat(wh)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, " +
      "meta STRUCT<a: INT, flag: STRING>, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES " +
      "(1, named_struct('a', 10, 'flag', 'cold'), 100), " +
      "(2, named_struct('a', 20, 'flag', 'cold'), 200)")
    spark.sql(s"UPDATE $cat.t SET meta.flag = 'hot' WHERE k = 1")
    assert(spark.sql(s"SELECT k, meta.a, meta.flag, v FROM $cat.t " +
        "ORDER BY k").as[(Long, Int, String, Long)].collect().toSeq ==
      Seq((1L, 10, "hot", 100L), (2L, 20, "cold", 200L)))
    // multiple nested fields of one column compose in one statement;
    // a sibling top-level assignment rides along
    spark.sql(s"UPDATE $cat.t SET meta.flag = 'warm', meta.a = 99, " +
      "v = v + 1 WHERE k = 2")
    assert(spark.sql(s"SELECT meta.a, meta.flag, v FROM $cat.t " +
        "WHERE k = 2").as[(Int, String, Long)].head() ==
      ((99, "warm", 201L)))
    // whole-column AND nested-field of the same column is ambiguous
    val err = intercept[Exception] {
      spark.sql(s"UPDATE $cat.t SET meta = named_struct('a', 1, " +
        "'flag', 'x'), meta.a = 2 WHERE k = 1")
    }
    assert(err.getMessage.contains("nested") ||
      err.getMessage.contains("ambiguous") ||
      err.getMessage.contains("Multiple assignments"),
      s"wrong error: ${err.getMessage}")
  }

  test("MERGE WHEN MATCHED SET meta.flag: nested assignment in a merge clause") {
    val wh = freshWarehouse()
    val cat = freshCat(wh)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, " +
      "meta STRUCT<a: INT, flag: STRING>)")
    spark.sql(s"INSERT INTO $cat.t VALUES " +
      "(1, named_struct('a', 10, 'flag', 'cold')), " +
      "(2, named_struct('a', 20, 'flag', 'cold'))")
    Seq((1L, "hot")).toDF("k", "nf").createOrReplaceTempView("dml_src")
    spark.sql(s"""MERGE INTO $cat.t t USING dml_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET meta.flag = s.nf""")
    assert(spark.sql(s"SELECT k, meta.a, meta.flag FROM $cat.t " +
        "ORDER BY k").as[(Long, Int, String)].collect().toSeq ==
      Seq((1L, 10, "hot"), (2L, 20, "cold")))
    // nested assignment INTO an ON key column is the mask hazard —
    // loud, with the workaround named
    spark.sql(s"CREATE TABLE $cat.kt (sk STRUCT<id: BIGINT>, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.kt VALUES (named_struct('id', 1L), 5)")
    Seq(1L).toDF("id").createOrReplaceTempView("dml_ksrc")
    val err = intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.kt t USING dml_ksrc s
        ON t.sk = named_struct('id', s.id)
        WHEN MATCHED THEN UPDATE SET sk.id = 99""")
    }
    assert(err.getMessage.contains("nested field"),
      s"wrong error: ${err.getMessage}")
  }

  test("SQL ALTER TABLE on struct fields: add, widen, rename, drop through the dotted grammar") {
    val wh = freshWarehouse()
    val cat = freshCat(wh)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, meta STRUCT<a: INT>)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, named_struct('a', 10))")
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN meta.flag STRING")
    // pre-existing row null-fills the nested add
    assert(spark.sql(s"SELECT meta.flag FROM $cat.t")
      .as[Option[String]].head().isEmpty)
    spark.sql(s"INSERT INTO $cat.t VALUES " +
      "(2, named_struct('a', 20, 'flag', 'x'))")
    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN meta.a TYPE BIGINT")
    assert(spark.sql(s"SELECT k, meta.a, meta.flag FROM $cat.t " +
        "ORDER BY k").as[(Long, Long, Option[String])]
      .collect().toSeq ==
      Seq((1L, 10L, None), (2L, 20L, Some("x"))))
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN meta.flag TO tag")
    assert(spark.sql(s"SELECT meta.tag FROM $cat.t WHERE k = 2")
      .as[String].head() == "x")
    spark.sql(s"ALTER TABLE $cat.t DROP COLUMN meta.tag")
    assert(spark.sql(s"SELECT meta FROM $cat.t").schema.head
      .dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("a"))
  }
}
