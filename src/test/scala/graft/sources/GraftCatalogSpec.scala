package graft.sources

import graft.{JobCounter, SparkSpec}
import org.apache.spark.sql.functions._

/** The DSv2 SQL front door ([[GraftCatalog]]): head, `VERSION AS OF`,
  * `TIMESTAMP AS OF`, and DV-masked reads through plain `spark.sql`
  * text must equal the Scala-API [[Versioned]] reads, with pushdown
  * reaching the underlying parquet scans. */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def freshWarehouse(): String = java.nio.file.Files
    .createTempDirectory("graft_sqlcat").toString

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).sorted.toSeq

  test("head / VERSION AS OF / TIMESTAMP AS OF match the Scala API") {
    val wh = freshWarehouse()
    val path = s"$wh/sales"
    Versioned.commit(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("k", "v", "amt"), path, overwrite = false) // v0
    val tsAfterV0 = System.currentTimeMillis()
    Thread.sleep(5) // commit stamps are millis: order the clock reads
    Versioned.commit(Seq((3L, "c", 30L)).toDF("k", "v", "amt"),
      path, overwrite = false) // v1
    GraftCatalog.register(spark, "g1", wh)

    // head == Scala head
    assert(sortedRows(spark.sql("SELECT * FROM g1.sales")) ==
      sortedRows(Versioned.read(spark, path)))
    // VERSION AS OF 0 == Scala v0
    assert(sortedRows(
      spark.sql("SELECT * FROM g1.sales VERSION AS OF 0")) ==
      sortedRows(Versioned.read(spark, path, Some(0))))
    // TIMESTAMP AS OF between the commits == v0 (micros in SQL come
    // from a timestamp literal; build it from the millis stamp)
    val tsLit = java.time.Instant.ofEpochMilli(tsAfterV0).toString
    assert(sortedRows(spark.sql(
      s"SELECT * FROM g1.sales TIMESTAMP AS OF '$tsLit'")) ==
      sortedRows(Versioned.readAsOf(spark, path, tsAfterV0)))
    // aggregation through the SQL name agrees with the DataFrame route
    val viaSql = spark.sql(
      "SELECT sum(amt) AS s FROM g1.sales").head.getLong(0)
    val viaApi = Versioned.read(spark, path)
      .agg(sum("amt")).head.getLong(0)
    assert(viaSql == viaApi && viaSql == 60L)
  }

  test("DV-masked snapshots read identically through SQL") {
    val wh = freshWarehouse()
    val path = s"$wh/dv"
    Versioned.commit((1L to 100L).map(i => (i, i % 7))
      .toDF("k", "m"), path, overwrite = false)
    Versioned.deleteWhereDV(spark, path, col("m") === 3) // mask only
    GraftCatalog.register(spark, "g2", wh)
    val viaSql = spark.sql("SELECT k FROM g2.dv ORDER BY k")
      .as[Long].collect().toSeq
    val viaApi = Versioned.read(spark, path).select("k")
      .orderBy("k").as[Long].collect().toSeq
    assert(viaSql == viaApi)
    assert(!viaSql.exists(_ % 7 == 3) && viaSql.size == 86)
    // time travel BELOW the delete still shows the masked rows
    assert(spark.sql(
      "SELECT count(*) AS n FROM g2.dv VERSION AS OF 0")
      .head.getLong(0) == 100L)
  }

  test("filter and column pushdown reach the inner parquet scan") {
    val wh = freshWarehouse()
    val path = s"$wh/push"
    Versioned.commit((1L to 1000L).map(i => (i, s"name$i", i * 2))
      .toDF("k", "nm", "x"), path, overwrite = false)
    GraftCatalog.register(spark, "g3", wh)
    val q = spark.sql(
      "SELECT k FROM g3.push WHERE k > 990 AND nm LIKE 'name99%'")
    // the V2 layer consumed BOTH predicates and the projection: the
    // optimized plan is the bare relation (no residual Filter/Project
    // above it) with only `k` in its output
    val v2plan = q.queryExecution.optimizedPlan
    assert(v2plan.collectLeaves().size == 1 &&
      v2plan.toString.startsWith("RelationV2[k#"),
      s"pushdown left residual operators:\n$v2plan")
    // and the executed scan records the pushed filters
    val executed = q.queryExecution.executedPlan.toString
    assert(executed.contains("GreaterThan(k,990)"),
      s"pushed filters missing from executed scan:\n$executed")
    assert(q.as[Long].collect().toSet ==
      Set(991L, 992L, 993L, 994L, 995L, 996L, 997L, 998L, 999L))
    // schema pruning: the executed inner scan must not read 'x'
    assert(!executed.contains("x:bigint"),
      s"column pruning lost:\n$executed")
  }

  test("evolved snapshots: each version reads under its own schema through SQL") {
    val wh = freshWarehouse()
    val path = s"$wh/evo"
    Versioned.commit(Seq((1L, "a", 9L)).toDF("k", "v", "junk"),
      path, overwrite = false)
    Versioned.dropColumn(path, "junk")
    Versioned.commit(Seq((2L, "b")).toDF("k", "v"), path,
      overwrite = false)
    GraftCatalog.register(spark, "g4", wh)
    assert(spark.sql("SELECT * FROM g4.evo").columns.toSeq ==
      Seq("k", "v"))
    assert(spark.sql("SELECT * FROM g4.evo VERSION AS OF 0")
      .columns.toSeq == Seq("k", "v", "junk"))
    assert(spark.sql("SELECT count(*) AS n FROM g4.evo")
      .head.getLong(0) == 2L)
  }

  test("renamed tables through SQL: new-name reads, time-travel old names, INSERT under the new name") {
    // column mapping × the SQL front door: the catalog resolves each
    // snapshot's schema from ITS manifest, so a rename shows the new
    // name at the head, the old name under VERSION AS OF, and SQL
    // inserts land under the new logical name (physical mapping
    // applied by the commit path, invisible here)
    val wh = freshWarehouse()
    val path = s"$wh/ren"
    Versioned.commit(Seq((1L, 10L)).toDF("k", "amt"), path,
      overwrite = false) // v0
    Versioned.renameColumn(path, "amt", "amount") // v1 (meta)
    GraftCatalog.register(spark, "g6", wh)
    assert(spark.sql("SELECT * FROM g6.ren").columns.toSeq ==
      Seq("k", "amount"))
    // old FILE bytes read under the new name through pure SQL
    assert(spark.sql("SELECT amount FROM g6.ren WHERE k = 1")
      .head.getLong(0) == 10L)
    // time travel below the rename shows the old name
    assert(spark.sql("SELECT * FROM g6.ren VERSION AS OF 0")
      .columns.toSeq == Seq("k", "amt"))
    // filter pushdown on the RENAMED column still reaches the scan
    // (the V2 layer pushes 'amount'; the inner frame's rename
    // projection carries it down to the physical 'amt' scan filter)
    val q = spark.sql("SELECT k FROM g6.ren WHERE amount > 5")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // INSERT under the new name: the commit path maps to the
    // immutable physical name; both eras read back as one column
    spark.sql("INSERT INTO g6.ren VALUES (2, 20)")
    assert(spark.sql("SELECT sum(amount) AS s FROM g6.ren")
      .head.getLong(0) == 30L)
    assert(Versioned.read(spark, path).columns.toSeq ==
      Seq("k", "amount"))
  }

  test("ALTER TABLE ADD/RENAME/DROP COLUMN run the guarded metadata commits from SQL") {
    val wh = freshWarehouse()
    val path = s"$wh/ddl"
    Versioned.commit(Seq((1L, "a", 5L)).toDF("k", "v", "junk"),
      path, overwrite = false) // v0
    GraftCatalog.register(spark, "g7", wh)
    // RENAME via SQL text → Versioned.renameColumn metadata commit
    spark.sql("ALTER TABLE g7.ddl RENAME COLUMN v TO label")
    assert(Versioned.read(spark, path).columns.toSeq ==
      Seq("k", "label", "junk"))
    // DROP via SQL → tombstoned physical, zero rewrite
    spark.sql("ALTER TABLE g7.ddl DROP COLUMN junk")
    assert(Versioned.read(spark, path).columns.toSeq == Seq("k", "label"))
    // ADD via SQL → nullable metadata column, old rows null-fill
    spark.sql("ALTER TABLE g7.ddl ADD COLUMN score BIGINT")
    val head = spark.sql("SELECT * FROM g7.ddl")
    assert(head.columns.toSeq == Seq("k", "label", "score"))
    assert(head.select("score").head.isNullAt(0))
    // ADD of a DROPPED name gets a fresh physical: old junk bytes
    // can never resurrect through the SQL path either
    spark.sql("ALTER TABLE g7.ddl ADD COLUMN junk BIGINT")
    assert(spark.sql("SELECT junk FROM g7.ddl").head.isNullAt(0),
      "SQL re-add resurrected dropped bytes")
    // data lands under the evolved schema via SQL and reads back
    spark.sql("INSERT INTO g7.ddl VALUES (2, 'b', 9, 7)")
    assert(spark.sql(
      "SELECT sum(score) AS s, sum(junk) AS j FROM g7.ddl")
      .head.toSeq == Seq(9L, 7L))
    // the whole chain was metadata: still exactly 2 DATA dirs (v0 +
    // the insert), 5 ledger versions before the insert
    assert(Versioned.dataDirIds(path,
      Versioned.latestVersion(path)).size == 2)
    // guards still fire through SQL: dropping the last column /
    // renaming onto a live name fail loudly
    intercept[Exception] {
      spark.sql("ALTER TABLE g7.ddl RENAME COLUMN label TO k")
    }
  }

  test(".partitions metadata table: per-value file/byte/dir accounting, NULL for plain dirs") {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_cat_parts").toString
    val path = s"$wh/t"
    val spec = Seq(Versioned.PartField("grp", None))
    Versioned.commitPartitionedSpec(
      Seq((1L, "a"), (2L, "b")).toDF("k", "grp"), path, spec)
    Versioned.commitPartitionedSpec(
      Seq((3L, "a")).toDF("k", "grp"), path, spec) // 'a' again: 2 dirs
    Versioned.commit(Seq((4L, "c")).toDF("k", "grp"), path,
      overwrite = false) // plain dir
    GraftCatalog.register(spark, "gparts", wh)
    val rows = spark.sql(
      "SELECT part_spec, part_value, n_files, size_bytes, n_dirs " +
        "FROM gparts.t.partitions ORDER BY part_value NULLS LAST")
      .collect()
    val byValue = rows.map(r => Option(r.getString(1)) ->
      (Option(r.getString(0)), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(byValue.keySet == Set(Some("grp=a"), Some("grp=b"), None))
    val (specA, filesA, bytesA, dirsA) = byValue(Some("grp=a"))
    assert(specA.contains("grp") && filesA >= 2 && bytesA > 0 &&
      dirsA == 2, s"grp=a spans two commits: $byValue")
    assert(byValue(Some("grp=b"))._4 == 1)
    val (specN, filesN, _, _) = byValue(None)
    assert(specN.isEmpty && filesN >= 1, "plain dir under NULL spec")
  }

  test("versionBytes equals the sum of <t>.files on a stats- and bloom-indexed table") {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_cat_bytes").toString
    val path = s"$wh/t"
    Versioned.commitIndexed(spark.range(0, 2000).selectExpr("id AS k",
      "id * 3 AS v").repartitionByRange(4, col("k")), path, Seq("k"),
      overwrite = false)
    Versioned.commitBloomIndexed(spark.range(2000, 4000).selectExpr(
      "id AS k", "id * 3 AS v").repartition(4), path, "k",
      expectedPerFile = 1000L)
    GraftCatalog.register(spark, "gbytes", wh)
    val files = spark.sql("SELECT sum(size_bytes) FROM gbytes.t.files")
      .head.getLong(0)
    assert(Versioned.versionBytes(path, 1) == files,
      s"versionBytes ${Versioned.versionBytes(path, 1)} vs .files $files")
  }

  test("small versioned tables broadcast-join: the size hint sees the real file listing") {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_cat_stats").toString
    Versioned.commit((1L to 500L).map(k => (k, s"n$k"))
      .toDF("k", "name"), s"$wh/dim", overwrite = false)
    GraftCatalog.register(spark, "gstat", wh)
    // the evidence: the pinned version's REAL file bytes, tiny
    val bytes = Versioned.versionBytes(s"$wh/dim", 0)
    assert(bytes > 0 && bytes < (10L << 20), s"bytes=$bytes")
    // …so the dim⨝fact join PLANS as a broadcast with no user hints
    // (the V1ScanWrapper hides scan stats — VersionedJoinHint is the
    // path that makes this possible)
    val q = "SELECT count(*) FROM range(100000) b " +
      "JOIN gstat.dim d ON b.id = d.k"
    val df = spark.sql(q)
    assert(df.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      df.queryExecution.executedPlan.toString.take(2000))
    assert(df.head.getLong(0) == 500L)
    // a disabled threshold disables the hint — never a forced plan
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      assert(!spark.sql(q).queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
    } finally spark.conf.set(key, prev)
  }

  test("INSERT INTO / OVERWRITE commit through the versioned ledger; missing tables fail loudly") {
    val wh = freshWarehouse()
    val path = s"$wh/w"
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), path,
      overwrite = false) // v0
    GraftCatalog.register(spark, "g5", wh)
    // INSERT INTO = one append COMMIT: ledger grows, feed publishes,
    // Scala reads see it
    spark.sql("INSERT INTO g5.w VALUES (2, 'b')")
    assert(Versioned.latestVersion(path) == 1)
    assert(Versioned.read(spark, path).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
    assert(Versioned.readChanges(spark, path, 1, 1).count() == 1)
    // time travel still sees the pre-insert snapshot
    assert(spark.sql("SELECT count(*) AS n FROM g5.w VERSION AS OF 0")
      .head.getLong(0) == 1L)
    // constraints gate SQL inserts exactly like Scala commits
    Versioned.addConstraint(spark, path, "k > 0") // v2 (meta)
    intercept[Exception] {
      spark.sql("INSERT INTO g5.w VALUES (-5, 'bad')")
    }
    assert(Versioned.read(spark, path).count() == 2) // nothing landed
    // INSERT OVERWRITE = one overwrite commit (truncate-and-load)
    spark.sql("INSERT OVERWRITE g5.w VALUES (9, 'z')")
    assert(Versioned.read(spark, path).as[(Long, String)]
      .collect().toSeq == Seq((9L, "z")))
    // history before the overwrite still time-travels
    assert(spark.sql("SELECT count(*) AS n FROM g5.w VERSION AS OF 1")
      .head.getLong(0) == 2L)
    // missing tables still fail loudly
    intercept[Exception] {
      spark.sql("SELECT * FROM g5.nope").collect()
    }
  }

  test("TRUNCATE TABLE empties a masked table under its ledger schema, inferring nothing") {
    val wh = freshWarehouse()
    val path = s"$wh/t"
    Versioned.commit((1L to 30L).map(k => (k, s"v$k")).toDF("k", "v"),
      path, overwrite = false)
    Versioned.deleteWhereDV(spark, path, col("k") <= 10L) // masked
    val schema = Versioned.schemaAt(spark, path, 1)
    GraftCatalog.register(spark, "g_trunc", wh)
    val (_, jobs) = JobCounter(spark) {
      spark.sql("TRUNCATE TABLE g_trunc.t")
    }
    // the schema comes from the ledger, not from a snapshot read
    assert(jobs.forall(!_.isReaderJob), jobs.mkString("\n"))
    assert(Versioned.latestVersion(path) == 2)
    assert(Versioned.read(spark, path).count() == 0L)
    // the ledger schema carries over exactly, NOT NULL included (a
    // snapshot read's schema is all-nullable)
    assert(Versioned.schemaAt(spark, path, 2) == schema)
    // history before the truncate still time-travels
    assert(spark.sql("SELECT count(*) AS n FROM g_trunc.t VERSION AS OF 1")
      .head.getLong(0) == 20L)
  }
}
