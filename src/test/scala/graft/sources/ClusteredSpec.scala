package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** The data-skipping layouts and indexes behind the versioned table:
  * z-ordered clustered commits, per-file min/max in each data dir's
  * `_files.json`, and per-file bloom sidecars. */
class ClusteredSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("zorder").toString + "/t"

  // two independent uniform dimensions: a linear sort on x gives
  // files that each span the FULL y domain (no y-skipping possible);
  // the z-order write must bound both
  private def grid() = (0 until 20000).map { i =>
    val x = (i * 7919L) % 10000 // co-prime stride: uniform, unordered
    val y = (i * 104729L) % 10000
    (i.toLong, x, y)
  }.toDF("id", "x", "y").repartition(8)

  /** `rows` as a frame of exactly one file per slice of `perFile`
    * rows, in order. */
  private def filesOf(schema: StructType, perFile: Int, rows: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows,
      rows.size / perFile), schema)

  test("z-clustered files skip on BOTH dimensions; results stay exact") {
    val zpath = tmpTable()
    Versioned.commitClustered(grid(), zpath, "x", "y", files = 16,
      overwrite = false)

    // narrow range on x
    val (dfx, keptX, totX) =
      Versioned.readRangeClustered(spark, zpath, "x", 100, 600)
    assert(totX == 16)
    assert(keptX < totX, s"x-range read $keptX of $totX files — no skipping")
    // narrow range on y — the dimension a linear sort cannot bound
    val (dfy, keptY, totY) =
      Versioned.readRangeClustered(spark, zpath, "y", 100, 600)
    assert(keptY < totY, s"y-range read $keptY of $totY files — no skipping")

    // row-level exactness vs a full-scan oracle
    val wantX = grid().filter(col("x").between(100, 600))
      .select("id").as[Long].collect().toSet
    assert(dfx.select("id").as[Long].collect().toSet == wantX)
    val wantY = grid().filter(col("y").between(100, 600))
      .select("id").as[Long].collect().toSet
    assert(dfy.select("id").as[Long].collect().toSet == wantY)
  }

  test("linear layout cannot skip the second dimension — z-order can") {
    val lin = tmpTable()
    // the comparison layout: same file count, sorted by x only, with
    // both columns indexed
    Versioned.commitIndexed(grid().repartitionByRange(16, col("x"))
      .sortWithinPartitions("x"), lin, Seq("x", "y"), overwrite = false)
    val (_, keptLin, totLin) =
      Versioned.readRangeClustered(spark, lin, "y", 100, 600)
    val (_, keptZ, totZ) =
      Versioned.readRangeClustered(spark, lin, "x", 100, 600)
    // x-sorted files skip on x...
    assert(keptZ < totZ)
    // ...but every x-sorted file spans the full y domain: zero skipped
    assert(keptLin == totLin,
      s"linear layout unexpectedly skipped y files ($keptLin/$totLin)")
  }

  test("bloom file index: point lookups skip files ranges cannot") {
    val path = tmpTable()
    // ids UNIFORM across files (hash layout): every file's [min, max]
    // id range spans nearly the full domain — min/max skipping is
    // useless here, which is exactly the bloom index's case
    Versioned.commitBloomIndexed((0 until 20000).map(i => (i.toLong, s"p$i"))
      .toDF("id", "payload").repartition(16, col("id")), path, "id",
      expectedPerFile = 2000L)
    Versioned.buildStatsIndex(spark, path, Seq("id"))

    val (_, keptRange, totRange) =
      Versioned.readRangeClustered(spark, path, "id", 7777, 7777)
    assert(keptRange == totRange,
      "hash layout should defeat range skipping (the control)")
    val (df, keptB, totB) =
      Versioned.readEqualityClustered(spark, path, "id", 7777L)
    assert(totB == 16)
    assert(keptB < totB, s"bloom kept $keptB of $totB files — no skipping")
    assert(df.select("payload").as[String].collect().toSeq == Seq("p7777"))
    // absent key: bloom may keep a few false-positive files but the
    // residual filter returns zero rows
    val (dfAbs, _, _) =
      Versioned.readEqualityClustered(spark, path, "id", 999999L)
    assert(dfAbs.count() == 0)
  }

  test("bloom probe hashes with the column's own type (int column, long probe)") {
    // XxHash64 hashes IntegerType and LongType differently; the probe
    // must cast the literal to the INDEXED column's type or every
    // lookup with a wider literal false-negatives
    val path = tmpTable()
    Versioned.commitBloomIndexed((0 until 5000).map(i => (i, s"p$i"))
      .toDF("id", "payload") // id: INT
      .repartition(8, col("id")), path, "id", expectedPerFile = 1000L)
    val (df, kept, tot) =
      Versioned.readEqualityClustered(spark, path, "id", 4321L)
    assert(kept >= 1 && kept <= tot)
    assert(df.select("payload").as[String].collect().toSeq == Seq("p4321"))
    // incompatible probe type fails loudly instead of silently skipping
    val err = intercept[IllegalArgumentException] {
      graft.ops.Bloom.hash64("not-a-number",
        org.apache.spark.sql.types.IntegerType)
    }
    assert(err.getMessage.contains("does not convert"))
    // …and the pruned read degrades to keep-all rather than skip
    val (_, keptBad, totBad) = Versioned.readEqualityClustered(spark, path,
      "id", "not-a-number")
    assert(keptBad == totBad)
    // a BIGINT append widens the column; its inherited bloom hashes
    // BIGINT while the first dir's blooms keep hashing INT, so each
    // dir is probed with the type its blooms were built under
    Versioned.commit((5000L until 6000L).map(i => (i, s"p$i"))
      .toDF("id", "payload").repartition(2), path, overwrite = false)
    Seq(4321L -> "p4321", 5500L -> "p5500").foreach { case (k, want) =>
      val (w, keptW, totW) =
        Versioned.readEqualityClustered(spark, path, "id", k)
      assert(keptW < totW && totW == 10, s"($keptW, $totW)")
      assert(w.select("payload").as[String].collect().toSeq == Seq(want))
    }
  }

  test("range prune is driver-side: 8k-file synthetic entries, bloom probe distributed") {
    // the range index is per-file bounds in the dir's _files.json: a
    // 10⁴-file dir prunes by interval arithmetic on the driver, and
    // survives its JSON round-trip
    val facts = DirFacts((0 until 8000).map(i => FileFacts(s"f$i", 100L,
      Map("v" -> ((Some(i * 10.0), Some(i * 10.0 + 9.0)))))), Seq("v"))
    assert(facts.rangeKeep("v", 100, 119).map(_.path).toSet ==
      Set("f10", "f11"))
    val back = DirFacts.parse(DirFacts.render(facts))
    assert(back == facts)
    assert(back.files.size == 8000)

    // bloom index at the same scale: 8000 one-key blooms, point probe
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    (0 until 8000).map(i => (s"f$i", i.toLong)).toDF("file", "k")
      .groupBy("file")
      .agg(graft.ops.Bloom.bloomAgg(col("k"), 10L).as("bloom"))
      .write.mode("overwrite").parquet(Clustered.bloomPath(dir, "v"))
    val keepB = Clustered.pruneEquality(spark, dir, "v", 4321L, LongType)
    assert(keepB.contains("f4321"))
    assert(keepB.size < 400, // ~1/8000 true + fp rate, far under 5%
      s"bloom pruned nothing: ${keepB.size} of 8000 survived")
  }

  test("non-numeric clustering keys are rejected loudly") {
    val df = Seq((1L, "a", 2L)).toDF("id", "name", "v")
    val err = intercept[IllegalArgumentException] {
      Versioned.commitClustered(df, tmpTable(), "name", "v", files = 2,
        overwrite = false)
    }
    assert(err.getMessage.contains("must be numeric"))
  }

  test("a bloom-pruned read logs no ignored-paths warning for its sidecar") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val path = tmpTable()
    Versioned.commitBloomIndexed((0 until 2000).map(i => (i.toLong, s"p$i"))
      .toDF("id", "payload").repartition(4, col("id")), path, "id",
      expectedPerFile = 1000L)
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("bloom-warn", null, null, true,
        Array.empty) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage): Unit
    }
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    capture.start()
    root.addAppender(capture)
    val (df, kept, total) = try
      Versioned.readEqualityClustered(spark, path, "id", 777L)
    finally { root.removeAppender(capture); capture.stop() }
    assert(kept < total, s"expected a bloom-pruned read, kept $kept of $total")
    assert(df.select("payload").as[String].collect().toSeq == Seq("p777"))
    val ignored = lines.toArray.map(_.toString)
      .filter(_.contains("All paths were ignored"))
    assert(ignored.isEmpty, ignored.mkString("\n"))
  }

  test("string stat values (quotes included) round-trip through _files.json and never prune") {
    // a quote-bearing string column in the indexed set: its name and
    // the file paths travel through ManifestJson's escaping, and its
    // non-numeric bounds cast to null — a range prune on it keeps
    // every file (unknown never justifies a skip)
    val path = tmpTable()
    val tag = "t\"ag"
    Versioned.commitIndexed(Seq((1L, "say \"hi\"", 10L), (2L, "plain", 20L))
      .toDF("id", tag, "v").repartition(2), path, Seq(tag, "v"),
      overwrite = false)
    val dirId = Versioned.dataDirIds(path, 0).head
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "data", dirId, DirFacts.FileName)),
      "UTF-8")
    assert(ManifestJson.parseObject(text)("stats") == List(tag, "v"))
    val facts = Versioned.dirFacts(path, dirId)
    assert(facts == DirFacts.parse(DirFacts.render(facts)))
    assert(facts.files.forall(_.bounds(tag) == ((None, None))))
    assert(facts.files.exists(_.bounds("v") == ((Some(10.0), Some(20.0)))))
    val (_, keep, total) =
      Versioned.readRangeClustered(spark, path, tag, 0, 1)
    assert(keep == total, "non-numeric bounds must never skip")
  }

  test("NaN and ±Infinity bounds keep their files, through readRangeClustered and SQL") {
    val wh = java.nio.file.Files.createTempDirectory("zorder").toString
    val path = s"$wh/t"
    val nan = Double.NaN
    val inf = Double.PositiveInfinity
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("x", DoubleType)))
    val xs = Seq(1.0, 5.5, nan, 10.0, 20.0, 30.0, -inf, -5.0, -1.0,
      7.0, 8.0, inf, nan, nan, nan)
    Versioned.commitIndexed(filesOf(schema, 3,
      xs.zipWithIndex.map { case (x, i) => Row(i.toLong, x) }), path,
      Seq("x"), overwrite = false)
    // JSON has no NaN or ±Infinity: such bounds are stored unknown
    val facts = Versioned.dirFacts(path, Versioned.dataDirIds(path, 0).head)
    assert(facts.files.map(_.bounds("x")).toSet == Set(
      (Some(1.0), None), (Some(10.0), Some(30.0)), (None, Some(-1.0)),
      (Some(7.0), None), (None, None)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "x").collect().map(_.toString).toSeq.sorted
    def want(where: String) =
      rows(Versioned.read(spark, path).filter(expr(where)))
    // {1.0, 5.5, NaN} has hi = NaN under Spark's ordering: [5, 6]
    // must read it. An unknown lo reads as -Infinity and an unknown hi
    // as +Infinity, so [10, 30], {-inf, -5, -1} and {7, 8, inf} skip;
    // the all-NaN file keeps both bounds unknown and stays
    val (r, kept, total) = Versioned.readRangeClustered(spark, path, "x",
      5.0, 6.0)
    assert((kept, total) == ((2, 5)))
    assert(rows(r) == want("x BETWEEN 5 AND 6") && rows(r).size == 1)
    // an infinite bound is open: NaN rows satisfy x >= 25 in Spark
    val (open, _, _) = Versioned.readRangeClustered(spark, path, "x",
      25.0, inf)
    assert(rows(open) == want("x >= 25") && rows(open).size == 6)
    GraftCatalog.register(spark, "gnan", wh)
    Seq("x BETWEEN 5 AND 6", "x > 25", "x < 0", "x >= 8", "x <= -5",
        "x = 5.5").foreach { where =>
      GraftCatalog.lastVersionedScan.set(("", -1, -1))
      assert(rows(spark.sql(s"SELECT * FROM gnan.t WHERE $where")) ==
        want(where), where)
      assert(GraftCatalog.lastVersionedScan.get()._1 == path,
        s"$where did not take the pruned route")
    }
  }

  test("null bounds keep their file") {
    val path = tmpTable()
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("x", LongType)))
    val xs: Seq[java.lang.Long] = Seq(null, null, null, null,
      1L, 2L, 3L, 4L, 1000L, 1001L, 1002L, 1003L)
    Versioned.commitIndexed(filesOf(schema, 4,
      xs.zipWithIndex.map { case (x, i) => Row(i.toLong, x) }), path,
      Seq("x"), overwrite = false)
    val facts = Versioned.dirFacts(path, Versioned.dataDirIds(path, 0).head)
    assert(facts.files.count(_.bounds("x") == ((None, None))) == 1)
    // the all-null file and the matching one stay, the other skips
    val (df, kept, total) =
      Versioned.readRangeClustered(spark, path, "x", 1000, 1003)
    assert((kept, total) == ((2, 3)))
    assert(df.count() == 4)
  }

  test("morton interleave matches a bit-by-bit reference for random pairs") {
    // the Column cascade in clusteredFrame must BE the textbook
    // interleave — verify against an independent per-bit construction
    def ref(a: Int, b: Int): Long =
      (0 until 16).foldLeft(0L) { (acc, i) =>
        acc | ((a >> i) & 1L) << (2 * i) | ((b >> i) & 1L) << (2 * i + 1)
      }
    val rnd = new scala.util.Random(7)
    val pairs = Seq((0, 0), (65535, 65535), (65535, 0), (0, 65535)) ++
      Seq.fill(200)((rnd.nextInt(65536), rnd.nextInt(65536)))
    val df = pairs.toDF("a", "b")
      .withColumn("z", graft.sources.Clustered.mortonForTest(
        col("a").cast("long"), col("b").cast("long")))
    val got = df.select("a", "b", "z").as[(Int, Int, Long)].collect()
    got.foreach { case (a, b, z) =>
      assert(z == ref(a, b), s"morton($a, $b)")
    }
  }

  test("null clustering keys write safely and range reads stay exact") {
    val withNulls = (0 until 5000).map { i =>
      val x: java.lang.Long = if (i % 17 == 0) null else (i * 7919L) % 10000
      (i.toLong, x, (i * 104729L) % 10000)
    }.toDF("id", "x", "y")
    val zpath = tmpTable()
    Versioned.commitClustered(withNulls, zpath, "x", "y", files = 8,
      overwrite = false)
    // row count survives the clustered rewrite (nulls included)
    assert(Versioned.read(spark, zpath).count() == 5000)
    val (df, kept, tot) =
      Versioned.readRangeClustered(spark, zpath, "x", 100, 600)
    assert(kept <= tot)
    val want = withNulls.filter(col("x").between(100, 600))
      .select("id").as[Long].collect().toSet
    assert(df.select("id").as[Long].collect().toSet == want)
  }

  test("empty keep-set and null-safe read still return exact rows") {
    val zpath = tmpTable()
    Versioned.commitClustered(grid(), zpath, "x", "y", files = 4,
      overwrite = false)
    val (df, kept, tot) =
      Versioned.readRangeClustered(spark, zpath, "x", 20000, 30000)
    assert(kept == 0 && tot == 4)
    assert(df.count() == 0)
  }
}
