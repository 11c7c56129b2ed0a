package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Z-order clustered writes + file-level min/max statistics + bloom
  * file indexes + skipping read paths — the data-skipping triad every
  * large-scale table format (Delta OPTIMIZE ZORDER, Iceberg sort
  * orders, Hudi clustering) builds on, here as plain parquet + a
  * PARQUET sidecar table per index so the mechanism is inspectable
  * AND the index itself scales like data.
  *
  * WHY at 100 TB: partition pruning only cuts the dimension you
  * partitioned by. Queries that filter on a SECOND (or third) column
  * still scan every file of the surviving partitions unless files are
  * *clustered* so each covers a narrow range of those columns too.
  * Interleaving the bits of the clustering keys (a Morton / Z-value)
  * and range-partitioning + sorting by it gives every output file a
  * tight bounding box in ALL clustered dimensions at once; a
  * min/max-per-file index then skips most files for a selective
  * range predicate on ANY clustered column — no engine changes, just
  * layout. This composes with [[Export.partitionedParquet]]: partition
  * by the coarse dimension, z-cluster inside each partition.
  *
  * Index scale shape: sidecars are parquet TABLES (one row per FILE)
  * under `_`-prefixed dirs the main read ignores. They are built by a
  * distributed aggregate and written directly — no driver collect —
  * and pruned by a distributed filter whose driver-side result is the
  * SURVIVOR list only (the 10⁶-file table with a selective predicate
  * collects the handful of matching files, never the full index; the
  * r8 JSON sidecar collected one row per file both ways). Typed
  * parquet values also remove the JSON-rendering escape problem a
  * string clustering key posed.
  */
object Clustered {

  /** 16-bit Morton interleave of `a` and `b` (both already normalized
    * to [0, 65535]): spreads each value's bits to even positions via
    * the classic mask-shift cascade, then ORs `b`'s odd-shifted
    * spread. Pure Column arithmetic — codegen'd, no UDF. */
  private def morton16(a: Column, b: Column): Column = {
    // spread 16 bits to 32 (bits end up at even positions)
    def spread(x: Column): Column = {
      val s1 = shiftleft(x, 8).bitwiseOR(x).bitwiseAND(lit(0x00FF00FFL))
      val s2 = shiftleft(s1, 4).bitwiseOR(s1).bitwiseAND(lit(0x0F0F0F0FL))
      val s3 = shiftleft(s2, 2).bitwiseOR(s2).bitwiseAND(lit(0x33333333L))
      shiftleft(s3, 1).bitwiseOR(s3).bitwiseAND(lit(0x55555555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Test hook: the interleave as a Column, for property checks
    * against an independent bit-by-bit construction. */
  private[sources] def mortonForTest(a: Column, b: Column): Column =
    morton16(a, b)

  /** Sidecar locations — `_`-prefixed so `spark.read.parquet(path)`
    * of the data ignores them (hidden-path convention). */
  def statsPath(path: String): String = s"$path/_graft_stats"
  def bloomPath(path: String, c: String): String = s"$path/_graft_bloom_$c"

  /** Write `df` as parquet z-clustered on two numeric columns:
    * min/max-normalize each to 16 bits (one broadcast 1-row
    * aggregate), interleave into a Morton value, range-partition into
    * `files` buckets and sort within each — every file gets a tight
    * (c1, c2) bounding box. Then stage the per-file min/max stats
    * sidecar via [[writeStats]]. Degenerate domains (min == max)
    * normalize to 0 — clustering on a constant is a no-op, not an
    * error. Clustering keys must be numeric: the 16-bit normalization
    * is an arithmetic map (a non-numeric key would silently normalize
    * through null casts and cluster nothing). */
  def writeClustered(df: DataFrame, path: String, c1: String, c2: String,
      files: Int): Unit = {
    clusteredFrame(df, c1, c2, files)
      .write.mode("overwrite").parquet(path)
    writeStats(df.sparkSession, path, Seq(c1, c2))
  }

  /** The z-ordered re-arrangement itself (the plan [[writeClustered]]
    * writes): normalize → interleave → range-partition → sort-within.
    * Exposed so other writers — e.g. a [[Versioned]] clustered
    * commit — can stage the identical layout into their own
    * destination. Output columns equal the input's (the z value and
    * the broadcast bounds are internal). */
  def clusteredFrame(df: DataFrame, c1: String, c2: String,
      files: Int): DataFrame = {
    Seq(c1, c2).foreach(c => require(
      df.schema(c).dataType.isInstanceOf[NumericType],
      s"writeClustered: clustering key $c must be numeric, " +
        s"got ${df.schema(c).dataType}"))
    val mm = df.agg(
      min(col(c1)).as("lo1"), max(col(c1)).as("hi1"),
      min(col(c2)).as("lo2"), max(col(c2)).as("hi2"))
    def norm(c: Column, lo: Column, hi: Column): Column =
      when(hi > lo,
        round((c.cast("double") - lo.cast("double")) /
          (hi.cast("double") - lo.cast("double")) * 65535.0)
          .cast("long"))
        .otherwise(lit(0L))
    df.crossJoin(broadcast(mm))
      .withColumn("__z",
        morton16(norm(col(c1), col("lo1"), col("hi1")),
          norm(col(c2), col("lo2"), col("hi2"))))
      .drop("lo1", "hi1", "lo2", "hi2")
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Build the per-file min/max index for `cols`: one column-pruned
    * scan of the written files grouped by `input_file_name`, written
    * DIRECTLY as a parquet sidecar table (`file`, `lo_<c>`, `hi_<c>`
    * with the columns' NATIVE types) — a fully distributed
    * build-side: no driver collect, no value rendering, index size
    * grows with file count, not rows. */
  def writeStats(spark: SparkSession, path: String,
      cols: Seq[String]): Unit = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"lo_$c"), max(col(c)).as(s"hi_$c")))
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      // one row per FILE — a single sidecar file keeps the index
      // read a one-file scan even when the data has 10⁶ files
      .coalesce(1)
      .write.mode("overwrite").parquet(statsPath(path))
  }

  /** Per-file BLOOM index for equality skipping — the complement of
    * the min/max index: a point lookup on a high-cardinality key
    * (doc id, user id) rarely prunes on ranges (every file's [lo, hi]
    * spans it) but a per-file bloom answers "definitely not here" in
    * a few KB per file. Built with Spark's own BloomFilterAggregate
    * over `input_file_name()` (one column-pruned scan, map-side
    * partials) and written directly as a parquet sidecar — no driver
    * collect. False positives only cost an extra file read; false
    * negatives cannot happen (the probe hashes with the column's own
    * type — see [[graft.ops.Bloom.hash64]]). */
  def writeBloomIndex(spark: SparkSession, path: String, c: String,
      expectedPerFile: Long = 100000L): Unit =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(graft.ops.Bloom.bloomAgg(col(c), expectedPerFile).as("bloom"))
      .coalesce(1)
      .write.mode("overwrite").parquet(bloomPath(path, c))

  /** Range prune against the stats sidecar: a DISTRIBUTED filter over
    * the index table; only the SURVIVING file names come back to the
    * driver (at 10⁶ files a selective predicate collects a handful of
    * rows — the full index never materializes driver-side). A file
    * with null bounds (all-null column chunk) is KEPT — unknown can
    * never justify a skip; so is one whose bounds don't cast to
    * double (non-numeric stat column). `schema`, when the caller
    * already knows the sidecar's, spares the footer read. Returns
    * (survivors, total). */
  def pruneRange(spark: SparkSession, path: String, c: String,
      lo: Double, hi: Double,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : (Seq[String], Int) = {
    val st = schema.fold(spark.read)(spark.read.schema(_))
      .parquet(statsPath(path))
    // TRY-mode cast: non-numeric stat columns null out (instead of
    // throwing under ANSI) and the null branch KEEPS the file
    def tryDouble(cl: Column): Column =
      org.apache.spark.sql.GraftBridge.column(
        org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.GraftBridge.expression(cl),
          org.apache.spark.sql.types.DoubleType, None,
          org.apache.spark.sql.catalyst.expressions.EvalMode.TRY))
    val loC = tryDouble(col(s"lo_$c"))
    val hiC = tryDouble(col(s"hi_$c"))
    val keep = st
      .filter(loC.isNull || hiC.isNull || (hiC >= lo && loC <= hi))
      .select("file").collect().map(_.getString(0)).toSeq
    (keep, st.count().toInt)
  }

  /** Equality prune against the bloom sidecar: the probe hash is
    * computed ONCE driver-side with the data column's own type (read
    * from the table schema — one footer, not a listing), then every
    * file's bloom is deserialized and probed DISTRIBUTED on the index
    * table; only surviving file names return. Empty/null blooms KEEP
    * their file. Returns (survivors, total). */
  def pruneEquality(spark: SparkSession, path: String, c: String,
      value: Any): (Seq[String], Int) = {
    val dt = spark.read.parquet(path).schema(c).dataType
    val h = graft.ops.Bloom.hash64(value, dt)
    val bl = spark.read.parquet(bloomPath(path, c))
    import spark.implicits._
    val keep = bl.select(col("file"), col("bloom"))
      .as[(String, Array[Byte])]
      .filter { fb =>
        fb._2 == null || fb._2.isEmpty ||
          org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(fb._2)).mightContainLong(h)
      }
      .map(_._1).collect().toSeq
    (keep, bl.count().toInt)
  }

  /** Equality-skipping read: drop every file whose bloom proves the
    * key absent ([[pruneEquality]]), read the rest, re-apply the
    * exact predicate. Returns (frame, filesRead, filesTotal) so
    * callers can assert real pruning. */
  def readEquality(spark: SparkSession, path: String, c: String,
      value: Any): (DataFrame, Int, Int) = {
    val (keep, total) = pruneEquality(spark, path, c, value)
    val df =
      if (keep.isEmpty)
        spark.read.parquet(path).filter(col(c) === lit(value)).limit(0)
      else spark.read.parquet(keep: _*).filter(col(c) === lit(value))
    (df, keep.size, total)
  }

  /** File-skipping read: keep only files whose [lo, hi] range for `c`
    * overlaps [lo, hi] ([[pruneRange]] — interval-overlap on the
    * sidecar, exactly how format readers prune on footer stats), read
    * just those, and re-apply the predicate for row-level exactness.
    * Returns (frame, filesRead, filesTotal) so callers — and the
    * spec — can assert real skipping. */
  def readRange(spark: SparkSession, path: String, c: String,
      lo: Double, hi: Double): (DataFrame, Int, Int) = {
    val (keep, total) = pruneRange(spark, path, c, lo, hi)
    val df =
      if (keep.isEmpty)
        spark.read.parquet(path).filter(col(c) >= lo && col(c) <= hi)
          .limit(0)
      else spark.read.parquet(keep: _*)
        .filter(col(c) >= lo && col(c) <= hi)
    (df, keep.size, total)
  }
}
