package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, NumericType}
import scala.jdk.CollectionConverters._

/** Z-order clustered layout + per-file bloom indexes — the
  * data-skipping pieces every large-scale table format (Delta OPTIMIZE
  * ZORDER, Iceberg sort orders, Hudi clustering) builds on, used by
  * [[Versioned]]'s clustered and indexed commits.
  *
  * WHY at 100 TB: partition pruning only cuts the dimension you
  * partitioned by. Queries that filter on a SECOND (or third) column
  * still scan every file of the surviving partitions unless files are
  * *clustered* so each covers a narrow range of those columns too.
  * Interleaving the bits of the clustering keys (a Morton / Z-value)
  * and range-partitioning + sorting by it gives every output file a
  * tight bounding box in ALL clustered dimensions at once; the
  * per-file min/max a versioned data dir records in its `_files.json`
  * ([[DirFacts]]) then skips most files for a selective range
  * predicate on ANY clustered column — no engine changes, just layout.
  *
  * A bloom is too big for that JSON (about 90 KB per file at the
  * default 100k items), so each stays a PARQUET sidecar table (one
  * row per file) under a `_`-prefixed dir the main read ignores: built
  * by a distributed aggregate and written directly, probed by a
  * distributed filter whose driver-side result is the SURVIVOR list
  * only.
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

  /** Bloom sidecar location — `_`-prefixed so a read of the data dir
    * ignores it (hidden-path convention). */
  def bloomPath(path: String, c: String): String = s"$path/_graft_bloom_$c"

  /** The z-ordered re-arrangement of `df` on two numeric columns:
    * min/max-normalize each to 16 bits (one broadcast 1-row
    * aggregate), interleave into a Morton value, range-partition into
    * `files` buckets and sort within each — every file gets a tight
    * (c1, c2) bounding box. Degenerate domains (min == max) normalize
    * to 0 — clustering on a constant is a no-op, not an error.
    * Clustering keys must be numeric: the 16-bit normalization is an
    * arithmetic map (a non-numeric key would silently normalize
    * through null casts and cluster nothing). Output columns equal
    * the input's (the z value and the broadcast bounds are
    * internal). */
  def clusteredFrame(df: DataFrame, c1: String, c2: String,
      files: Int): DataFrame = {
    Seq(c1, c2).foreach(c => require(
      df.schema(c).dataType.isInstanceOf[NumericType],
      s"clustered layout: clustering key $c must be numeric, " +
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

  /** Per-file BLOOM index for equality skipping — the complement of
    * min/max: a point lookup on a high-cardinality key (doc id, user
    * id) rarely prunes on ranges (every file's [lo, hi] spans it) but
    * a per-file bloom answers "definitely not here". Built with
    * Spark's own BloomFilterAggregate over the scan `files` of data
    * dir `dir`, grouped by file name (one column-pruned scan, map-side
    * partials), and written directly as a parquet sidecar — no driver
    * collect. False positives only cost an extra file read; false
    * negatives cannot happen while the probe hashes with the type the
    * scan read `c` as (see [[graft.ops.Bloom.hash64]]). */
  def writeBloomIndex(files: DataFrame, dir: String, c: String,
      expectedPerFile: Long): Unit =
    files.groupBy(col("_metadata.file_name").as("file"))
      .agg(graft.ops.Bloom.bloomAgg(col(c), expectedPerFile).as("bloom"))
      .coalesce(1)
      .write.mode("overwrite").parquet(bloomPath(dir, c))

  /** Equality prune against dir `dir`'s bloom sidecar on `c`: the probe
    * hash is computed ONCE driver-side under `dt`, the type the blooms
    * hashed, then every file's bloom is deserialized and probed
    * DISTRIBUTED on the index table (read under its known schema — no
    * inference); only surviving file names return. Empty/null blooms
    * KEEP their file. The table is read through its part files: Spark
    * treats the `_`-prefixed dir itself as a hidden root. */
  def pruneEquality(spark: SparkSession, dir: String, c: String,
      value: Any, dt: DataType): Seq[String] = {
    val h = graft.ops.Bloom.hash64(value, dt)
    import spark.implicits._
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(bloomPath(dir, c)))
    val parts = try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith(".")).toVector.sorted
    finally ls.close()
    spark.read.schema("file STRING, bloom BINARY")
      .parquet(parts.map(n => s"${bloomPath(dir, c)}/$n"): _*)
      .as[(String, Array[Byte])]
      .filter { fb =>
        fb._2 == null || fb._2.isEmpty ||
          org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(fb._2)).mightContainLong(h)
      }
      .map(_._1).collect().toSeq
  }
}
