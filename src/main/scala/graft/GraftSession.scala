package graft

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** graft's one session setup and the run-loop pieces its driver mains
  * share. Every main and the spec session build through [[apply]], so
  * each artifact is produced under the config the library advertises. */
object GraftSession {

  /** A `local[cores]` session with one shuffle partition per core. */
  def apply(cores: String): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores)
    // allow joins to reuse a child partitioned on a PREFIX of the
    // join keys (pre-3.3 behavior): a wide frame repartitioned by
    // its primary key then joined on (key, subkey) keeps its
    // partitioning instead of reshuffling the full width
    .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the advertised session setup: graft_* SQL functions, the native
    // as-of strategy, SQL DML, and the streaming table-read rewrite
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    // Whole-stage-codegen class cache: the default 100-entry LRU
    // thrashes under a 299-query suite (thousands of codegen units),
    // so every pass re-ran Janino + C2 on plans the warmup had
    // already compiled (jit_ms 10-30s on the big rows). Static conf,
    // scale-independent: a long-running production driver repeating
    // query shapes wants the same cache.
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The core count a main runs at: `SPARK_GRAFT_CPUS`, else the
    * main's own default. */
  def cores(default: Int): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default.toString)

  /** noop-datasource write: forces full evaluation of every output
    * column (count() would let Catalyst prune the expression work
    * away). */
  def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Queries must not leak state into each other's measurements: drop
    * any cached blocks a query materialized (cache debris accumulating
    * in the shared local heap slowed the whole r3 suite tail).
    * localCheckpoint blocks (`ops.Staging.staged`) are NOT catalog
    * cache — they free only on driver GC of the RDD handle, so the
    * iterative-graph queries would otherwise leak storage blocks into
    * every later measurement (r11 profile: q_triangle 3.6→23→35s
    * across three back-to-back runs). */
  def isolate(spark: SparkSession): Unit = {
    // first let the scheduler go idle (bounded at 10s): a task still
    // running when the next query starts reports its metrics after
    // Spark may have dropped that query's accumulators, and the
    // update is then discarded ("non-existent accumulator")
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 10_000_000_000L
    while ((tracker.getActiveJobIds().nonEmpty ||
        tracker.getActiveStageIds().nonEmpty) &&
        System.nanoTime() < deadline)
      Thread.sleep(1)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Warm the JVM/codegen/scan paths once so the first timed query
    * doesn't absorb session startup (~7s of JIT on a cold JVM).
    *
    * With `shapes`, then run the ENTIRE registry once at the smallest
    * SF (`SPARK_GRAFT_WARM_DIR`, skipped when absent) before timing
    * anything. The generated whole-stage code is identical across SFs
    * (same schemas, same plans), so a timed loop hits the codegen
    * cache and an already-JITed JVM instead of paying one-time Janino
    * compilation + C2 JIT of the biggest plans MID-suite — the
    * mechanism behind the r4/r5 contiguous ×2+ window centered on
    * q_rollup → q_pipeline_e2e (profile-confirmed: those queries are
    * at par isolated-steady). Costs seconds at sf0.001. */
  def warm(spark: SparkSession, shapes: Boolean): Unit = {
    try drain(SparkEntry.entry(spark)) catch { case _: Throwable => () }
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    if (shapes &&
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(warmDir)))
      SparkEntry.queries.values.foreach { fn =>
        try drain(fn(spark, warmDir)) catch { case _: Throwable => () }
        isolate(spark)
      }
  }

  /** Burst ATTRIBUTION instruments, read before and after a timed run:
    * with the GC-pause and JIT-compilation milliseconds recorded
    * BESIDE each timing, a slow run whose gc+jit delta covers the gap
    * is self-explaining in the artifact. Collectors that report no
    * time (-1) count 0, as does a JVM without compile-time
    * monitoring. */
  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def jitMillis(): Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime
    else 0L
  }
}
