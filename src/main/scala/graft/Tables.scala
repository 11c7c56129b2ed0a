package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source registry for the driver's parquet tables (see TESTDATA.md).
  *
  * The reference loads xlsx batches + remote lookup tables
  * (capital_sendas.py:63-99); here every source is a columnar scan so
  * Catalyst can push filters/projections into the reader. At cluster
  * scale these would be partitioned parquet/iceberg paths; the API is
  * the same.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // csv timestamps must round-trip micros exactly (the default format
  // drops sub-millis)
  private val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** Resolve `name` under `dir`: parquet if present (the fast path —
    * columnar, splittable, statistics), else csv/json staged by
    * [[stage]] with a `.schema` DDL sidecar (schema-exact — never
    * inference). Every driver query runs unchanged over any of the
    * three. */
  /** Per-(session, dir, table) relation memo for the immutable
    * parquet sources. Creating a parquet DataFrame is NOT free: the
    * reader lists the path and reads footers for schema inference on
    * every `spark.read.parquet` call — driver-side metadata work
    * (guide §5: the driver should do almost no data work) that the
    * bench pays hundreds of times over 299 queries (the SQL rows
    * re-register all ten tables per invocation). The memo caches the
    * LAZY plan only — every action still computes from the parquet
    * files, so no results or intermediates are ever reused. Only the
    * parquet branch memoizes: csv/json/orc reads serve the staging
    * tests, whose directories are overwritten between calls. */
  /* Weak session keys: a strong (SparkSession, ...) tuple key would
   * pin every session (and its memoized plans) for the lifetime of a
   * long-lived multi-session app. The memo freezes each directory's
   * parquet file listing at first read — memoized dirs are the
   * immutable test inputs; anything rewritten in place within a
   * session goes through the non-memoized staged path. */
  private val relationMemo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]]())

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val pq = s"$dir/$name.parquet"
    if (new java.io.File(pq).exists()) {
      val perSession = relationMemo.synchronized {
        relationMemo.computeIfAbsent(spark, _ =>
          new java.util.concurrent.ConcurrentHashMap[(String, String),
            DataFrame]())
      }
      perSession.computeIfAbsent((dir, name), _ => readParquet(spark, pq))
    } else readStaged(spark, dir, name)
  }

  private def readParquet(spark: SparkSession, pq: String): DataFrame = {
    {
      val df = spark.read.parquet(pq)
      // The events ts column has shipped as TIMESTAMP(NANOS) (read as a
      // nanos LONG under spark.sql.legacy.parquet.nanosAsLong — set by
      // Verify/Bench/specs) and as un-adjusted TIMESTAMP(MICROS) (read
      // as TIMESTAMP_NTZ since Spark infers NTZ when isAdjustedToUTC is
      // false). Normalize BOTH to a micros TimestampType here, the one
      // choke point every query loads through: downstream logic
      // (unix_micros, watermarks, windows) requires TimestampType. The
      // session TZ is pinned UTC, so the NTZ cast re-interprets the
      // wall-clock fields at the same instant DuckDB reads them.
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      df.schema.fields.find(_.name == "ts").map(_.dataType) match {
        case Some(LongType) =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr("ts div 1000")))
        case Some(TimestampNTZType) =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast("timestamp"))
        case _ => df
      }
    }
  }

  private def readStaged(spark: SparkSession, dir: String,
      name: String): DataFrame = {
    if (new java.io.File(s"$dir/$name.orc").exists()) {
      // ORC is self-describing and type-exact (arrays, timestamps at
      // micros) — no sidecar needed. Staged FROM the normalized frame,
      // so the events ts is already a micros TimestampType.
      spark.read.orc(s"$dir/$name.orc")
    } else {
      val ddlFile = java.nio.file.Paths.get(s"$dir/$name.schema")
      require(java.nio.file.Files.exists(ddlFile),
        s"Tables: no $name.parquet and no $name.schema sidecar in $dir")
      val ddl = java.nio.file.Files.readString(ddlFile)
      val csv = s"$dir/$name.csv"
      if (new java.io.File(csv).exists())
        // multiLine: staged text columns may carry embedded newlines;
        // a non-splittable read is acceptable for staged side inputs
        spark.read.schema(ddl).option("header", "true")
          .option("escape", "\"").option("multiLine", "true")
          .option("timestampFormat", tsFmt).csv(csv)
      else
        spark.read.schema(ddl).option("timestampFormat", tsFmt)
          .json(s"$dir/$name.json")
    }
  }

  /** Scale-ADAPTIVE scan fan-out — optimization guide §2.5's "input
    * skew: one huge unsplittable file → repartition immediately after
    * the read". The sandbox tables are single-row-group parquet
    * files, so a bare scan plans as ONE task and every pre-shuffle
    * per-row expression (tokenize, shingle, hash, date parse, a
    * broadcast join's probe + projection) serializes on one core no
    * matter the machine size. When the planned scan parallelism is
    * below the session's default parallelism, redistribute
    * round-robin so the per-row work uses the whole cluster; when
    * the layout already carries enough splits (any real multi-file
    * table at warehouse scale), this is a NO-OP — no shuffle is
    * inserted at 100 TB. Apply it where heavy per-row work follows a
    * scan, AFTER the narrow select, so only needed columns cross the
    * exchange (guide §2.3).
    *
    * Correctness: round-robin repartition is retry-deterministic
    * (Spark sorts before round-robin — SPARK-23207), filters still
    * push THROUGH the repartition to the scan (PushPredicateThrough-
    * NonJoin covers RepartitionOperation), and the suite's checked
    * outputs are partitioning-independent by construction (exact
    * integer sums, total-ordered windows, bounded-frame floats) —
    * the same robustness the driver's varying-core-count bench runs
    * already require. */
  def fanned(df: DataFrame, minBytes: Long = 0L,
      slotBytes: Long = defaultSlotBytes): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    lazy val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (df.queryExecution.toRdd.getNumPartitions < target &&
        bytes >= minBytes) {
      // SIZE-DERIVED width (guide §2: derive partitioning from input
      // size, never a constant tuned for one machine): one fanned
      // partition per `slotBytes` of scan input, capped at the
      // session's core count. A 32-way round-robin exchange of a
      // few-MB table measured ~3× the cost of the work it spreads
      // (OPTIMIZATION_r18.md §1): 32 task launches + 32 shuffle
      // blocks + 32 noop commits for slices whose per-slice work is
      // sub-ms. The divisor encodes the caller's per-byte CPU
      // density — corpora whose downstream work is tokenize/hash-
      // per-row pass a small slot so they still fan wide at small
      // sizes; columnar agg/join inputs use the default and stop
      // over-fanning.
      val slots = ((bytes + slotBytes - 1) / slotBytes)
        .min(BigInt(target)).max(BigInt(1)).toInt
      val width = math.min(target, slots)
      if (width > df.queryExecution.toRdd.getNumPartitions)
        df.repartition(width)
      else df
    } else df
  }

  /** Default fan slot: 1 MB of estimated scan bytes per fanned
    * partition. */
  private val defaultSlotBytes: Long = 1L << 20

  /** Slot width for CPU-dense text corpora (tokenize / shingle / md5
    * per row), 16 KB: per-byte cost is orders of magnitude above
    * columnar agg work, so fan wide even when the file is small. */
  private[graft] val textSlotBytes: Long = 16L << 10

  /** Stage a table into `destDir` as csv or json with a schema DDL
    * sidecar, so [[apply]] reads it back schema-exact. csv cannot
    * carry array columns (embeddings) — use json for those. */
  def stage(spark: SparkSession, srcDir: String, name: String,
      destDir: String, format: String): Unit = {
    val df = apply(spark, srcDir, name)
    val w = df.write.mode("overwrite").option("timestampFormat", tsFmt)
    format match {
      case "csv" => w.option("header", "true").option("escape", "\"")
        .csv(s"$destDir/$name.csv")
      case "json" => w.json(s"$destDir/$name.json")
      case "orc" => w.orc(s"$destDir/$name.orc")
      case other => throw new IllegalArgumentException(
        s"Tables.stage: unsupported format $other")
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(destDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$destDir/$name.schema"), df.schema.toDDL)
  }

  /** Fact-sized tables: their temp views register [[fanned]] so SQL
    * queries inherit the scan fan-out (filters and column pruning
    * push through the repartition to the scan — verified in the
    * physical plan: PushedFilters populated, ReadSchema pruned, the
    * projection lands below the exchange). Dimension tables stay
    * bare: fanning a broadcast-bound dim would put an exchange in
    * front of every broadcast build. */
  private val factTables =
    Set("lineitem", "orders", "events", "documents", "embeddings")

  /** Per-table fan-out byte floor: embeddings' per-row work (native
    * float dots) is cheap per byte, so the fan only pays off once the
    * corpus outgrows a single core's trivial scoring range (see
    * SparkEntry.emb). */
  private def fanFloor(name: String): Long =
    if (name == "embeddings") 4L << 20 else 0L

  /** Per-table fan slot for the SQL views: the documents view feeds
    * tokenize/regex-heavy SQL, everything else feeds columnar
    * agg/join SQL where the 1 MB default applies. */
  private def fanSlot(name: String): Long =
    if (name == "documents") textSlotBytes else defaultSlotBytes

  /** Register every table under `dir` as a temp view, so the whole
    * surface is reachable through `spark.sql(...)` — the SQL front
    * door a reference user expects. Memoized per (session, dir):
    * re-registering ten views per SQL query re-planned ten scans
    * each time. */
  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  def registerAll(spark: SparkSession, dir: String): Unit =
    // The memo is updated only AFTER every view registered: a put
    // before the loop would turn a mid-loop failure (missing table
    // file) into a permanent no-op — later retries would read stale
    // or unregistered views and never self-heal.
    if (registered.get(spark) != dir) {
      all.foreach { name =>
        val df = apply(spark, dir, name)
        (if (factTables(name)) fanned(df, fanFloor(name), fanSlot(name))
         else df).createOrReplaceTempView(name)
      }
      registered.put(spark, dir): Unit
    }

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
