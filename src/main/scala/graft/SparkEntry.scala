package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.EtlOps.RichDF
import graft.ops.{AsofJoin, Dates, Names, RangeJoin, Ranking, Rules, Skew}
import graft.ops.Staging.StagedDF
import graft.sources.Export
import graft.text.{SimHash, TextFunctions => TF}
import graft.dedup.Dedup
import graft.sim.Similarity

/** Driver contract: one `queries` entry (+ DuckDB `oracleSql`) per
  * operator in SURVEY.md §2.
  *
  * Oracle-parity rules (SURVEY §5): identical output column names and
  * aliases on both sides, explicit ORDER BY on a unique key, money
  * sums through exact BIGINT cents (see `cents` — double→decimal
  * casts round differently across engines/versions; round-to-integer
  * doesn't), no raw ns timestamps in outputs, and
  * every shared hash is md5-derived (DuckDB: `('0x'||substr(md5(x),
  * 1,15))::BIGINT` ≡ Spark `conv(substring(md5(x),1,15),16,10)`).
  */
object SparkEntry {

  // ---------------------------------------------------------------- helpers

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** The documents corpus with [[Tables.fanned]] scan fan-out: every
    * consumer runs corpus-CPU work (tokenize / shingle / hash /
    * regex) directly on the scan output, and a single-row-group file
    * would serialize all of it on one core (guide §2.5 input skew).
    * No-op when the scan already plans enough splits (cluster
    * layouts). */
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.fanned(t(s, dir, "documents"), slotBytes = Tables.textSlotBytes)

  /** The full name `q_name_split` and `q_comprobar` derive from a
    * document: its first 2-5 tokens (by `doc_id`), with the
    * reference's particles injected (the → de, a → la, of → del,
    * to → los) so every dispatch arm of the name split is exercised,
    * upper-cased and space-joined. */
  private def docFullName: Column = {
    val toks = TF.tokens(col("text"))
    val k = (col("doc_id") % 4 + 2).cast("int")
    val mapped = transform(slice(toks, lit(1), k), t =>
      when(t === "the", "de").when(t === "a", "la")
        .when(t === "of", "del").when(t === "to", "los").otherwise(t))
    upper(array_join(mapped, " "))
  }

  /** The embeddings corpus with a SIZE-FLOORED [[Tables.fanned]] scan
    * fan-out: the ANN paths broadcast the query side against the
    * corpus scan, so a single-split file serializes all vector
    * scoring on one core — but 64-float dot products are cheap per
    * byte (native FloatVecDot), so below ~4 MB of vectors the
    * exchange costs more than the serial scoring it parallelizes
    * (measured: the embed family regressed ~0.5s/query at sf0.1 with
    * an unconditional fan). Text corpora (docs) stay unconditional:
    * tokenize/shingle/md5 per-row cost dwarfs the exchange at any
    * size. */
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.fanned(t(s, dir, "embeddings"), minBytes = 4L << 20)

  /** Decode fan-out width for the bounded media corpora (48–64 ids):
    * one container encode+decode per row is the unit of work — heavy
    * enough that the historical fixed 8 left 3/4 of a 32-core box
    * idle. Spread ids over every core; the floor of 8 keeps the old
    * width on smaller sessions. */
  private def mediaSlots(s: SparkSession): Int =
    math.max(8, s.sparkContext.defaultParallelism)

  /** decimal(18,2) cast used identically on both engines for money. */
  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Exact integer cents from a cent-valued double. Round-to-INTEGER
    * of a double is engine-unambiguous (a double whose shortest repr
    * ends in ".5" IS exactly .5 in binary, so shortest-repr and
    * exact-binary rounding coincide; both engines round half away
    * from zero), unlike double→DECIMAL(p,2) casts, whose sub-cent
    * rounding differs between engines and engine versions. BIGINT
    * sums are exact and order/partitioning-independent. */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** BIGINT back to a display double: identical integer in →
    * identical IEEE division out on every engine. */
  private def money(c: Column, scale: Double = 100.0): Column =
    c.cast("double") / scale

  /** The analog input frame for the reference's healthcare columns,
    * derived deterministically from lineitem ⨝ orders: FACTURA ←
    * orderkey, SERVICIO ← partkey%1000, tipologia ← partkey%11 bucket,
    * AMBITO ← orderpriority, CANT ← quantity. Gives the reference's
    * rule queries realistic grouping/skew without synthesizing data. */
  private def sendas(s: SparkSession, dir: String): DataFrame = {
    // fanned (guide §2.5): the broadcast join and the heavy per-row
    // projection below (format_string, array element_at, string
    // concat per line item) inherit the lineitem scan's partitioning,
    // and a single-row-group file would run ALL of it in one task
    val li = Tables.fanned(t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
        "l_shipdate"))
    val ord = t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select(
        li("l_orderkey").as("factura"),
        li("l_linenumber").as("linea"),
        format_string("%03d", li("l_partkey") % 1000).as("servicio"),
        element_at(
          array(Seq("C1", "C4", "C5", "C7", "C8", "HD", "ARI", "RM",
            "Qx1", "Qx2", "H1").map(lit): _*),
          (li("l_partkey") % 11 + 1).cast("int")).as("tipologia"),
        when(ord("o_orderpriority").startsWith("1") ||
             ord("o_orderpriority").startsWith("2"), "CONSULTA EXTERNA")
          .otherwise("HOSPITALIZADO").as("ambito"),
        li("l_quantity").cast("long").as("cant"),
        concat(lit("PGP-"), ord("o_orderpriority")).as("cod_plan"),
        to_date(li("l_shipdate")).as("fec_servicio"))
  }

  /** Same construction as SQL, for the oracle side. */
  private val sendasSql: String = """
    SELECT l_orderkey AS factura, l_linenumber AS linea,
           printf('%03d', l_partkey % 1000) AS servicio,
           (['C1','C4','C5','C7','C8','HD','ARI','RM','Qx1','Qx2','H1'])
             [CAST(l_partkey % 11 + 1 AS INT)] AS tipologia,
           CASE WHEN o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'
                THEN 'CONSULTA EXTERNA' ELSE 'HOSPITALIZADO' END AS ambito,
           CAST(l_quantity AS BIGINT) AS cant,
           'PGP-' || o_orderpriority AS cod_plan,
           CAST(l_shipdate AS DATE) AS fec_servicio
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey"""

  /** Per-process staging root for lake/dedup/JSON artifacts: keyed by
    * a FULL md5 of the SF dir (a 32-bit hashCode can collide across
    * dirs) plus the JVM pid (two processes on the same dir — Bench
    * and Verify concurrently — must never overwrite each other's
    * artifacts mid-read). Stable WITHIN a process, which is what the
    * incremental rows rely on (warmup builds the artifact, the timed
    * run refreshes against it); removed on JVM exit so per-pid roots
    * don't accumulate in the tmpdir. */
  private val stagedRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def deleteRec(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete(): Unit
  }
  private[graft] def stagingRoot(dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val root = sys.props.getOrElse("java.io.tmpdir", "/tmp") +
      s"/graft_lake_${digest}_${ProcessHandle.current().pid()}"
    if (stagedRoots.add(root) && stagedRoots.size == 1)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        stagedRoots.forEach(r => deleteRec(new java.io.File(r)))))
    root
  }

  /** Staging dir for q_lake_roundtrip's lake write. */
  private[graft] def lakeRoundtripPath(dir: String): String =
    stagingRoot(dir) + "/events_by_type"

  /** Persisted fingerprint-artifact dir for q_dedup_incremental. */
  private[graft] def dedupArtifactPath(dir: String): String =
    stagingRoot(dir) + "/dedup_fingerprints"

  /** Persisted partial-aggregate artifact dir for q_incremental_agg. */
  private[graft] def aggArtifactPath(dir: String): String =
    stagingRoot(dir) + "/agg_partials"

  /** Persisted banded-MinHash artifact dir for q_minhash_incremental. */
  private[graft] def minhashArtifactPath(dir: String): String =
    stagingRoot(dir) + "/minhash_bands"

  /** Staging dir for q_lake_refresh's dynamic-overwrite lake. */
  private[graft] def lakeRefreshPath(dir: String): String =
    stagingRoot(dir) + "/events_refresh"

  /** The versioned CDC demo table (v0 = all events; v1 = clicks
    * deleted, purchases revalued ×2, shifted-id views inserted),
    * shared by q_snapshot_diff and q_stream_cdc; staged once per
    * process. v1 lands as a MERGE commit (updates + inserts +
    * deleteWhen) rather than a whole-table overwrite — same snapshot
    * content, but the commit publishes a STORED change-data feed
    * (`_changes/cv=1`) that q_stream_cdc's streaming reader consumes
    * directly. Returns the table path. */
  private[graft] def ensureCdcTable(s: SparkSession, dir: String): String = {
    val table = stagingRoot(dir) + "/versioned_cdc"
    if (graft.sources.Versioned.latestVersion(table) < 0) {
      val ev = t(s, dir, "events").select(col("event_id"),
        col("event_type"), cents(col("value")).as("vc"))
      graft.sources.Versioned.commit(ev, table, overwrite = false)
      val batch = ev.filter(col("event_type") === "purchase")
        .withColumn("vc", col("vc") * 2)
        .withColumn("change_type", lit("update"))
        .unionByName(ev.filter(col("event_type") === "view")
          .select((col("event_id") + lit(1000000000L)).as("event_id"),
            col("event_type"), col("vc"))
          .withColumn("change_type", lit("insert")))
        .unionByName(ev.filter(col("event_type") === "click")
          .withColumn("change_type", lit("delete")))
      graft.sources.Versioned.applyChangeFeed(s, table, batch,
        Seq("event_id")): Unit
    }
    table
  }

  /** The three-commit change-feed fixture (v0/v1 = event thirds
    * appended, v2 = a merge batch with inserts/updates/deletes),
    * shared by q_changefeed (Scala readChanges) and q_changes_range
    * (SQL `.changes` with version-range pushdown); staged once per
    * process. Returns the table path. */
  private[graft] def ensureFeedTable(s: SparkSession,
      dir: String): String = {
    val table = stagingRoot(dir) + "/versioned_feed"
    if (graft.sources.Versioned.latestVersion(table) < 0) {
      val ev = t(s, dir, "events").select(col("event_id"),
        col("event_type"), cents(col("value")).as("vc"))
      graft.sources.Versioned.commit(
        ev.filter(col("event_id") % 3 === 0), table, overwrite = false)
      graft.sources.Versioned.commit(
        ev.filter(col("event_id") % 3 === 1), table, overwrite = false)
      val batch = ev.filter(col("event_id") % 3 === 2)
        .withColumn("change_type", lit("insert"))
        .unionByName(ev.filter(col("event_id") % 6 === 0)
          .withColumn("vc", col("vc") * 3)
          .withColumn("change_type", lit("update")))
        .unionByName(ev.filter(col("event_id") % 3 === 1 &&
            col("event_type") === "click")
          .withColumn("change_type", lit("delete")))
      graft.sources.Versioned.applyChangeFeed(s, table, batch,
        Seq("event_id")): Unit
    }
    table
  }

  /** The three-commit versioned events ledger (v0 = non-purchases,
    * v1 = + purchases, v2 = overwrite to clicks only), shared by
    * q_time_travel (Scala reads) and q_sql_time_travel (SQL catalog
    * reads); staged once per process. Returns the table path. */
  private[graft] def ensureVersionedEvents(s: SparkSession,
      dir: String): String = {
    val table = stagingRoot(dir) + "/versioned_events"
    if (graft.sources.Versioned.latestVersion(table) < 0) {
      val ev = t(s, dir, "events").select(col("event_id"),
        col("event_type"), cents(col("value")).as("vc"))
      graft.sources.Versioned.commit(
        ev.filter(col("event_type") =!= "purchase"), table,
        overwrite = false)
      graft.sources.Versioned.commit(
        ev.filter(col("event_type") === "purchase"), table,
        overwrite = false)
      graft.sources.Versioned.commit(
        ev.filter(col("event_type") === "click"), table,
        overwrite = true)
    }
    table
  }

  /** Register (idempotently) and return the SQL catalog name for
    * `dir`'s staging warehouse. The name carries the dir digest
    * because a catalog binds its warehouse at FIRST use — one shared
    * session touching several sf dirs (the spec suites do) must get
    * one catalog per dir, never a silently-stale warehouse. */
  private[graft] def sqlCatalogFor(s: SparkSession, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val cat = s"gsql_${digest.take(8)}"
    graft.sources.GraftCatalog.register(s, cat, stagingRoot(dir))
    cat
  }

  /** Staged decode-once parquet for q_jpeg_decode's oracle. DIR- and
    * PID-independent on purpose: the corpus ids are literals, so
    * every SF and process derives identical bytes, the stage is
    * write-once (atomic publish), and the DuckDB side can read it
    * from a static path baked into the oracle SQL. Never registered
    * for shutdown cleanup — the compare runs in a LATER process.
    * The path carries a RUNTIME discriminator (java version+vendor
    * digest): JPEG decode determinism is only guaranteed within one
    * runtime, so a JDK/ImageIO upgrade between the staging run and a
    * later compare must RE-STAGE under the new runtime's path instead
    * of comparing against another JVM's decode. */
  private[graft] val jpegOraclePath: String = {
    val runtime = sys.props.getOrElse("java.version", "?") + "/" +
      sys.props.getOrElse("java.vendor", "?")
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(runtime.getBytes("UTF-8")).map(b => f"$b%02x")
      .mkString.take(8)
    sys.props.getOrElse("java.io.tmpdir", "/tmp") +
      s"/graft_jpeg_oracle_v1_$tag"
  }

  /** The read side of q_lake_roundtrip, shared with LakeRoundtripSpec
    * so the spec's executed-scan pruning fence measures EXACTLY the
    * plan the driver row runs. */
  private[graft] def lakeRoundtripRead(s: SparkSession, lake: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.read.schema(schema).parquet(lake)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        money(sum(cents(col("value")))).as("sum_value"))
      .orderBy("day")

  // ---------------------------------------------------------------- entry

  /** Flagship smoke: TPC-H Q1 shape on sf0.001 (always ≥ 1 group at
    * any scale factor, unlike the filtered star join). */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    analyticsQueries ++ etlQueries ++ llmQueries

  def oracleSql: Map[String, String] =
    analyticsOracle ++ etlOracle ++ llmOracle

  // ======================================================== analytics 13-24

  private def analyticsQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // 13: TPC-H Q1 shape — partial aggregation (map-side combine) does
    // the heavy lifting; one shuffle on the tiny group key. Money goes
    // through exact BIGINT cents (see `cents`): no decimal cast, no
    // round() on a fractional double, anywhere in the hash path.
    "q1_agg" -> ((s, dir) => {
      val qc = cents(col("l_quantity"))
      val pc = cents(col("l_extendedprice"))
      val dc100 = cents(col("l_discount")) // discount in hundredths
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          money(sum(qc)).as("sum_qty"),
          money(sum(pc)).as("sum_base_price"),
          money(sum(pc * (lit(100L) - dc100)), 10000.0).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // 14: TPC-H Q3 shape — two shuffle joins on keys + agg + top-N.
    "q3_join_agg" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-03-15"))
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1995-03-15"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(l("l_orderkey"), o("o_orderdate").cast("date").as("o_orderdate"))
        .agg(dec(round(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))), 2))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // 15: TPC-H Q5 shape — dims broadcast, facts shuffle once each.
    "q5_multijoin" -> ((s, dir) => {
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = t(s, dir, "nation")
      val cu = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
                col("o_orderdate") < lit("1998-01-01"))
      val l = t(s, dir, "lineitem")
      val su = t(s, dir, "supplier")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(su, l("l_suppkey") === su("s_suppkey"))
        .join(cu, o("o_custkey") === cu("c_custkey") &&
                  cu("c_nationkey") === su("s_nationkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(n("n_name"))
        .agg(money(sum(cents(col("l_extendedprice")) *
            (lit(100L) - cents(col("l_discount")))), 10000.0)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // 16: rank + running sum windows per customer.
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          rank().over(w).as("rnk"),
          money(sum(cents(col("o_totalprice"))).over(wsum)).as("running_spend"))
        .filter(col("rnk") <= 3)
        .orderBy("o_custkey", "rnk", "o_orderkey")
    }),

    // 46: TPC-H Q18 shape — HAVING over a grouped sum, then the
    // qualifying keys enrich via join. The having-aggregate runs
    // before any join: only qualifying orderkeys (rare) join back.
    "q18_having" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(money(sum(cents(col("l_quantity")))).as("sum_qty"))
        .filter(col("sum_qty") > 150.0)
      val o = t(s, dir, "orders")
      big.join(o, big("l_orderkey") === o("o_orderkey"))
        .select(col("o_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("o_orderdate"), col("sum_qty"))
        .orderBy(col("sum_qty").desc, col("o_orderkey"))
        .limit(100)
    }),

    // 47: TPC-H Q16 shape — distinct-count aggregate (suppliers per
    // brand/container over a filtered join). count(DISTINCT) expands
    // to a two-phase partial-dedup aggregate; no extra shuffle beyond
    // the group key.
    "q16_distinct" -> ((s, dir) => {
      val p = t(s, dir, "part").filter(!col("p_brand").isin("Brand#1"))
      val l = t(s, dir, "lineitem")
      l.join(p, l("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"),
          count(lit(1)).as("n_li"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"),
          col("p_type"))
    }),

    // 48: TPC-H Q14 shape — conditional-aggregate share (promo revenue
    // %). Both sums come from exact BIGINT cents; the final percentage
    // is one IEEE expression evaluated identically by both engines.
    "q14_share" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1997-04-01"))
      val rc = cents(col("l_extendedprice")) *
        (lit(100L) - cents(col("l_discount")))
      l.join(p, l("l_partkey") === p("p_partkey"))
        .groupBy(month(col("l_shipdate")).as("mo"))
        .agg(
          sum(when(col("p_name").startsWith("small"), rc).otherwise(0L))
            .cast("double").as("__promo"),
          sum(rc).cast("double").as("__total"))
        .select(col("mo"),
          (col("__promo") * lit(100.0) / col("__total")).as("promo_pct"))
        .orderBy("mo")
    }),

    // 49: lead/lag + ntile windows — days to each customer's next
    // order and spend-quartile within customer, one shuffle (both
    // windows share the partitioning).
    "q_window_lead" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          datediff(lead(col("o_orderdate"), 1).over(w), col("o_orderdate"))
            .as("days_to_next"),
          ntile(4).over(w).as("seq_quartile"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // 50: GROUP BY CUBE — all four grouping sets over status×priority
    // in one pass (the expand operator multiplies rows map-side; the
    // single shuffle carries the grouping-set id).
    "q_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          money(sum(cents(col("o_totalprice")))).as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    // 55: RANGE window frame — trailing 7-day spend per customer.
    // Frames by VALUE (epoch day), not row count: gaps in the date
    // sequence shrink the frame, multiple same-day orders all join it.
    "q_window_range" -> ((s, dir) => {
      val day = datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
        .rangeBetween(-6, 0)
      t(s, dir, "orders")
        .withColumn("day", day)
        .select(col("o_orderkey"), col("o_custkey"),
          money(sum(cents(col("o_totalprice"))).over(w)).as("spend_7d"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // 58: statistical aggregates with deterministic results — Pearson
    // correlation of quantity vs price per return flag, computed from
    // EXACT integer sums (Σx, Σy, Σx², Σxy, Σy² as BIGINTs — the
    // float-accumulator corr() is partition-order-dependent and can
    // never hash-match). The final formula is one IEEE expression over
    // identical integers; casts to double happen before any product
    // that could overflow a long.
    "q_stats_corr" -> ((s, dir) => {
      val qc = cents(col("l_quantity"))
      val pc = cents(col("l_extendedprice"))
      val d = (c: Column) => c.cast("double")
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        // square sums go through DECIMAL(38,0): a LONG sum of pc²
        // overflows around sf1 (ANSI would error loudly). These are
        // exact integers — the final integer→double conversion is
        // engine-unambiguous, unlike fractional decimal casts.
        .agg(count(lit(1)).as("n"), sum(qc).as("sx"), sum(pc).as("sy"),
          sum((qc * qc).cast("decimal(38,0)")).as("sxx"),
          sum((qc * pc).cast("decimal(38,0)")).as("sxy"),
          sum((pc * pc).cast("decimal(38,0)")).as("syy"))
        .select(col("l_returnflag"), col("n"),
          ((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
            (sqrt(d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
             sqrt(d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))))
            .as("corr_qty_price"))
        .orderBy("l_returnflag")
    }),

    // 53: ordered-set aggregate — exact median over BIGINT cents
    // (interpolation at 0.5 is (a+b)/2 on exact integer doubles, so
    // both engines agree bit-for-bit; arbitrary percentiles would
    // risk last-ulp skew between interpolation formulas).
    "q_median" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg((median(cents(col("o_totalprice"))) / lit(100.0))
            .as("median_price"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // 17: top-k per group via row_number.
    "q_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      t(s, dir, "part")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("p_brand", "rn", "p_partkey", "p_name")
        .orderBy("p_brand", "rn")
    }),

    // 18: GROUP BY ROLLUP multi-level aggregates.
    "q_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dec(sum(dec(col("l_extendedprice")))).as("sum_price"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // 19: UNION ALL + EXCEPT composition over customer segments.
    "q_set_ops" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val big = c.filter(col("c_acctbal") > 5000).select("c_custkey")
      val building = c.filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val both = big.intersect(building).withColumn("src", lit("both"))
      val onlyBig = big.except(building).withColumn("src", lit("big_only"))
      both.unionAll(onlyBig).orderBy("src", "c_custkey")
    }),

    // 20: pivot event_type → count columns (portable CASE form).
    "q_pivot" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1).otherwise(0)).as("n_click"),
          sum(when(col("event_type") === "view", 1).otherwise(0)).as("n_view"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("n_purchase"),
          sum(when(col("event_type") === "signup", 1).otherwise(0)).as("n_signup"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_error"))
        .orderBy("user_id")
    }),

    // 59: date spine — generated calendar dimension left-joined to
    // facts so gap days surface as zeros (the reporting shape a
    // plain GROUP BY can't produce). sequence() generates on the
    // executors; no driver-side range loop.
    "q_date_spine" -> ((s, dir) => {
      val spine = s.range(1).select(explode(sequence(
          lit(java.sql.Date.valueOf("1996-01-01")),
          lit(java.sql.Date.valueOf("1996-03-31")),
          expr("interval 1 day"))).as("d"))
      val perDay = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n"))
      spine.join(perDay, Seq("d"), "left")
        .select(col("d"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("d")
    }),

    // 57: unpivot (wide → long), the inverse of row 20's pivot —
    // the per-type count columns melt back to (user_id, event_type,
    // n) rows via stack(); zero-count cells are dropped like the
    // original long form. Map-side only: no shuffle beyond the
    // pivot's own aggregation.
    "q_unpivot" -> ((s, dir) => {
      val wide = queries("q_pivot")(s, dir)
      wide.select(col("user_id"), expr(
          """stack(5, 'click', n_click, 'view', n_view,
             'purchase', n_purchase, 'signup', n_signup,
             'error', n_error) AS (event_type, n)"""))
        .filter(col("n") > 0)
        .orderBy("user_id", "event_type")
    }),

    // 21: JSON field extraction from event props.
    "q_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .filter(col("k") > 50)
        .orderBy("event_id")
    }),

    // 22: tumbling time-window aggregation over events.
    "q_time_bucket" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).cast("date").as("day"),
          hour(date_trunc("hour", col("ts"))).as("hr"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          money(sum(cents(col("value")))).as("sum_value"))
        .orderBy("day", "hr", "event_type")
    }),

    // 23: gap-based sessionization — lag + cumulative sum of session
    // starts, then per-session aggregates. Two windows over the same
    // (user) partitioning → one shuffle.
    // 121: SCD type-2 materialization — the warehouse dimension-
    // history build: consecutive runs of equal state per user
    // collapse into versioned validity intervals [valid_from,
    // valid_to) with valid_to = next version's start (-1 = current).
    // Gap-and-island via lag/cumsum (q_sessionize's shape applied to
    // STATE CHANGES, not time gaps); one user_id shuffle end-to-end —
    // the interval build, version numbering and horizon close all
    // ride the same partitioning. Epoch-micros on both engines.
    "q_scd2" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val e = t(s, dir, "events").select(col("user_id"),
        col("event_type").as("state"), unix_micros(col("ts")).as("tus"),
        col("event_id"))
      val runs = e.withColumn("chg",
          when(lag(col("state"), 1).over(w).isNull ||
            lag(col("state"), 1).over(w) =!= col("state"), 1).otherwise(0))
        .withColumn("run_id", sum(col("chg")).over(wRun))
      val iv = runs.groupBy("user_id", "run_id")
        .agg(min(col("state")).as("state"),
          min(col("tus")).as("valid_from"), count(lit(1)).as("n_events"))
      val byVersion = Window.partitionBy(col("user_id")).orderBy(col("run_id"))
      iv.withColumn("valid_to",
          coalesce(lead(col("valid_from"), 1).over(byVersion), lit(-1L)))
        .select(col("user_id"), col("run_id").cast("int").as("version"),
          col("state"), col("valid_from"), col("valid_to"), col("n_events"))
        .orderBy("user_id", "version")
    }),

    "q_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val e = t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) >
              lit(1800L * 1000000L), 1).otherwise(0))
        .withColumn("sess_id", sum(col("new_sess"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      e.groupBy(col("user_id"), col("sess_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("first_event"))
        .orderBy("user_id", "sess_id")
    }),

    // 62: Spark's native session_window operator (batch mode) under
    // the same oracle math as the manual lag+cumsum sessionization
    // (row 23) — proves the builtin and the rewrite agree. Sessions
    // close after 30 idle minutes; window end = last event + gap.
    "q_session_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"))
        .orderBy("user_id", "start_us")
    }),

    // 40: correlated scalar subqueries through the SQL front door —
    // the ONE string below runs verbatim on both engines; Catalyst
    // decorrelates the two per-part subqueries into an aggregate+join.
    "q_corr_subquery" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(corrSubquerySql)
    }),

    // 43: the Q17 shape again, but hand-fused DataFrame-native: the
    // per-part count+sum become WINDOW aggregates over one shuffle on
    // l_partkey — ONE lineitem scan, zero self-joins, vs the
    // decorrelated SQL form's three scans + aggregate⨝fact join.
    // Threshold in exact cents: qty*5*n < sum(qty) ⇔ qc*5*n < sum(qc).
    "q_corr_subquery_fused" -> ((s, dir) => {
      val wPart = Window.partitionBy(col("l_partkey"))
      t(s, dir, "lineitem")
        .select(col("l_partkey"), cents(col("l_quantity")).as("__qc"),
          cents(col("l_extendedprice")).as("__pc"))
        .withColumn("__n_li", count(lit(1)).over(wPart))
        .withColumn("__sum_qc", sum(col("__qc")).over(wPart))
        .filter(col("__qc") * lit(5L) * col("__n_li") < col("__sum_qc"))
        .join(broadcast(t(s, dir, "part")),
          col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"))
        .agg(money(sum(col("__pc"))).as("sum_price"),
          count(lit(1)).as("n_small"))
        .orderBy("p_brand")
    }),

    // 83: EXISTS / NOT EXISTS through the SQL front door — the one
    // string below runs verbatim on both engines; Catalyst rewrites
    // the correlated EXISTS into a left-semi join and the NOT EXISTS
    // into a left-anti join (per-priority counts of orders with a
    // discounted line / with no lines at all).
    "q_exists_subquery" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(existsSubquerySql)
    }),

    // 107: the SQL front door proper — Tables.registerAll registers
    // EVERY table as a view and the query is spark.sql(...) verbatim
    // (the string the oracle also runs). TPC-H Q2's correlated-min
    // shape; pushdown survives the view layer (PlanSpec fences it
    // like every other row).
    "q_sql_q2" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlQ2)
    }),

    // 108: SQL front door, TPC-H Q21's multi-semi/anti self-join
    // shape — the hardest correlated pattern a reference SQL user
    // would bring; Catalyst plans both EXISTS branches as one
    // l_orderkey-clustered join family.
    "q_sql_q21" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlQ21)
    }),

    // 118: SQL front door, TPC-H Q17's correlated-AVG shape
    // (small-quantity lines vs 20% of the part's average) — the
    // per-group-threshold pattern Catalyst de-correlates into an
    // l_partkey aggregate joined back (one join family, no per-row
    // re-scan). Money rides the cents bridge INSIDE the shared SQL;
    // the quantity compare is exact (integer-valued doubles, exact
    // double sums under 2^53).
    "q_sql_q17" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlQ17)
    }),

    // 131: SQL front door, TPC-H Q13's distribution-of-counts shape —
    // the LEFT join keeps zero-order customers, the second aggregate
    // runs over the tiny count domain. The one outer-join TPC-H
    // pattern the contract lacked.
    "q_sql_q13" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlQ13)
    }),

    // 132: SQL front door, TPC-H Q19's disjunctive-predicate shape —
    // the OR-of-conjunctions pattern that stresses predicate pushdown
    // (both engines must derive the brand IN-list prefilter for the
    // part side instead of scanning everything through the join).
    "q_sql_q19" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlQ19)
    }),

    // 133: SQL front door, TPC-H Q22's global-scalar + anti-join
    // shape — dormant high-balance customers per nation. The 1-row
    // threshold broadcasts (intended nested-loop, PlanSpec-fenced);
    // the dormancy NOT EXISTS plans as a left-anti on o_custkey; the
    // above-average compare is integer-exact (cents·count > sum).
    "q_sql_q22" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlQ22)
    }),

    // 269: SQL front door, TPC-DS Q64's repeat-purchase join chain —
    // consecutive-year traded-up buyers per nation; the self-join
    // runs on the per-(customer, year) AGGREGATE, never fact×fact.
    "q_sql_ds_repeat" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsRepeat)
    }),

    // 270: SQL front door, TPC-DS Q31's share-growth shape — nations
    // whose revenue share strictly grows across 1996's first three
    // quarters; share compares exact via DECIMAL(38,0)
    // cross-multiplication.
    "q_sql_ds_share" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsShare)
    }),

    // 168: SQL front door, TPC-DS Q22's hierarchy-ROLLUP report —
    // the multi-level subtotal report (every level of the item
    // hierarchy in one pass). Catalyst plans the rollup as ONE
    // Expand + aggregate (no per-level re-scan); partial aggregation
    // combines map-side before the group shuffle.
    "q_sql_ds_rollup" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsRollup)
    }),

    // 169: SQL front door, TPC-DS Q67's rollup-then-rank shape — the
    // top-revenue-rows-per-level report. The rank window runs over
    // the AGGREGATE's calendar-bounded frame (|nations|·|priorities|
    // rows), never the fact table — the scale discipline every
    // windowed report here follows.
    "q_sql_ds_toprank" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsTopRank)
    }),

    // 170: SQL front door, TPC-DS Q5/Q77's channel-union report —
    // independent channel slices UNION ALL'd then rolled up per
    // (channel, year). Catalyst pushes each branch's predicate into
    // its own scan and the union feeds ONE Expand + aggregate.
    "q_sql_ds_channel" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsChannel)
    }),

    // 172: SQL front door, TPC-DS Q51's cumulative-comparison shape —
    // per-channel running totals on a full-outer month spine, compared
    // row by row. Both windows run over the months-cardinality
    // aggregate, never the fact table.
    "q_sql_ds_cumulative" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsCumulative)
    }),

    // 173: SQL front door, TPC-DS Q88's multi-band count report,
    // written scan-fused: eight COUNT(*) FILTER cells in ONE pass of
    // the fact table instead of the classic eight scalar-subquery
    // scans — the rewrite that matters at 100 TB.
    "q_sql_ds_bands" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsBands)
    }),

    // 174: SQL front door, TPC-DS Q34/Q73's frequent-buyer shape —
    // HAVING-banded per-customer counts joined back to the dimension.
    "q_sql_ds_frequent" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsFrequent)
    }),

    // 184: SQL front door, TPC-DS Q89's deviation-from-average report
    // — months whose revenue strays >10% from their (priority, year)
    // monthly average; windows over the grouped frame, exact integer
    // cross-multiplied deviation test.
    "q_sql_ds_deviation" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsDeviation)
    }),

    // 192: SQL front door, TPC-DS Q1's above-group-average outlier
    // shape — customers whose returned revenue beats 1.2× their
    // nation's average; aggregate→compare-to-own-group plan, exact
    // integer cross-multiplied threshold.
    "q_sql_ds_returns" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsReturns)
    }),

    // 205: SQL front door, TPC-DS Q65's under-performer shape — per
    // (supplier, part) revenue at or below half the supplier's own
    // average pair revenue; stacked aggregations with an exact
    // integer cross-multiplied threshold.
    "q_sql_ds_minavg" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsMinavg)
    }),

    // 198: SQL front door, TPC-DS Q36's margin-rank-per-level shape —
    // gross-margin ratio over the (type, brand) ROLLUP hierarchy,
    // then RANK within each grouping level (GROUPING() materialized
    // as a column, leaf ranks scoped to their parent — Q36's
    // lochierarchy trick); best-3 rows per level scope.
    "q_sql_ds_margin" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsMargin)
    }),

    // 207: SQL front door, TPC-DS Q14's cross-channel INTERSECT
    // shape — items sold in all three "channels", report over the
    // common set only; channels reduce to DISTINCT lists before the
    // INTERSECT semi-joins.
    "q_sql_ds_intersect" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsIntersect)
    }),

    // 208: SQL front door, TPC-DS Q23's best-customers ×
    // frequent-items shape — returned revenue of above-half-max
    // customers on ≥4-order items, per priority; both qualifying
    // sets aggregate-first, scalar MAX broadcast.
    "q_sql_ds_bestfreq" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsBestfreq)
    }),

    // 212: SQL front door, TPC-DS Q74's year-over-year customer
    // growth — two-year self-join on the |customers| aggregate
    // frame, integer-exact >1.5× growth filter, ratio-ranked top-20.
    "q_sql_ds_growth" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsGrowth)
    }),

    // 217: SQL front door, TPC-DS Q99's fulfilment-lag band report —
    // ship-delay buckets per priority, scan-fused as FILTER cells in
    // ONE fact pass (the Q88/q_sql_ds_bands discipline applied to
    // date-lag banding); the bands compare dates against
    // order-date + INTERVAL directly, so the predicate stays
    // codegen'd integer date math on both engines.
    "q_sql_ds_shipdelay" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsShipdelay)
    }),

    // 232: SQL front door, TPC-DS Q73/Q34's trips-per-customer band —
    // count orders per customer in one fact pass, keep the 8–10-trip
    // band, then join the customer dim on the already-thinned frame.
    "q_sql_ds_tripcount" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsTripcount)
    }),

    // 242: SQL front door, TPC-DS Q51's two-series cumulative
    // compare — urgent-class vs normal-class revenue reduced to the
    // month grain in one conditional-sum pass, running sums over the
    // bounded calendar frame, months where the urgent channel leads.
    "q_sql_ds_channelcum" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsChannelcum)
    }),

    // 233: SQL front door, TPC-DS Q88's eight-cell time-band census —
    // one events scan produces all eight 3-hour counts as conditional
    // aggregates (Q88 spells this as eight self-joined subqueries;
    // the scan-fused form is the plan you actually want at 100 TB).
    "q_sql_ds_timebands" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsTimebands)
    }),

    // 218: SQL front door, TPC-DS Q90's am/pm traffic-ratio shape —
    // exact conditional counts per type in one scan, ratio as the
    // single mirrored IEEE division of the two integer cells.
    "q_sql_ds_ampm" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsAmpm)
    }),

    // 219: SQL front door, TPC-DS Q93's returns-adjusted spend —
    // per-customer gross minus returned revenue from ONE fact pass
    // (conditional sum, no second scan or self-join), net-ranked
    // top-20 under integer-exact ordering.
    "q_sql_ds_netloss" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsNetloss)
    }),

    // 224: SQL front door, TPC-DS Q65's below-average-performer
    // report — parts earning ≤ 70% of their brand's average revenue,
    // the brand average derived by re-aggregating the per-part frame
    // (one fact scan) and compared by integer cross-multiplication.
    "q_sql_ds_belowavg" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsBelowavg)
    }),

    // 138: SQL front door, TPC-H Q4's EXISTS-date shape — the late-
    // line order count per priority; the correlated EXISTS carries
    // date predicates on BOTH sides of the correlation.
    "q_sql_q4" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlQ4)
    }),

    // 139: SQL front door, TPC-H Q15's view-max shape — the revenue
    // "view" is aggregated once and consulted twice (rows + its own
    // max); the 1-row max broadcasts.
    "q_sql_q15" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlQ15)
    }),

    // 140: SQL front door, TPC-H Q20's nested-IN shape — IN over an
    // aggregate-with-HAVING whose filter nests another IN over part;
    // both engines plan the whole chain as semi-join families.
    "q_sql_q20" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlQ20)
    }),

    // 143: SQL front door, TPC-H Q7's volume-shipping shape — the
    // symmetric nation-pair disjunction over a 4-table join family,
    // revenue per (supp_nation, cust_nation, year). The OR of nation
    // pairs prunes both nation dims before the big join; money rides
    // exact per-row cents.
    "q_sql_q7" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlQ7)
    }),

    // 144: SQL front door, TPC-H Q8's market-share shape — one
    // region-scoped revenue stream split by a CASE on the supplier
    // nation (share numerator vs denominator in a single pass);
    // integer-exact: both cents sums returned instead of the ratio.
    "q_sql_q8" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlQ8)
    }),

    // 145: SQL front door, TPC-H Q10's returned-item ranking — top
    // 20 customers by returned-line revenue in one quarter; the
    // LIMIT is deterministic (custkey tiebreak), revenue exact cents.
    "q_sql_q10" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlQ10)
    }),

    // 146: SQL front door, TPC-H Q12's CASE-counting shape (adapted:
    // no shipmode/commitdate in this schema, so the group is
    // l_linestatus and "late" = shipped >30 days after the order
    // date) — the two priority-bucket counts in one pass.
    "q_sql_q12" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlQ12)
    }),

    // 152: SQL front door, TPC-H Q6's forecast-revenue shape — the
    // pure scan-filter-aggregate (no join at all): one year, a
    // discount band, small quantities. The simplest TPC-H shape and
    // the purest pushdown test (every predicate must reach the scan).
    "q_sql_q6" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlQ6)
    }),

    // 153: SQL front door, TPC-H Q9's product-profit shape (adapted:
    // no partsupp, so supply cost = 60% of retail price): profit per
    // supplier nation per order year over a part-name LIKE filter —
    // the 5-table star with a computed measure. Profit is exact
    // integer cents end-to-end.
    "q_sql_q9" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlQ9)
    }),

    // 154: SQL front door, TPC-H Q11's important-stock shape
    // (adapted: no partsupp, so part value = lineitem revenue):
    // parts whose total value exceeds 1.25× the mean part value —
    // HAVING over TWO scalar subqueries, integer-exact compare
    // (value·n_parts·4 > 5·total), scale-free by construction.
    "q_sql_q11" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlQ11)
    }),

    // 84: explicit GROUPING SETS with grouping() markers — finer
    // control than the rollup/cube rows (a hand-picked lattice), one
    // shared SQL string, exact cents for the money sum.
    "q_grouping_sets" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(groupingSetsSql)
    }),

    // 85: distribution windows — percent_rank / cume_dist / ntile per
    // group. Ranks and peer counts are integers, so the two ratios
    // are exact integer divisions: identical doubles on any engine;
    // ntile ordering made total with the unique key.
    "q_window_cume" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(windowCumeSql)
    }),

    // 44: deliberately skewed fact⨝dim join through Skew.saltedJoin —
    // ~70% of fact rows share one hot key; the salt spreads that key
    // over 8 sub-partitions so no single task owns 70% of the shuffle.
    // Results are salt-invariant, so the oracle is the plain join.
    "q_skew_join" -> ((s, dir) => {
      val facts = t(s, dir, "lineitem")
        .select(
          when(col("l_orderkey") % 10 < 7, 0L)
            .otherwise(col("l_suppkey") % 100).as("hot_key"),
          cents(col("l_extendedprice")).as("pc"))
      val dim = t(s, dir, "supplier")
        .groupBy((col("s_suppkey") % 100).as("hot_key"))
        .agg(min(col("s_name")).as("dim_name"))
      Skew.saltedJoin(facts, dim, "hot_key", "pc", 8)
        .groupBy(col("hot_key"), col("dim_name"))
        .agg(count(lit(1)).as("n"), money(sum(col("pc"))).as("sum_price"))
        .orderBy("hot_key")
    }),

    // 24: as-of join — most recent order ≤ event day per user.
    "q_asof_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), to_date(col("ts")).as("d"))
      val o = t(s, dir, "orders")
        .groupBy(col("o_custkey"), to_date(col("o_orderdate")).as("od"))
        .agg(max(col("o_orderkey")).as("last_orderkey"))
      AsofJoin.asof(e, o, "user_id", "o_custkey", "d", "od",
          Seq("last_orderkey"))
        .select(col("event_id"), col("user_id"), col("last_orderkey"))
        .orderBy("event_id")
    }),

    // 60: the SAME as-of semantics through the custom Catalyst
    // operator (AsofJoinNative: LogicalPlan node + Strategy +
    // sort-merge SparkPlan with one buffered right row of state) —
    // rung (c) of the custom-op ladder, under the same DuckDB ASOF
    // oracle as row 24.
    "q_asof_native" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), to_date(col("ts")).as("d"))
      val o = t(s, dir, "orders")
        .groupBy(col("o_custkey"), to_date(col("o_orderdate")).as("od"))
        .agg(max(col("o_orderkey")).as("last_orderkey"))
      graft.plans.AsofJoinNative.asof(e, o, "user_id", "o_custkey", "d", "od")
        .select(col("event_id"), col("user_id"), col("last_orderkey"))
        .orderBy("event_id")
    }),

    // 91: bounded window frames in both directions — a trailing 3-row
    // moving average (sum/count computed separately over the SAME
    // frame so the division happens once, on exact integers) and a
    // CURRENT ROW → UNBOUNDED FOLLOWING remaining-spend sum. One
    // shuffle: every frame shares the (custkey) partitioning.
    "q_moving_avg" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wTrail = w.rowsBetween(-2, 0)
      val wFwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val pc = cents(col("o_totalprice"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          (sum(pc).over(wTrail).cast("double") /
            (count(lit(1)).over(wTrail) * lit(100.0))).as("ma_3"),
          money(sum(pc).over(wFwd)).as("remaining_spend"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // 150: year-over-year growth — monthly revenue vs the same month
    // one year back. The lag runs per-month AFTER aggregation (the
    // window input is the tiny (yr, mo) frame, shuffled by month —
    // never a global sort over facts); months without a prior year
    // drop, so every output cell is a real YoY pair. All-integer
    // cents. The oracle states the same thing as a self-join.
    "q_yoy_growth" -> ((s, dir) => {
      val agg = t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
      val w = Window.partitionBy(col("mo")).orderBy(col("yr"))
      agg
        .withColumn("__py", lag(col("yr"), 1).over(w))
        .withColumn("__pc", lag(col("rev_cents"), 1).over(w))
        .filter(col("__py") === col("yr") - 1)
        .select(col("yr"), col("mo"), col("rev_cents"),
          col("__pc").as("prev_cents"),
          (col("rev_cents") - col("__pc")).as("diff_cents"))
        .orderBy("yr", "mo")
    }),

    // 92: ordered string aggregation — DuckDB's string_agg(x, ','
    // ORDER BY x) re-expressed as array_sort(collect_list)+array_join
    // (Spark's collect_list is partition-order-dependent; the sort
    // makes it deterministic). The list is nation-bounded (≤ suppliers
    // per nation), not corpus-bounded — safe at scale.
    "q_string_agg" -> ((s, dir) => {
      t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_supp"),
          array_join(array_sort(collect_list(col("s_name"))), ",")
            .as("supp_csv"))
        .orderBy("n_name")
    }),

    // 93: equi-width histogram — global min/max via a 1-row aggregate
    // broadcast-cross-joined to the scan (two passes, no driver
    // collect), bucket index in pure BIGINT arithmetic (`div` ≡
    // DuckDB `//` for non-negative operands).
    "q_histogram" -> ((s, dir) => {
      val b = t(s, dir, "orders").select(cents(col("o_totalprice")).as("pc"))
      val m = b.agg(min(col("pc")).as("lo"), max(col("pc")).as("hi"))
      b.crossJoin(broadcast(m))
        .withColumn("bucket",
          expr("CAST((pc - lo) * 20 DIV (hi - lo + 1) AS INT)"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), money(sum(col("pc"))).as("sum_price"))
        .orderBy("bucket")
    }),

    // 117: population-stability index (PSI) — the data-drift monitor
    // every production pipeline ends with: value distribution of the
    // FIRST time half (ref) vs the SECOND (cur) per event_type, over
    // 10 equi-width cent bins from the same 1-row min/max broadcast
    // as q_histogram. Counts are exact ints; empty bins ride Laplace
    // smoothing p=(c+1)/(n+10) so ln never sees zero and both engines
    // agree arithmetically (round 6 on the 10-term sum). The bin
    // frame materializes via explode, not a join — no cartesian.
    "q_psi" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        unix_micros(col("ts")).as("tus"), cents(col("value")).as("v"))
      val m = ev.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"),
        (min(col("tus")) + max(col("tus"))).as("tmid2"))
      // counts is |types|·2·10 rows however big the stream — checkpoint
      // it so the four downstream consumers (frame/filled/tot/p) read
      // the tiny frame instead of re-scanning events once each (the
      // audit showed 8 fact scans without this; the minimum is 2:
      // one for min/max, one for binning).
      val counts = ev.crossJoin(broadcast(m))
        .select(col("event_type"),
          when(col("tus") * 2 <= col("tmid2"), lit("ref"))
            .otherwise(lit("cur")).as("period"),
          expr("CAST((v - vmin) * 10 DIV (vmax - vmin + 1) AS INT)")
            .as("bin"))
        .groupBy("event_type", "period", "bin").agg(count(lit(1)).as("c"))
        .staged
      val frame = counts.select("event_type").distinct()
        .select(col("event_type"),
          explode(sequence(lit(0), lit(9))).as("bin"))
        .select(col("event_type"), col("bin"),
          explode(array(lit("ref"), lit("cur"))).as("period"))
      val full = frame.join(counts, Seq("event_type", "period", "bin"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val tot = full.groupBy("event_type", "period").agg(sum(col("c")).as("n"))
      val p = full.join(tot, Seq("event_type", "period"))
        .withColumn("p", (col("c") + 1).cast("double") / (col("n") + 10))
      p.groupBy("event_type", "bin")
        .agg(max(when(col("period") === "ref", col("p"))).as("pr"),
          max(when(col("period") === "cur", col("p"))).as("pc"),
          max(when(col("period") === "ref", col("n"))).as("nr"),
          max(when(col("period") === "cur", col("n"))).as("nc"))
        .groupBy("event_type")
        .agg(max(col("nr")).as("n_ref"), max(col("nc")).as("n_cur"),
          round(sum((col("pc") - col("pr")) * log(col("pc") / col("pr"))), 6)
            .as("psi"))
        .orderBy("event_type")
    }),

    // 127: Gini coefficient of customer revenue per order priority —
    // the inequality/concentration metric (how top-heavy is the
    // revenue base). G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over
    // rank-sorted EXACT cent totals: Σ i·x rides DECIMAL(38,0), so
    // everything up to the final division is integer-exact and
    // order-proof. The rank comes from Ranking.withRank (range-
    // partitioned slices + broadcast offsets) — with ~5 priorities a
    // per-priority window would funnel 1/5 of all customers through
    // one task at scale; here every task ranks only its range slice.
    "q_gini" -> ((s, dir) => {
      val rev = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("pri"), col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("x"))
      Ranking.withRank(rev, Seq("pri"),
          Seq(col("x"), col("o_custkey")), "i")
        .groupBy("pri")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(col("i").cast("decimal(38,0)") * col("x")).as("six"))
        .select(col("pri"), col("n"),
          money(col("sx").cast("long")).as("total"),
          round((lit(2.0) * col("six").cast("double") -
            (col("n") + 1).cast("double") * col("sx").cast("double")) /
            (col("n").cast("double") * col("sx").cast("double")), 6)
            .as("gini"))
        .orderBy("pri")
    }),

    // 123: z-score anomaly flags — the monitoring twin of q_psi
    // (per-ROW outliers, not distribution drift). Mean/std come from
    // EXACT integer moments (n, Σv, Σv² over cents as DECIMAL(38,0)
    // — overflow-proof at any scale, order-independent), so the only
    // float work is the final sqrt/divide: engine-identical. The
    // 5-row moment table broadcast-joins back; one scan + one tiny
    // shuffle.
    "q_zscore" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        col("event_type"), cents(col("value")).as("v"))
      val dec = col("v").cast("decimal(38,0)")
      val m = ev.groupBy("event_type").agg(count(lit(1)).as("n"),
        sum(dec).as("s1"), sum(dec * dec).as("s2"))
      ev.join(broadcast(m), "event_type")
        .withColumn("mu", col("s1").cast("double") / col("n"))
        .withColumn("sigma",
          sqrt((col("s2").cast("double") -
            col("s1").cast("double") * col("s1").cast("double") / col("n"))
            / col("n")))
        .select(col("event_id"), col("event_type"), col("v"),
          round((col("v") - col("mu")) / col("sigma"), 6).as("z"),
          (abs((col("v") - col("mu")) / col("sigma")) > 3).as("outlier"))
        .orderBy("event_id")
    }),

    // 157: two-sample Kolmogorov–Smirnov — the nonparametric drift
    // test beside q_psi (binned, parametric-ish) and q_zscore
    // (pointwise): compares the FULL order-price distribution of two
    // market segments as max|F₀−F₁| over the empirical CDFs. Counts
    // aggregate per distinct cent value FIRST (the cumulated frame is
    // bounded by the price domain, not the row count), then both
    // cumulative counts ride Ranking.withPrefixSums — range slices
    // cumsum in parallel, broadcast per-slice offsets; no global-sort
    // window ever sees a data-sized frame. Cum counts are exact longs
    // (< 2^53 ⇒ exact doubles), so both engines emit identical IEEE
    // quotients and the same max.
    "q_ks_test" -> ((s, dir) => {
      val sm = t(s, dir, "orders").join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(cents(col("o_totalprice")).as("v"),
          when(col("c_mktsegment") === "BUILDING", 0).otherwise(1).as("g"))
      val c = sm.groupBy("v").agg(
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("c1"))
      val cum = Ranking.withPrefixSums(c, Nil, Seq(col("v")),
        Seq("c0", "c1"))
      val n = c.agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
      cum.crossJoin(broadcast(n))
        .select(col("n0"), col("n1"),
          abs(col("c0_cum").cast("double") / col("n0").cast("double") -
            col("c1_cum").cast("double") / col("n1").cast("double"))
            .as("d"))
        .groupBy("n0", "n1")
        .agg(round(max(col("d")), 6).as("ks"))
    }),

    // 202: CHI-SQUARE test of independence (event_type × day-of-week)
    // — the categorical drift/dependence screen beside the numeric
    // ones (q_psi on distributions, q_ks_test on CDFs): observed cell
    // counts vs the independence expectation E = row·col/N, χ² =
    // Σ (O·N − R·C)²/(R·C·N). The contingency table is ONE groupBy of
    // the facts (map-side partials), everything after runs on the
    // |types|×|dows| ≤ ~35-cell frame — marginals broadcast back,
    // zero further fact-table passes; the shape is identical at
    // 100 TB because the post-aggregate frame never grows with data.
    // Each term is exact-BIGINT arithmetic cast to DOUBLE only for
    // the final division; round(,6) absorbs the ~30-term sum order.
    "q_chi2" -> ((s, dir) => {
      val cells = t(s, dir, "events")
        .select(col("event_type"),
          (dayofweek(to_date(col("ts"))) - 1).as("dow"))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
        .staged // ≤35 rows reused by marginals + terms
      val rowT = cells.groupBy("event_type").agg(sum(col("o")).as("rt"))
      val colT = cells.groupBy("dow").agg(sum(col("o")).as("ct"))
      val tot = cells.agg(sum(col("o")).as("n"))
      val d = col("o") * col("n") - col("rt") * col("ct")
      cells.join(broadcast(rowT), "event_type")
        .join(broadcast(colT), "dow")
        .crossJoin(broadcast(tot)) // intended: 1-row N carrier
        .select(col("event_type"), col("dow"), col("n"),
          (d.cast("double") * d.cast("double") /
            (col("rt").cast("double") * col("ct") * col("n"))).as("term"))
        .agg(round(sum(col("term")), 6).as("chi2"),
          ((countDistinct(col("event_type")) - 1) *
            (countDistinct(col("dow")) - 1)).as("dof"),
          first(col("n")).as("n_events"))
    }),

    // 203: TWO-PHASE exact distinct count — the de-skew idiom for
    // COUNT(DISTINCT) at scale, made explicit: phase 1 pre-deduplicates
    // on the FULL (type, user) key (the shuffle spreads over both key
    // columns, so one hot event type fans across every partition
    // instead of serializing into one reducer's distinct-set), phase 2
    // counts the now-unique pairs with plain map-side-combinable
    // counts. Spark's single-phase distinct aggregate plans an Expand
    // over the same two steps; writing them explicitly pins the shape
    // and lets the n_events count ride phase 1 for free. Oracle:
    // COUNT(DISTINCT) — the semantics must be identical.
    "q_distinct_twophase" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n_in_pair")) // phase 1: dedup shuffle
        .groupBy("event_type") // phase 2: unique-pair counts
        .agg(count(lit(1)).as("n_users"),
          sum(col("n_in_pair")).as("n_events"))
        .orderBy("event_type")
    }),

    // 204: WEEK-OVER-WEEK revenue (TPC-DS Q59's adjacent-week
    // comparison as a DataFrame row): revenue per ISO week of 1996,
    // each week's ratio vs the PREVIOUS week via one lag over the
    // ≤52-row week frame — robust at every SF (a fixed two-week pick
    // goes empty at sf0.001). The unpartitioned window is calendar-
    // bounded (the q_seasonal_trend discipline); weeks 2..52 keep the
    // ISO year-boundary buckets (a late-December day belongs to ISO
    // week 1 of 1997 — both engines bucket identically, but the edge
    // weeks' mixed membership isn't worth reporting). Ratio is one
    // mirrored IEEE division of exact cents.
    "q_wow_revenue" -> ((s, dir) => {
      val wk = org.apache.spark.sql.expressions.Window
        .orderBy("w") // ≤52-row calendar frame — bounded by design
      t(s, dir, "orders")
        .select(to_date(col("o_orderdate")).as("d"),
          cents(col("o_totalprice")).as("pc"))
        .filter(year(col("d")) === 1996)
        .groupBy(weekofyear(col("d")).as("w"))
        .agg(sum(col("pc")).as("rc"), count(lit(1)).as("n_orders"))
        .select(col("w"), col("rc"), col("n_orders"),
          lag(col("rc"), 1).over(wk).as("prev_rc"))
        .filter(col("w").between(2, 52) && col("prev_rc").isNotNull)
        .select(col("w"), money(col("rc")).as("revenue"),
          money(col("prev_rc")).as("prev_revenue"),
          round(col("rc").cast("double") / col("prev_rc"), 6)
            .as("wow_ratio"),
          col("n_orders"))
        .orderBy("w")
    }),

    // 158: median-absolute-deviation outliers — the robust twin of
    // q_zscore: one hot event can drag the mean AND the sigma it is
    // judged against; median/MAD shrug it off. Two broadcast passes:
    // per-type exact median over BIGINT cents (|types|-row frame,
    // broadcast back), then the median of the absolute deviations the
    // same way. Spark's exact `median` buffers value→count per group
    // — bounded by the distinct cent domain, not the row count
    // (q_median's documented tradeoff); both engines interpolate
    // (a+b)/2 on exact integer(±.5) doubles, and the final /100.0 is
    // one mirrored IEEE division.
    "q_anomaly_mad" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), cents(col("value")).as("v"))
      val m1 = ev.groupBy("event_type").agg(median(col("v")).as("med"))
      val dev = ev.join(broadcast(m1), "event_type")
        .withColumn("d", abs(col("v").cast("double") - col("med")))
      val m2 = dev.groupBy("event_type").agg(median(col("d")).as("mad"))
      dev.join(broadcast(m2), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (max(col("med")) / lit(100.0)).as("median_value"),
          (max(col("mad")) / lit(100.0)).as("mad_value"),
          sum(when(col("d") > col("mad") * 3, 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy("event_type")
    }),

    // 159: last-touch attribution — every purchase's value credited
    // to the user's most recent PRECEDING non-purchase event type
    // (the classic marketing-attribution pass every event pipeline
    // runs). One window, PARTITIONED BY USER (no global sort ever):
    // last(non-purchase type, ignoreNulls) over rows [-∞, -1] with a
    // (ts, event_id) total order; purchases with no prior touch
    // credit "direct". The aggregate after it is a tiny
    // |channels|-row frame. Exact BIGINT cents; one mirrored /100.0.
    "q_attribution" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
        col("event_id"), col("event_type"), cents(col("value")).as("v"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      ev.withColumn("ch",
          last(when(col("event_type") =!= "purchase",
            col("event_type")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("ch"), lit("direct")).as("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          (sum(col("v")).cast("double") / lit(100.0)).as("revenue"))
        .orderBy("channel")
    }),

    // 160: exact 10-term EWMA (α = 1/2) of daily revenue per event
    // type — the monitoring smoother beside q_moving_avg's flat
    // window. Aggregate to the (type, day) frame FIRST (the window
    // input is |types|·|days|, bounded by the calendar, never the
    // event count), then one per-type window expressed as 10 lag
    // terms with weights 2^(9-k) — the SAME α = 1/2 quotient as the
    // earlier pow(2, row_number) form (the common factor 2^(rn-9)
    // cancels in num/den) but with the exponent REBASED inside the
    // frame, so every term is ≤ cents·2^9 < 2^53 for ANY series
    // length; the unrebased weight overflowed num/den to Infinity
    // past ~1013 rows per partition (ADVICE r8). Terms and partial
    // sums are exact integers scaled by powers of two, so parity
    // holds across any summation order; the quotient is one mirrored
    // IEEE division on identical inputs.
    "q_ewma" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(cents(col("value"))).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
      def term(k: Int): Column =
        if (k == 0) col("x") else lag(col("x"), k).over(w)
      val num = (0 to 9).map(k =>
        coalesce(term(k).cast("double") * lit(math.pow(2.0, 9 - k)),
          lit(0.0))).reduce(_ + _)
      val den = (0 to 9).map(k =>
        when(term(k).isNotNull, lit(math.pow(2.0, 9 - k)))
          .otherwise(lit(0.0))).reduce(_ + _)
      daily
        .withColumn("num", num)
        .withColumn("den", den)
        .select(col("event_type"), col("day"),
          (col("x").cast("double") / lit(100.0)).as("revenue"),
          (col("num") / col("den") / lit(100.0)).as("ewma"))
        .orderBy("event_type", "day")
    }),

    // 161: cohort retention matrix — users bucketed by first-activity
    // WEEK (the events table spans weeks, not years), then distinct
    // actives per (cohort, weeks-since) cell: the retention triangle
    // every growth report draws. Shape: distinct (user, week) first
    // (one shuffle, map-side combine), per-user min week (same key —
    // AQE reuses the hash side), join back on user_id, tiny
    // (cohort × offset) aggregate. No windows, no sort; every frame
    // after the distinct is user- or calendar-bounded. Week starts
    // are ISO Mondays in both engines; the day delta is an exact
    // multiple of 7, so the integer division is unambiguous.
    "q_cohort_matrix" -> ((s, dir) => {
      val act = t(s, dir, "events")
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("wk"))
        .distinct()
      val firstWk = act.groupBy("user_id").agg(min(col("wk")).as("cohort"))
      act.join(firstWk, "user_id")
        .groupBy(col("cohort"),
          (datediff(col("wk"), col("cohort")) / lit(7)).cast("long")
            .as("k"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort", "k")
    }),

    // 162: exact DAU / WAU — the rolling-window DISTINCT count that a
    // window function cannot express (count(distinct) over a frame is
    // unsupported in both engines, and buffering per-day user SETS in
    // a window is the memory bomb). The distributed idiom instead:
    // distinct (user, day) once, then EXPLODE each activity onto the
    // 7 trailing-window days it contributes to (7× a bounded frame,
    // linear) and count distinct per day. DAU rides the same distinct
    // frame; inner join restricts WAU to observed days.
    "q_active_users" -> ((s, dir) => {
      val ud = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val wau = ud
        .select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), 6)))
            .as("day"))
        .groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
      val dau = ud.groupBy("day")
        .agg(countDistinct(col("user_id")).as("dau"))
      dau.join(wau, "day").orderBy("day")
    }),

    // 210: time-bound sequential conversion (view → purchase within
    // ONE HOUR) — the windowed refinement of q_event_funnel's
    // whole-history stage mins: the pair search is ONE user-keyed
    // equi-join (a user's views × the same user's purchases, time
    // bound applied on the joined row), so cost rides per-user event
    // counts — never a global sort, never an event-grain window, and
    // a hot user is one join key AQE can split. Day grain = the
    // view's day; per day: distinct viewing users, distinct
    // converting users, qualifying pairs. Epoch-micros on both
    // engines (the funnel's ts bridge).
    "q_ab_within" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), to_date(col("ts")).as("day"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("us").as("tv"), col("day"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us").as("tp"))
      val conv = views.join(buys, "user_id")
        .filter(col("tp") >= col("tv") &&
          col("tp") - col("tv") <= 3600000000L)
        .groupBy("day")
        .agg(countDistinct(col("user_id")).as("n_conv_users"),
          count(lit(1)).as("n_pairs"))
      views.groupBy("day")
        .agg(countDistinct(col("user_id")).as("n_view_users"))
        .join(conv, Seq("day"), "left")
        .select(col("day"), col("n_view_users"),
          coalesce(col("n_conv_users"), lit(0L)).as("n_conv_users"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
        .orderBy("day")
    }),

    // 211: decile lift / gains table — the model-evaluation report
    // every targeting pipeline prints: customers ranked by lifetime
    // spend through Ranking.withRank (range-sliced parallel rank —
    // no data-sized global-sort window), decile via the explicit
    // floor((rank−1)·10/n)+1 formula (exact: the integer products
    // stay < 2^53, so the IEEE quotient of exact doubles floors
    // correctly; ntile's remainder placement never enters). Per
    // decile: customers, revenue, cumulative capture share — the
    // running sum rides the 10-row decile frame.
    "q_decile_lift" -> ((s, dir) => {
      val w10 = org.apache.spark.sql.expressions.Window.orderBy("decile")
      val spend = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("tc"))
      graft.ops.Ranking.withRank(spend, Seq.empty,
          Seq(col("tc").desc, col("o_custkey").asc), "rk", "n")
        .select(col("tc"),
          (floor((col("rk") - 1) * lit(10.0) / col("n")) + 1)
            .cast("int").as("decile"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_customers"), sum(col("tc")).as("rev"))
        .select(col("decile"), col("n_customers"),
          money(col("rev")).as("revenue"),
          round(sum(col("rev")).over(
              w10.rowsBetween(Window.unboundedPreceding, 0))
              .cast("double") /
            sum(col("rev")).over(w10.rowsBetween(
              Window.unboundedPreceding, Window.unboundedFollowing)), 6)
            .as("cum_share"))
        .orderBy("decile")
    }),

    // 134: per-group OLS regression (price-on-quantity per return
    // flag) from exact integer moments — the map-side-combinable
    // regression every feature pipeline runs. One shuffle carries
    // five BIGINT moments per group (n, Σx, Σy, Σxy, Σx²), all
    // < 2^53 at probe scale so their doubles are exact; slope and
    // intercept are then one mirrored IEEE formula each. At 100 TB
    // the moments route through decimal(38,0) — the shape is
    // unchanged (sums stay map-side partial).
    "q_linreg" -> ((s, dir) => {
      val m = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_quantity").cast("long").as("x"),
          cents(col("l_extendedprice")).as("y"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
      val (nD, sxD, syD, sxyD, sxxD) = (col("n").cast("double"),
        col("sx").cast("double"), col("sy").cast("double"),
        col("sxy").cast("double"), col("sxx").cast("double"))
      val slope = (nD * sxyD - sxD * syD) / (nD * sxxD - sxD * sxD)
      m.select(col("flag"), col("n"), col("sx"), col("sy"),
          round(slope, 6).as("slope"),
          round((syD - slope * sxD) / nD, 6).as("intercept"))
        .orderBy("flag")
    }),

    // 135: column profiler — null count, exact distinct count,
    // lexicographic min/max repr per column of orders (the
    // data-quality report every ingest job emits first). TWO
    // aggregates over the pruned scan, crossJoined as 1-row frames:
    // fusing the multi-countDistinct with the plain aggs is 3×
    // SLOWER than running them apart (measured r8: 3.7s fused vs
    // 0.5s + 0.75s split at sf0.1) — the Expand pass Catalyst plans
    // for multi-distinct drags every regular agg through the
    // 7×-row expanded stream; split, the plain aggs stream once and
    // the distinct Expand carries nothing extra. The per-column fold
    // to rows happens on the 1-row result, not the fact. Unstable-
    // format doubles ride cents; dates ride ISO strings.
    "q_data_profile" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_orderpriority"),
        to_date(col("o_orderdate")).cast("string").as("o_date"),
        cents(col("o_totalprice")).as("o_price_c"))
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "o_date", "o_price_c")
      val plain = cols.flatMap { c =>
        Seq(sum(when(col(c).isNull, 1).otherwise(0)).cast("long")
            .as(s"${c}__nn"),
          min(col(c).cast("string")).as(s"${c}__mn"),
          max(col(c).cast("string")).as(s"${c}__mx"))
      }
      val dist = cols.map(c => countDistinct(col(c)).as(s"${c}__nd"))
      // the per-column fold below selects from this 1-row result six
      // times — checkpoint so the fact aggregates once, not per branch
      val one = o.agg(plain.head, plain.tail: _*)
        .crossJoin(o.agg(dist.head, dist.tail: _*))
        .staged
      cols.map { c =>
        one.select(lit(c).as("col_name"), col(s"${c}__nn").as("n_null"),
          col(s"${c}__nd").as("n_distinct"), col(s"${c}__mn").as("min_repr"),
          col(s"${c}__mx").as("max_repr"))
      }.reduce(_.unionAll(_)).orderBy("col_name")
    }),

    // 136: triangle counting over the supplier co-occurrence graph
    // (suppliers sharing ≥ 6 distinct orders) — the third canonical
    // graph aggregate beside the CC and PageRank rows (cohesion, not
    // membership/importance). Scale shape: edges orient low→high by
    // (degree, id) — out-degrees are bounded by √(2|E|) regardless of
    // hubs, so the wedge join is Σ C(d⁺,2)-sized, never hot-key
    // quadratic; the closing edge check is an equi-join against the
    // distinct edge set. The min-support threshold keeps |E| sparse
    // at any SF. Orientation-invariant, so the oracle counts a<b<c
    // directly.
    "q_triangle" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_suppkey"))
      val pairs = li.join(li.toDF("ok2", "s2"),
          col("l_orderkey") === col("ok2") && col("l_suppkey") < col("s2"))
        .select(col("l_suppkey").as("a"), col("s2").as("b"),
          col("l_orderkey").as("ok"))
      val edges = pairs.groupBy("a", "b")
        .agg(countDistinct(col("ok")).as("m"))
        .filter(col("m") >= 6).select("a", "b")
      // degree-oriented wedge-join core shared with the skew spec
      // (ops/Graphs.scala): wedges bounded by Σ C(d⁺,2), hub-proof
      graft.ops.Graphs.triangleCount(edges)
    }),

    // 94: sequence funnel (view → click → purchase) — one shuffle on
    // user_id builds per-user stage-entry times as conditional mins;
    // the stage comparison is then a scalar expression, never a
    // self-join. Epoch-micros on both engines (the events parquet is
    // ns; Spark truncates to us, DuckDB compares at us via the cast).
    "q_event_funnel" -> ((s, dir) => {
      val us = unix_micros(col("ts"))
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", us)).as("tv"),
          min(when(col("event_type") === "click", us)).as("tc"),
          min(when(col("event_type") === "purchase", us)).as("tp"))
        .agg(count(col("tv")).as("n_view"),
          sum(when(col("tc") >= col("tv"), 1).otherwise(0)).cast("long")
            .as("n_click_after_view"),
          sum(when(col("tc") >= col("tv") && col("tp") >= col("tc"), 1)
            .otherwise(0)).cast("long").as("n_full_funnel"))
        .select(col("n_view"), col("n_click_after_view"),
          col("n_full_funnel"),
          (col("n_full_funnel").cast("double") * 100.0 /
            col("n_view")).as("conv_pct"))
    }),

    // 125: RFM segmentation — the classic customer-value grid
    // (recency / frequency / monetary quintiles → a 3-digit segment
    // code). Aggregates are customer-grained (one orders shuffle);
    // each quintile is ntile(5) over a (metric, key) total order,
    // computed WITHOUT a global sort window: Ranking.withRank
    // range-partitions the customer frame, ranks each slice in
    // parallel, and offsets by broadcast slice counts; the exact
    // ntile bucket then falls out of (rank, n) arithmetic
    // (Ranking.ntileFromRank). Every task touches only its slice —
    // the plan that survives 100×, with the same oracle (DuckDB
    // ntile over the identical total order).
    "q_rfm" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val gmax = o.agg(max(to_date(col("o_orderdate"))).as("gd"))
      val per = o.groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_d"),
          count(lit(1)).as("frequency"),
          sum(cents(col("o_totalprice"))).as("mc"))
      val scored = per.crossJoin(broadcast(gmax))
        .withColumn("recency", datediff(col("gd"), col("last_d")))
      // all three metrics ride ONE grouped rank pass: explode to
      // (metric, v) rows — descending metrics negate v so every
      // group sorts (v asc, key asc) — rank within metric, ntile
      // from (rank, group size), pivot back. One range exchange for
      // the whole grid instead of three chained passes.
      val longFmt = scored.select(col("o_custkey"), explode(array(
          struct(lit("r").as("metric"), col("recency").cast("long").as("v")),
          struct(lit("f").as("metric"), (-col("frequency")).as("v")),
          struct(lit("m").as("metric"), (-col("mc")).as("v")))).as("mv"))
        .select(col("o_custkey"), col("mv.metric").as("metric"),
          col("mv.v").as("v"))
      val tiles = Ranking
        .withRank(longFmt, Seq("metric"),
          Seq(col("v"), col("o_custkey")), "rk", "n")
        .withColumn("tile", Ranking.ntileFromRank(col("rk"), col("n"), 5))
        .groupBy("o_custkey")
        .agg(max(when(col("metric") === "r", col("tile"))).as("r_score"),
          max(when(col("metric") === "f", col("tile"))).as("f_score"),
          max(when(col("metric") === "m", col("tile"))).as("m_score"))
      scored.join(tiles, "o_custkey")
        .select(col("o_custkey"), col("recency"), col("frequency"),
          money(col("mc")).as("monetary"),
          col("r_score"), col("f_score"), col("m_score"))
        .withColumn("segment", concat(col("r_score"), col("f_score"),
          col("m_score")))
        .orderBy("o_custkey")
    }),

    // 128: A/B test read-out — deterministic hash split of users into
    // two variants, conversion = any purchase, two-proportion pooled
    // z-statistic. Counts are exact ints (one user_id shuffle + one
    // global agg); the z formula is the only float work, mirrored
    // op-for-op in the oracle. The shape every experimentation
    // platform computes per metric per day.
    "q_abtest" -> ((s, dir) => {
      // metric: heavy purchaser (≥ 14 purchase events) — every user
      // buys at least once here, so has-any-purchase would make the
      // pooled rate 1 and the z denominator 0 (guarded below anyway)
      val u = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(when(sum(when(col("event_type") === "purchase", 1)
          .otherwise(0)) >= 14, 1).otherwise(0).as("cv"))
        .withColumn("variant",
          (conv(substring(md5(concat(col("user_id").cast("string"),
            lit("#ab"))), 1, 15), 16, 10).cast("long") % 2).cast("int"))
      val a = u.agg(
        sum(when(col("variant") === 0, 1).otherwise(0)).cast("long")
          .as("n_a"),
        sum(when(col("variant") === 1, 1).otherwise(0)).cast("long")
          .as("n_b"),
        sum(when(col("variant") === 0, col("cv")).otherwise(0)).cast("long")
          .as("conv_a"),
        sum(when(col("variant") === 1, col("cv")).otherwise(0)).cast("long")
          .as("conv_b"))
      val pa = col("conv_a").cast("double") / col("n_a")
      val pb = col("conv_b").cast("double") / col("n_b")
      val pp = (col("conv_a") + col("conv_b")).cast("double") /
        (col("n_a") + col("n_b"))
      a.select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        round(pa, 6).as("rate_a"), round(pb, 6).as("rate_b"),
        when(pp > 0 && pp < 1,
          round((pa - pb) / sqrt(pp * (lit(1.0) - pp) *
            (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6))
          .otherwise(lit(null).cast("double")).as("z"))
    }),

    // 129: Kaplan–Meier survival estimator — time from signup to
    // first purchase, censored at the global horizon (the
    // time-to-conversion curve product teams read). Risk sets and
    // event counts are exact ints from one user-grained aggregate;
    // the survival product rides exp(running-sum of ln terms) over
    // the day-ordered window — a SEQUENTIAL accumulation both engines
    // evaluate in the same order. Day cardinality bounds the window
    // input however big the stream.
    "q_survival" -> ((s, dir) => {
      val gmax = t(s, dir, "events").agg(max(to_date(col("ts"))).as("gd"))
      val u = t(s, dir, "events").groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "signup", to_date(col("ts"))))
          .as("d0"),
          min(when(col("event_type") === "purchase", to_date(col("ts"))))
            .as("dp"))
        .filter(col("d0").isNotNull)
      // u2 is user-grained and feeds THREE consumers (tot, grp and —
      // through them — the window frame); checkpoint it so the
      // events scan + user aggregate run once, not once per consumer
      // (the audit showed 4 fact scans without this; minimum is 2:
      // horizon + user aggregate).
      val u2 = u.crossJoin(broadcast(gmax))
        .select(
          when(col("dp").isNotNull && col("dp") >= col("d0"), 1)
            .otherwise(0).as("event"),
          when(col("dp").isNotNull && col("dp") >= col("d0"),
            datediff(col("dp"), col("d0")))
            .otherwise(datediff(col("gd"), col("d0"))).as("dur"))
        .staged
      val tot = u2.agg(count(lit(1)).as("tot"))
      val grp = u2.groupBy(col("dur"))
        .agg(sum(col("event")).cast("long").as("d"),
          count(lit(1)).as("m"))
      val wPrev = Window.orderBy(col("dur"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.orderBy(col("dur"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grp.crossJoin(broadcast(tot))
        .withColumn("n_risk",
          col("tot") - coalesce(sum(col("m")).over(wPrev), lit(0L)))
        .withColumn("lnterm",
          when(col("d") > 0 && col("d") < col("n_risk"),
            log(lit(1.0) - col("d").cast("double") / col("n_risk")))
            .otherwise(lit(0.0)))
        .withColumn("surv", exp(sum(col("lnterm")).over(wRun)))
        .filter(col("d") > 0)
        .select(col("dur"), col("n_risk"), col("d"),
          round(col("surv"), 6).as("survival"))
        .orderBy("dur")
    }),

    // 95: cohort retention — users bucketed by first-activity week
    // (Monday-truncated on both engines), counted distinct per
    // (cohort, weeks-since) cell. The per-user cohort frame is
    // user-sized (small); it joins back to the distinct activity
    // weeks on the same user_id hash partitioning.
    "q_retention" -> ((s, dir) => {
      val wk = to_date(date_trunc("week", col("ts")))
      val e = t(s, dir, "events")
      val cohort = e.groupBy(col("user_id"))
        .agg(min(wk).as("cohort_week"))
      val active = e.select(col("user_id"), wk.as("wk")).distinct()
      active.join(cohort, "user_id")
        .groupBy(col("cohort_week"),
          (datediff(col("wk"), col("cohort_week")) / lit(7)).cast("int")
            .as("weeks_since"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_week", "weeks_since")
    }),

    // 180: DAY-OF-WEEK SEASONALITY — the weekly traffic/revenue
    // profile: per (event_type, dow) cell, the index of observed
    // share against a flat week (×7 ⇒ 1.0 = no seasonality). Two
    // map-side-combined aggregates (35 + 5 cells), the per-type
    // totals broadcast onto the cells, indexes are IEEE divisions of
    // exact BIGINTs. Sunday-based 0-6 on both engines (Spark's
    // dayofweek is 1-based, DuckDB's 0-based — normalized here).
    "q_seasonality" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        (dayofweek(to_date(col("ts"))) - 1).as("dow"),
        cents(col("value")).as("vc"))
      val cell = ev.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n_events"), sum(col("vc")).as("sc"))
      val tot = ev.groupBy("event_type")
        .agg(count(lit(1)).as("tn"), sum(col("vc")).as("tc"))
      cell.join(broadcast(tot), "event_type")
        .select(col("event_type"), col("dow"), col("n_events"),
          ((col("n_events") * lit(7)).cast("double") / col("tn"))
            .as("traffic_index"),
          ((col("sc") * lit(7)).cast("double") / col("tc"))
            .as("revenue_index"))
        .orderBy("event_type", "dow")
    }),

    // 179: GROWTH ACCOUNTING — the product-analytics decomposition of
    // daily actives: every (user, day) classified as new (first-ever
    // day), retained (also active the previous day) or resurrected
    // (active before, but not yesterday), plus churned = yesterday's
    // actives who are absent today (counted on the day they went
    // missing, last day excluded — churn there is right-censored,
    // q_survival's discipline). ONE lag window per user over the
    // distinct (user, day) frame — never the raw event table — then a
    // days-cardinality aggregate; complements q_retention (cohort
    // view) and q_active_users (volume view) with the FLOW view.
    "q_growth_accounting" -> ((s, dir) => {
      val ud = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val classed = ud.select(col("user_id"), col("day"),
        lag(col("day"), 1).over(w).as("prev_day"),
        lead(col("day"), 1).over(w).as("next_day"))
      val flows = classed.select(col("day"),
        when(col("prev_day").isNull, lit("new"))
          .when(datediff(col("day"), col("prev_day")) === 1,
            lit("retained"))
          .otherwise(lit("resurrected")).as("flow"))
      val lastDay = ud.agg(max(col("day")).as("last_day"))
      val churned = classed
        .filter(col("next_day").isNull ||
          datediff(col("next_day"), col("day")) > 1)
        .crossJoin(broadcast(lastDay))
        .filter(col("day") < col("last_day"))
        .select(date_add(col("day"), 1).as("day"),
          lit("churned").as("flow"))
      flows.unionByName(churned)
        .groupBy("day", "flow").agg(count(lit(1)).as("n_users"))
        .orderBy("day", "flow")
    }),

    // 187: PATH MINING — the top common 3-step event sequences (the
    // funnel-DISCOVERY complement of q_event_funnel's fixed path and
    // q_transition_matrix's 2-step Markov view): two lead windows
    // over each user's ordered stream produce every consecutive
    // trigram, then a 125-cell aggregate ranks the paths. One
    // user_id shuffle feeds both leads; top-10 under a full
    // deterministic tiebreak.
    "q_user_path" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type").as("s1"),
          lead(col("event_type"), 1).over(w).as("s2"),
          lead(col("event_type"), 2).over(w).as("s3"))
        .filter(col("s2").isNotNull && col("s3").isNotNull)
        .groupBy("s1", "s2", "s3").agg(count(lit(1)).as("n_paths"))
        .orderBy(col("n_paths").desc, col("s1"), col("s2"), col("s3"))
        .limit(10)
    }),

    // 112: event transition matrix — the Markov "user journey" view:
    // (event_type → next event_type) counts + per-source shares. One
    // user_id shuffle feeds the lead window; the (src, dst) aggregate
    // is 25 cells however big the stream, and the share divides
    // exact BIGINTs. The complement of q_event_funnel (fixed path)
    // and q_window_lead (row-level lead).
    "q_transition_matrix" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type").as("src"),
          lead(col("event_type"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("n"))
        .withColumn("src_share",
          col("n").cast("double") * 100.0 /
            sum(col("n")).over(Window.partitionBy(col("src"))))
        .orderBy("src", "dst")
    }),

    // 98: multiset set-ops — INTERSECT ALL keeps min(multiplicity),
    // EXCEPT ALL subtracts multiplicities (the distinct set-ops row
    // 19 can't see repeat purchases). Spark plans these as
    // count-aggregated joins — two shuffles, no row explosion.
    "q_set_ops_all" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      val recent = o.filter(year(col("o_orderdate")) >= 1996)
        .select(col("o_custkey"))
      open.intersectAll(recent).withColumn("src", lit("common"))
        .unionAll(open.exceptAll(recent).withColumn("src", lit("open_only")))
        .orderBy("src", "o_custkey")
    }),

    // 102: merge overlapping intervals per key (coverage union) —
    // each order covers [orderdate, orderdate+6d]; a new merged span
    // starts where an interval's start clears the running max of all
    // previous ends (the q_sessionize lag/cumsum shape generalized
    // from point-gaps to interval overlap). One shuffle on the key;
    // epoch-day integers so both engines compare exactly.
    "q_interval_merge" -> ((s, dir) => {
      val d0 = datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("s"), col("e"), col("o_orderkey"))
      val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          d0.as("s"), (d0 + 6).as("e"))
        .withColumn("new_span",
          when(col("s") > max(col("e")).over(wPrev), 1)
            .when(max(col("e")).over(wPrev).isNull, 1).otherwise(0))
        .withColumn("span_id", sum(col("new_span")).over(wRun))
        .groupBy(col("o_custkey"), col("span_id"))
        .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_custkey", "span_id")
    }),

    // 101: top-k per group via the typed Aggregator (functions/
    // TopKAgg) — the UDAF rung of the custom-function ladder and the
    // scale-correct top-k: k-bounded buffers merge map-side
    // (ObjectHashAggregate partial), so the exchange carries k rows
    // per group per mapper instead of the whole table like the
    // window form (row 17, which stays as the declarative twin and
    // supplies the oracle semantics).
    "q_topk_agg" -> ((s, dir) => {
      val tk = graft.functions.TopKAgg.topK(5)
      t(s, dir, "part")
        .groupBy(col("p_brand"))
        .agg(tk(cents(col("p_retailprice")), col("p_partkey")).as("top"))
        .select(col("p_brand"), posexplode(col("top")))
        .select(col("p_brand"), (col("pos") + 1).cast("int").as("rn"),
          col("col._2").as("p_partkey"))
        .orderBy("p_brand", "rn")
    }),

    // 100: conditional/ordered aggregates — count_if, bool_and/or,
    // max_by/min_by in one pass. The argmax key is a (cents, orderkey)
    // STRUCT (lexicographic ordering): ties in price resolve on the
    // unique orderkey with no packed-BIGINT range bound — the r6
    // pc*1e9+key pack silently corrupted above orderkey 1e9, i.e.
    // TPC-H SF ≈ 167. The oracle mirrors it with ordered FIRST.
    "q_cond_aggs" -> ((s, dir) => {
      val pc = cents(col("o_totalprice"))
      val key = struct(pc.as("p"), col("o_orderkey").as("k"))
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count_if(col("o_orderstatus") === "O").as("n_open"),
          bool_and(col("o_totalprice") > 0).as("all_pos"),
          bool_or(pc > lit(30000000L)).as("any_big"),
          max_by(col("o_orderkey"), key).as("best_order"),
          min_by(col("o_orderkey"), key).as("worst_order"))
        .orderBy("o_orderpriority")
    }),

    // 96: IGNORE NULLS window — last purchase value carried forward
    // over each user's event sequence (the classic "fill forward"
    // shape). Exact cents; one shuffle on user_id.
    "q_fill_forward" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          money(last(when(col("event_type") === "purchase",
            cents(col("value"))), ignoreNulls = true).over(w))
            .as("last_purchase"))
        .orderBy("user_id", "event_id")
    }),

    // 178: LINEAR GAP INTERPOLATION — the time-series repair step
    // beyond forward fill (row 96): each user's sparse daily purchase
    // series is projected onto the corpus day spine and missing days
    // interpolate linearly between the bracketing known points;
    // leading/trailing gaps stay null (`edge`). Both IGNORE-NULLS
    // walls (last-known-before, first-known-after) run in ONE window
    // pass each over per-user calendar-bounded frames — never the
    // event table; the ~|days|-row spine broadcasts (fenced carrier).
    // The interpolation is IEEE-exact cross-engine: integer cents and
    // integer day distances combined in the SAME operation order on
    // both sides. A deterministic 1-in-50 user slice keeps the
    // checked output bounded at every SF.
    "q_interpolate" -> ((s, dir) => {
      val ev = t(s, dir, "events").filter(col("user_id") % 50 === 7)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_type"), cents(col("value")).as("vc"))
      val days = t(s, dir, "events")
        .select(to_date(col("ts")).as("day")).distinct()
      val known = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "day").agg(sum(col("vc")).as("kc"))
      val spine = ev.select("user_id").distinct()
        .crossJoin(broadcast(days))
      val j = spine.join(known, Seq("user_id", "day"), "left")
      val wp = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      j.select(col("user_id"), col("day"), col("kc"),
          last(col("kc"), ignoreNulls = true).over(wp).as("pv"),
          last(when(col("kc").isNotNull, col("day")),
            ignoreNulls = true).over(wp).as("dp"),
          first(col("kc"), ignoreNulls = true).over(wn).as("nv"),
          first(when(col("kc").isNotNull, col("day")),
            ignoreNulls = true).over(wn).as("dn"))
        .select(col("user_id"), col("day"),
          when(col("kc").isNotNull, col("kc").cast("double") / 100.0)
            .when(col("pv").isNotNull && col("nv").isNotNull,
              (col("pv").cast("double") +
                (col("nv") - col("pv")).cast("double") *
                (datediff(col("day"), col("dp")).cast("double") /
                  datediff(col("dn"), col("dp")).cast("double"))) / 100.0)
            .as("filled"),
          when(col("kc").isNotNull, lit("actual"))
            .when(col("pv").isNotNull && col("nv").isNotNull,
              lit("interp"))
            .otherwise(lit("edge")).as("src"))
        .orderBy("user_id", "day")
    }),

    // 188: BENFORD FIRST-DIGIT AUDIT — the classic fraud /
    // data-quality screen: the distribution of leading significant
    // digits of order totals vs Benford's law. The digit is read off
    // the exact cent-integer's decimal string (no float log games);
    // expected shares are literal doubles written identically on
    // both engines (libm log10 is NOT guaranteed bit-identical
    // across engines — a lookup table is); the 1-row total rides the
    // fenced scalar carrier onto the 9-digit frame. One map-side-
    // combined aggregate over the fact table, everything after runs
    // on ≤ 9 rows.
    "q_benford" -> ((s, dir) => {
      val benford = Seq(0.301029995663981, 0.176091259055681,
        0.124938736608300, 0.096910013008056, 0.079181246047625,
        0.066946789630613, 0.057991946977687, 0.051152522447381,
        0.045757490560675)
      val d = t(s, dir, "orders")
        .select(substring(cents(col("o_totalprice")).cast("string"), 1, 1)
          .cast("int").as("digit"))
      val counts = d.groupBy("digit").agg(count(lit(1)).as("n_orders"))
      val tot = d.agg(count(lit(1)).as("n_total"))
      counts.crossJoin(broadcast(tot))
        .select(col("digit"), col("n_orders"),
          (col("n_orders").cast("double") / col("n_total"))
            .as("obs_share"),
          element_at(array(benford.map(lit): _*), col("digit"))
            .as("exp_share"))
        .withColumn("excess", col("obs_share") - col("exp_share"))
        .orderBy("digit")
    }),

    // 189: CHI-SQUARE CONTINGENCY CELLS — the independence screen
    // between market segment and order priority: observed cell
    // counts vs independence-expected counts and each cell's chi²
    // contribution (the total is the consumer's one-line sum; per
    // cell keeps the output engine-deterministic — a cross-engine
    // float SUM of 25 contributions would depend on addition order).
    // The fact join aggregates FIRST; row/col/grand totals are
    // windows over the tiny |segments|·|priorities| cell frame —
    // bounded by the dimensions' cardinality, never the fact table.
    "q_crosstab" -> ((s, dir) => {
      val o = t(s, dir, "orders").select("o_custkey", "o_orderpriority")
      val c = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
      val cell = o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"),
          col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("n"))
      cell.select(col("seg"), col("pri"), col("n"),
          sum(col("n")).over(Window.partitionBy(col("seg"))).as("seg_tot"),
          sum(col("n")).over(Window.partitionBy(col("pri"))).as("pri_tot"),
          sum(col("n")).over(Window.partitionBy()).as("tot"))
        .select(col("seg"), col("pri"), col("n"),
          ((col("seg_tot") * col("pri_tot")).cast("double") / col("tot"))
            .as("expected"))
        .withColumn("contrib",
          (col("n").cast("double") - col("expected")) *
            (col("n").cast("double") - col("expected")) / col("expected"))
        .orderBy("seg", "pri")
    }),

    // 190: CUSUM CHANGEPOINT SCAN — where did the daily order level
    // shift? stat_k = |n·S_k − k·S_n| compares each day's cumulative
    // count against the global trend line by exact BIGINT cross-
    // multiplication (the CUSUM statistic scaled by n — argmax is
    // the max-likelihood single changepoint for a mean shift).
    // Aggregates to the calendar-bounded day frame FIRST (q_ewma's
    // discipline); the rank and cumulative ride Ranking.withRank /
    // withPrefixSums — range slices work in parallel, no data-sized
    // global-sort window; the 1-row grand total is the fenced scalar
    // carrier.
    "q_changepoint" -> ((s, dir) => {
      val day = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_day"))
      val ranked = Ranking.withRank(day, Nil, Seq(col("day")), "k",
        "n_days")
      val cum = Ranking.withPrefixSums(ranked, Nil, Seq(col("day")),
        Seq("n_day"))
      val tot = day.agg(sum(col("n_day")).as("s_n"))
      cum.crossJoin(broadcast(tot))
        .select(col("day"), col("n_day_cum").as("s_k"),
          abs(col("n_days") * col("n_day_cum") - col("k") * col("s_n"))
            .as("stat"),
          (abs(col("n_days") * col("n_day_cum") - col("k") * col("s_n"))
            .cast("double") / (col("n_days") * col("s_n")))
            .as("stat_norm"))
        .orderBy(col("stat").desc, col("day"))
        .limit(5)
    }),

    // 191: AUTOCORRELATION — lag-1 and lag-7 Pearson r of the daily
    // revenue series (trend persistence and weekly seasonality in
    // one report; the signal q_seasonality profiles and
    // q_changepoint localizes). Aggregates to the day frame FIRST;
    // lag pairs come from a calendar self-equi-join on the tiny day
    // frame (only days present on both ends pair up). Moments are
    // exact BIGINT sums — the series is daily revenue in hundred-
    // dollar units (cents DIV 10000), which keeps Σx² within long
    // range with headroom at the 10× probe — combined in
    // DECIMAL(18,0) products (exact to 10^38) and finished by ONE
    // mirrored IEEE sqrt/divide chain, so r matches bit-for-bit.
    "q_autocorr" -> ((s, dir) => {
      val day = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(expr("sum(cast(round(o_totalprice * 100) as bigint)) div 10000")
          .as("rd"))
      def d18(c: Column): Column = c.cast("decimal(18,0)")
      val per = Seq(1, 7).map { lag =>
        val x = day.select(col("day"), col("rd").as("x"))
        val y = day.select(date_sub(col("day"), lag).as("day"),
          col("rd").as("y"))
        x.join(y, "day")
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"),
            sum(col("x") * col("y")).as("sxy"))
          .select(lit(lag).as("lag"), col("n_pairs"),
            (d18(col("n_pairs")) * d18(col("sxy")) -
              d18(col("sx")) * d18(col("sy"))).cast("double")
              .divide(
                sqrt((d18(col("n_pairs")) * d18(col("sxx")) -
                  d18(col("sx")) * d18(col("sx"))).cast("double")) *
                sqrt((d18(col("n_pairs")) * d18(col("syy")) -
                  d18(col("sy")) * d18(col("sy"))).cast("double")))
              .as("r"))
      }
      per.reduce(_.unionByName(_)).orderBy("lag")
    }),

    // 196: SEASONAL-TREND DECOMPOSITION — daily revenue split into
    // trend (centered 28-day moving average), weekly seasonal index
    // (per-dow mean of the detrended series) and residual: the
    // classical additive decomposition behind every seasonality-
    // aware forecast/anomaly pipeline (the descriptive complement of
    // q_seasonality's indexes and q_changepoint's shift scan).
    // Aggregates to the calendar-bounded day frame FIRST; the one
    // unpartitioned window runs over ~|days| rows (q_survival's
    // documented bounded class), the 7-row dow frame broadcasts.
    // Exactness: detrended is kept SCALED as 28·rc − Σ₂₈rc (pure
    // BIGINT — no float MA subtraction), the per-dow seasonal sum is
    // a BIGINT sum of those, and every output is one mirrored IEEE
    // division of exact longs — bit parity by construction.
    "q_seasonal_trend" -> ((s, dir) => {
      val day = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("rc"))
      val wMa = Window.orderBy(col("day")).rowsBetween(-13, 14)
      val tr = day.select(col("day"), col("rc"),
          sum(col("rc")).over(wMa).as("tnum"),
          count(lit(1)).over(wMa).as("tn"),
          (dayofweek(col("day")) - 1).as("dow"))
        .filter(col("tn") === 28) // full windows only: edges have no MA
        .withColumn("det", col("rc") * 28 - col("tnum"))
      val seas = tr.groupBy("dow")
        .agg(sum(col("det")).as("snum"), count(lit(1)).as("sn"))
      tr.join(broadcast(seas), "dow")
        .select(col("day"), money(col("rc")).as("revenue"),
          (col("tnum").cast("double") / 2800.0).as("trend"),
          (col("snum").cast("double") / (col("sn") * 2800.0))
            .as("seasonal"),
          ((col("det").cast("double") / 2800.0) -
            col("snum").cast("double") / (col("sn") * 2800.0))
            .as("residual"))
        .orderBy("day")
    }),

    // 197: ITEM-ITEM JACCARD — collaborative-filtering similarity
    // over the co-order graph: for each part pair, |orders with
    // both| / |orders with either| (the degree-normalized refinement
    // of q_basket_rules' lift). Pair generation is the same order-
    // key self-equi-join (quadratic only within an order's ≤7 lines,
    // never item×item); degrees join back per side on the part key;
    // top-20 under a full deterministic tiebreak.
    "q_item_jaccard" -> ((s, dir) => {
      // STAGED: both co-occurrence self-join sides and the degree pass
      // consume the distinct (order, part) frame — lazy lineage re-ran
      // the scan+distinct shuffle 3×; the frame is two ints per row.
      val op = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .staged
      val pairs = op.select(col("ok"), col("pk").as("pa"))
        .join(op.select(col("ok"), col("pk").as("pb")), Seq("ok"))
        .filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("co"))
      val deg = op.groupBy(col("pk")).agg(count(lit(1)).as("deg"))
      pairs
        .join(deg.select(col("pk").as("pa"), col("deg").as("da")), "pa")
        .join(deg.select(col("pk").as("pb"), col("deg").as("db")), "pb")
        .select(col("pa"), col("pb"), col("co"), col("da"), col("db"),
          (col("co").cast("double") / (col("da") + col("db") - col("co")))
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("pa"), col("pb"))
        .limit(20)
    }),

    // 213: THEIL–SEN ROBUST SLOPE — the median of all pairwise
    // slopes of the daily-revenue series (1996 H1): the
    // breakdown-resistant trend estimate behind robust forecasting
    // (a single outlier day shifts OLS, not the pairwise median —
    // the trend-side sibling of q_anomaly_mad's dispersion side).
    // Aggregates to the calendar-bounded day frame FIRST; the
    // pairwise self-join runs on the ≤181-row frame (≤16k pairs —
    // a fenced bounded nested loop, never the fact table), each
    // slope is ONE IEEE division of exact BIGINT cent/day deltas,
    // and both engines take the same interpolated median over the
    // identical slope multiset.
    "q_theilsen" -> ((s, dir) => {
      val day = t(s, dir, "orders")
        .filter(year(col("o_orderdate")) === 1996 &&
          month(col("o_orderdate")) <= 6)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("rc"))
        .select(datediff(col("day"), lit("1996-01-01").cast("date"))
          .as("x"), col("rc"))
      val a = day.select(col("x").as("xa"), col("rc").as("ra"))
      val b = day.select(col("x").as("xb"), col("rc").as("rb"))
      // intended: calendar-bounded ≤181-row frame self-join
      a.crossJoin(b).filter(col("xa") < col("xb"))
        .select(((col("rb") - col("ra")).cast("double") /
          (col("xb") - col("xa"))).as("slope"))
        .agg(count(lit(1)).as("n_pairs"),
          round(median(col("slope")) / 100.0, 6).as("ts_slope"))
    }),

    // 214: WINSORIZED MEANS — per-type mean before/after clipping at
    // the exact p05/p95 (robust location under heavy tails: the
    // remedy q_zscore's outliers call for). Thresholds come from
    // Stats.percentileDisc — DISCRETE rank-based percentiles, so lo/
    // hi are exact BIGINT cents and every comparison, count, and sum
    // below is pure integer arithmetic (no interpolation, no float
    // accumulation order anywhere); the |types|-row threshold frame
    // broadcasts back onto the facts, and the only float ops are the
    // two mirrored IEEE mean divisions at the end.
    "q_winsorize" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), cents(col("value")).as("v"),
          col("event_id"))
      val th = graft.ops.Stats.percentileDisc(ev, Seq("event_type"),
          "v", "event_id", Seq(("lo", 1, 20), ("hi", 19, 20)))
        .select(col("event_type"), col("lo"), col("hi"))
      ev.join(broadcast(th), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("v")).as("sraw"),
          sum(when(col("v") < col("lo"), col("lo"))
            .when(col("v") > col("hi"), col("hi"))
            .otherwise(col("v"))).as("swin"),
          sum((col("v") < col("lo")).cast("long")
            + (col("v") > col("hi")).cast("long")).as("n_clipped"),
          max(col("lo")).as("loc"), max(col("hi")).as("hic"))
        .select(col("event_type"), col("n"), col("n_clipped"),
          money(col("loc")).as("p05"), money(col("hic")).as("p95"),
          round(col("sraw").cast("double") / (col("n") * 100.0), 6)
            .as("raw_mean"),
          round(col("swin").cast("double") / (col("n") * 100.0), 6)
            .as("win_mean"))
        .orderBy("event_type")
    }),

    // 215: LEAVE-ONE-OUT TARGET ENCODING — the standard
    // leakage-free categorical encoder for model features: each
    // customer's segment is encoded as the mean spend of the OTHER
    // customers in that segment ((S − own)/(n − 1) — own row held
    // out so the feature never memorizes its own target). One
    // aggregate to the |customers| spend frame, one to the
    // |segments| frame (broadcast back); exact BIGINT cents
    // throughout, one mirrored IEEE division per row.
    "q_target_encode" -> ((s, dir) => {
      val cs = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      val sp = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("sc"))
      val cust = cs.join(sp, cs("c_custkey") === sp("o_custkey"), "left")
        .select(col("c_custkey"), col("segment"),
          coalesce(col("sc"), lit(0L)).as("sc"))
      val seg = cust.groupBy("segment")
        .agg(sum(col("sc")).as("ssum"), count(lit(1)).as("sn"))
        .filter(col("sn") > 1)
      cust.join(broadcast(seg), "segment")
        .select(col("c_custkey"), col("segment"),
          money(col("sc")).as("spend"),
          round((col("ssum") - col("sc")).cast("double") /
            ((col("sn") - 1) * 100.0), 6).as("loo_enc"))
        .orderBy("c_custkey")
    }),

    // 216: PARETO SKYLINE per brand — the dominance frontier
    // (cheapest price for every size level: minimize price, maximize
    // size; a point survives iff no other point is ≤ price AND
    // ≥ size with one strict). The classic quadratic dominance test
    // collapses to ONE partitioned window: sorted by (price asc,
    // size desc), a point is on the frontier iff its size beats the
    // running max of everything strictly before it — per-brand
    // partitions keep the window distributed, prices are exact
    // BIGINT cents, and the frame is rows-bounded (no data-sized
    // global sort anywhere).
    "q_skyline" -> ((s, dir) => {
      val pts = t(s, dir, "part")
        .select(col("p_brand"), cents(col("p_retailprice"))
          .as("price_c"), col("p_size"))
        .distinct()
      val w = Window.partitionBy("p_brand")
        .orderBy(col("price_c"), col("p_size").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      pts.withColumn("rm", max(col("p_size")).over(w))
        .filter(col("rm").isNull || col("p_size") > col("rm"))
        .select(col("p_brand"), money(col("price_c")).as("price"),
          col("p_size"))
        .orderBy("p_brand", "price_c")
    }),

    // 220: MANN–WHITNEY U — the nonparametric two-sample test
    // (do 'click' and 'purchase' event values come from the same
    // distribution?): the rank-sum sibling of q_abtest's proportion
    // z-test and q_ks_test's ECDF distance. NEVER ranks rows: the
    // samples collapse to a distinct-value HISTOGRAM first (a_v /
    // b_v counts per exact cent value — bounded by the value domain,
    // not the row count), the cross-group comparison count rides ONE
    // prefix sum over that frame (Ranking.withPrefixSums — range
    // slices in parallel), and 2·U = Σ a_v·(2·cumB_v − b_v) stays
    // exact BIGINT (ties contribute the half step). The tie-corrected
    // variance needs n³ — past long at the 10× probe — so the product
    // chain rides DECIMAL(38,0) (HUGEINT on the oracle side), cast to
    // double ONCE for the final mirrored sqrt/divide chain.
    "q_mannwhitney" -> ((s, dir) => {
      def d38(c: Column): Column = c.cast("decimal(38,0)")
      val f = t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"), cents(col("value")).as("v"))
      val h = f.groupBy("v")
        .agg(sum((col("event_type") === "click").cast("long")).as("a"),
          sum((col("event_type") === "purchase").cast("long")).as("b"))
      val c = Ranking.withPrefixSums(h, Nil, Seq(col("v")), Seq("b"))
      val tc = col("a") + col("b")
      val agg = c.agg(sum(col("a")).as("n_a"), sum(col("b")).as("n_b"),
        sum(col("a") * (col("b_cum") * 2 - col("b"))).as("u2"),
        sum(d38(tc) * tc * tc - tc).as("tie3"))
      val n = col("n_a") + col("n_b")
      val varnum = d38(col("n_a")) * col("n_b") *
        (d38(n) * (n + lit(1L)) * (n - lit(1L)) - col("tie3"))
      agg.select(col("n_a"), col("n_b"),
        (col("u2").cast("double") / 2.0).as("u_a"),
        round(col("u2").cast("double") / (col("n_a") * col("n_b")) - 1.0, 6)
          .as("r_rb"),
        round((col("u2") - col("n_a") * col("n_b")).cast("double") /
          (lit(2.0) * sqrt(varnum.cast("double") /
            (lit(12L) * n * (n - lit(1L))).cast("double"))), 6).as("z"))
    }),

    // 221: CRAMÉR'S V — association strength between two categorical
    // columns (market segment × order priority): q_chi2's statistic
    // normalized to [0,1] so it is comparable across tables — the
    // screen a feature-selection pass runs over every categorical
    // pair. Same discipline: the fact join aggregates to the
    // ≤|segments|·|priorities| cell frame FIRST, marginals are
    // broadcast sub-aggregates of the cells, (O·N − R·C)² keeps the
    // deviation exact BIGINT per cell, and only the per-cell term and
    // the final sqrt are (mirrored) float.
    "q_cramers_v" -> ((s, dir) => {
      val o = t(s, dir, "orders").select("o_custkey", "o_orderpriority")
      val cu = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
      val cells = o.join(cu, o("o_custkey") === cu("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"),
          col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("o"))
        .staged // ≤25 rows reused by marginals + terms
      val rowT = cells.groupBy("seg").agg(sum(col("o")).as("rt"))
      val colT = cells.groupBy("pri").agg(sum(col("o")).as("ct"))
      val tot = cells.agg(sum(col("o")).as("n"),
        countDistinct(col("seg")).as("r"),
        countDistinct(col("pri")).as("c"))
      val d = col("o") * col("n") - col("rt") * col("ct")
      cells.join(broadcast(rowT), "seg")
        .join(broadcast(colT), "pri")
        .crossJoin(broadcast(tot)) // intended: 1-row N/r/c carrier
        .select(col("n"), col("r"), col("c"),
          (d.cast("double") * d.cast("double") /
            (col("rt").cast("double") * col("ct") * col("n"))).as("term"))
        .agg(round(sum(col("term")), 6).as("chi2"),
          round(sqrt(sum(col("term")) /
            (first(col("n")) *
              (least(first(col("r")), first(col("c"))) - 1))), 6)
            .as("cramers_v"),
          first(col("n")).as("n_orders"))
    }),

    // 222: IQR / TUKEY-FENCE OUTLIERS — the box-plot screen per event
    // type: exact discrete quartiles from Stats.percentileDisc (the
    // q_winsorize machinery at 1/4 and 3/4), fences compared WITHOUT
    // ever materializing the 1.5·IQR float (v < q1 − 1.5·(q3−q1) ⇔
    // 2v < 5·q1 − 3·q3 — pure BIGINT cross-multiplication), so the
    // outlier counts are integer-exact; the |types|-row threshold
    // frame broadcasts back over the facts.
    "q_iqr_outliers" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), cents(col("value")).as("v"),
          col("event_id"))
      val th = graft.ops.Stats.percentileDisc(ev, Seq("event_type"),
          "v", "event_id", Seq(("q1", 1, 4), ("q3", 3, 4)))
        .select(col("event_type"), col("q1"), col("q3"))
      ev.join(broadcast(th), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          max(col("q1")).as("q1c"), max(col("q3")).as("q3c"),
          sum((col("v") * 2 < col("q1") * 5 - col("q3") * 3)
            .cast("long")).as("n_low"),
          sum((col("v") * 2 > col("q3") * 5 - col("q1") * 3)
            .cast("long")).as("n_high"))
        .select(col("event_type"), col("n"),
          money(col("q1c")).as("q1"), money(col("q3c")).as("q3"),
          money(col("q3c") - col("q1c")).as("iqr"),
          col("n_low"), col("n_high"),
          round((col("n_low") + col("n_high")).cast("double")
            / col("n") * 100, 6).as("outlier_pct"))
        .orderBy("event_type")
    }),

    // 246: POISSON RATE TEST — are errors arriving faster in the
    // second half of the window? Counts AND exposure (distinct
    // active days) per half from ONE conditional-count scan; the
    // z-score for the rate difference is one mirrored IEEE chain
    // over four exact integers.
    "q_poisson_rate" -> ((s, dir) => {
      val d = (c: Column) => c.cast("double")
      val half = dayofmonth(col("ts")) <= 15
      t(s, dir, "events")
        .filter(col("event_type") === "error")
        .select(half.as("h1"), to_date(col("ts")).as("day"))
        .agg(sum(col("h1").cast("long")).as("n1"),
          sum((!col("h1")).cast("long")).as("n2"),
          countDistinct(when(col("h1"), col("day"))).as("d1"),
          countDistinct(when(!col("h1"), col("day"))).as("d2"))
        .select(col("n1"), col("n2"), col("d1"), col("d2"),
          round(d(col("n1")) / d(col("d1"))
            - d(col("n2")) / d(col("d2")), 6).as("rate_diff"),
          round((d(col("n1")) / d(col("d1")) - d(col("n2")) / d(col("d2")))
            / sqrt(d(col("n1")) / (d(col("d1")) * d(col("d1")))
              + d(col("n2")) / (d(col("d2")) * d(col("d2")))), 6).as("z"))
    }),

    // 247: SEASONAL INDEX — the month-of-year revenue index
    // (month mean / grand mean over the monthly cells): the fact
    // table reduces to the ~|months| calendar frame FIRST, the
    // month-of-year roll-up re-aggregates those cells, and the index
    // is one mirrored division of exact integer sums. 12 rows.
    "q_seasonal_index" -> ((s, dir) => {
      val d = (c: Column) => c.cast("double")
      val cells = t(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 100
          + month(col("o_orderdate"))).as("ym"),
          month(col("o_orderdate")).as("m"))
        .agg(sum(cents(col("o_totalprice"))).as("rc"))
        .staged // ~84 cells consumed by both roll-ups
      val grand = cells.agg(sum(col("rc")).as("g"),
        count(lit(1)).as("gn"))
      cells.groupBy("m")
        .agg(sum(col("rc")).as("mc"), count(lit(1)).as("mn"))
        .crossJoin(broadcast(grand)) // intended: 1-row grand-mean carrier
        .select(col("m").as("month"), col("mn").as("n_months"),
          money(col("mc")).as("revenue"),
          round((d(col("mc")) / d(col("mn")))
            / (d(col("g")) / d(col("gn"))), 6).as("seasonal_index"))
        .orderBy("month")
    }),

    // 248: INTER-ORDER GAP HISTOGRAM — the purchase-cadence
    // distribution: per-customer lag-1 day gaps (exact integer date
    // math in per-customer hash partitions), then ONE global
    // histogram groupBy on the week bucket (capped at 10+). Integer
    // end to end.
    "q_order_gap" -> ((s, dir) => {
      val wo = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
        .withColumn("gap", datediff(col("o_orderdate"),
          lag(col("o_orderdate"), 1).over(wo)))
        .filter(col("gap").isNotNull)
        .select(least(floor(col("gap") / 7), lit(10L)).as("week_bucket"))
        .groupBy("week_bucket")
        .agg(count(lit(1)).as("n_gaps"))
        .orderBy("week_bucket")
    }),

    // 238: BOLLINGER BANDS — trailing-7-row mean ± 2σ envelope of
    // order value per customer. The window stats come from EXACT
    // integer frame sums (n, Σx, Σx² — never a float accumulator
    // whose order could diverge); mean/σ/bands are each one mirrored
    // IEEE expression per row. Per-customer hash partitions keep the
    // window distributed; σ is NULL on 1-row frames (n−1 = 0).
    "q_bollinger" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-6, 0)
      val d = (c: Column) => c.cast("double")
      val pc = cents(col("o_totalprice"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          pc.as("pc"))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", sum(col("pc")).over(w))
        .withColumn("sxx", sum(col("pc") * col("pc")).over(w))
        .select(col("o_orderkey"), col("o_custkey"),
          round(d(col("sx")) / (d(col("n")) * lit(100.0)), 6).as("ma_7"),
          round(when(col("n") > 1,
            sqrt((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))
              / (d(col("n")) * (d(col("n")) - lit(1.0)))) / lit(100.0)),
            6).as("sd_7"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // 239: RSI — the 14-row relative-strength index per customer:
    // up/down moves from lag-1 integer diffs, conditional gain/loss
    // sums over the trailing frame (exact BIGINT cents), and
    // RSI = 100·G/(G+L) — algebraically Wilder's 100 − 100/(1+G/L)
    // without the divide-by-zero special case; NULL until a prior
    // row exists, 100/0 exact at the all-gain/all-loss edges.
    "q_rsi" -> ((s, dir) => {
      val wo = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val w14 = wo.rowsBetween(-13, 0)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          cents(col("o_totalprice")).as("pc"))
        .withColumn("diff", col("pc") - lag(col("pc"), 1).over(wo))
        .withColumn("g", sum(when(col("diff") > 0, col("diff"))
          .otherwise(lit(0L))).over(w14))
        .withColumn("l", sum(when(col("diff") < 0, -col("diff"))
          .otherwise(lit(0L))).over(w14))
        .select(col("o_orderkey"), col("o_custkey"),
          round(when(col("g") + col("l") > 0,
            lit(100.0) * col("g").cast("double")
              / (col("g") + col("l")).cast("double")), 6).as("rsi_14"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // 240: VWAP — the volume-weighted average price per ship day:
    // Σ(price·qty)/Σqty on exact integer cents (the per-day product
    // sum rides DECIMAL(38,0) — a hot day at sf100 passes 2^63), ONE
    // partial-aggregable groupBy on the day key, one mirrored
    // division per day row.
    "q_vwap" -> ((s, dir) => {
      val pc = cents(col("l_extendedprice"))
      val qc = cents(col("l_quantity"))
      t(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("ship_day"))
        .agg(count(lit(1)).as("n_lines"), sum(qc).as("sq"),
          sum((pc * qc).cast("decimal(38,0)")).as("spq"))
        .select(col("ship_day"), col("n_lines"),
          round(col("spq").cast("double")
            / (col("sq").cast("double") * lit(100.0)), 6).as("vwap"))
        .orderBy("ship_day")
    }),

    // 241: KRUSKAL–WALLIS H — the k-group rank test (do click /
    // view / purchase values share a distribution?), extending
    // q_mannwhitney's discipline to 3 groups: samples collapse to a
    // distinct-value histogram FIRST (bounded by the cent domain),
    // average ranks come from ONE parallel prefix sum over that
    // frame, and doubled rank sums 2R_g = Σ g_v·(2·cumBefore_v +
    // t_v + 1) stay exact BIGINT (ties = half steps, the ×2 clears
    // them). (2R)² and the tie/N³ terms ride DECIMAL(38,0); H and
    // the tie correction are one mirrored float chain at the end.
    "q_kruskal" -> ((s, dir) => {
      def d38(c: Column): Column = c.cast("decimal(38,0)")
      val d = (c: Column) => c.cast("double")
      val f = t(s, dir, "events")
        .filter(col("event_type").isin("click", "view", "purchase"))
        .select(col("event_type"), cents(col("value")).as("v"))
      val h = f.groupBy("v")
        .agg(sum((col("event_type") === "click").cast("long")).as("a"),
          sum((col("event_type") === "view").cast("long")).as("b"),
          sum((col("event_type") === "purchase").cast("long")).as("c"))
        .withColumn("tc", col("a") + col("b") + col("c"))
      val cum = Ranking.withPrefixSums(h, Nil, Seq(col("v")), Seq("tc"))
      // 2·avgrank of value v = 2·(ranks before v) + t_v + 1
      val w2 = col("tc_cum") * 2 - col("tc") + 1
      val agg = cum.agg(
        sum(col("a")).as("n_a"), sum(col("b")).as("n_b"),
        sum(col("c")).as("n_c"),
        sum(col("a") * w2).as("r2a"), sum(col("b") * w2).as("r2b"),
        sum(col("c") * w2).as("r2c"),
        sum(d38(col("tc")) * col("tc") * col("tc") - col("tc")).as("tie3"))
      val n = col("n_a") + col("n_b") + col("n_c")
      // Σ R_g²/n_g = Σ (2R_g)² / (4·n_g) — each term one mirrored
      // division of exact decimals
      val sumR2 = d(d38(col("r2a")) * col("r2a")) / (d(col("n_a")) * 4.0) +
        d(d38(col("r2b")) * col("r2b")) / (d(col("n_b")) * 4.0) +
        d(d38(col("r2c")) * col("r2c")) / (d(col("n_c")) * 4.0)
      val hRaw = lit(12.0) / (d(n) * (d(n) + 1.0)) * sumR2 -
        lit(3.0) * (d(n) + 1.0)
      val tieCorr = lit(1.0) -
        d(col("tie3")) / (d(n) * d(n) * d(n) - d(n))
      agg.select(col("n_a").as("n_click"), col("n_b").as("n_view"),
        col("n_c").as("n_purchase"),
        round(hRaw / tieCorr, 6).as("h_stat"),
        round(hRaw / tieCorr / (d(n) - 1.0), 6).as("epsilon_sq"))
    }),

    // 226: SPEARMAN RANK CORRELATION — the outlier-robust sibling of
    // q_stats_corr: both columns rank through Ranking.withRank
    // (range-sliced parallel rank, never a data-sized global-sort
    // window) under a DETERMINISTIC total order (value, orderkey,
    // linenumber — ties broken by key, so both engines assign the
    // identical permutation of 1..n), then the distinct-rank closed
    // form ρ = 1 − 6·Σd²/(n(n²−1)). Σd² is exact DECIMAL(38,0)
    // (n·n² passes 2^63 around sf1); the final expression is ONE
    // mirrored IEEE formula over exact integers.
    "q_spearman" -> ((s, dir) => {
      val base = t(s, dir, "lineitem")
        .select(cents(col("l_quantity")).as("qc"),
          cents(col("l_extendedprice")).as("pc"),
          col("l_orderkey"), col("l_linenumber"))
      val rx = graft.ops.Ranking.withRank(base, Seq.empty,
        Seq(col("qc"), col("l_orderkey"), col("l_linenumber")), "rx")
      val rxy = graft.ops.Ranking.withRank(rx, Seq.empty,
        Seq(col("pc"), col("l_orderkey"), col("l_linenumber")), "ry")
      val d = (c: Column) => c.cast("double")
      rxy.select(((col("rx") - col("ry")) * (col("rx") - col("ry")))
          .cast("decimal(38,0)").as("d2"))
        .agg(count(lit(1)).as("n"), sum(col("d2")).as("sd2"))
        .select(col("n"),
          round(lit(1.0) - lit(6.0) * d(col("sd2"))
            / (d(col("n")) * (d(col("n")) * d(col("n")) - lit(1.0))), 6)
            .as("spearman_rho"))
    }),

    // 227: ROLLING MEDIAN — exact trailing-7-row median of order
    // value per customer. The window is per-customer (hash-
    // partitioned, bounded frame), and the median of ≤7 BIGINT cents
    // comes from the sorted frame array: odd counts pick the middle
    // element, even counts average the two middles — (a+b)/2 on
    // exact integer doubles, bit-identical to DuckDB's
    // quantile_cont(0.5) on the same frame.
    "q_rolling_median" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-6, 0)
      val sorted = sort_array(
        collect_list(cents(col("o_totalprice"))).over(w))
      val k = size(sorted)
      val mid = element_at(sorted,
        ((k + lit(1)).cast("double") / lit(2.0)).cast("int"))
      val loEven = element_at(sorted,
        (k.cast("double") / lit(2.0)).cast("int"))
      val hiEven = element_at(sorted,
        (k.cast("double") / lit(2.0)).cast("int") + lit(1))
      val medCents = when(pmod(k, lit(2)) === 1, mid.cast("double"))
        .otherwise((loEven + hiEven).cast("double") / lit(2.0))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_totalprice"))
        .select(col("o_orderkey"), col("o_custkey"),
          (medCents / lit(100.0)).as("rolling_median_7"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // 228: WELCH'S T-TEST — the unequal-variance two-sample test on
    // finished (F) vs open (O) order values. Both groups reduce in
    // ONE conditional-sum scan (no self-join, no second pass): n, Σx
    // (BIGINT cents), Σx² (DECIMAL(38,0) — the square sum passes
    // 2^63 near sf1). Mean, variance, t and the Welch–Satterthwaite
    // df are each ONE mirrored IEEE expression over those exact
    // integers.
    "q_welch_ttest" -> ((s, dir) => {
      val pc = cents(col("o_totalprice"))
      val isF = col("o_orderstatus") === "F"
      val isO = col("o_orderstatus") === "O"
      val d = (c: Column) => c.cast("double")
      t(s, dir, "orders")
        .filter(isF || isO)
        .agg(sum(isF.cast("long")).as("n_f"),
          sum(when(isF, pc).otherwise(lit(0L))).as("s_f"),
          sum(when(isF, (pc * pc).cast("decimal(38,0)"))
            .otherwise(lit(0L).cast("decimal(38,0)"))).as("q_f"),
          sum(isO.cast("long")).as("n_o"),
          sum(when(isO, pc).otherwise(lit(0L))).as("s_o"),
          sum(when(isO, (pc * pc).cast("decimal(38,0)"))
            .otherwise(lit(0L).cast("decimal(38,0)"))).as("q_o"))
        .select(col("n_f"), col("n_o"),
          round(d(col("s_f")) / (d(col("n_f")) * lit(100.0)), 6)
            .as("mean_f"),
          round(d(col("s_o")) / (d(col("n_o")) * lit(100.0)), 6)
            .as("mean_o"),
          // vf/nf and vo/no in display dollars² — shared subterms of
          // t and df, spelled identically in the oracle SQL
          round((d(col("s_f")) / d(col("n_f"))
              - d(col("s_o")) / d(col("n_o"))) /
            sqrt((d(col("n_f")) * d(col("q_f"))
                - d(col("s_f")) * d(col("s_f")))
                / (d(col("n_f")) * (d(col("n_f")) - lit(1.0))
                  * d(col("n_f")))
              + (d(col("n_o")) * d(col("q_o"))
                - d(col("s_o")) * d(col("s_o")))
                / (d(col("n_o")) * (d(col("n_o")) - lit(1.0))
                  * d(col("n_o")))), 6).as("t_stat"))
    }),

    // 229: HERFINDAHL–HIRSCHMAN INDEX — supplier revenue
    // concentration per nation, the antitrust-screen aggregate. Two
    // partial-aggregable groupBys (lineitem → supplier revenue →
    // nation), and HHI = Σ share² computes WITHOUT a float per-term
    // sum (whose addition order would diverge between engines):
    // Σ rc² / T² with Σ rc² exact DECIMAL(38,0) and T exact BIGINT —
    // one IEEE division at the end, ×10000 for the standard scale.
    "q_hhi" -> ((s, dir) => {
      val d = (c: Column) => c.cast("double")
      val rev = t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("s_suppkey"))
        .agg(sum(cents(col("l_extendedprice"))).as("rc"))
      rev.groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"), sum(col("rc")).as("tc"),
          // rc is a per-SUPPLIER revenue total (≫ a row's cents):
          // its square passes 2^63 already at sf0.01 — the operands
          // must widen to decimal BEFORE the multiply
          sum(col("rc").cast("decimal(19,0)")
            * col("rc").cast("decimal(19,0)")).as("rc2"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("n_suppliers"),
          money(col("tc")).as("revenue"),
          round(d(col("rc2")) / (d(col("tc")) * d(col("tc")))
            * lit(10000.0), 6).as("hhi"))
        .orderBy("n_name")
    }),

    // 230: CONVERSION-LAG COHORTS — time from a user's FIRST view to
    // their first purchase AFTER it, reported per first-view-day
    // cohort. Two user-grained pre-aggregations (min over views, min
    // over later purchases) before any join — the de-skew discipline;
    // lags are exact BIGINT epoch-micros, so the mean is one mirrored
    // division.
    "q_conversion_lag" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val firstView = ev.filter(col("event_type") === "view")
        .groupBy("user_id")
        .agg(min(col("us")).as("tv"))
        // cohort day DERIVES from the min micros (not a min_by pick):
        // deterministic by construction, mirrored by make_timestamp
        .withColumn("cohort_day", to_date(timestamp_micros(col("tv"))))
      val firstBuy = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us").as("tp"))
        .join(firstView.select("user_id", "tv"), "user_id")
        .filter(col("tp") > col("tv"))
        .groupBy("user_id").agg(min(col("tp")).as("tp"))
      firstView.join(firstBuy, "user_id")
        .groupBy("cohort_day")
        .agg(count(lit(1)).as("n_converted"),
          sum(col("tp") - col("tv")).as("lag_us"))
        .select(col("cohort_day"), col("n_converted"),
          round(col("lag_us").cast("double")
            / (col("n_converted").cast("double") * lit(3600e6)), 6)
            .as("avg_lag_hours"))
        .orderBy("cohort_day")
    }),

    // 231: NEAREST-HUB ASSIGNMENT — each customer snaps to the
    // closest of 5 region hubs by squared planar distance on
    // deterministic synthetic coordinates (integer congruential
    // spread from the keys — no trig, no engine-divergent libm
    // call anywhere). The hub table is 5 rows: the crossJoin is a
    // fenced bounded-broadcast carrier (the q_kmeans centroid
    // shape), the per-customer argmin is a 5-row window, and the
    // report re-aggregates to |regions| rows.
    "q_nearest_hub" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select(col("c_custkey"),
        (col("c_custkey") * 7919 % 18001 - 9000).as("latc"),
        (col("c_custkey") * 104729 % 36001 - 18000).as("lonc"))
      val hubs = t(s, dir, "region").select(
        col("r_regionkey"), col("r_name"),
        (col("r_regionkey").cast("long") * 3571 % 18001 - 9000)
          .as("lath"),
        (col("r_regionkey").cast("long") * 7129 % 36001 - 18000)
          .as("lonh"))
      val w = Window.partitionBy(col("c_custkey"))
        .orderBy(col("d2"), col("r_regionkey"))
      cust.crossJoin(broadcast(hubs)) // intended: 5-row hub carrier
        .withColumn("d2",
          (col("latc") - col("lath")) * (col("latc") - col("lath"))
            + (col("lonc") - col("lonh")) * (col("lonc") - col("lonh")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"), sum(col("d2")).as("sd2"))
        .select(col("r_name"), col("n_customers"),
          round(col("sd2").cast("double")
            / col("n_customers").cast("double"), 6).as("avg_d2"))
        .orderBy("r_name")
    }),

    // 223: WATER-FILLING TOKEN-BUDGET MIX — the data-mixing
    // allocator behind every "cap the over-represented domains"
    // training recipe: given a global char budget (60% of the
    // corpus), small sources keep everything and large sources are
    // capped at the common water level L where Σ min(chars_s, L) =
    // budget. The closed form needs the sources SORTED by size —
    // fine, because the frame is |sources| rows (bounded by the
    // domain count, never the corpus; the one unpartitioned window
    // is the q_survival bounded class). Everything except the final
    // keep_rate division is exact BIGINT: the budget is an integer
    // floor, the "fully kept" test P_j + (m−j)·c_j ≤ B is monotone
    // in j (so Σ flags IS the split point), and the cap level floors
    // to integer chars. Both scalar hops ride fenced 1-row carriers.
    "q_mix_waterfill" -> ((s, dir) => {
      val src = docs(s, dir).groupBy("source")
        .agg(sum(col("n_chars")).as("chars"))
      val tot = src.agg(sum(col("chars")).as("tc"), count(lit(1)).as("m"))
        .select(expr("tc * 3 div 5").as("bb"), col("m"))
      val w = Window.orderBy(col("chars"), col("source"))
      val ranked = src.select(col("source"), col("chars"),
        row_number().over(w).as("j"),
        sum(col("chars"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)).as("p"))
      val f = ranked.crossJoin(broadcast(tot)) // intended: 1-row budget carrier
        .withColumn("fl",
          (col("p") + (col("m") - col("j")) * col("chars") <= col("bb"))
            .cast("long"))
      val lvl = f.agg(sum(col("fl")).as("ik"),
        sum(col("chars") * col("fl")).as("pk"))
      val alloc = when(col("j") <= col("ik"), col("chars"))
        .otherwise(expr("(bb - pk) div (m - ik)"))
      f.crossJoin(broadcast(lvl)) // intended: 1-row water-level carrier
        .select(col("source"), col("chars"),
          (col("j") <= col("ik")).cast("int").as("kept"),
          alloc.as("alloc_chars"),
          round(alloc.cast("double") / col("chars"), 6).as("keep_rate"))
        .orderBy("source")
    }))

  private def analyticsOracle: Map[String, String] = Map(
    "q_poisson_rate" -> """
      WITH f AS (SELECT day(ts) <= 15 AS h1, CAST(ts AS DATE) AS day
                 FROM events WHERE event_type = 'error'),
      a AS (SELECT
              CAST(sum(CASE WHEN h1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
              CAST(sum(CASE WHEN h1 THEN 0 ELSE 1 END) AS BIGINT) AS n2,
              count(DISTINCT CASE WHEN h1 THEN day END) AS d1,
              count(DISTINCT CASE WHEN NOT h1 THEN day END) AS d2
            FROM f)
      SELECT n1, n2, d1, d2,
             round(CAST(n1 AS DOUBLE) / CAST(d1 AS DOUBLE)
               - CAST(n2 AS DOUBLE) / CAST(d2 AS DOUBLE), 6) AS rate_diff,
             round((CAST(n1 AS DOUBLE) / CAST(d1 AS DOUBLE)
                    - CAST(n2 AS DOUBLE) / CAST(d2 AS DOUBLE))
               / sqrt(CAST(n1 AS DOUBLE)
                        / (CAST(d1 AS DOUBLE) * CAST(d1 AS DOUBLE))
                      + CAST(n2 AS DOUBLE)
                        / (CAST(d2 AS DOUBLE) * CAST(d2 AS DOUBLE))), 6)
               AS z
      FROM a""",
    "q_seasonal_index" -> """
      WITH cells AS (SELECT year(o_orderdate) * 100 + month(o_orderdate)
                       AS ym,
                       CAST(month(o_orderdate) AS INT) AS m,
                       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rc
                     FROM orders GROUP BY 1, 2),
      g AS (SELECT sum(rc) AS g, count(*) AS gn FROM cells),
      mm AS (SELECT m, sum(rc) AS mc, count(*) AS mn FROM cells GROUP BY m)
      SELECT m AS month, mn AS n_months,
             CAST(mc AS DOUBLE) / 100.0 AS revenue,
             round((CAST(mc AS DOUBLE) / CAST(mn AS DOUBLE))
               / (CAST(g AS DOUBLE) / CAST(gn AS DOUBLE)), 6)
               AS seasonal_index
      FROM mm, g ORDER BY month""",
    "q_order_gap" -> """
      WITH gaps AS (SELECT date_diff('day',
               lag(CAST(o_orderdate AS DATE), 1) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               CAST(o_orderdate AS DATE)) AS gap
             FROM orders)
      SELECT CAST(least(floor(gap / 7), 10) AS BIGINT) AS week_bucket,
             count(*) AS n_gaps
      FROM gaps WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1""",
    "q_bollinger" -> """
      SELECT o_orderkey, o_custkey,
             round(CAST(sum(pc) OVER w AS DOUBLE)
               / (CAST(count(*) OVER w AS DOUBLE) * 100.0), 6) AS ma_7,
             round(CASE WHEN count(*) OVER w > 1 THEN
               sqrt((CAST(count(*) OVER w AS DOUBLE)
                     * CAST(sum(pc * pc) OVER w AS DOUBLE)
                     - CAST(sum(pc) OVER w AS DOUBLE)
                       * CAST(sum(pc) OVER w AS DOUBLE))
                 / (CAST(count(*) OVER w AS DOUBLE)
                    * (CAST(count(*) OVER w AS DOUBLE) - 1.0))) / 100.0
               END, 6) AS sd_7
      FROM (SELECT o_orderkey, o_custkey, o_orderdate,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS pc
            FROM orders)
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey""",
    "q_rsi" -> """
      WITH b AS (SELECT o_orderkey, o_custkey, o_orderdate,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS pc
                 FROM orders),
      dd AS (SELECT o_orderkey, o_custkey, o_orderdate,
               pc - lag(pc, 1) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS diff
             FROM b),
      gl AS (SELECT o_orderkey, o_custkey,
               sum(CASE WHEN diff > 0 THEN diff ELSE 0 END) OVER w AS g,
               sum(CASE WHEN diff < 0 THEN -diff ELSE 0 END) OVER w AS l
             FROM dd
             WINDOW w AS (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      SELECT o_orderkey, o_custkey,
             round(CASE WHEN g + l > 0 THEN
               100.0 * CAST(g AS DOUBLE) / CAST(g + l AS DOUBLE)
               END, 6) AS rsi_14
      FROM gl ORDER BY o_custkey, o_orderkey""",
    "q_vwap" -> """
      SELECT CAST(l_shipdate AS DATE) AS ship_day, count(*) AS n_lines,
             round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                            * CAST(round(l_quantity * 100) AS BIGINT))
                        AS DOUBLE)
               / (CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
                       AS DOUBLE) * 100.0), 6) AS vwap
      FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q_kruskal" -> """
      WITH f AS (SELECT event_type,
                        CAST(round(value * 100) AS BIGINT) AS v
                 FROM events
                 WHERE event_type IN ('click', 'view', 'purchase')),
      h AS (SELECT v,
              sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
              sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS b,
              sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
            FROM f GROUP BY v),
      cum AS (SELECT a, b, c, a + b + c AS tc,
                sum(a + b + c) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS tc_cum
              FROM h),
      agg AS (SELECT
                CAST(sum(a) AS BIGINT) AS n_a,
                CAST(sum(b) AS BIGINT) AS n_b,
                CAST(sum(c) AS BIGINT) AS n_c,
                sum(a * (tc_cum * 2 - tc + 1)) AS r2a,
                sum(b * (tc_cum * 2 - tc + 1)) AS r2b,
                sum(c * (tc_cum * 2 - tc + 1)) AS r2c,
                sum(tc * tc * tc - tc) AS tie3
              FROM cum),
      fin AS (SELECT n_a, n_b, n_c, tie3,
                CAST(n_a + n_b + n_c AS DOUBLE) AS n,
                CAST(r2a * r2a AS DOUBLE) / (CAST(n_a AS DOUBLE) * 4.0)
                + CAST(r2b * r2b AS DOUBLE) / (CAST(n_b AS DOUBLE) * 4.0)
                + CAST(r2c * r2c AS DOUBLE) / (CAST(n_c AS DOUBLE) * 4.0)
                  AS sum_r2
              FROM agg)
      SELECT n_a AS n_click, n_b AS n_view, n_c AS n_purchase,
             round((12.0 / (n * (n + 1.0)) * sum_r2 - 3.0 * (n + 1.0))
               / (1.0 - CAST(tie3 AS DOUBLE) / (n * n * n - n)), 6)
               AS h_stat,
             round((12.0 / (n * (n + 1.0)) * sum_r2 - 3.0 * (n + 1.0))
               / (1.0 - CAST(tie3 AS DOUBLE) / (n * n * n - n))
               / (n - 1.0), 6) AS epsilon_sq
      FROM fin""",
    "q_spearman" -> """
      WITH base AS (SELECT CAST(round(l_quantity * 100) AS BIGINT) AS qc,
                           CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
                           l_orderkey, l_linenumber FROM lineitem),
      r AS (SELECT
              row_number() OVER (ORDER BY qc, l_orderkey, l_linenumber) AS rx,
              row_number() OVER (ORDER BY pc, l_orderkey, l_linenumber) AS ry
            FROM base)
      SELECT count(*) AS n,
             round(1.0 - 6.0 * CAST(sum((rx - ry) * (rx - ry)) AS DOUBLE)
               / (CAST(count(*) AS DOUBLE)
                  * (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE) - 1.0)),
               6) AS spearman_rho
      FROM r""",
    "q_rolling_median" -> """
      SELECT o_orderkey, o_custkey,
             median(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) / 100.0
               AS rolling_median_7
      FROM orders ORDER BY o_custkey, o_orderkey""",
    "q_welch_ttest" -> """
      WITH o AS (SELECT o_orderstatus,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS pc
                 FROM orders WHERE o_orderstatus IN ('F', 'O')),
      a AS (SELECT
              CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_f,
              sum(CASE WHEN o_orderstatus = 'F' THEN pc ELSE 0 END) AS s_f,
              sum(CASE WHEN o_orderstatus = 'F' THEN pc * pc ELSE 0 END) AS q_f,
              CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_o,
              sum(CASE WHEN o_orderstatus = 'O' THEN pc ELSE 0 END) AS s_o,
              sum(CASE WHEN o_orderstatus = 'O' THEN pc * pc ELSE 0 END) AS q_o
            FROM o)
      SELECT n_f, n_o,
             round(CAST(s_f AS DOUBLE) / (CAST(n_f AS DOUBLE) * 100.0), 6)
               AS mean_f,
             round(CAST(s_o AS DOUBLE) / (CAST(n_o AS DOUBLE) * 100.0), 6)
               AS mean_o,
             round((CAST(s_f AS DOUBLE) / CAST(n_f AS DOUBLE)
                    - CAST(s_o AS DOUBLE) / CAST(n_o AS DOUBLE))
               / sqrt((CAST(n_f AS DOUBLE) * CAST(q_f AS DOUBLE)
                       - CAST(s_f AS DOUBLE) * CAST(s_f AS DOUBLE))
                      / (CAST(n_f AS DOUBLE) * (CAST(n_f AS DOUBLE) - 1.0)
                         * CAST(n_f AS DOUBLE))
                    + (CAST(n_o AS DOUBLE) * CAST(q_o AS DOUBLE)
                       - CAST(s_o AS DOUBLE) * CAST(s_o AS DOUBLE))
                      / (CAST(n_o AS DOUBLE) * (CAST(n_o AS DOUBLE) - 1.0)
                         * CAST(n_o AS DOUBLE))), 6) AS t_stat
      FROM a""",
    "q_hhi" -> """
      WITH rev AS (SELECT s_nationkey, s_suppkey,
                          sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                            AS rc
                   FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                   GROUP BY 1, 2),
      agg AS (SELECT s_nationkey, count(*) AS n_suppliers,
                     sum(rc) AS tc, sum(rc * rc) AS rc2
              FROM rev GROUP BY 1)
      SELECT n_name, n_suppliers, CAST(tc AS DOUBLE) / 100.0 AS revenue,
             round(CAST(rc2 AS DOUBLE)
               / (CAST(tc AS DOUBLE) * CAST(tc AS DOUBLE)) * 10000.0, 6)
               AS hhi
      FROM agg JOIN nation ON s_nationkey = n_nationkey ORDER BY n_name""",
    "q_conversion_lag" -> """
      WITH ev AS (SELECT user_id, event_type,
                         epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      fv AS (SELECT user_id, min(us) AS tv FROM ev
             WHERE event_type = 'view' GROUP BY 1),
      fb AS (SELECT e.user_id, min(us) AS tp FROM ev e JOIN fv USING (user_id)
             WHERE event_type = 'purchase' AND us > tv GROUP BY 1)
      SELECT CAST(make_timestamp(tv) AS DATE) AS cohort_day,
             count(*) AS n_converted,
             round(CAST(sum(tp - tv) AS DOUBLE)
               / (CAST(count(*) AS DOUBLE) * 3600000000.0), 6)
               AS avg_lag_hours
      FROM fv JOIN fb USING (user_id)
      GROUP BY 1 ORDER BY 1""",
    "q_nearest_hub" -> """
      WITH cust AS (SELECT c_custkey,
                           c_custkey * 7919 % 18001 - 9000 AS latc,
                           c_custkey * 104729 % 36001 - 18000 AS lonc
                    FROM customer),
      hubs AS (SELECT r_regionkey, r_name,
                      CAST(r_regionkey AS BIGINT) * 3571 % 18001 - 9000
                        AS lath,
                      CAST(r_regionkey AS BIGINT) * 7129 % 36001 - 18000
                        AS lonh
               FROM region),
      d AS (SELECT c_custkey, r_regionkey, r_name,
                   (latc - lath) * (latc - lath)
                     + (lonc - lonh) * (lonc - lonh) AS d2
            FROM cust, hubs),
      pick AS (SELECT *, row_number() OVER (
                 PARTITION BY c_custkey ORDER BY d2, r_regionkey) AS rn
               FROM d)
      SELECT r_name, count(*) AS n_customers,
             round(CAST(sum(d2) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
               AS avg_d2
      FROM pick WHERE rn = 1 GROUP BY 1 ORDER BY 1""",
    "q_moving_avg" -> """
      SELECT o_orderkey, o_custkey,
             CAST(sum(pc) OVER wt AS DOUBLE)
               / (count(*) OVER wt * 100.0) AS ma_3,
             CAST(sum(pc) OVER wf AS DOUBLE) / 100.0 AS remaining_spend
      FROM (SELECT o_orderkey, o_custkey, o_orderdate,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS pc
            FROM orders)
      WINDOW wt AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      ORDER BY o_custkey, o_orderkey""",
    "q_string_agg" -> """
      SELECT n_name, count(*) AS n_supp,
             string_agg(s_name, ',' ORDER BY s_name) AS supp_csv
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""",
    "q_histogram" -> """
      WITH b AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS pc
                 FROM orders),
           m AS (SELECT min(pc) AS lo, max(pc) AS hi FROM b)
      SELECT CAST((pc - lo) * 20 // (hi - lo + 1) AS INT) AS bucket,
             count(*) AS n,
             CAST(sum(pc) AS DOUBLE) / 100.0 AS sum_price
      FROM b, m GROUP BY 1 ORDER BY bucket""",
    "q_abtest" -> """
      WITH u AS (SELECT user_id,
                   CASE WHEN sum(CASE WHEN event_type = 'purchase'
                     THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS cv
                 FROM events GROUP BY user_id),
      v AS (SELECT cv,
              CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#ab'),
                1, 15))::BIGINT % 2 AS INT) AS variant
            FROM u),
      a AS (SELECT
              CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_a,
              CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_b,
              CAST(sum(CASE WHEN variant = 0 THEN cv ELSE 0 END)
                AS BIGINT) AS conv_a,
              CAST(sum(CASE WHEN variant = 1 THEN cv ELSE 0 END)
                AS BIGINT) AS conv_b
            FROM v)
      SELECT n_a, n_b, conv_a, conv_b,
             round(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
             round(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
             CASE WHEN conv_a + conv_b > 0
                   AND conv_a + conv_b < n_a + n_b THEN
               round((CAST(conv_a AS DOUBLE) / n_a -
                      CAST(conv_b AS DOUBLE) / n_b) /
                 sqrt(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) *
                   (CAST(1 AS DOUBLE) -
                    CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
                   (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)),
                 6)
             END AS z
      FROM a""",
    "q_survival" -> """
      WITH g AS (SELECT max(CAST(ts AS DATE)) AS gd FROM events),
      u AS (SELECT user_id,
              min(CASE WHEN event_type = 'signup'
                  THEN CAST(ts AS DATE) END) AS d0,
              min(CASE WHEN event_type = 'purchase'
                  THEN CAST(ts AS DATE) END) AS dp
            FROM events GROUP BY user_id),
      u2 AS (SELECT CASE WHEN dp IS NOT NULL AND dp >= d0
                    THEN 1 ELSE 0 END AS event,
                    CASE WHEN dp IS NOT NULL AND dp >= d0
                    THEN date_diff('day', d0, dp)
                    ELSE date_diff('day', d0, gd) END AS dur
             FROM u CROSS JOIN g WHERE d0 IS NOT NULL),
      t AS (SELECT count(*) AS tot FROM u2),
      grp AS (SELECT CAST(dur AS INT) AS dur,
                CAST(sum(event) AS BIGINT) AS d, count(*) AS m
              FROM u2 GROUP BY 1),
      r AS (SELECT dur, d,
              CAST(tot - coalesce(sum(m) OVER (ORDER BY dur
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n_risk
            FROM grp CROSS JOIN t),
      s AS (SELECT dur, d, n_risk,
              exp(sum(CASE WHEN d > 0 AND d < n_risk
                    THEN ln(CAST(1 AS DOUBLE) -
                            CAST(d AS DOUBLE) / n_risk)
                    ELSE CAST(0 AS DOUBLE) END)
                  OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW)) AS surv
            FROM r)
      SELECT dur, n_risk, d, round(surv, 6) AS survival
      FROM s WHERE d > 0 ORDER BY dur""",
    "q_gini" -> """
      WITH rev AS (SELECT o_orderpriority AS pri, o_custkey,
                     CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS BIGINT) AS x
                   FROM orders GROUP BY 1, 2),
      r AS (SELECT pri, x, row_number() OVER (PARTITION BY pri
              ORDER BY x, o_custkey) AS i FROM rev),
      a AS (SELECT pri, count(*) AS n,
              CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
              CAST(sum(CAST(i AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))
                AS six
            FROM r GROUP BY pri)
      SELECT pri, n, CAST(sx AS DOUBLE) / 100.0 AS total,
             round((CAST(2 AS DOUBLE) * CAST(six AS DOUBLE) -
               CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE)) /
               (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS gini
      FROM a ORDER BY pri""",
    "q_zscore" -> """
      WITH ev AS (SELECT event_id, event_type,
                    CAST(round(value * 100) AS BIGINT) AS v FROM events),
      m AS (SELECT event_type, count(*) AS n,
              CAST(sum(v) AS DECIMAL(38,0)) AS s1,
              CAST(sum(CAST(v AS DECIMAL(38,0)) * v) AS DECIMAL(38,0))
                AS s2
            FROM ev GROUP BY event_type),
      z AS (SELECT event_id, ev.event_type, v,
              (v - CAST(s1 AS DOUBLE) / n) /
                sqrt((CAST(s2 AS DOUBLE) -
                  CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n) AS z
            FROM ev JOIN m USING (event_type))
      SELECT event_id, event_type, v, round(z, 6) AS z,
             abs(z) > 3 AS outlier
      FROM z ORDER BY event_id""",
    "q_ks_test" -> """
      WITH s AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
                        CASE WHEN c_mktsegment = 'BUILDING' THEN 0 ELSE 1
                          END AS g
                 FROM orders JOIN customer ON o_custkey = c_custkey
                 WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
      c AS (SELECT v,
                   CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS c0,
                   CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS c1
            FROM s GROUP BY v),
      cum AS (SELECT v, sum(c0) OVER (ORDER BY v) AS f0,
                        sum(c1) OVER (ORDER BY v) AS f1 FROM c),
      n AS (SELECT CAST(sum(c0) AS BIGINT) AS n0,
                   CAST(sum(c1) AS BIGINT) AS n1 FROM c)
      SELECT n0, n1,
             round(max(abs(CAST(f0 AS DOUBLE) / CAST(n0 AS DOUBLE) -
                           CAST(f1 AS DOUBLE) / CAST(n1 AS DOUBLE))), 6)
               AS ks
      FROM cum, n GROUP BY n0, n1""",
    "q_anomaly_mad" -> """
      WITH ev AS (SELECT event_type,
                         CAST(round(value * 100) AS BIGINT) AS v
                  FROM events),
      m1 AS (SELECT event_type, CAST(median(v) AS DOUBLE) AS med
             FROM ev GROUP BY event_type),
      dev AS (SELECT ev.event_type, med,
                     abs(CAST(v AS DOUBLE) - med) AS d
              FROM ev JOIN m1 USING (event_type)),
      m2 AS (SELECT event_type, CAST(median(d) AS DOUBLE) AS mad
             FROM dev GROUP BY event_type)
      SELECT dev.event_type, count(*) AS n,
             max(med) / 100.0 AS median_value,
             max(mad) / 100.0 AS mad_value,
             CAST(sum(CASE WHEN d > mad * 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers
      FROM dev JOIN m2 USING (event_type)
      GROUP BY dev.event_type ORDER BY dev.event_type""",
    "q_attribution" -> """
      WITH ev AS (SELECT user_id, ts, event_id, event_type,
                         CAST(round(value * 100) AS BIGINT) AS v
                  FROM events),
      att AS (SELECT event_type, v,
                last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS ch
              FROM ev)
      SELECT coalesce(ch, 'direct') AS channel,
             count(*) AS n_purchases,
             CAST(sum(v) AS DOUBLE) / 100.0 AS revenue
      FROM att WHERE event_type = 'purchase'
      GROUP BY 1 ORDER BY 1""",
    "q_ewma" -> """
      WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                       CAST(sum(CAST(round(value * 100) AS BIGINT))
                         AS BIGINT) AS x
                     FROM events GROUP BY 1, 2),
      sm AS (SELECT event_type, day, x,
               CAST(x AS DOUBLE) * 512
                 + COALESCE(CAST(lag(x, 1) OVER w AS DOUBLE) * 256, 0)
                 + COALESCE(CAST(lag(x, 2) OVER w AS DOUBLE) * 128, 0)
                 + COALESCE(CAST(lag(x, 3) OVER w AS DOUBLE) * 64, 0)
                 + COALESCE(CAST(lag(x, 4) OVER w AS DOUBLE) * 32, 0)
                 + COALESCE(CAST(lag(x, 5) OVER w AS DOUBLE) * 16, 0)
                 + COALESCE(CAST(lag(x, 6) OVER w AS DOUBLE) * 8, 0)
                 + COALESCE(CAST(lag(x, 7) OVER w AS DOUBLE) * 4, 0)
                 + COALESCE(CAST(lag(x, 8) OVER w AS DOUBLE) * 2, 0)
                 + COALESCE(CAST(lag(x, 9) OVER w AS DOUBLE) * 1, 0)
                 AS num,
               512.0
                 + (CASE WHEN lag(x, 1) OVER w IS NOT NULL THEN 256.0 ELSE 0 END)
                 + (CASE WHEN lag(x, 2) OVER w IS NOT NULL THEN 128.0 ELSE 0 END)
                 + (CASE WHEN lag(x, 3) OVER w IS NOT NULL THEN 64.0 ELSE 0 END)
                 + (CASE WHEN lag(x, 4) OVER w IS NOT NULL THEN 32.0 ELSE 0 END)
                 + (CASE WHEN lag(x, 5) OVER w IS NOT NULL THEN 16.0 ELSE 0 END)
                 + (CASE WHEN lag(x, 6) OVER w IS NOT NULL THEN 8.0 ELSE 0 END)
                 + (CASE WHEN lag(x, 7) OVER w IS NOT NULL THEN 4.0 ELSE 0 END)
                 + (CASE WHEN lag(x, 8) OVER w IS NOT NULL THEN 2.0 ELSE 0 END)
                 + (CASE WHEN lag(x, 9) OVER w IS NOT NULL THEN 1.0 ELSE 0 END)
                 AS den
             FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))
      SELECT event_type, day, CAST(x AS DOUBLE) / 100.0 AS revenue,
             num / den / 100.0 AS ewma
      FROM sm ORDER BY event_type, day""",
    "q_cohort_matrix" -> """
      WITH act AS (SELECT DISTINCT user_id,
                     CAST(date_trunc('week', ts) AS DATE) AS wk
                   FROM events),
      f AS (SELECT user_id, min(wk) AS cohort FROM act GROUP BY 1)
      SELECT cohort,
             CAST(datediff('day', cohort, wk) // 7 AS BIGINT) AS k,
             count(DISTINCT user_id) AS n_users
      FROM act JOIN f USING (user_id)
      GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_active_users" -> """
      WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                  FROM events),
      contrib AS (SELECT user_id, day + CAST(t.i AS INTEGER) AS day2
                  FROM ud CROSS JOIN range(0, 7) AS t(i)),
      wau AS (SELECT day2 AS day, count(DISTINCT user_id) AS wau
              FROM contrib GROUP BY 1),
      dau AS (SELECT day, count(DISTINCT user_id) AS dau
              FROM ud GROUP BY 1)
      SELECT day, dau, wau FROM dau JOIN wau USING (day)
      ORDER BY day""",
    "q_psi" -> """
      WITH ev AS (SELECT event_type,
                    epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                    CAST(round(value * 100) AS BIGINT) AS v FROM events),
      m AS (SELECT min(v) AS vmin, max(v) AS vmax,
                   min(tus) + max(tus) AS tmid2 FROM ev),
      cnt AS (SELECT event_type,
                CASE WHEN tus * 2 <= tmid2 THEN 'ref' ELSE 'cur' END
                  AS period,
                (v - vmin) * 10 // (vmax - vmin + 1) AS bin,
                count(*) AS c
              FROM ev, m GROUP BY 1, 2, 3),
      frame AS (SELECT event_type, r.bin, p.period
                FROM (SELECT DISTINCT event_type FROM ev)
                CROSS JOIN range(0, 10) r(bin)
                CROSS JOIN (VALUES ('ref'), ('cur')) p(period)),
      filled AS (SELECT f.event_type, f.period, f.bin,
                      coalesce(c.c, 0) AS c
               FROM frame f LEFT JOIN cnt c
                 ON f.event_type = c.event_type
                AND f.period = c.period AND f.bin = c.bin),
      tot AS (SELECT event_type, period, sum(c) AS n
              FROM filled GROUP BY 1, 2),
      p AS (SELECT f.event_type, f.bin, f.period,
              CAST(f.c + 1 AS DOUBLE) / (t.n + 10) AS p, t.n
            FROM filled f JOIN tot t
              ON f.event_type = t.event_type AND f.period = t.period),
      wide AS (SELECT event_type, bin,
                 max(CASE WHEN period = 'ref' THEN p END) AS pr,
                 max(CASE WHEN period = 'cur' THEN p END) AS pc,
                 max(CASE WHEN period = 'ref' THEN n END) AS nr,
                 max(CASE WHEN period = 'cur' THEN n END) AS nc
               FROM p GROUP BY 1, 2)
      SELECT event_type, CAST(max(nr) AS BIGINT) AS n_ref,
             CAST(max(nc) AS BIGINT) AS n_cur,
             round(sum((pc - pr) * ln(pc / pr)), 6) AS psi
      FROM wide GROUP BY event_type ORDER BY event_type""",
    "q_rfm" -> """
      WITH g AS (SELECT max(CAST(o_orderdate AS DATE)) AS gd FROM orders),
      per AS (SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_d,
                count(*) AS frequency,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS mc
              FROM orders GROUP BY o_custkey),
      sc AS (SELECT o_custkey,
               date_diff('day', last_d, gd) AS recency, frequency, mc,
               CAST(ntile(5) OVER (ORDER BY date_diff('day', last_d, gd),
                 o_custkey) AS INT) AS r_score,
               CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey)
                 AS INT) AS f_score,
               CAST(ntile(5) OVER (ORDER BY mc DESC, o_custkey) AS INT)
                 AS m_score
             FROM per CROSS JOIN g)
      SELECT o_custkey, CAST(recency AS INT) AS recency, frequency,
             CAST(mc AS DOUBLE) / 100.0 AS monetary,
             r_score, f_score, m_score,
             CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) ||
               CAST(m_score AS VARCHAR) AS segment
      FROM sc ORDER BY o_custkey""",
    "q_event_funnel" -> """
      WITH u AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view'
                   THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS tv,
               min(CASE WHEN event_type = 'click'
                   THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS tc,
               min(CASE WHEN event_type = 'purchase'
                   THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS tp
        FROM events GROUP BY user_id)
      SELECT count(tv) AS n_view,
             CAST(sum(CASE WHEN tc >= tv THEN 1 ELSE 0 END) AS BIGINT)
               AS n_click_after_view,
             CAST(sum(CASE WHEN tc >= tv AND tp >= tc THEN 1 ELSE 0 END)
               AS BIGINT) AS n_full_funnel,
             CAST(sum(CASE WHEN tc >= tv AND tp >= tc THEN 1 ELSE 0 END)
               AS DOUBLE) * 100.0 / count(tv) AS conv_pct
      FROM u""",
    "q_transition_matrix" -> """
      WITH t AS (SELECT user_id, event_type AS src,
                   lead(event_type, 1) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) AS dst
                 FROM events),
      g AS (SELECT src, dst, count(*) AS n FROM t
            WHERE dst IS NOT NULL GROUP BY 1, 2)
      SELECT src, dst, CAST(n AS BIGINT) AS n,
             CAST(n AS DOUBLE) * 100.0 / sum(n) OVER (PARTITION BY src)
               AS src_share
      FROM g ORDER BY src, dst""",
    "q_retention" -> """
      WITH c AS (
        SELECT user_id,
               min(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
        FROM events GROUP BY user_id),
      a AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events)
      SELECT cohort_week,
             CAST(date_diff('day', cohort_week, wk) // 7 AS INT)
               AS weeks_since,
             count(DISTINCT a.user_id) AS n_users
      FROM a JOIN c ON a.user_id = c.user_id
      GROUP BY 1, 2 ORDER BY cohort_week, weeks_since""",
    "q_fill_forward" -> """
      SELECT event_id, user_id,
             CAST(last_value(CASE WHEN event_type = 'purchase'
                 THEN CAST(round(value * 100) AS BIGINT) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) / 100.0 AS last_purchase
      FROM events ORDER BY user_id, event_id""",
    "q_user_path" -> """
      WITH p AS (
        SELECT event_type AS s1,
               lead(event_type, 1) OVER w AS s2,
               lead(event_type, 2) OVER w AS s3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT s1, s2, s3, count(*) AS n_paths
      FROM p WHERE s2 IS NOT NULL AND s3 IS NOT NULL
      GROUP BY 1, 2, 3
      ORDER BY n_paths DESC, s1, s2, s3 LIMIT 10""",
    "q_seasonality" -> """
      WITH ev AS (SELECT event_type,
                    dayofweek(CAST(ts AS DATE)) AS dow,
                    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      cell AS (SELECT event_type, dow, count(*) AS n_events,
                      CAST(sum(vc) AS BIGINT) AS sc
               FROM ev GROUP BY 1, 2),
      tot AS (SELECT event_type, count(*) AS tn,
                     CAST(sum(vc) AS BIGINT) AS tc
              FROM ev GROUP BY 1)
      SELECT c.event_type, CAST(c.dow AS INT) AS dow, c.n_events,
             CAST(c.n_events * 7 AS DOUBLE) / t.tn AS traffic_index,
             CAST(c.sc * 7 AS DOUBLE) / t.tc AS revenue_index
      FROM cell c JOIN tot t ON c.event_type = t.event_type
      ORDER BY 1, 2""",
    "q_growth_accounting" -> """
      WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                  FROM events),
      c AS (SELECT user_id, day,
              lag(day) OVER (PARTITION BY user_id ORDER BY day)
                AS prev_day,
              lead(day) OVER (PARTITION BY user_id ORDER BY day)
                AS next_day
            FROM ud),
      last_d AS (SELECT max(day) AS last_day FROM ud),
      flows AS (
        SELECT day, CASE WHEN prev_day IS NULL THEN 'new'
                         WHEN date_diff('day', prev_day, day) = 1
                           THEN 'retained'
                         ELSE 'resurrected' END AS flow
        FROM c
        UNION ALL
        SELECT day + 1, 'churned'
        FROM c CROSS JOIN last_d
        WHERE (next_day IS NULL OR date_diff('day', day, next_day) > 1)
          AND day < last_day)
      SELECT day, flow, count(*) AS n_users
      FROM flows GROUP BY 1, 2 ORDER BY day, flow""",
    "q_interpolate" -> """
      WITH alldays AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
      ev AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type,
                    CAST(round(value * 100) AS BIGINT) AS vc
             FROM events WHERE user_id % 50 = 7),
      known AS (SELECT user_id, day, CAST(sum(vc) AS BIGINT) AS kc
                FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2),
      spine AS (SELECT u.user_id, d.day
                FROM (SELECT DISTINCT user_id FROM ev) u
                CROSS JOIN alldays d),
      j AS (SELECT s.user_id, s.day, k.kc
            FROM spine s LEFT JOIN known k
              ON s.user_id = k.user_id AND s.day = k.day),
      w AS (SELECT user_id, day, kc,
              last_value(kc IGNORE NULLS) OVER wp AS pv,
              last_value(CASE WHEN kc IS NOT NULL THEN day END
                IGNORE NULLS) OVER wp AS dp,
              first_value(kc IGNORE NULLS) OVER wn AS nv,
              first_value(CASE WHEN kc IS NOT NULL THEN day END
                IGNORE NULLS) OVER wn AS dn
            FROM j
            WINDOW wp AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wn AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT user_id, day,
             CASE WHEN kc IS NOT NULL THEN CAST(kc AS DOUBLE) / 100.0
                  WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                    (CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE) *
                     (CAST(date_diff('day', dp, day) AS DOUBLE) /
                      CAST(date_diff('day', dp, dn) AS DOUBLE))) / 100.0
                  END AS filled,
             CASE WHEN kc IS NOT NULL THEN 'actual'
                  WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
                  ELSE 'edge' END AS src
      FROM w ORDER BY user_id, day""",
    "q_benford" -> """
      WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
                   AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
                 FROM orders),
      c AS (SELECT digit, count(*) AS n_orders FROM d GROUP BY digit),
      t AS (SELECT count(*) AS n_total FROM d)
      SELECT digit, n_orders,
             CAST(n_orders AS DOUBLE) / n_total AS obs_share,
             CAST(([0.301029995663981, 0.176091259055681, 0.124938736608300,
               0.096910013008056, 0.079181246047625, 0.066946789630613,
               0.057991946977687, 0.051152522447381,
               0.045757490560675])[digit] AS DOUBLE) AS exp_share,
             CAST(n_orders AS DOUBLE) / n_total -
               CAST(([0.301029995663981, 0.176091259055681,
                 0.124938736608300, 0.096910013008056, 0.079181246047625,
                 0.066946789630613, 0.057991946977687, 0.051152522447381,
                 0.045757490560675])[digit] AS DOUBLE) AS excess
      FROM c, t ORDER BY digit""",
    "q_crosstab" -> """
      WITH cell AS (
        SELECT c_mktsegment AS seg, o_orderpriority AS pri,
               count(*) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
      w AS (SELECT seg, pri, n,
              CAST(sum(n) OVER (PARTITION BY seg) AS BIGINT) AS seg_tot,
              CAST(sum(n) OVER (PARTITION BY pri) AS BIGINT) AS pri_tot,
              CAST(sum(n) OVER () AS BIGINT) AS tot
            FROM cell)
      SELECT seg, pri, n,
             CAST(seg_tot * pri_tot AS DOUBLE) / tot AS expected,
             (CAST(n AS DOUBLE) - CAST(seg_tot * pri_tot AS DOUBLE) / tot) *
             (CAST(n AS DOUBLE) - CAST(seg_tot * pri_tot AS DOUBLE) / tot) /
             (CAST(seg_tot * pri_tot AS DOUBLE) / tot) AS contrib
      FROM w ORDER BY seg, pri""",
    "q_changepoint" -> """
      WITH day AS (SELECT CAST(o_orderdate AS DATE) AS day,
                          count(*) AS n_day
                   FROM orders GROUP BY 1),
      c AS (SELECT day,
              CAST(sum(n_day) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS s_k,
              CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
              CAST(sum(n_day) OVER () AS BIGINT) AS s_n,
              CAST(count(*) OVER () AS BIGINT) AS n_days
            FROM day)
      SELECT day, s_k, abs(n_days * s_k - k * s_n) AS stat,
             CAST(abs(n_days * s_k - k * s_n) AS DOUBLE)
               / (n_days * s_n) AS stat_norm
      FROM c ORDER BY stat DESC, day LIMIT 5""",
    "q_autocorr" -> """
      WITH day AS (SELECT CAST(o_orderdate AS DATE) AS day,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) // 10000 AS rd
            FROM orders GROUP BY 1),
      p AS (SELECT 1 AS lag, x.rd AS x, y.rd AS y
            FROM day x JOIN day y ON y.day = x.day + 1
            UNION ALL
            SELECT 7, x.rd, y.rd
            FROM day x JOIN day y ON y.day = x.day + 7),
      m AS (SELECT lag, count(*) AS n_pairs,
              CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
              CAST(sum(x * x) AS BIGINT) AS sxx,
              CAST(sum(y * y) AS BIGINT) AS syy,
              CAST(sum(x * y) AS BIGINT) AS sxy
            FROM p GROUP BY lag)
      SELECT CAST(lag AS INT) AS lag, n_pairs,
             CAST(CAST(n_pairs AS DECIMAL(18,0)) * CAST(sxy AS DECIMAL(18,0))
                  - CAST(sx AS DECIMAL(18,0)) * CAST(sy AS DECIMAL(18,0))
                  AS DOUBLE) /
             (sqrt(CAST(CAST(n_pairs AS DECIMAL(18,0))
                        * CAST(sxx AS DECIMAL(18,0))
                        - CAST(sx AS DECIMAL(18,0)) * CAST(sx AS DECIMAL(18,0))
                        AS DOUBLE)) *
              sqrt(CAST(CAST(n_pairs AS DECIMAL(18,0))
                        * CAST(syy AS DECIMAL(18,0))
                        - CAST(sy AS DECIMAL(18,0)) * CAST(sy AS DECIMAL(18,0))
                        AS DOUBLE))) AS r
      FROM m ORDER BY lag""",
    "q_seasonal_trend" -> """
      WITH day AS (SELECT CAST(o_orderdate AS DATE) AS day,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS rc
            FROM orders GROUP BY 1),
      tr0 AS (SELECT day, rc,
                CAST(sum(rc) OVER w AS BIGINT) AS tnum,
                CAST(count(*) OVER w AS BIGINT) AS tn,
                CAST(dayofweek(day) AS INT) AS dow
              FROM day
              WINDOW w AS (ORDER BY day
                ROWS BETWEEN 13 PRECEDING AND 14 FOLLOWING)),
      tr AS (SELECT day, rc, tnum, dow, rc * 28 - tnum AS det
             FROM tr0 WHERE tn = 28),
      seas AS (SELECT dow, CAST(sum(det) AS BIGINT) AS snum,
                      count(*) AS sn
               FROM tr GROUP BY dow)
      SELECT t.day, CAST(t.rc AS DOUBLE) / 100.0 AS revenue,
             CAST(t.tnum AS DOUBLE) / 2800.0 AS trend,
             CAST(s.snum AS DOUBLE) / (s.sn * 2800.0) AS seasonal,
             CAST(t.det AS DOUBLE) / 2800.0 -
               CAST(s.snum AS DOUBLE) / (s.sn * 2800.0) AS residual
      FROM tr t JOIN seas s ON t.dow = s.dow
      ORDER BY t.day""",
    "q_item_jaccard" -> """
      WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem),
      pairs AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS co
                FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY 1, 2),
      deg AS (SELECT pk, count(*) AS deg FROM op GROUP BY pk)
      SELECT pa, pb, co, da.deg AS da, db.deg AS db,
             CAST(co AS DOUBLE) / (da.deg + db.deg - co) AS jaccard
      FROM pairs JOIN deg da ON da.pk = pa JOIN deg db ON db.pk = pb
      ORDER BY jaccard DESC, pa, pb LIMIT 20""",
    "q_interval_merge" -> """
      WITH iv AS (
        SELECT o_custkey, o_orderkey,
               date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS s,
               date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 6 AS e
        FROM orders),
      flagged AS (
        SELECT o_custkey, o_orderkey, s, e,
               CASE WHEN max(e) OVER wp IS NULL THEN 1
                    WHEN s > max(e) OVER wp THEN 1 ELSE 0 END AS new_span
        FROM iv
        WINDOW wp AS (PARTITION BY o_custkey ORDER BY s, e, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      spans AS (
        SELECT o_custkey, s, e,
               sum(new_span) OVER (PARTITION BY o_custkey
                 ORDER BY s, e, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        FROM flagged)
      SELECT o_custkey, CAST(span_id AS BIGINT) AS span_id,
             CAST(min(s) AS INT) AS span_start, CAST(max(e) AS INT) AS span_end,
             count(*) AS n_orders
      FROM spans GROUP BY o_custkey, span_id
      ORDER BY o_custkey, span_id""",
    "q_topk_agg" -> """
      SELECT p_brand, rn, p_partkey FROM (
        SELECT p_brand, p_partkey,
               CAST(row_number() OVER (PARTITION BY p_brand
                 ORDER BY p_retailprice DESC, p_partkey) AS INT) AS rn
        FROM part)
      WHERE rn <= 5 ORDER BY p_brand, rn""",
    "q_cond_aggs" -> """
      SELECT o_orderpriority,
             CAST(count_if(o_orderstatus = 'O') AS BIGINT) AS n_open,
             bool_and(o_totalprice > 0) AS all_pos,
             bool_or(CAST(round(o_totalprice * 100) AS BIGINT) > 30000000)
               AS any_big,
             first(o_orderkey ORDER BY
               CAST(round(o_totalprice * 100) AS BIGINT) DESC,
               o_orderkey DESC) AS best_order,
             first(o_orderkey ORDER BY
               CAST(round(o_totalprice * 100) AS BIGINT) ASC,
               o_orderkey ASC) AS worst_order
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_set_ops_all" -> """
      WITH open AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
           recent AS (SELECT o_custkey FROM orders
                      WHERE year(o_orderdate) >= 1996)
      SELECT o_custkey, 'common' AS src
      FROM (SELECT * FROM open INTERSECT ALL SELECT * FROM recent)
      UNION ALL
      SELECT o_custkey, 'open_only' AS src
      FROM (SELECT * FROM open EXCEPT ALL SELECT * FROM recent)
      ORDER BY src, o_custkey""",
    "q_corr_subquery" -> corrSubquerySql,
    "q_corr_subquery_fused" -> """
      WITH st AS (
        SELECT l_partkey, count(*) AS n_li,
               sum(CAST(round(l_quantity * 100) AS BIGINT)) AS sum_qc
        FROM lineitem GROUP BY 1)
      SELECT p_brand,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price,
             count(*) AS n_small
      FROM lineitem l JOIN st USING (l_partkey)
                      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE CAST(round(l_quantity * 100) AS BIGINT) * 5 * n_li < sum_qc
      GROUP BY p_brand ORDER BY p_brand""",
    "q_skew_join" -> """
      WITH f AS (
        SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0
                    ELSE l_suppkey % 100 END AS hot_key,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
        FROM lineitem),
      d AS (SELECT s_suppkey % 100 AS hot_key, min(s_name) AS dim_name
            FROM supplier GROUP BY 1)
      SELECT f.hot_key, d.dim_name, count(*) AS n,
             CAST(sum(f.pc) AS DOUBLE) / 100.0 AS sum_price
      FROM f JOIN d ON f.hot_key = d.hot_key
      GROUP BY 1, 2 ORDER BY f.hot_key""",
    "q1_agg" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS sum_disc_price,
             count(*) AS count_order,
             (CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0) / count(*) AS avg_qty
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "q3_join_agg" -> """
      SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DECIMAL(18,2)) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-03-15'
        AND l_shipdate  > TIMESTAMP '1995-03-15'
      GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
      ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q5_multijoin" -> """
      SELECT n_name,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
      FROM lineitem JOIN orders   ON l_orderkey = o_orderkey
                    JOIN supplier ON l_suppkey  = s_suppkey
                    JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
                    JOIN nation   ON s_nationkey = n_nationkey
                    JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
      GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q_window_rank" -> """
      SELECT * FROM (
        SELECT o_orderkey, o_custkey,
               CAST(rank() OVER w AS INT) AS rnk,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / 100.0 AS running_spend
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
      WHERE rnk <= 3 ORDER BY o_custkey, rnk, o_orderkey""",
    "q18_having" -> """
      WITH big AS (
        SELECT l_orderkey,
               CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
        FROM lineitem GROUP BY 1
        HAVING CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 > 150.0)
      SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, sum_qty
      FROM big JOIN orders ON l_orderkey = o_orderkey
      ORDER BY sum_qty DESC, o_orderkey LIMIT 100""",
    "q16_distinct" -> """
      SELECT p_brand, p_type,
             count(DISTINCT l_suppkey) AS supplier_cnt,
             count(*) AS n_li
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand NOT IN ('Brand#1')
      GROUP BY p_brand, p_type
      ORDER BY supplier_cnt DESC, p_brand, p_type""",
    "q14_share" -> """
      SELECT CAST(month(l_shipdate) AS INT) AS mo,
             CAST(sum(CASE WHEN p_name LIKE 'small%'
                    THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                         * (100 - CAST(round(l_discount * 100) AS BIGINT))
                    ELSE 0 END) AS DOUBLE) * 100.0
               / CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)
               AS promo_pct
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY 1 ORDER BY mo""",
    "q_window_lead" -> """
      SELECT o_orderkey, o_custkey,
             CAST(date_diff('day', CAST(o_orderdate AS DATE),
               CAST(lead(o_orderdate, 1) OVER w AS DATE)) AS INT) AS days_to_next,
             CAST(ntile(4) OVER w AS INT) AS seq_quartile
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, o_orderkey""",
    "q_cube" -> """
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "q_window_range" -> """
      SELECT o_orderkey, o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
               PARTITION BY o_custkey
               ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
               AS spend_7d
      FROM orders ORDER BY o_custkey, o_orderkey""",
    "q_stats_corr" -> """
      WITH s AS (
        SELECT l_returnflag, count(*) AS n,
               sum(qc) AS sx, sum(pc) AS sy,
               sum(qc * qc) AS sxx, sum(qc * pc) AS sxy,
               sum(pc * pc) AS syy
        FROM (SELECT l_returnflag,
                     CAST(round(l_quantity * 100) AS BIGINT) AS qc,
                     CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
              FROM lineitem)
        GROUP BY l_returnflag)
      SELECT l_returnflag, n,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
               (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               AS corr_qty_price
      FROM s ORDER BY l_returnflag""",
    "q_median" -> """
      SELECT o_orderpriority,
             CAST(median(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS median_price,
             count(*) AS n
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_topk_per_group" -> """
      SELECT p_brand, rn, p_partkey, p_name FROM (
        SELECT p_brand, p_partkey, p_name,
               CAST(row_number() OVER (PARTITION BY p_brand
                 ORDER BY p_retailprice DESC, p_partkey) AS INT) AS rn
        FROM part)
      WHERE rn <= 5 ORDER BY p_brand, rn""",
    "q_rollup" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_price,
             count(*) AS n_rows
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q_set_ops" -> """
      WITH big AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
           building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      SELECT c_custkey, 'both' AS src FROM (SELECT * FROM big INTERSECT SELECT * FROM building)
      UNION ALL
      SELECT c_custkey, 'big_only' AS src FROM (SELECT * FROM big EXCEPT SELECT * FROM building)
      ORDER BY src, c_custkey""",
    "q_pivot" -> """
      SELECT user_id,
             sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END)::BIGINT AS n_click,
             sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END)::BIGINT AS n_view,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
             sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END)::BIGINT AS n_signup,
             sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END)::BIGINT AS n_error
      FROM events GROUP BY user_id ORDER BY user_id""",
    "q_date_spine" -> """
      WITH spine AS (
        SELECT CAST(g.d AS DATE) AS d
        FROM generate_series(DATE '1996-01-01', DATE '1996-03-31',
                             INTERVAL 1 DAY) g(d)),
      per_day AS (
        SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n
        FROM orders GROUP BY 1)
      SELECT spine.d AS d, coalesce(per_day.n, 0) AS n
      FROM spine LEFT JOIN per_day ON spine.d = per_day.d
      ORDER BY spine.d""",
    "q_unpivot" -> """
      SELECT user_id, event_type, count(*) AS n
      FROM events
      WHERE event_type IN ('click', 'view', 'purchase', 'signup', 'error')
      GROUP BY user_id, event_type
      ORDER BY user_id, event_type""",
    "q_json_extract" -> """
      SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
      ORDER BY event_id""",
    "q_time_bucket" -> """
      SELECT CAST(date_trunc('hour', ts) AS DATE) AS day,
             CAST(hour(date_trunc('hour', ts)) AS INT) AS hr, event_type,
             count(*) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
      FROM events
      GROUP BY 1, 2, 3 ORDER BY day, hr, event_type""",
    "q_session_window" -> """
      WITH g AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))
                            > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      s AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM g)
      SELECT user_id,
             epoch_us(CAST(min(ts) AS TIMESTAMP)) AS start_us,
             epoch_us(CAST(max(ts) AS TIMESTAMP)) + 1800 * 1000000 AS end_us,
             count(*) AS n_events
      FROM s GROUP BY user_id, sess_id
      ORDER BY user_id, start_us""",
    "q_scd2" -> """
      WITH e AS (SELECT user_id, event_type AS state,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS tus, event_id
                 FROM events),
      r AS (SELECT *, CASE WHEN lag(state) OVER w IS NULL
                             OR lag(state) OVER w <> state
                           THEN 1 ELSE 0 END AS chg
            FROM e WINDOW w AS (PARTITION BY user_id
              ORDER BY tus, event_id)),
      s AS (SELECT *, sum(chg) OVER (PARTITION BY user_id
              ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS run_id
            FROM r),
      iv AS (SELECT user_id, run_id, min(state) AS state,
               min(tus) AS valid_from, count(*) AS n_events
             FROM s GROUP BY 1, 2)
      SELECT user_id, CAST(run_id AS INT) AS version, state, valid_from,
             coalesce(lead(valid_from) OVER (PARTITION BY user_id
               ORDER BY run_id), -1) AS valid_to,
             n_events
      FROM iv ORDER BY user_id, version""",
    "q_sessionize" -> """
      WITH g AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))
                            > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      s AS (
        SELECT user_id, event_id,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM g)
      SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
             count(*) AS n_events, min(event_id) AS first_event
      FROM s GROUP BY user_id, sess_id ORDER BY user_id, sess_id""",
    "q_asof_join" -> """
      WITH e AS (SELECT event_id, user_id, CAST(ts AS DATE) AS d FROM events),
           o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
                        max(o_orderkey) AS last_orderkey
                 FROM orders GROUP BY 1, 2)
      SELECT e.event_id, e.user_id, o.last_orderkey
      FROM e ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.d >= o.od
      ORDER BY event_id""",
    "q_theilsen" -> """
      WITH day AS (
        SELECT date_diff('day', DATE '1996-01-01',
                 CAST(o_orderdate AS DATE)) AS x,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rc
        FROM orders
        WHERE year(CAST(o_orderdate AS DATE)) = 1996
          AND month(CAST(o_orderdate AS DATE)) <= 6
        GROUP BY 1),
      p AS (SELECT CAST(b.rc - a.rc AS DOUBLE) / (b.x - a.x) AS slope
            FROM day a JOIN day b ON a.x < b.x)
      SELECT count(*) AS n_pairs,
             round(median(slope) / 100.0, 6) AS ts_slope
      FROM p""",
    "q_winsorize" -> """
      WITH c AS (SELECT event_type,
                   CAST(round(value * 100) AS BIGINT) AS v, event_id
                 FROM events),
      r AS (SELECT event_type, v,
              row_number() OVER (PARTITION BY event_type
                ORDER BY v, event_id) AS rn,
              count(*) OVER (PARTITION BY event_type) AS n
            FROM c),
      th AS (SELECT event_type,
               min(CASE WHEN rn * 20 >= n THEN v END) AS lo,
               min(CASE WHEN rn * 20 >= n * 19 THEN v END) AS hi
             FROM r GROUP BY event_type)
      SELECT c.event_type, count(*) AS n,
             CAST(sum(CASE WHEN v < lo OR v > hi THEN 1 ELSE 0 END)
               AS BIGINT) AS n_clipped,
             CAST(max(lo) AS DOUBLE) / 100.0 AS p05,
             CAST(max(hi) AS DOUBLE) / 100.0 AS p95,
             round(CAST(sum(v) AS DOUBLE) / (count(*) * 100.0), 6)
               AS raw_mean,
             round(CAST(sum(CASE WHEN v < lo THEN lo
                                 WHEN v > hi THEN hi
                                 ELSE v END) AS DOUBLE)
               / (count(*) * 100.0), 6) AS win_mean
      FROM c JOIN th ON c.event_type = th.event_type
      GROUP BY c.event_type ORDER BY c.event_type""",
    "q_target_encode" -> """
      WITH sp AS (SELECT o_custkey,
                    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS sc
                  FROM orders GROUP BY 1),
      cust AS (SELECT c_custkey, c_mktsegment AS segment,
                 COALESCE(sc, 0) AS sc
               FROM customer LEFT JOIN sp ON c_custkey = o_custkey),
      seg AS (SELECT segment, sum(sc) AS ssum, count(*) AS sn
              FROM cust GROUP BY 1 HAVING count(*) > 1)
      SELECT c_custkey, cust.segment,
             CAST(sc AS DOUBLE) / 100.0 AS spend,
             round(CAST(ssum - sc AS DOUBLE) / ((sn - 1) * 100.0), 6)
               AS loo_enc
      FROM cust JOIN seg ON cust.segment = seg.segment
      ORDER BY c_custkey""",
    "q_skyline" -> """
      WITH pts AS (SELECT DISTINCT p_brand,
                     CAST(round(p_retailprice * 100) AS BIGINT)
                       AS price_c, p_size
                   FROM part),
      r AS (SELECT p_brand, price_c, p_size,
              max(p_size) OVER (PARTITION BY p_brand
                ORDER BY price_c, p_size DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
            FROM pts)
      SELECT p_brand, CAST(price_c AS DOUBLE) / 100.0 AS price, p_size
      FROM r WHERE rm IS NULL OR p_size > rm
      ORDER BY p_brand, price_c""",
    "q_asof_native" -> """
      WITH e AS (SELECT event_id, user_id, CAST(ts AS DATE) AS d FROM events),
           o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
                        max(o_orderkey) AS last_orderkey
                 FROM orders GROUP BY 1, 2)
      SELECT e.event_id, e.user_id, o.last_orderkey
      FROM e ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.d >= o.od
      ORDER BY event_id""",
    "q_mannwhitney" -> """
      WITH f AS (SELECT event_type AS t,
                   CAST(round(value * 100) AS BIGINT) AS v
                 FROM events WHERE event_type IN ('click', 'purchase')),
      h AS (SELECT v,
              CAST(sum(CASE WHEN t = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS a,
              CAST(sum(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS b
            FROM f GROUP BY v),
      c AS (SELECT a, b, sum(b) OVER (ORDER BY v) AS bc FROM h),
      s AS (SELECT CAST(sum(a) AS BIGINT) AS na,
              CAST(sum(b) AS BIGINT) AS nb,
              CAST(sum(a * (2 * bc - b)) AS BIGINT) AS u2,
              CAST(sum(CAST(a + b AS HUGEINT) * (a + b) * (a + b)
                - (a + b)) AS HUGEINT) AS tie3
            FROM c)
      SELECT na AS n_a, nb AS n_b,
             CAST(u2 AS DOUBLE) / 2.0 AS u_a,
             round(CAST(u2 AS DOUBLE) / (na * nb) - 1.0, 6) AS r_rb,
             round(CAST(u2 - na * nb AS DOUBLE) /
               (2.0 * sqrt(CAST(CAST(na AS HUGEINT) * nb *
                 (CAST(na + nb AS HUGEINT) * (na + nb + 1) * (na + nb - 1)
                   - tie3) AS DOUBLE)
                 / CAST(12 * (na + nb) * (na + nb - 1) AS DOUBLE))), 6)
               AS z
      FROM s""",
    "q_cramers_v" -> """
      WITH j AS (SELECT c_mktsegment AS seg, o_orderpriority AS pri
                 FROM orders JOIN customer ON o_custkey = c_custkey),
      cells AS (SELECT seg, pri, count(*) AS o FROM j GROUP BY 1, 2),
      rt AS (SELECT seg, sum(o) AS rt FROM cells GROUP BY 1),
      ct AS (SELECT pri, sum(o) AS ct FROM cells GROUP BY 1),
      tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                count(DISTINCT seg) AS r,
                count(DISTINCT pri) AS c FROM cells),
      terms AS (SELECT n, r, c,
                  CAST(o * n - rt * ct AS DOUBLE) * (o * n - rt * ct)
                    / (CAST(rt AS DOUBLE) * ct * n) AS term
                FROM cells JOIN rt USING (seg) JOIN ct USING (pri)
                     CROSS JOIN tot)
      SELECT round(sum(term), 6) AS chi2,
             round(sqrt(sum(term) / (any_value(n) *
               (least(any_value(r), any_value(c)) - 1))), 6) AS cramers_v,
             any_value(n) AS n_orders
      FROM terms""",
    "q_iqr_outliers" -> """
      WITH c AS (SELECT event_type,
                   CAST(round(value * 100) AS BIGINT) AS v, event_id
                 FROM events),
      r AS (SELECT event_type, v,
              row_number() OVER (PARTITION BY event_type
                ORDER BY v, event_id) AS rn,
              count(*) OVER (PARTITION BY event_type) AS n
            FROM c),
      th AS (SELECT event_type,
               min(CASE WHEN rn * 4 >= n THEN v END) AS q1c,
               min(CASE WHEN rn * 4 >= n * 3 THEN v END) AS q3c
             FROM r GROUP BY event_type)
      SELECT c.event_type, count(*) AS n,
             CAST(max(q1c) AS DOUBLE) / 100.0 AS q1,
             CAST(max(q3c) AS DOUBLE) / 100.0 AS q3,
             CAST(max(q3c) - max(q1c) AS DOUBLE) / 100.0 AS iqr,
             CAST(sum(CASE WHEN v * 2 < q1c * 5 - q3c * 3
               THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
             CAST(sum(CASE WHEN v * 2 > q3c * 5 - q1c * 3
               THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
             round(CAST(sum(CASE WHEN v * 2 < q1c * 5 - q3c * 3
                 OR v * 2 > q3c * 5 - q1c * 3 THEN 1 ELSE 0 END)
               AS DOUBLE) / count(*) * 100, 6) AS outlier_pct
      FROM c JOIN th USING (event_type)
      GROUP BY c.event_type ORDER BY c.event_type""",
    "q_mix_waterfill" -> """
      WITH src AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS chars
                   FROM documents GROUP BY source),
      tot AS (SELECT CAST(sum(chars) AS BIGINT) AS tc,
                count(*) AS m FROM src),
      b AS (SELECT tc * 3 // 5 AS bb, m FROM tot),
      r AS (SELECT source, chars,
              row_number() OVER (ORDER BY chars, source) AS j,
              sum(chars) OVER (ORDER BY chars, source) AS p
            FROM src),
      f AS (SELECT r.*, bb, m,
              CASE WHEN p + (m - j) * chars <= bb THEN 1 ELSE 0 END AS fl
            FROM r CROSS JOIN b),
      s AS (SELECT CAST(sum(fl) AS BIGINT) AS ik,
              CAST(sum(chars * fl) AS BIGINT) AS pk FROM f),
      o AS (SELECT source, chars,
              CAST(j <= ik AS INT) AS kept,
              CASE WHEN j <= ik THEN chars
                   ELSE (bb - pk) // (m - ik) END AS alloc
            FROM f CROSS JOIN s)
      SELECT source, chars, kept, CAST(alloc AS BIGINT) AS alloc_chars,
             round(CAST(alloc AS DOUBLE) / chars, 6) AS keep_rate
      FROM o ORDER BY source""")

  /** Shared verbatim between Spark SQL and DuckDB: correlated scalar
    * subqueries (TPC-H Q17 shape) — Catalyst decorrelates them into
    * aggregate+join; the all-decimal threshold keeps both engines
    * integer-exact. */
  private val corrSubquerySql: String = """
    SELECT p_brand,
      CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DECIMAL(18,2)) AS sum_price,
      count(*) AS n_small
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5 *
          (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        < (SELECT sum(CAST(l2.l_quantity AS DECIMAL(18,2))) FROM lineitem l2
           WHERE l2.l_partkey = l.l_partkey)
    GROUP BY p_brand ORDER BY p_brand"""

  /** Shared verbatim — TPC-H Q2's correlated-scalar-min shape over
    * this schema (lineitem stands in for partsupp): European suppliers
    * offering a small part at its corpus-wide minimum price. The
    * correlated min is an exact double SELECTION (no arithmetic), so
    * both engines pick bit-identical values; Catalyst rewrites the
    * subquery into an aggregate + join. */
  private val sqlQ2: String = """
    SELECT DISTINCT p_partkey, s_name, l_extendedprice AS min_price
    FROM part, supplier, lineitem, nation, region
    WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE' AND p_size <= 15
      AND l_extendedprice = (SELECT min(l2.l_extendedprice)
                             FROM lineitem l2
                             WHERE l2.l_partkey = p_partkey)
    ORDER BY p_partkey, s_name"""

  /** Shared verbatim — TPC-H Q17's correlated-average shape, per
    * brand (the classic "small orders" revenue question). The inner
    * avg de-correlates to a per-partkey aggregate; money goes through
    * exact BIGINT cents on both engines. */
  private val sqlQ17: String = """
    SELECT p_brand, CAST(sum(c) AS BIGINT) AS sum_cents,
           count(*) AS n_lines
    FROM (
      SELECT p_brand, CAST(round(l1.l_extendedprice * 100) AS BIGINT) AS c
      FROM lineitem l1, part
      WHERE p_partkey = l1.l_partkey AND p_size <= 5
        AND l1.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                             FROM lineitem l2
                             WHERE l2.l_partkey = l1.l_partkey)) t
    GROUP BY p_brand
    ORDER BY p_brand"""

  /** Shared verbatim — TPC-H Q21's multi-EXISTS self-join shape:
    * suppliers who were the ONLY supplier with a returned line on a
    * finished multi-supplier order. EXISTS → left-semi, NOT EXISTS →
    * left-anti, both self-joins on l_orderkey. */
  private val sqlQ21: String = """
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name LIMIT 20"""

  /** Shared verbatim — TPC-H Q13's distribution-of-counts shape: LEFT
    * join so zero-order customers keep a row, aggregate per customer,
    * then aggregate the aggregate (the two-level groupBy Catalyst
    * plans as two exchanges, the second over the tiny count domain).
    * All-integer output. */
  private val sqlQ13: String = """
    SELECT CAST(c_count AS BIGINT) AS c_count, count(*) AS custdist
    FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey) t
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC"""

  /** Shared verbatim — TPC-H Q19's disjunctive-predicate shape: three
    * (brand, size, quantity) branches OR-ed across the join. The
    * per-branch p_brand equalities let both engines derive an IN
    * prefilter for the part scan; revenue rides exact per-row cents
    * (round of one IEEE product chain — identical op order on both
    * engines). */
  private val sqlQ19: String = """
    SELECT p_brand, count(*) AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             AS BIGINT)) AS BIGINT) AS rev_cents
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#7'  AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    GROUP BY p_brand
    ORDER BY p_brand"""

  /** Shared verbatim — TPC-H Q22's global-scalar + anti-join shape,
    * adapted to this schema (every synthetic customer has orders, so
    * "no orders at all" is the empty set; dormancy = no order since
    * 2000-01-01 keeps the anti-join selective). The above-average
    * test is integer-exact: cents·count > sum-of-cents avoids the
    * engine-ordered double average entirely. */
  private val sqlQ22: String = """
    WITH pos AS (SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS bc,
                        c_custkey, c_nationkey
                 FROM customer),
         thr AS (SELECT sum(bc) AS s, count(*) AS n FROM pos WHERE bc > 0)
    SELECT n_name, count(*) AS numcust,
           CAST(sum(bc) AS BIGINT) AS bal_cents
    FROM pos CROSS JOIN thr JOIN nation ON n_nationkey = c_nationkey
    WHERE bc * thr.n > thr.s
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND CAST(o_orderdate AS DATE) >= DATE '2000-01-01')
    GROUP BY n_name
    ORDER BY n_name"""

  /** Shared verbatim — TPC-DS Q64's repeat-purchase join-chain shape
    * (the same buyer appearing in consecutive years with a price
    * compare across the pair), adapted: per-(customer, year) revenue
    * self-joined on (custkey, year+1), kept where the second year
    * TRADED UP (exact integer cents compare), dimensioned through
    * customer→nation. The chain aggregates BEFORE the self-join, so
    * the join runs on the |customers|·|years| frame, never
    * fact×fact — the shape that survives 100 TB. */
  private val sqlDsRepeat: String = """
    WITH cy AS (
      SELECT o_custkey AS ck,
             CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS INT)
               AS yr,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS rev
      FROM orders GROUP BY 1, 2)
    SELECT n_name, a.yr AS yr1, count(*) AS n_repeat,
           CAST(sum(a.rev) AS DOUBLE) / 100.0 AS rev_y1,
           CAST(sum(b.rev) AS DOUBLE) / 100.0 AS rev_y2
    FROM cy a
    JOIN cy b ON b.ck = a.ck AND b.yr = a.yr + 1
    JOIN customer ON c_custkey = a.ck
    JOIN nation ON n_nationkey = c_nationkey
    WHERE b.rev > a.rev
    GROUP BY n_name, a.yr
    ORDER BY n_name, yr1"""

  /** Shared verbatim — TPC-DS Q31's share-growth shape (counties
    * whose sales share grows quarter over quarter), adapted: each
    * nation's share of total order revenue across 1996's first three
    * quarters, kept where the share STRICTLY increases both steps.
    * Shares compare exactly by cross-multiplication — widened to
    * DECIMAL(38,0) because cents·cents passes 2^63 at sf ≳ 15 — and
    * the reported shares are one mirrored IEEE division each. The
    * per-quarter totals join on EQUI-keys (t.qtr = side.qtr, chained
    * qtr+1 hops) so nothing plans cartesian — the constant-predicate
    * spelling (t1.qtr = 1) had no join key and flagged CARTESIAN in
    * PLANAUDIT. */
  private val sqlDsShare: String = """
    WITH q AS (
      SELECT n_name,
             CAST(EXTRACT(quarter FROM CAST(o_orderdate AS DATE)) AS INT)
               AS qtr,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS rev
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
      WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      GROUP BY 1, 2),
    t AS (SELECT qtr, CAST(sum(rev) AS BIGINT) AS tot FROM q GROUP BY 1)
    SELECT a.n_name,
           round(CAST(a.rev AS DOUBLE) / CAST(t1.tot AS DOUBLE), 9)
             AS share_q1,
           round(CAST(b.rev AS DOUBLE) / CAST(t2.tot AS DOUBLE), 9)
             AS share_q2,
           round(CAST(c.rev AS DOUBLE) / CAST(t3.tot AS DOUBLE), 9)
             AS share_q3
    FROM q a
    JOIN t t1 ON t1.qtr = a.qtr
    JOIN q b ON b.n_name = a.n_name AND b.qtr = a.qtr + 1
    JOIN t t2 ON t2.qtr = b.qtr
    JOIN q c ON c.n_name = b.n_name AND c.qtr = b.qtr + 1
    JOIN t t3 ON t3.qtr = c.qtr
    WHERE a.qtr = 1
      AND CAST(b.rev AS DECIMAL(38,0)) * t1.tot >
          CAST(a.rev AS DECIMAL(38,0)) * t2.tot
      AND CAST(c.rev AS DECIMAL(38,0)) * t2.tot >
          CAST(b.rev AS DECIMAL(38,0)) * t3.tot
    ORDER BY a.n_name"""

  /** Shared verbatim — TPC-DS Q22's hierarchy-ROLLUP report shape
    * (avg quantity at every level of the item hierarchy), adapted to
    * this schema's (brand, type) hierarchy over a two-year ship
    * window. Subtotal rows carry SQL-standard nulls in the rolled-up
    * columns in both engines; the average is one mirrored IEEE
    * division of exact BIGINT sum/count. */
  private val sqlDsRollup: String = """
    SELECT p_brand, p_type, count(*) AS n_lines,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*)
             AS avg_qty
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
    GROUP BY ROLLUP(p_brand, p_type)
    ORDER BY p_brand NULLS FIRST, p_type NULLS FIRST"""

  /** Shared verbatim — TPC-DS Q67's rollup-then-rank report shape:
    * revenue rolled up over (nation, priority), then the top
    * revenue rows RANKED WITHIN each nation partition (the window
    * runs over the aggregate's |nations|·|priorities| frame — never
    * the fact table). The null-partition row (grand total) ranks in
    * its own partition, same in both engines. */
  private val sqlDsTopRank: String = """
    WITH agg AS (
      SELECT n_name, o_orderpriority,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS rev_cents
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
      GROUP BY ROLLUP(n_name, o_orderpriority)),
    rk AS (
      SELECT n_name, o_orderpriority, rev_cents,
             CAST(rank() OVER (PARTITION BY n_name
               ORDER BY rev_cents DESC) AS BIGINT) AS rnk
      FROM agg)
    SELECT n_name, o_orderpriority, rev_cents, rnk
    FROM rk WHERE rnk <= 3
    ORDER BY n_name NULLS FIRST, rnk, o_orderpriority NULLS FIRST"""

  /** Shared verbatim — TPC-DS Q5/Q77's channel-union report shape:
    * per-"channel" slices aggregated independently, UNION ALL'd into
    * one frame, then totaled per (channel, year) WITH ROLLUP — the
    * cross-channel summary every DS-style report suite runs. Exact
    * cents throughout; EXTRACT(YEAR) cast to BIGINT on both engines. */
  private val sqlDsChannel: String = """
    WITH ch AS (
      SELECT 'express' AS channel,
             CAST(EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) AS BIGINT)
               AS yr,
             CAST(round(o_totalprice * 100) AS BIGINT) AS pc
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      UNION ALL
      SELECT 'standard',
             CAST(EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) AS BIGINT),
             CAST(round(o_totalprice * 100) AS BIGINT)
      FROM orders WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
    SELECT channel, yr, count(*) AS n_orders,
           CAST(sum(pc) AS DOUBLE) / 100.0 AS revenue
    FROM ch
    GROUP BY ROLLUP(channel, yr)
    ORDER BY channel NULLS FIRST, yr NULLS FIRST"""

  /** Shared verbatim — TPC-DS Q51's cumulative-channel-comparison
    * shape: two channel slices aggregated per month, FULL OUTER
    * joined on the month spine, then running totals over each side
    * compared row by row. The windows run over the |months| frame
    * (the aggregate), never the fact table; absent months coalesce
    * to zero so the cumulative stays exact. The lead flag is an
    * integer-exact cents compare (3·express vs 2·standard — the
    * channels' steady-state ratio, so the flag flips with the mix). */
  private val sqlDsCumulative: String = """
    WITH m AS (
      SELECT CAST(EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) * 100 +
                  EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) AS BIGINT)
               AS yr_mo,
             o_orderpriority IN ('1-URGENT', '2-HIGH') AS express,
             CAST(round(o_totalprice * 100) AS BIGINT) AS pc
      FROM orders),
    e AS (SELECT yr_mo, CAST(sum(pc) AS BIGINT) AS rev
          FROM m WHERE express GROUP BY yr_mo),
    s AS (SELECT yr_mo, CAST(sum(pc) AS BIGINT) AS rev
          FROM m WHERE NOT express GROUP BY yr_mo),
    j AS (SELECT COALESCE(e.yr_mo, s.yr_mo) AS yr_mo,
                 COALESCE(e.rev, 0) AS e_rev, COALESCE(s.rev, 0) AS s_rev
          FROM e FULL OUTER JOIN s ON e.yr_mo = s.yr_mo),
    c AS (SELECT yr_mo,
                 CAST(sum(e_rev) OVER (ORDER BY yr_mo
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_express,
                 CAST(sum(s_rev) OVER (ORDER BY yr_mo
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_standard
          FROM j)
    SELECT yr_mo, CAST(cum_express AS DOUBLE) / 100.0 AS cum_express,
           CAST(cum_standard AS DOUBLE) / 100.0 AS cum_standard,
           CAST(CASE WHEN cum_express * 3 > cum_standard * 2
                THEN 1 ELSE 0 END AS INT) AS express_leading
    FROM c ORDER BY yr_mo"""

  /** Shared verbatim — TPC-DS Q88's multi-band count report, written
    * SCAN-FUSED: the classic form runs eight scalar COUNT subqueries
    * (eight scans of the fact table); `COUNT(*) FILTER (WHERE ...)`
    * expresses the identical report as ONE scan with conditional
    * aggregation — the rewrite every Spark user applies to Q88 at
    * scale, and both engines evaluate the FILTER clauses identically.
    * One row out; map-side partials reduce 32 ways before the single
    * exchange. */
  private val sqlDsBands: String = """
    SELECT count(*) FILTER (WHERE o_totalprice < 50000
             AND o_orderpriority = '1-URGENT') AS b1,
           count(*) FILTER (WHERE o_totalprice < 50000
             AND o_orderpriority <> '1-URGENT') AS b2,
           count(*) FILTER (WHERE o_totalprice >= 50000
             AND o_totalprice < 100000
             AND o_orderpriority = '1-URGENT') AS b3,
           count(*) FILTER (WHERE o_totalprice >= 50000
             AND o_totalprice < 100000
             AND o_orderpriority <> '1-URGENT') AS b4,
           count(*) FILTER (WHERE o_totalprice >= 100000
             AND o_totalprice < 200000
             AND o_orderpriority = '1-URGENT') AS b5,
           count(*) FILTER (WHERE o_totalprice >= 100000
             AND o_totalprice < 200000
             AND o_orderpriority <> '1-URGENT') AS b6,
           count(*) FILTER (WHERE o_totalprice >= 200000
             AND o_orderpriority = '1-URGENT') AS b7,
           count(*) FILTER (WHERE o_totalprice >= 200000
             AND o_orderpriority <> '1-URGENT') AS b8
    FROM orders"""

  /** Shared verbatim — TPC-DS Q89's deviation-from-average report
    * shape: monthly revenue per priority, flagged when it deviates
    * more than 10% from that (priority, year)'s monthly average. The
    * window aggregates run over the |priorities|·|months| frame (the
    * grouped aggregate), never the fact table; the deviation filter
    * is an exact integer cross-multiplication (rc·nmo·10 vs yrc·11 /
    * yrc·9 — no float compare), and the reported ratio is one
    * mirrored IEEE division of exact BIGINTs. */
  private val sqlDsDeviation: String = """
    WITH m AS (
      SELECT o_orderpriority AS pri,
             CAST(EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) AS INT)
               AS yr,
             CAST(EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) AS INT)
               AS mo,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS rc
      FROM orders GROUP BY 1, 2, 3),
    w AS (SELECT pri, yr, mo, rc,
            CAST(sum(rc) OVER (PARTITION BY pri, yr) AS BIGINT) AS yrc,
            CAST(count(*) OVER (PARTITION BY pri, yr) AS BIGINT) AS nmo
          FROM m)
    SELECT pri, yr, mo, CAST(rc AS DOUBLE) / 100.0 AS revenue,
           CAST(rc * nmo AS DOUBLE) / yrc AS ratio_to_avg
    FROM w
    WHERE rc * nmo * 10 > yrc * 11 OR rc * nmo * 10 < yrc * 9
    ORDER BY pri, yr, mo"""

  /** Shared verbatim — TPC-DS Q34/Q73's frequent-buyer shape: the
    * per-customer order count banded by HAVING, then joined back to
    * the dimension for details. The band filter runs on the
    * AGGREGATE (|customers| rows), the join back is key-equi on the
    * dimension; both engines plan aggregate-then-join with the fact
    * table scanned once. */
  private val sqlDsFrequent: String = """
    WITH cnt AS (
      SELECT o_custkey, count(*) AS n_orders
      FROM orders
      GROUP BY o_custkey
      HAVING count(*) BETWEEN 15 AND 20)
    SELECT c_custkey, c_name, n_orders
    FROM customer JOIN cnt ON o_custkey = c_custkey
    ORDER BY n_orders DESC, c_custkey"""

  /** Shared verbatim — TPC-DS Q1's above-group-average outlier
    * shape: per-customer returned revenue compared against 1.2× the
    * customer's own nation's average. The per-customer aggregate
    * runs once over the fact table; the nation average runs over the
    * |customers| aggregate frame; the threshold compare is an exact
    * BIGINT cross-multiplication (5·ret·cnt > 6·sum — no float
    * compare), and the reported ratio is one mirrored IEEE division.
    * Deterministic top-20 (returned DESC, custkey tiebreak). */
  private val sqlDsReturns: String = """
    WITH ret AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
               AS BIGINT)) AS BIGINT) AS ret_cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag = 'R'
      GROUP BY o_custkey),
    nat AS (
      SELECT c_custkey, c_name, n_name, ret_cents
      FROM ret JOIN customer ON c_custkey = o_custkey
               JOIN nation ON n_nationkey = c_nationkey),
    st AS (
      SELECT n_name AS st_nation, CAST(sum(ret_cents) AS BIGINT) AS nat_sum,
             count(*) AS nat_cnt
      FROM nat GROUP BY n_name)
    SELECT c_custkey, c_name, n_name,
           CAST(ret_cents AS DOUBLE) / 100.0 AS returned,
           CAST(ret_cents * nat_cnt AS DOUBLE) / nat_sum AS ratio_to_avg
    FROM nat JOIN st ON n_name = st_nation
    WHERE ret_cents * nat_cnt * 5 > nat_sum * 6
    ORDER BY returned DESC, c_custkey LIMIT 20"""

  /** Shared verbatim — TPC-DS Q36's margin-rank-per-level report:
    * gross-margin ratio (margin = revenue − 60%-of-retail supply
    * cost, Q9's convention) over the (type, brand) ROLLUP hierarchy,
    * ranked WITHIN each grouping level, leaf rows scoped to their
    * parent type (the lochierarchy window partition that makes Q36
    * interesting). GROUPING() is materialized as an INT column in
    * the aggregate CTE so the window partitions on a plain column on
    * both engines; the rank's ORDER BY carries a full tiebreak so
    * equal ratios stay deterministic; margin/revenue are exact
    * per-row cents, the ratio one mirrored IEEE division. */
  private val sqlDsMargin: String = """
    WITH agg AS (
      SELECT p_type, p_brand,
             CAST(GROUPING(p_type) * 2 + GROUPING(p_brand) AS INT) AS lvl,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                 AS BIGINT)
               - CAST(round(l_extendedprice * 0.6 * 100) AS BIGINT))
               AS BIGINT) AS margin_cents,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
               AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY ROLLUP(p_type, p_brand)),
    r AS (
      SELECT p_type, p_brand, lvl,
             CAST(margin_cents AS DOUBLE) / rev_cents AS margin_ratio,
             CAST(rank() OVER (
               PARTITION BY lvl, CASE WHEN lvl = 0 THEN p_type END
               ORDER BY CAST(margin_cents AS DOUBLE) / rev_cents,
                        p_type NULLS FIRST, p_brand NULLS FIRST)
               AS BIGINT) AS rk
      FROM agg)
    SELECT p_type, p_brand, lvl, margin_ratio, rk
    FROM r WHERE rk <= 3
    ORDER BY lvl, p_type NULLS FIRST, rk, p_brand NULLS FIRST"""

  /** Shared verbatim — TPC-DS Q65's under-performer shape: per
    * (supplier, part) revenue compared against the supplier's OWN
    * average pair revenue; keep pairs at or below half the average.
    * Two stacked aggregations (pair revenue, then supplier marginals
    * over the pair frame — the second agg runs on the already-reduced
    * frame, never the facts) and the threshold is an exact integer
    * cross-multiplication (pc · n_pairs · 2 ≤ total), so no float
    * enters until the display division; deterministic LIMIT via the
    * full (revenue, s_name, p_name) tiebreak. */
  private val sqlDsMinavg: String = """
    WITH pr AS (
      SELECT l_suppkey, l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
               AS BIGINT)) AS BIGINT) AS pc
      FROM lineitem GROUP BY l_suppkey, l_partkey),
    sa AS (
      SELECT l_suppkey, CAST(sum(pc) AS BIGINT) AS total_pc,
             count(*) AS n_pairs
      FROM pr GROUP BY l_suppkey)
    SELECT s_name, p_name, CAST(pc AS DOUBLE) / 100.0 AS revenue
    FROM pr JOIN sa USING (l_suppkey)
         JOIN supplier ON s_suppkey = l_suppkey
         JOIN part ON p_partkey = l_partkey
    WHERE pc * n_pairs * 2 <= total_pc
    ORDER BY revenue, s_name, p_name LIMIT 20"""

  /** Shared verbatim — TPC-DS Q14's cross-channel INTERSECT shape:
    * the item set sold in ALL THREE "channels" (1996 orders, 1997
    * orders, urgent-priority orders stand in for store/catalog/web),
    * then the revenue report runs ONLY over the intersected set. Each
    * channel reduces to a DISTINCT item list FIRST (hash aggregate,
    * map-side combinable), the INTERSECTs plan as semi-joins over
    * those already-reduced lists (never fact×fact), and the final
    * report joins the ≤|parts| common set back to the facts once —
    * the same three-phase plan the real Q14 wants at scale. */
  private val sqlDsIntersect: String = """
    WITH y96 AS (SELECT DISTINCT l_partkey AS pk
                 FROM lineitem JOIN orders ON o_orderkey = l_orderkey
                 WHERE year(CAST(o_orderdate AS DATE)) = 1996),
    y97 AS (SELECT DISTINCT l_partkey AS pk
            FROM lineitem JOIN orders ON o_orderkey = l_orderkey
            WHERE year(CAST(o_orderdate AS DATE)) = 1997),
    urgent AS (SELECT DISTINCT l_partkey AS pk
               FROM lineitem JOIN orders ON o_orderkey = l_orderkey
               WHERE o_orderpriority = '1-URGENT'),
    common AS (SELECT pk FROM y96
               INTERSECT SELECT pk FROM y97
               INTERSECT SELECT pk FROM urgent)
    SELECT p_brand, count(*) AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
    FROM lineitem JOIN common ON l_partkey = pk
         JOIN part ON p_partkey = l_partkey
    GROUP BY p_brand
    ORDER BY p_brand"""

  /** Shared verbatim — TPC-DS Q23's best-customers × frequent-items
    * shape (with the returns angle riding l_returnflag): customers
    * whose lifetime spend clears HALF the best customer's total
    * (exact integer cross-multiply against a 1-row MAX scalar — both
    * engines broadcast it), items appearing in ≥ 4 distinct orders,
    * then the RETURNED revenue of those customers on those items per
    * priority. Both qualifying sets are aggregate-first (customer
    * totals over |customers|, item frequencies over |parts|) and come
    * back as semi-join-shaped equi-joins — the fact table is scanned
    * twice total (once per qualifying aggregate family), never
    * squared. */
  private val sqlDsBestfreq: String = """
    WITH ct AS (SELECT o_custkey,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS tc
                FROM orders GROUP BY o_custkey),
    best AS (SELECT o_custkey FROM ct
             WHERE tc * 2 > (SELECT max(tc) FROM ct)),
    freq AS (SELECT l_partkey FROM lineitem
             GROUP BY l_partkey
             HAVING count(DISTINCT l_orderkey) >= 4)
    SELECT o_orderpriority, count(*) AS n_lines,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             AS BIGINT)) AS DOUBLE) / 100.0 AS returned_revenue
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
         JOIN best USING (o_custkey)
         JOIN freq USING (l_partkey)
    WHERE l_returnflag = 'R'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

  /** Shared verbatim — TPC-DS Q74's year-over-year customer-growth
    * shape: per-customer totals for two adjacent years self-joined on
    * the customer, keep customers whose spend grew > 1.5× (exact
    * integer cross-multiply — no float enters the filter), rank by
    * the growth ratio (one mirrored IEEE division of exact cents;
    * unique c_name completes the total order). Both year frames come
    * from ONE aggregate of orders — the self-join runs on the
    * |customers|-sized frame, never the facts. */
  private val sqlDsGrowth: String = """
    WITH y AS (SELECT o_custkey, year(CAST(o_orderdate AS DATE)) AS yr,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS tc
               FROM orders
               WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
               GROUP BY 1, 2)
    SELECT c_name,
           CAST(a.tc AS DOUBLE) / 100.0 AS spend_1996,
           CAST(b.tc AS DOUBLE) / 100.0 AS spend_1997,
           round(CAST(b.tc AS DOUBLE) / a.tc, 6) AS growth
    FROM y a JOIN y b ON a.o_custkey = b.o_custkey
         JOIN customer ON c_custkey = a.o_custkey
    WHERE a.yr = 1996 AND b.yr = 1997 AND b.tc * 2 > a.tc * 3
    ORDER BY growth DESC, c_name LIMIT 20"""

  /** Shared verbatim — TPC-DS Q99's lag-band report: one pass of the
    * order⨝line facts, four FILTER cells banding the ship delay
    * against order-date + INTERVAL bounds (pure integer date math —
    * no engine-specific datediff signature enters the string). */
  private val sqlDsShipdelay: String = """
    WITH f AS (SELECT o_orderpriority,
                      CAST(l_shipdate AS DATE) AS sd,
                      CAST(o_orderdate AS DATE) AS od
               FROM lineitem JOIN orders ON o_orderkey = l_orderkey)
    SELECT o_orderpriority,
           count(*) FILTER (WHERE sd <= od + INTERVAL 30 DAY) AS d30,
           count(*) FILTER (WHERE sd > od + INTERVAL 30 DAY
                              AND sd <= od + INTERVAL 60 DAY) AS d60,
           count(*) FILTER (WHERE sd > od + INTERVAL 60 DAY
                              AND sd <= od + INTERVAL 90 DAY) AS d90,
           count(*) FILTER (WHERE sd > od + INTERVAL 90 DAY) AS d90plus,
           count(*) AS n_lines
    FROM f GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** Shared verbatim — TPC-DS Q73/Q34's trips-per-customer band
    * report: one fact aggregation to |customers| rows, an integer
    * BETWEEN band filter on the count, then the dim join — the fact
    * table is touched exactly once and the join input is already
    * band-filtered (far below |customers|). */
  private val sqlDsTripcount: String = """
    WITH t AS (SELECT o_custkey, count(*) AS n_trips
               FROM orders WHERE o_orderstatus <> 'F'
               GROUP BY o_custkey)
    SELECT c_custkey, c_name, n_trips
    FROM t JOIN customer ON c_custkey = o_custkey
    WHERE n_trips BETWEEN 8 AND 10
    ORDER BY n_trips DESC, c_custkey"""

  /** Shared verbatim — TPC-DS Q51's two-series cumulative compare:
    * both "channels" (urgent-class vs normal-class priorities) reduce
    * to the month grain in ONE conditional-sum fact pass, the running
    * sums ride the ~|months| calendar frame (bounded window class),
    * and the report keeps months where the urgent channel's
    * cumulative revenue leads. Cents stay exact BIGINT end-to-end;
    * the lead ratio is the single mirrored division. */
  private val sqlDsChannelcum: String = """
    WITH m AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                 AS BIGINT) AS ym,
                      sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN CAST(round(o_totalprice * 100) AS BIGINT)
                            ELSE 0 END) AS uc,
                      sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0
                            ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                            END) AS nc
               FROM orders GROUP BY 1),
    c AS (SELECT ym,
                 sum(uc) OVER (ORDER BY ym
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cu,
                 sum(nc) OVER (ORDER BY ym
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn
          FROM m)
    SELECT ym, CAST(cu AS DOUBLE) / 100.0 AS cum_urgent,
           CAST(cn AS DOUBLE) / 100.0 AS cum_normal,
           round(CAST(cu AS DOUBLE) / CAST(cn AS DOUBLE), 6) AS lead_ratio,
           cu > cn AS urgent_leads
    FROM c ORDER BY ym"""

  /** Shared verbatim — TPC-DS Q88's time-band census: eight 3-hour
    * traffic cells from ONE fact scan (conditional counts, never
    * eight scans or a self-join union); everything is exact BIGINT. */
  private val sqlDsTimebands: String = """
    SELECT count(*) FILTER (WHERE hour(ts) < 3) AS h00_03,
           count(*) FILTER (WHERE hour(ts) >= 3 AND hour(ts) < 6) AS h03_06,
           count(*) FILTER (WHERE hour(ts) >= 6 AND hour(ts) < 9) AS h06_09,
           count(*) FILTER (WHERE hour(ts) >= 9 AND hour(ts) < 12) AS h09_12,
           count(*) FILTER (WHERE hour(ts) >= 12 AND hour(ts) < 15) AS h12_15,
           count(*) FILTER (WHERE hour(ts) >= 15 AND hour(ts) < 18) AS h15_18,
           count(*) FILTER (WHERE hour(ts) >= 18 AND hour(ts) < 21) AS h18_21,
           count(*) FILTER (WHERE hour(ts) >= 21) AS h21_24,
           count(*) AS total
    FROM events"""

  /** Shared verbatim — TPC-DS Q90's am/pm ratio: two conditional
    * counts per type from one scan; the ratio is the only float op
    * (one IEEE division of exact BIGINT counts, mirrored). */
  private val sqlDsAmpm: String = """
    SELECT event_type,
           count(*) FILTER (WHERE hour(ts) < 12) AS am_cnt,
           count(*) FILTER (WHERE hour(ts) >= 12) AS pm_cnt,
           round(CAST(count(*) FILTER (WHERE hour(ts) < 12) AS DOUBLE)
             / count(*) FILTER (WHERE hour(ts) >= 12), 6) AS am_pm_ratio
    FROM events
    GROUP BY event_type ORDER BY event_type"""

  /** Shared verbatim — TPC-DS Q93's returns-adjusted spend: gross and
    * returned revenue from ONE conditional-sum pass per customer
    * (never a second fact scan), net = gross − returned in exact
    * cents, ordered by the integer net before any display division. */
  private val sqlDsNetloss: String = """
    WITH per AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
               AS BIGINT)) AS BIGINT) AS gross,
             CAST(sum(CASE WHEN l_returnflag = 'R'
               THEN CAST(round(l_extendedprice * (1 - l_discount) * 100)
                 AS BIGINT) ELSE 0 END) AS BIGINT) AS returned
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      GROUP BY o_custkey)
    SELECT o_custkey,
           CAST(gross AS DOUBLE) / 100.0 AS gross_spend,
           CAST(returned AS DOUBLE) / 100.0 AS returned_spend,
           CAST(gross - returned AS DOUBLE) / 100.0 AS net_spend
    FROM per
    ORDER BY gross - returned DESC, o_custkey LIMIT 20"""

  /** Shared verbatim — TPC-DS Q65's below-average-performer shape:
    * per-(brand, part) revenue from one fact pass, brands' totals
    * from a re-aggregation of that frame (never a second fact scan),
    * and the "≤ 70% of the brand average" filter cross-multiplied
    * into exact BIGINT cents (rc·bn·10 ≤ brc·7 — no float average
    * ever materializes; magnitudes stay < 2^53 with headroom at the
    * 10× probe). Both engines plan rev as one aggregate reused by
    * the join and the brand rollup. */
  private val sqlDsBelowavg: String = """
    WITH rev AS (
      SELECT p_brand, l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
               AS BIGINT)) AS BIGINT) AS rc
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY p_brand, l_partkey),
    b AS (SELECT p_brand, CAST(sum(rc) AS BIGINT) AS brc,
            count(*) AS bn FROM rev GROUP BY p_brand)
    SELECT rev.p_brand, l_partkey,
           CAST(rc AS DOUBLE) / 100.0 AS revenue,
           round(CAST(bn * rc AS DOUBLE) / brc, 6) AS vs_avg
    FROM rev JOIN b ON rev.p_brand = b.p_brand
    WHERE rc * bn * 10 <= brc * 7
    ORDER BY rev.p_brand, l_partkey"""

  /** Shared verbatim — TPC-DS Q47's monthly-deviation shape: monthly
    * brand revenue vs the brand's own year average, with the
    * neighboring months (lag/lead) carried alongside — the
    * seasonality-outlier report. The deviation predicate is an exact
    * BIGINT cross-multiplication (rc·n·10 vs s·11 / s·9 — no float
    * compare can flip row membership); ratio and revenues are
    * mirrored IEEE divisions on the way out. Both engines aggregate
    * the fact table once, then run bounded per-(brand, yr) /
    * per-brand calendar windows over the |brands|×|months| frame. */
  private val sqlDsMonthdev: String = """
    WITH m AS (
      SELECT p_brand AS brand,
             CAST(EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) AS INT)
               AS yr,
             CAST(EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) AS INT)
               AS mo,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
               * 100) AS BIGINT)) AS BIGINT) AS rc
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2, 3),
    w AS (
      SELECT brand, yr, mo, rc,
             CAST(sum(rc) OVER (PARTITION BY brand, yr) AS BIGINT) AS s,
             CAST(count(*) OVER (PARTITION BY brand, yr) AS BIGINT) AS n,
             lag(rc) OVER (PARTITION BY brand ORDER BY yr, mo)
               AS prev_rc,
             lead(rc) OVER (PARTITION BY brand ORDER BY yr, mo)
               AS next_rc
      FROM m)
    SELECT brand, yr, mo,
           CAST(rc AS DOUBLE) / 100.0 AS revenue,
           CAST(rc * n AS DOUBLE) / s AS ratio_to_avg,
           CAST(prev_rc AS DOUBLE) / 100.0 AS prev_revenue,
           CAST(next_rc AS DOUBLE) / 100.0 AS next_revenue
    FROM w
    WHERE prev_rc IS NOT NULL AND next_rc IS NOT NULL
      AND (rc * n * 10 > s * 11 OR rc * n * 10 < s * 9)
    ORDER BY brand, yr, mo"""

  /** Shared verbatim — TPC-H Q4's EXISTS-over-a-date-window shape:
    * orders of one quarter counted per priority when ANY of their
    * lines shipped late (this schema has no commit/receipt dates, so
    * "late" = shipped more than 60 days after the order date — same
    * correlated-EXISTS-with-date-predicates plan shape). Both
    * engines plan the EXISTS as a left-semi on o_orderkey. */
  private val sqlQ4: String = """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o_orderdate AS DATE) < DATE '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND CAST(l_shipdate AS DATE) >
                        CAST(o_orderdate AS DATE) + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

  /** Shared verbatim — TPC-H Q15's view-max shape: per-supplier
    * revenue over one quarter, keep the supplier(s) hitting the
    * global maximum. The revenue CTE is the inlined "view"; the max
    * is a 1-row scalar subquery both engines broadcast. Revenue rides
    * exact per-row cents so the max compare is integer-exact. */
  private val sqlQ15: String = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
               AS BIGINT)) AS BIGINT) AS total_rev
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_rev
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_rev = (SELECT max(total_rev) FROM revenue)
    ORDER BY s_suppkey"""

  /** Shared verbatim — TPC-H Q20's nested-IN shape (no partsupp table
    * in this schema, so availability becomes shipped share): suppliers
    * who, for some large part (the inner IN), shipped more than 10% of
    * that part's total quantity. The share compare is integer-exact
    * (×10 of integer-valued quantity sums) — no 0.1 double literal
    * to disagree on. */
  private val sqlQ20: String = """
    WITH tot AS (SELECT l_partkey, sum(l_quantity) AS tq
                 FROM lineitem
                 WHERE l_partkey IN (SELECT p_partkey FROM part
                                     WHERE p_size >= 45)
                 GROUP BY l_partkey)
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l JOIN tot ON l.l_partkey = tot.l_partkey
      GROUP BY l.l_suppkey, l.l_partkey, tot.tq
      HAVING sum(l.l_quantity) * 10 > tq)
    ORDER BY s_suppkey"""

  /** Shared verbatim — TPC-H Q7's volume-shipping shape: revenue
    * between one nation pair (both directions) per ship year. The
    * symmetric OR over (n1, n2) is the classic two-branch disjunction
    * both engines push into the nation dims; revenue rides exact
    * per-row cents so the sums are integer-identical. */
  private val sqlQ7: String = """
    SELECT supp_nation, cust_nation, yr, count(*) AS n_lines,
           CAST(sum(vol) AS BIGINT) AS rev_cents
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS yr,
                 CAST(round(l_extendedprice * (1 - l_discount) * 100)
                   AS BIGINT) AS vol
          FROM supplier, lineitem, orders, customer, nation n1, nation n2
          WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
            AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
            AND c_nationkey = n2.n_nationkey
            AND ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
              OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
            AND CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01'
                                             AND DATE '1997-12-31') shipping
    GROUP BY supp_nation, cust_nation, yr
    ORDER BY supp_nation, cust_nation, yr"""

  /** Shared verbatim — TPC-H Q8's market-share shape: one nation's
    * share of PROMO-part revenue sold into one region, per order
    * year. The share is returned as (numerator, denominator) cents
    * sums — a CASE split in one aggregation pass — instead of the
    * engine-ordered double division. */
  private val sqlQ8: String = """
    SELECT yr,
           CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol
                         ELSE 0 END) AS BIGINT) AS nation_cents,
           CAST(sum(vol) AS BIGINT) AS total_cents
    FROM (SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
                 CAST(round(l_extendedprice * (1 - l_discount) * 100)
                   AS BIGINT) AS vol,
                 n2.n_name AS supp_nation
          FROM part, supplier, lineitem, orders, customer,
               nation n1, nation n2, region
          WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
            AND l_orderkey = o_orderkey AND o_custkey = c_custkey
            AND c_nationkey = n1.n_nationkey
            AND n1.n_regionkey = r_regionkey
            AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
            AND p_type = 'PROMO') allrev
    GROUP BY yr ORDER BY yr"""

  /** Shared verbatim — TPC-H Q10's returned-item ranking: top 20
    * customers by revenue of returned lines ordered in one quarter.
    * The LIMIT is deterministic (rev DESC, then the unique custkey);
    * revenue rides exact per-row cents. */
  private val sqlQ10: String = """
    SELECT c_custkey, c_name, n_name, count(*) AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             AS BIGINT)) AS BIGINT) AS rev_cents
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, n_name
    ORDER BY rev_cents DESC, c_custkey
    LIMIT 20"""

  /** Shared verbatim — TPC-H Q12's CASE-counting shape, adapted to
    * this schema (no shipmode/commitdate): per line status, count
    * late-shipped lines (>30 days after the order date) of one ship
    * year split into high/low order-priority buckets. All-integer
    * output. */
  private val sqlQ12: String = """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE CAST(l_shipdate AS DATE) >
          CAST(o_orderdate AS DATE) + INTERVAL 30 DAY
      AND CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
    GROUP BY l_linestatus
    ORDER BY l_linestatus"""

  /** Shared verbatim — TPC-H Q6's forecast-revenue shape: the pure
    * scan-filter-aggregate. Revenue = price × discount per line, in
    * exact cents (one rounded IEEE product chain per row). */
  private val sqlQ6: String = """
    SELECT count(*) AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * l_discount * 100)
             AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24"""

  /** Shared verbatim — TPC-H Q9's product-profit shape, adapted to
    * this schema (no partsupp: supply cost = 60% of p_retailprice).
    * Profit per supplier nation per order year over a p_name LIKE
    * filter. Quantity rides round-then-cast (DuckDB rounds on
    * double→BIGINT where Spark truncates; the explicit round makes
    * the value integer-exact before either engine casts). */
  private val sqlQ9: String = """
    SELECT n_name, yr, CAST(sum(profit) AS BIGINT) AS profit_cents
    FROM (SELECT n_name,
                 CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
                 CAST(round(l_extendedprice * (1 - l_discount) * 100)
                   AS BIGINT)
                 - CAST(round(p_retailprice * 60) AS BIGINT)
                   * CAST(round(l_quantity) AS BIGINT) AS profit
          FROM lineitem, part, orders, supplier, nation
          WHERE p_partkey = l_partkey AND o_orderkey = l_orderkey
            AND s_suppkey = l_suppkey AND s_nationkey = n_nationkey
            AND p_name LIKE '%widget%') profit
    GROUP BY n_name, yr
    ORDER BY n_name, yr"""

  /** Shared verbatim — TPC-H Q11's important-stock shape, adapted
    * (no partsupp: part value = lineitem revenue). HAVING over two
    * scalar subqueries; the 1.25×-mean threshold is the
    * integer-exact cross-multiplication value·n·4 > 5·total and is
    * scale-free (relative to the mean, not an absolute fraction —
    * the original's 0.0001·total only works at one corpus size). */
  private val sqlQ11: String = """
    WITH t AS (SELECT l_partkey,
                      CAST(round(l_extendedprice * 100) AS BIGINT) AS vc
               FROM lineitem)
    SELECT l_partkey, CAST(sum(vc) AS BIGINT) AS value_cents
    FROM t GROUP BY l_partkey
    HAVING sum(vc) * (SELECT count(DISTINCT l_partkey) FROM t) * 4
           > 5 * (SELECT sum(vc) FROM t)
    ORDER BY value_cents DESC, l_partkey"""

  /** Shared verbatim: correlated EXISTS → semi join, NOT EXISTS →
    * anti join, aggregated per priority. */
  private val existsSubquerySql: String = """
    WITH e AS (SELECT o_orderpriority, count(*) AS n_disc
               FROM orders o
               WHERE EXISTS (SELECT 1 FROM lineitem
                             WHERE l_orderkey = o.o_orderkey
                               AND l_discount > 0.05)
               GROUP BY o_orderpriority),
    ne AS (SELECT o_orderpriority, count(*) AS n_empty
           FROM orders o
           WHERE NOT EXISTS (SELECT 1 FROM lineitem
                             WHERE l_orderkey = o.o_orderkey)
           GROUP BY o_orderpriority),
    p AS (SELECT DISTINCT o_orderpriority FROM orders)
    SELECT p.o_orderpriority,
           CAST(coalesce(e.n_disc, 0) AS BIGINT) AS n_disc,
           CAST(coalesce(ne.n_empty, 0) AS BIGINT) AS n_empty
    FROM p LEFT JOIN e USING (o_orderpriority)
           LEFT JOIN ne USING (o_orderpriority)
    ORDER BY o_orderpriority"""

  /** Shared verbatim: hand-picked grouping lattice + grouping()
    * markers; money through exact cents. */
  private val groupingSetsSql: String = """
    SELECT coalesce(l_returnflag, 'ALL') AS rf,
           coalesce(l_linestatus, 'ALL') AS ls,
           CAST(grouping(l_returnflag) AS INT) AS g_rf,
           CAST(grouping(l_linestatus) AS INT) AS g_ls,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), ())
    ORDER BY g_rf, g_ls, rf, ls"""

  /** Shared verbatim: percent_rank/cume_dist are ratios of integer
    * ranks/peer counts — exact divisions, identical on any engine.
    * round(·, 9) only normalizes display width (same input bits). */
  private val windowCumeSql: String = """
    WITH c AS (SELECT o_orderkey, o_orderpriority AS pri,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders)
    SELECT o_orderkey, pri,
           round(percent_rank() OVER (PARTITION BY pri ORDER BY cents), 9)
             AS pr,
           round(cume_dist() OVER (PARTITION BY pri ORDER BY cents), 9)
             AS cd,
           CAST(ntile(10) OVER (PARTITION BY pri
             ORDER BY cents, o_orderkey) AS INT) AS decile
    FROM c ORDER BY o_orderkey"""

  // ======================================================== ETL rows 1-12

  private def etlQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // 1: projection + contains/startswith/isin filters — all three push
    // to the parquet scan (PushedFilters) so a 100 TB scan reads only
    // matching row groups and 4 columns.
    "q_project_filter" -> ((s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
        .filter(col("o_orderpriority").contains("IGH") &&
          !col("o_orderstatus").startsWith("F") &&
          col("o_orderstatus").isin("O", "P"))
        .orderBy("o_orderkey")
    }),

    // 2: anti-join on ALL columns (cross-batch dedup); two "batches"
    // carved deterministically from orders.
    "q_antijoin_all" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_orderkey") % 3 === 0)
      val b = o.filter(col("o_orderkey") % 2 === 0)
      a.antiJoinAll(b)
        .select(col("o_orderkey"), col("o_orderstatus"),
          to_date(col("o_orderdate")).as("o_orderdate"))
        .orderBy("o_orderkey")
    }),

    // 3: first-match (dedup-first) left join — lookup deduped to one
    // row per key before joining so the join cannot fan out. The
    // lookup here is fact-sized, so no broadcast (shuffle join).
    "q_first_match_join" -> ((s, dir) => {
      val lookup = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_partkey"),
          col("l_linenumber"), col("l_quantity"))
      t(s, dir, "orders")
        .firstMatchJoin(lookup,
          Seq("o_orderkey"),
          Seq(col("l_linenumber"), col("l_partkey"), col("l_quantity")),
          broadcastLookup = false)
        .select(col("o_orderkey"), col("l_partkey"),
          col("l_quantity").cast("long").as("l_quantity"))
        .orderBy("o_orderkey")
    }),

    // 4: two-level lookup with fallback — fine (partkey, suppkey) else
    // coarse (partkey), enriched value = coalesce(fine, coarse).
    "q_coalesce_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val lookup = li.filter(col("l_suppkey") % 2 === 0)
        .select("l_partkey", "l_suppkey", "l_extendedprice")
      li.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        .coalesceLookup(lookup, Seq("l_partkey", "l_suppkey"),
          Seq("l_partkey"), "l_extendedprice", Seq(col("l_extendedprice")))
        .select(col("l_orderkey"), col("l_linenumber"),
          // raw parquet double passthrough — both engines read the
          // same bits; any decimal cast here reintroduces ambiguity
          col("l_extendedprice").as("lookup_price"))
        .orderBy("l_orderkey", "l_linenumber", "lookup_price")
    }),

    // 5: date parse (reference's sliced JS-date format) + tz offset +
    // month filter + EDAD day-diff bucketing.
    "q_date_derive" -> ((s, dir) => {
      // Early month prefilter (guide §2.2 — filter before the
      // expensive work): fecha_fact is o_orderdate round-tripped
      // through format→parse(+5h)→to_date, and midnight+5h never
      // crosses a day boundary, so month(fecha_fact) ≡
      // month(o_orderdate). Filtering the source first means only
      // 1/12 of rows pay the join + per-row format/parse; the
      // original post-parse filter stays (provable no-op, keeps the
      // checked semantics on the parsed value).
      val o = t(s, dir, "orders")
        .filter(month(col("o_orderdate")) === 3)
      // fanned (guide §2.5): the broadcast probe and the per-row date
      // formatting + reference-format parse below otherwise run in
      // the scan's single task
      val l = Tables.fanned(t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_shipdate"))
      val j = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .select(o("o_orderkey").as("factura"), l("l_linenumber").as("linea"),
          date_format(o("o_orderdate"), "EEE MMM dd yyyy HH:mm:ss").as("fstr"),
          date_format(l("l_shipdate"), "EEE MMM dd yyyy HH:mm:ss").as("sstr"))
      val parsed = j
        .withColumn("fecha_fact", to_date(Dates.parseRefDate(col("fstr"), 5)))
        .withColumn("fec_servicio", to_date(Dates.parseRefDate(col("sstr"), 5)))
        .filter(month(col("fecha_fact")) === 3)
        .withColumn("dias", datediff(col("fec_servicio"), col("fecha_fact")))
      parsed.select(col("factura"), col("linea"), col("fecha_fact"),
          col("fec_servicio"), Dates.edadNum(col("dias")).as("edad1"),
          Dates.edadUnit(col("dias")).as("edad2"))
        .orderBy("factura", "linea", "fec_servicio", "edad1")
    }),

    // 6: the chained CASE-mask validation column (C4/C7/C8/HD/ARI/C5/RM
    // rules) incl. the marker-invoice semi-join invalidation.
    "q_conditional_update" -> ((s, dir) => {
      // window-form marker: sendas (an unpersisted join) derives once
      val base = Rules.semiMarkerWindow(sendas(s, dir), "factura",
        col("servicio") === "132", "has_marker")
      val ce = col("ambito") === "CONSULTA EXTERNA"
      val inval = Seq("285", "385", "384", "284", "502")
      val out = Rules.chainUpdate(base, "validacion", lit(0L), Seq(
        (ce && col("tipologia") === "C4" && col("servicio") =!= "502", lit(1L)),
        (ce && col("tipologia") === "C4" && col("servicio") === "502", col("cant")),
        (ce && col("tipologia") === "C4" && col("has_marker") &&
          col("servicio").isin(inval: _*), lit(0L)),
        (col("tipologia") === "C7", col("cant")),
        (ce && col("tipologia") === "C8", col("cant")),
        (col("tipologia") === "HD", lit(1L)),
        (col("tipologia") === "ARI", lit(1L)),
        (col("tipologia") === "C5", lit(0L)),
        (col("tipologia") === "RM", col("cant"))))
      out.select("factura", "linea", "tipologia", "validacion")
        .orderBy("factura", "linea", "tipologia", "validacion")
    }),

    // 7: per-group capped marking (validacion_Qx): ≤3 per (factura,
    // fecha), ≤2 per tipologia sub-group, scanning tipologia desc.
    "q_capped_group_mark" -> ((s, dir) => {
      sendas(s, dir)
        .filter(col("tipologia").startsWith("Qx") && col("cant") > 0)
        .cappedGroupMark(Seq("factura", "fec_servicio"), "tipologia",
          Seq(col("tipologia").desc, col("linea").asc), 3, 2, "validacion")
        .select("factura", "fec_servicio", "linea", "tipologia", "validacion")
        .orderBy("factura", "fec_servicio", "linea", "tipologia", "validacion")
    }),

    // 8: first-per-key flag (Qx1 rule): first (factura, servicio) row
    // by linea gets 1, the rest 0.
    "q_dedup_mark" -> ((s, dir) => {
      sendas(s, dir).filter(col("tipologia") === "Qx1")
        .dedupMarkFirst(Seq("factura", "servicio"), Seq(col("linea")),
          "validacion")
        .select("factura", "servicio", "linea", "validacion")
        .orderBy("factura", "servicio", "linea", "validacion")
    }),

    // 9: left-semi + left-anti composition — invoices that do / don't
    // contain the marker service.
    "q_semi_anti" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val marker = t(s, dir, "lineitem")
        .filter(col("l_partkey") % 1000 === 132)
        .select(col("l_orderkey"))
      val has = o.join(marker, o("o_orderkey") === marker("l_orderkey"),
        "left_semi").withColumn("tag", lit("has"))
      val none = o.join(marker, o("o_orderkey") === marker("l_orderkey"),
        "left_anti").withColumn("tag", lit("none"))
      has.unionByName(none).select("o_orderkey", "tag").orderBy("o_orderkey")
    }),

    // 10: gap-based stateful marking (validacion_C5): first event per
    // (user, type) or >3 days since the last MARKED event.
    "q_gap_mark" -> ((s, dir) => {
      t(s, dir, "events")
        .gapMark(Seq("user_id", "event_type"), "ts", "event_id", 3,
          "validacion")
        .select("event_id", "validacion")
        .orderBy("event_id")
    }),

    // 11: compound-particle full-name split (separar_nombres). Names
    // are derived from document tokens with the reference's particles
    // injected so every dispatch arm is exercised.
    "q_name_split" -> ((s, dir) => {
      val name = docFullName
      val d = docs(s, dir)
        .select(col("doc_id"), name.as("nombre_completo"))
        .withColumn("p", Names.splitFullName(col("nombre_completo")))
      d.select(col("doc_id"), col("nombre_completo"),
          col("p.nombre1").as("nombre1"), col("p.nombre2").as("nombre2"),
          col("p.apellido1").as("apellido1"), col("p.apellido2").as("apellido2"))
        .orderBy("doc_id")
    }),

    // 63: the reference's SECOND output composed end-to-end — rows
    // whose bases lookup misses (ips null after a first-match left
    // join) → distinct (DOC, NOMBRE) → compound-particle name split →
    // the comprobar publish projection, exactly the reference's
    // comprobar.csv flow (capital_sendas.py:273-318, :602-603).
    // Names derive from documents as in q_name_split; the bases
    // lookup is orders keyed by customer (dedup-first before the
    // join, like the reference's drop_duplicates(subset='documento')).
    "q_comprobar" -> ((s, dir) => {
      val name = docFullName
      val capital = docs(s, dir)
        .select(col("doc_id").as("doc"), name.as("nombre_completo"))
      // partial-coverage lookup (reference: dfBases covers only some
      // patients) — without it every doc matches and comprobar is
      // empty at every scale factor
      val bases = t(s, dir, "orders")
        .filter(col("o_custkey") % 5 < 3)
        .select(col("o_custkey").as("doc"), col("o_orderkey").as("ips"))
      val comprobar = capital
        .firstMatchJoin(bases, Seq("doc"), Seq(col("ips")))
        .filter(col("ips").isNull)
        .select(col("doc"), col("nombre_completo")).distinct()
        .withColumn("p", Names.splitFullName(col("nombre_completo")))
        .select(col("doc"), col("p.nombre1").as("nombre1"),
          col("p.nombre2").as("nombre2"),
          col("p.apellido1").as("apellido1"),
          col("p.apellido2").as("apellido2"))
      Export.publish(comprobar, Nil, "yyyy/MM/dd",
        Seq("doc", "nombre1", "nombre2", "apellido1", "apellido2"))
        .orderBy("doc")
    }),

    // 64: format breadth as a driver-gated row — stage orders to csv
    // (schema DDL sidecar, quoted escapes, micros timestamps), read it
    // back through the same Tables front door, and aggregate; the
    // oracle runs on the parquet original, so the row passes only if
    // the csv path is value-exact, not merely parseable.
    // FormatParitySpec covers more tables/queries in-tests.
    "q_csv_source" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_csv_stage").toString
      Tables.stage(s, dir, "orders", tmp, "csv")
      t(s, tmp, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          money(sum(cents(col("o_totalprice")))).as("sum_price"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // 12: numeric cast with coerce→0 + date→string export format.
    "q_numeric_coerce" -> ((s, dir) => {
      val k = get_json_object(col("props"), "$.k")
      val dirty = when(col("event_id") % 7 === 0, concat(lit("x"), k))
        .otherwise(k)
      t(s, dir, "events")
        .select(col("event_id"),
          coalesce(dirty.try_cast("int"), lit(0)).as("coerced"),
          date_format(col("ts"), "yyyy/MM/dd").as("fecha"))
        .orderBy("event_id")
    }),

    // 42: case-insensitive regex-contains conditional assignment —
    // the reference's np.where(NOM_SERVICIO.str.contains(
    // 'PEDIATRIA|GINECOLOGIA', case=False), 1, 2)
    // (capital_sendas.py:211-212). rlike with an inline (?i) flag; the
    // filterless projection keeps the scan column-pruned to 2 columns.
    "q_regex_flag" -> ((s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_name"),
          when(col("p_name").rlike("(?i)RED|GEAR"), 1).otherwise(2)
            .cast("int").as("grupo"))
        .orderBy("p_partkey")
    }),

    // 54: MERGE/upsert — updates replace matched target rows, insert
    // unmatched ones, untouched target rows persist. Full-outer join
    // on the key + presence-marked column pick (EtlOps.upsert).
    "q_upsert" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val target = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          cents(col("o_totalprice")).as("price_cents"))
      val updates = o.filter(col("o_orderkey") % 6 === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (cents(col("o_totalprice")) * 2).as("price_cents"))
        .unionByName(
          o.filter(col("o_orderkey") % 3 === 1 && col("o_orderkey") % 5 === 0)
            .select(col("o_orderkey"), lit("N").as("o_orderstatus"),
              cents(col("o_totalprice")).as("price_cents")))
      target.upsert(updates, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          money(col("price_cents")).as("price"))
        .orderBy("o_orderkey")
    }),

    // 105: the lake layer under the oracle gate — partitionedParquet
    // write (hive layout, one file per partition) → read BACK through
    // the lake → partition-pruned filtered aggregate. The oracle runs
    // the same aggregate off the SOURCE table, so the row proves the
    // write→read round-trip loses nothing; LakeRoundtripSpec asserts
    // on executed-scan metrics that the read scanned ONLY the
    // purchase partition's file (pruning before IO — the point of the
    // layout at 100 TB).
    "q_lake_roundtrip" -> ((s, dir) => {
      val lake = lakeRoundtripPath(dir)
      val src = t(s, dir, "events").select("event_id", "ts", "user_id",
        "event_type", "value")
      Export.partitionedParquet(src, lake, Seq("event_type"))
      // explicit schema: an EMPTY partitioned write leaves no parquet
      // footer to infer from (only _SUCCESS), and a lake reader knows
      // its table schema anyway
      lakeRoundtripRead(s, lake, src.schema)
    }),

    // 110: incremental lake REFRESH driver-gated — the daily-load
    // idiom: full write, then dynamic partition overwrite replaces
    // ONLY the purchase partition with re-priced rows (every other
    // partition's files untouched), then a full read-back aggregate.
    // The oracle applies the same re-pricing arithmetically to the
    // source table, so the row proves dynamic overwrite replaced
    // exactly the one partition and preserved the rest. (value*2 is
    // an exact IEEE scale, so cents parity survives the round-trip.)
    "q_lake_refresh" -> ((s, dir) => {
      val lake = lakeRefreshPath(dir)
      val src = t(s, dir, "events").select("event_id", "ts", "user_id",
        "event_type", "value")
      Export.partitionedParquet(src, lake, Seq("event_type"))
      val patch = src.filter(col("event_type") === "purchase")
        .withColumn("value", col("value") * 2)
      Export.overwritePartitions(patch, lake, Seq("event_type"))
      s.read.schema(src.schema).parquet(lake)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          money(sum(cents(col("value")))).as("sum_value"))
        .orderBy("event_type")
    }),

    // 142: versioned table + TIME TRAVEL — the ACID-manifest layer
    // (sources/Versioned.scala: immutable data dirs, numbered
    // manifests, atomic create-exclusive commit, snapshot reads).
    // Three commits build three versions of an events table (base
    // history → append purchases → overwrite with clicks); the row
    // reads ALL THREE snapshots back and summarizes each, so the
    // oracle checks that every historical version stays exactly
    // reconstructable — the property that distinguishes a versioned
    // lake from a directory of parquet.
    "q_time_travel" -> ((s, dir) => {
      val table = ensureVersionedEvents(s, dir)
      Seq(0, 1, 2).map { v =>
        graft.sources.Versioned.read(s, table, Some(v))
          .agg(count(lit(1)).as("n_events"),
            money(sum(col("vc"))).as("sum_value"))
          .select(lit(v).as("version"), col("n_events"), col("sum_value"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // 266: RENAME COLUMN on the versioned table — name-mode column
    // mapping (Versioned.renameColumn; Manifest.colMap): physical
    // names are immutable so the rename moves ZERO bytes, old files
    // read under the new name, a post-rename append mixes freely, and
    // the reborn-after-drop column null-fills instead of resurrecting
    // dropped bytes. The row stages a customer slice, renames
    // c_acctbal→balance, appends under the NEW name, drops+re-adds a
    // flag column, and aggregates per segment — the oracle recomputes
    // the same frame arithmetically from the source table, so the
    // whole metadata chain is value-gated.
    "q_rename_column" -> ((s, dir) => {
      val table = stagingRoot(dir) + "/versioned_rename"
      if (graft.sources.Versioned.latestVersion(table) < 0) {
        val cust = t(s, dir, "customer").select(col("c_custkey"),
          col("c_mktsegment"), cents(col("c_acctbal")).as("c_acctbal"),
          lit(1L).as("flag"))
        val (lo, hi) = (cust.filter(col("c_custkey") % 2 === 0),
          cust.filter(col("c_custkey") % 2 === 1))
        graft.sources.Versioned.commit(lo, table, overwrite = false)
        graft.sources.Versioned.renameColumn(table, "c_acctbal", "balance")
        graft.sources.Versioned.dropColumn(table, "flag")
        graft.sources.Versioned.commit(
          hi.withColumnRenamed("c_acctbal", "balance")
            .withColumn("flag", lit(2L)), table, overwrite = false)
      }
      graft.sources.Versioned.read(s, table)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          money(sum(col("balance"))).as("sum_balance"),
          sum(coalesce(col("flag"), lit(0L))).as("sum_flag"))
        .orderBy("c_mktsegment")
    }),

    // 265: TIME TRAVEL through plain SQL TEXT — the same three-commit
    // ledger as q_time_travel, read back entirely via Spark's native
    // `VERSION AS OF` syntax against the DataSource V2 catalog
    // (sources/GraftCatalog.scala): the SQL front door onto the
    // versioned table, so a SQL-only user reaches snapshot isolation,
    // schema history, and DV-masked reads with zero Scala. The scan
    // path reuses Versioned.read's distributed plan (V1Scan bridge)
    // with V2 filter/column pushdown landing in the inner parquet
    // scans; the catalog name is derived from the sf dir so sessions
    // touching several dirs (spec suites) never cross warehouses —
    // a catalog binds its warehouse at first use.
    "q_sql_time_travel" -> ((s, dir) => {
      ensureVersionedEvents(s, dir): Unit
      val cat = sqlCatalogFor(s, dir)
      s.sql(Seq(0, 1, 2).map(v =>
        s"""SELECT $v AS version, count(*) AS n_events,
              CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
            FROM $cat.versioned_events VERSION AS OF $v""")
        .mkString("", " UNION ALL ", " ORDER BY version"))
    }),

    // 149: snapshot CDC (Versioned.changes) — the change feed between
    // two commits of the versioned table, every key classified as
    // insert / delete / update / unchanged. The staged commit pair
    // exercises all four classes (clicks deleted, purchases revalued,
    // shifted-id views inserted, the rest untouched); a consumer
    // reads THIS instead of re-scanning snapshots. One full-outer
    // key join, both snapshots shuffle once.
    "q_snapshot_diff" -> ((s, dir) => {
      graft.sources.Versioned.changes(s, ensureCdcTable(s, dir), 0, 1,
          Seq("event_id"))
        .groupBy("change_type")
        .agg(count(lit(1)).as("n_rows"))
        .orderBy("change_type")
    }),

    // 156: STREAMING CDC end-to-end on the STORED change-data feed —
    // Versioned.readChangeStream (the built-in file-stream source
    // over the feed the v1 MERGE commit published; exactly-once per
    // feed file) emits keys + post-image values + _change_type; each
    // micro-batch is MERGEd by CdcSink.startVersioned as ONE atomic
    // Versioned.mergeDV commit (mask + batch dir) into a VERSIONED
    // mirror seeded from v0 — the mirror IS a versioned table (the
    // lakehouse shape: the transaction ledger is the sink's log, the
    // `appId:batchId` txn token dedupes foreachBatch replays
    // exactly-once, and time travel across applied batches is free).
    // After the stream drains
    // the mirror's head must BE v1 — the oracle recomputes v1's
    // per-type aggregate from the base table, so the whole chain
    // (stored feed publish → stream → exactly-once MERGE commit) is
    // value-gated, not just rows>0. Mirror + checkpoint are
    // per-invocation so every run proves convergence from scratch.
    "q_stream_cdc" -> ((s, dir) =>
      // state/shuffle width derived from the stream input size —
      // see withStreamStateWidth (micro-batch commits + merges
      // otherwise pay 32 near-empty tasks per batch)
      withStreamStateWidth(s, pathBytes(s"$dir/events.parquet")) {
      val table = ensureCdcTable(s, dir)
      val n = streamExecSeq.incrementAndGet()
      val mirror = stagingRoot(dir) + s"/cdc_vmirror_$n"
      val ckpt = stagingRoot(dir) + s"/cdc_ckpt_$n"
      graft.sources.Versioned.commit(
        graft.sources.Versioned.read(s, table, Some(0)), mirror,
        overwrite = false): Unit
      val feed = graft.sources.Versioned.readChangeStream(s, table)
        .filter(col("_commit_version") === 1)
        .drop("_commit_version")
        .withColumnRenamed("_change_type", "change_type")
      val q = graft.streaming.CdcSink.startVersioned(
        feed, Seq("event_id"), mirror, appId = s"cdcv_$n", ckpt)
      try q.processAllAvailable() finally q.stop()
      graft.sources.Versioned.read(s, mirror)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          money(sum(col("vc"))).as("sum_value"))
        .orderBy("event_type")
    }),

    // 177: MEDALLION PIPELINE end-to-end — the lakehouse architecture
    // as ONE checked row, composing three engine layers with nothing
    // hand-waved between them: (bronze) a file-stream ingest spool
    // lands in a versioned table via VersionedSink, one commit per
    // micro-batch (maxFilesPerTrigger=1 forces several), each commit
    // exactly-once under its `appId:batchId` txn token AND publishing
    // its stored change feed; (silver) readChangeStream consumes that
    // feed — not the bronze snapshots — cleanses it (clicks dropped),
    // and CdcSink.startVersioned MERGEs each micro-batch into a
    // silver versioned table seeded empty; (gold) the serving
    // aggregate reads the silver head snapshot. The oracle recomputes
    // gold from the raw events, so every hop (spool → bronze commits
    // → feed publish → stream → merge → snapshot) is value-gated.
    // Fresh staging per invocation: every run proves convergence from
    // scratch. Scale shape: bronze appends are hardlink-fed (zero
    // copy), silver merges shuffle only batch-sized feeds.
    "q_medallion_e2e" -> ((s, dir) =>
      // state/shuffle width derived from the stream input size —
      // see withStreamStateWidth (micro-batch commits + merges
      // otherwise pay 32 near-empty tasks per batch)
      withStreamStateWidth(s, pathBytes(s"$dir/events.parquet")) {
      val n = streamExecSeq.incrementAndGet()
      val root = stagingRoot(dir) + s"/medallion_$n"
      val ev = t(s, dir, "events").select(col("event_id"),
        col("event_type"), cents(col("value")).as("vc"))
      (0 until 3).foreach(i => ev.filter(col("event_id") % 3 === i)
        .coalesce(1).write.mode("append").parquet(s"$root/spool"))
      val bronze = s"$root/bronze"
      val q1 = graft.streaming.VersionedSink.versionedAppend(
        s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$root/spool"),
        bronze, appId = s"med_$n", s"$root/ckpt_bronze").start()
      try q1.processAllAvailable() finally q1.stop()
      val silver = s"$root/silver"
      graft.sources.Versioned.commit(ev.limit(0), silver,
        overwrite = false): Unit
      val feed = graft.sources.Versioned.readChangeStream(s, bronze)
        .filter(col("event_type") =!= "click")
        .drop("_commit_version")
        .withColumnRenamed("_change_type", "change_type")
      val q2 = graft.streaming.CdcSink.startVersioned(feed,
        Seq("event_id"), silver, appId = s"meds_$n", s"$root/ckpt_silver")
      try q2.processAllAvailable() finally q2.stop()
      graft.sources.Versioned.read(s, silver)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          money(sum(col("vc"))).as("sum_value"))
        .orderBy("event_type")
    }),

    // 181: TIMESTAMP TIME TRAVEL driver-gated — the manifest stamps
    // each commit's wall-clock; readAsOf(t) resolves the snapshot a
    // reader at time t saw. The row captures v0's own commit stamp,
    // commits v1, then reads AS OF that stamp: the checked aggregate
    // must equal v0's content (the %3==0 slice), proving the stamp →
    // version resolution end-to-end against a reconstruction oracle.
    "q_asof_time" -> ((s, dir) => {
      val table = stagingRoot(dir) + "/versioned_asof"
      if (graft.sources.Versioned.latestVersion(table) < 0) {
        val ev = t(s, dir, "events").select(col("event_id"),
          col("event_type"), cents(col("value")).as("vc"))
        graft.sources.Versioned.commit(
          ev.filter(col("event_id") % 3 === 0), table, overwrite = false)
        // a same-millisecond v1 would tie v0's stamp and win the
        // as-of resolution; 5ms keeps the stamps strictly ordered
        Thread.sleep(5)
        graft.sources.Versioned.commit(
          ev.filter(col("event_id") % 3 =!= 0), table, overwrite = false)
      }
      val t0 = graft.sources.Versioned.commitTimestamp(table, 0).get
      graft.sources.Versioned.readAsOf(s, table, t0)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          money(sum(col("vc"))).as("sum_value"))
        .orderBy("event_type")
    }),

    // 182: CHECK-CONSTRAINT GATE driver-gated — the lakehouse quality
    // gate: a constraint lands as a metadata commit, a violating
    // append is REJECTED with the head unmoved, a clean append
    // passes. The checked output carries the surviving row count, the
    // ledger size, and a gate_held flag derived from the actual
    // rejection + head version — the oracle reconstructs the clean
    // content and asserts TRUE, so the row fails if enforcement ever
    // silently lapses OR blocks clean data.
    "q_constraint_gate" -> ((s, dir) => {
      val table = stagingRoot(dir) + "/versioned_gate"
      if (graft.sources.Versioned.latestVersion(table) < 0) {
        val ev = t(s, dir, "events").select(col("event_id"),
          col("event_type"), cents(col("value")).as("vc"))
        graft.sources.Versioned.commit(
          ev.filter(col("event_id") % 2 === 0), table, overwrite = false)
        graft.sources.Versioned.addConstraint(s, table, "vc >= 0")
        val rejected =
          try {
            graft.sources.Versioned.commit(
              ev.filter(col("event_id") % 2 === 1)
                .withColumn("vc", col("vc") - lit(100000000000L)),
              table, overwrite = false)
            false
          } catch { case _: IllegalArgumentException => true }
        val held = rejected &&
          graft.sources.Versioned.latestVersion(table) == 1
        graft.sources.Versioned.commit(
          ev.filter(col("event_id") % 2 === 1), table, overwrite = false)
        // persist the observed gate outcome beside the data so the
        // checked output reflects what actually happened at staging
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(table, "_gate_held"), held.toString)
      }
      val held = java.nio.file.Files.readString(
        java.nio.file.Paths.get(table, "_gate_held")).toBoolean
      graft.sources.Versioned.read(s, table)
        .agg(count(lit(1)).as("n_rows"),
          money(sum(col("vc"))).as("sum_value"))
        .select(col("n_rows"), col("sum_value"),
          lit(graft.sources.Versioned.constraints(table).size)
            .as("n_constraints"),
          lit(held).as("gate_held"))
    }),

    // 183: CDF-FED MATERIALIZED VIEW driver-gated — MaterializedAgg's
    // partial-recompute maintenance run in batch catch-up mode over
    // the stored feed of a 2-commit source (insert batch, then a
    // merge with updates+inserts+deletes): after applying both feed
    // versions, the AGGREGATE TABLE itself is the checked output and
    // must equal the oracle's from-scratch group-by over the final
    // logical content — including the max (non-invertible) column
    // and the ABSENCE of any group the merge emptied.
    "q_mv_refresh" -> ((s, dir) => {
      val root = stagingRoot(dir) + "/mv_refresh"
      val source = s"$root/source"
      val mirror = s"$root/mirror"
      val aggT = s"$root/agg"
      if (graft.sources.Versioned.latestVersion(aggT) < 0) {
        val ev = t(s, dir, "events").select(col("event_id"),
          col("event_type"), cents(col("value")).as("vc"))
        graft.sources.Versioned.commit(
          ev.filter(col("event_id") % 3 =!= 2), source, overwrite = false)
        // inserts and updates avoid 'error'; deletes remove EVERY
        // error key — the merge EMPTIES the error group, so its
        // absence from the aggregate is part of what the oracle gates
        val batch = ev.filter(col("event_id") % 3 === 2 &&
            col("event_type") =!= "error")
          .withColumn("change_type", lit("insert"))
          .unionByName(ev.filter(col("event_id") % 6 === 0 &&
              col("event_type") =!= "error")
            .withColumn("vc", col("vc") * 2)
            .withColumn("change_type", lit("update")))
          .unionByName(ev.filter(col("event_type") === "error")
            .withColumn("change_type", lit("delete")))
        graft.sources.Versioned.applyChangeFeed(s, source, batch,
          Seq("event_id")): Unit
        graft.sources.Versioned.commit(
          graft.sources.Versioned.read(s, source, Some(0)).limit(0),
          mirror, overwrite = false): Unit
        (0 to 1).foreach { v =>
          val feed = graft.sources.Versioned.readChanges(s, source, v, v)
            .drop("_commit_version")
            .withColumnRenamed("_change_type", "change_type")
          graft.streaming.MaterializedAgg.applyBatch(feed,
            Seq("event_id"), Seq("event_type"),
            Seq(("sum_vc", sum(col("vc"))), ("max_vc", max(col("vc")))),
            mirror, aggT, appId = "mvq", batchId = v.toLong)
        }
      }
      graft.sources.Versioned.read(s, aggT)
        .select(col("event_type"), col("n_rows"),
          money(col("sum_vc")).as("sum_value"),
          money(col("max_vc")).as("max_value"))
        .orderBy("event_type")
    }),

    // 171: STORED CHANGE-DATA FEED batch reader — a three-version
    // table (two appends + one merge with inserts/updates/deletes)
    // publishes its per-commit change rows under _changes at COMMIT
    // time (appends as zero-copy hardlinks, the merge batch-sized);
    // Versioned.readChanges returns them with directory-derived
    // _commit_version/_change_type partition columns, partition-
    // pruned to the asked range. The checked output aggregates every
    // (version, type) cell — insert counts per append, the merge's
    // classified insert/update/delete split with post-image sums and
    // the delete cell's NULL sum — so the classification, the
    // post-image values, AND the per-version attribution are all
    // value-gated against a from-scratch reconstruction. An
    // incremental consumer reads THIS instead of diffing snapshots:
    // the feed is written once at commit, never recomputed.
    "q_changefeed" -> ((s, dir) => {
      val table = ensureFeedTable(s, dir)
      graft.sources.Versioned.readChanges(s, table, 0, 2)
        .groupBy(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          money(sum(col("vc"))).as("sum_value"))
        .orderBy("commit_version", "change_type")
    }),

    // 280: CDC VERSION-RANGE PUSHDOWN driver-gated — the canonical
    // batch CDC query, `SELECT … FROM <t>.changes WHERE
    // _commit_version >= N`, through the SQL catalog: the
    // the `.changes` scan maps the comparison onto the feed layout's
    // `cv=` directory index (sources/GraftCatalog.scala →
    // Versioned.readChangesPruned), so the scan lists and reads ONLY
    // the asked versions' dirs — O(asked range), not O(retained
    // feed). The checked output carries the cv=2 aggregate AND a
    // `skipped` flag gated on the scan's directory accounting
    // (dirsRead < dirsTotal — real skipped IO, the q_sql_zorder_skip
    // pattern); the oracle reconstructs the v2 merge batch and TRUE.
    // The 3-row collect is bounded by |change types|, never data.
    "q_changes_range" -> ((s, dir) => {
      val table = ensureFeedTable(s, dir)
      val cat = sqlCatalogFor(s, dir)
      val agg = s.sql(s"""SELECT _change_type AS change_type,
            count(*) AS n_rows,
            CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
          FROM $cat.versioned_feed.changes
          WHERE _commit_version >= 2
          GROUP BY _change_type""").collect() // ≤3 rows (change types)
      val (accPath, dirsRead, dirsTotal) =
        graft.sources.GraftCatalog.lastChangesScan.get()
      require(accPath == table,
        s"q_changes_range: accounting is for '$accPath', not '$table'")
      import s.implicits._
      agg.toSeq.map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        .toDF("change_type", "n_rows", "sum_value")
        .withColumn("skipped", lit(dirsRead < dirsTotal))
        .orderBy("change_type")
    }),

    // 165: VERSIONED SCHEMA EVOLUTION driver-gated — v0 commits
    // orders WITHOUT o_orderstatus, v1 appends rows WITH it; the
    // manifest-carried merged schema null-fills the new column for
    // v0's files at read time (no mergeSchema footer scan — the
    // ledger knows). The oracle reconstructs the same null-fill
    // arithmetically from the source table, so the row gates that
    // old files read correctly under the evolved schema.
    "q_schema_evolution" -> ((s, dir) => {
      val table = stagingRoot(dir) + "/versioned_schema"
      if (graft.sources.Versioned.latestVersion(table) < 0) {
        val o = t(s, dir, "orders")
        graft.sources.Versioned.commit(
          o.filter(col("o_orderkey") % 2 === 0)
            .select(col("o_orderkey"),
              cents(col("o_totalprice")).as("price_cents")),
          table, overwrite = false)
        graft.sources.Versioned.commit(
          o.filter(col("o_orderkey") % 2 === 1)
            .select(col("o_orderkey"),
              cents(col("o_totalprice")).as("price_cents"),
              col("o_orderstatus")),
          table, overwrite = false)
      }
      graft.sources.Versioned.read(s, table)
        .groupBy(coalesce(col("o_orderstatus"), lit("<none>"))
          .as("status"))
        .agg(count(lit(1)).as("n_orders"),
          money(sum(col("price_cents"))).as("sum_price"))
        .orderBy("status")
    }),

    // 166: EXACTLY-ONCE VERSIONED SINK driver-gated — the real
    // streaming engine (file-source readStream, AvailableNow) commits
    // each micro-batch into the versioned table through VersionedSink
    // (manifest txn token `appId:batchId` dedupes foreachBatch
    // replays); after the drain the table's head snapshot must equal
    // the batch computation over the same source — streamed commits
    // == batch content, value-gated. Sink + checkpoint are
    // per-invocation so every run proves convergence from scratch;
    // the crash-replay matrix is spec-gated (VersionedSinkSpec).
    "q_versioned_sink" -> ((s, dir) =>
      // state/shuffle width derived from the stream input size —
      // see withStreamStateWidth (micro-batch commits + merges
      // otherwise pay 32 near-empty tasks per batch)
      withStreamStateWidth(s, pathBytes(s"$dir/events.parquet")) {
      val n = streamExecSeq.incrementAndGet()
      val table = stagingRoot(dir) + s"/versioned_sink_$n"
      val ckpt = stagingRoot(dir) + s"/versioned_sink_ckpt_$n"
      val src = eventsStream(s, dir).select(col("event_id"),
        col("event_type"), cents(col("value")).as("vc"))
      val q = graft.streaming.VersionedSink.versionedAppend(
        src, table, appId = s"vsink_$n", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      graft.sources.Versioned.read(s, table)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          money(sum(col("vc"))).as("sum_value"))
        .orderBy("event_type")
    }),

    // 167: VERSIONED COMPACTION driver-gated — four appends build a
    // 4-data-dir ledger, compact() rewrites the head as ONE overwrite
    // commit; the row reads BOTH the pre-compaction version and the
    // compacted head and carries each manifest's data-dir count, so
    // the oracle gates (a) rows identical pre/post, (b) history
    // intact, and (c) the ledger actually shrank 4 → 1.
    "q_compact_roundtrip" -> ((s, dir) => {
      val table = stagingRoot(dir) + "/versioned_compact"
      if (graft.sources.Versioned.latestVersion(table) < 0) {
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          cents(col("o_totalprice")).as("price_cents"))
        (0 until 4).foreach(k => graft.sources.Versioned.commit(
          o.filter(col("o_orderkey") % 4 === k), table,
          overwrite = false): Unit)
        graft.sources.Versioned.compact(s, table, targetFiles = 1): Unit
      }
      val head = graft.sources.Versioned.latestVersion(table)
      def summarize(v: Int, phase: String) =
        graft.sources.Versioned.read(s, table, Some(v))
          .agg(count(lit(1)).as("n_orders"),
            money(sum(col("price_cents"))).as("sum_price"))
          .select(lit(phase).as("phase"),
            lit(graft.sources.Versioned.readManifestDirCount(table, v))
              .as("n_dirs"),
            col("n_orders"), col("sum_price"))
      summarize(head, "post").unionAll(summarize(head - 1, "pre"))
        .orderBy("phase")
    }),

    // 193: VERSIONED RESTORE driver-gated — v0 = all orders, v1
    // appends a corrupted batch (shifted keys, doubled prices),
    // restore(0) rolls the head back as a NEW commit v2 that
    // re-references v0's data dirs: zero bytes rewritten (the O(1)
    // metadata rollback a 100 TB table needs). The row reads ALL
    // THREE versions, so the oracle gates (a) head == v0's content,
    // (b) the bad v1 stays time-travel-readable — history is never
    // rewritten, and (c) the ledger grew to head 2.
    "q_restore" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/versioned_restore"
      if (V.latestVersion(table) < 0) {
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          cents(col("o_totalprice")).as("price_cents"))
        V.commit(o, table, overwrite = false): Unit
        V.commit(o.select(
            (col("o_orderkey") + lit(3000000000L)).as("o_orderkey"),
            (col("price_cents") * 2).as("price_cents")),
          table, overwrite = false): Unit
        V.restore(table, 0): Unit
      }
      val head = V.latestVersion(table)
      def snap(v: Int) = V.read(s, table, Some(v))
        .agg(count(lit(1)).as("n_orders"),
          money(sum(col("price_cents"))).as("sum_price"))
        .select(lit(v).as("version"), lit(head).as("head"),
          col("n_orders"), col("sum_price"))
      snap(0).unionAll(snap(1)).unionAll(snap(head))
        .orderBy("version")
    }),

    // 194: VERSIONED VACUUM driver-gated — three appends build a
    // 3-dir ledger, compact() rewrites the head, vacuum(head) drops
    // every pre-head manifest and every data dir only they
    // referenced. The row carries the surviving head aggregate PLUS
    // the on-disk survivor counts (manifests and data dirs — both
    // must be exactly the compacted 1), so the oracle gates that the
    // reclaim actually deleted bytes and the trimmed table still
    // reads back complete.
    "q_vacuum" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/versioned_vacuum"
      if (V.latestVersion(table) < 0) {
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          cents(col("o_totalprice")).as("price_cents"))
        (0 until 3).foreach(k => V.commit(
          o.filter(col("o_orderkey") % 3 === k), table,
          overwrite = false): Unit)
        V.compact(s, table, targetFiles = 1): Unit
        V.vacuum(table, retainFrom = V.latestVersion(table))
      }
      val head = V.latestVersion(table)
      def count0(p: java.nio.file.Path, pat: String): Int = {
        val st = java.nio.file.Files.list(p)
        try st.filter(_.getFileName.toString.matches(pat)).count().toInt
        finally st.close()
      }
      val nManifests = count0(
        java.nio.file.Paths.get(table, "_versions"), "v\\d+\\.json")
      val nDataDirs = count0(java.nio.file.Paths.get(table, "data"), ".*")
      V.read(s, table)
        .agg(count(lit(1)).as("n_orders"),
          money(sum(col("price_cents"))).as("sum_price"))
        .select(lit(head).as("head"), lit(nManifests).as("n_manifests"),
          lit(nDataDirs).as("n_data_dirs"), col("n_orders"),
          col("sum_price"))
    }),

    // 267: AGE-BASED VACUUM RETENTION driver-gated — the operational
    // vacuum form (Versioned.vacuumOlderThan): two stamped appends
    // with a wall-clock cutoff captured between them; retention keeps
    // every version at-or-after the cutoff readable, reclaims the
    // manifests below it (time travel there now fails loudly — probed
    // and carried as a gated boolean), and cannot break the head
    // chain (the append lineage keeps v0's DATA dir alive by
    // reference even though v0's MANIFEST is gone). The oracle
    // recomputes the surviving head aggregate + the exact ledger
    // arithmetic from the source table.
    "q_vacuum_age" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/versioned_vacuum_age"
      if (V.latestVersion(table) < 0) {
        val ev = t(s, dir, "events").select(col("event_id"),
          col("event_type"), cents(col("value")).as("vc"))
        V.commit(ev.filter(col("event_type") =!= "purchase"), table,
          overwrite = false) // v0 (old era)
        Thread.sleep(5) // millis stamps: order the clock reads
        val cutoff = System.currentTimeMillis()
        Thread.sleep(5)
        V.commit(ev.filter(col("event_type") === "purchase"), table,
          overwrite = false) // v1 (new era)
        // force: this staged fixture's cutoff is milliseconds old —
        // inside the retention safety window by design (the guard
        // itself is spec-gated in VersionedSpec)
        val oldest = V.vacuumOlderThan(table, cutoff, force = true)
        require(oldest == 1, s"expected retainFrom 1, got $oldest")
      }
      val head = V.latestVersion(table)
      val v0Readable =
        try { V.read(s, table, Some(0)).limit(1).count(); true }
        catch { case _: Exception => false }
      def count0(p: java.nio.file.Path, pat: String): Int = {
        val st = java.nio.file.Files.list(p)
        try st.filter(_.getFileName.toString.matches(pat)).count().toInt
        finally st.close()
      }
      val nManifests = count0(
        java.nio.file.Paths.get(table, "_versions"), "v\\d+\\.json")
      val nDataDirs = count0(java.nio.file.Paths.get(table, "data"), ".*")
      V.read(s, table)
        .agg(count(lit(1)).as("n_events"),
          money(sum(col("vc"))).as("sum_value"))
        .select(lit(head).as("head"), lit(nManifests).as("n_manifests"),
          lit(nDataDirs).as("n_data_dirs"),
          lit(v0Readable).as("v0_readable"), col("n_events"),
          col("sum_value"))
    }),

    // 225: PARTITION EVOLUTION driver-gated — the versioned table
    // staged as a MIXED-layout snapshot (one commit hive-partitioned
    // by priority, one plain append: the manifest records the spec
    // PER-DIR, so changing the partitioning never rewrites history),
    // then read with readPartitionPruned: whole partition directories
    // of the spec-matching dir are skipped BEFORE any file IO, the
    // plain dir row-filters exactly, and the partition column itself
    // re-derives from directory names (it is not in the hive dir's
    // file bytes — the layout a flat schema read would silently
    // null). The checked output carries the filesRead < filesTotal
    // pruning flag; oracle = the same filter+aggregate off the source
    // table + TRUE.
    "q_partition_prune" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/versioned_partevo"
      if (V.latestVersion(table) < 0) {
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderpriority"), cents(col("o_totalprice")).as("price_cents"))
        V.commitPartitioned(o.filter(col("o_orderkey") % 2 === 0), table,
          "o_orderpriority"): Unit
        V.commit(o.filter(col("o_orderkey") % 2 === 1), table,
          overwrite = false): Unit
      }
      val (df, filesRead, filesTotal) = V.readPartitionPruned(s, table,
        "o_orderpriority", Seq("1-URGENT", "2-HIGH"))
      df.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          money(sum(col("price_cents"))).as("sum_price"))
        .select(col("o_orderpriority"), col("n_orders"), col("sum_price"),
          lit(filesRead < filesTotal).as("pruned"))
        .orderBy("o_orderpriority")
    }),

    // 206: DELETE WHERE as MERGE-ON-READ deletion vectors,
    // driver-gated: two appends split orders by key parity, then
    // deleteWhereDV(odd AND status 'F') writes a (file, row-index)
    // mask sidecar instead of rewriting dirs — the accounting gate is
    // n_carried_dirs plus n_rewritten_files == 0: the head manifest's
    // data-dir set must EQUAL the parent's (both dirs carried BY
    // REFERENCE), and any dir new in head contributes its on-disk
    // parquet count (0 by construction — a 1-row delete on a 100 TB
    // table must move zero data bytes). Snapshot aggregates run over
    // the mask-applied read, the pre-image feed agg rides the fenced
    // 1-row carrier, so the oracle gates the masked snapshot, the
    // feed, AND the zero-rewrite ledger claim in one row.
    "q_delete_dv" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/versioned_delete_dv"
      if (V.latestVersion(table) < 0) {
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
        V.commit(o.filter(col("o_orderkey") % 2 === 0), table,
          overwrite = false): Unit
        V.commit(o.filter(col("o_orderkey") % 2 === 1), table,
          overwrite = false): Unit
        V.deleteWhereDV(s, table,
          col("o_orderkey") % 2 === 1 && col("o_orderstatus") === "F"): Unit
      }
      val head = V.latestVersion(table)
      val prevDirs = V.dataDirIds(table, head - 1).toSet
      val headDirs = V.dataDirIds(table, head).toSet
      val carried = headDirs.intersect(prevDirs).size
      val rewrittenFiles = headDirs.diff(prevDirs).toSeq.map { d =>
        val st = java.nio.file.Files.list(
          java.nio.file.Paths.get(table, "data", d))
        try st.filter(_.getFileName.toString.endsWith(".parquet"))
          .count().toInt
        finally st.close()
      }.sum
      val feed = V.readChanges(s, table, head, head)
        .filter(col("_change_type") === "delete")
        .agg(count(lit(1)).as("n_deleted"),
          money(sum(col("price_cents"))).as("sum_deleted"))
      V.read(s, table)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          money(sum(col("price_cents"))).as("sum_price"))
        .crossJoin(broadcast(feed)) // intended: 1-row feed-agg carrier
        .select(col("o_orderstatus"), col("n_orders"), col("sum_price"),
          col("n_deleted"), col("sum_deleted"),
          lit(head).as("head"), lit(carried).as("n_carried_dirs"),
          lit(rewrittenFiles).as("n_rewritten_files"))
        .orderBy("o_orderstatus")
    }),

    // 209: MERGE-ON-READ MERGE driver-gated (mergeDV): the merge
    // MASKS the matched rows via a deletion-vector sidecar and appends
    // the batch as ONE new dir — write amplification ∝ batch, never ∝
    // table. The batch derives deterministically from the table
    // itself (keys %97 price-bumped, %89 deleted, %101 re-inserted
    // under a fresh key as status 'N'), and the accounting columns
    // gate the cost model: both pre-merge dirs carried BY REFERENCE
    // (n_carried_dirs=2, n_dropped_dirs=0 — nothing rewritten away)
    // plus exactly one mask dir. The snapshot aggregate runs over the
    // mask-applied read, so update/delete/insert semantics are all
    // oracle-gated in one row.
    "q_merge_dv" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/versioned_merge_dv"
      if (V.latestVersion(table) < 0) {
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
        V.commit(o.filter(col("o_orderkey") % 2 === 0), table,
          overwrite = false): Unit
        V.commit(o.filter(col("o_orderkey") % 2 === 1), table,
          overwrite = false): Unit
        val base = V.read(s, table)
        val upd = base.filter(col("o_orderkey") % 97 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"),
            (col("price_cents") + 1000L).as("price_cents"),
            lit(false).as("is_del"))
        val del = base.filter(col("o_orderkey") % 89 === 0 &&
            col("o_orderkey") % 97 =!= 0)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("price_cents"), lit(true).as("is_del"))
        // fresh-key offset 1e9: TPC-H order keys reach 6e6·SF, so
        // 1e7 collided with real keys from SF≈1.7 — 1e9 is clear of
        // every probe scale (collision would both break the batch's
        // key-uniqueness precondition and diverge from the oracle)
        val ins = base.filter(col("o_orderkey") % 101 === 0)
          .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
            lit("N").as("o_orderstatus"), col("price_cents"),
            lit(false).as("is_del"))
        V.mergeDV(s, table, upd.unionByName(del).unionByName(ins),
          Seq("o_orderkey"), deleteWhen = Some(col("is_del"))): Unit
      }
      val head = V.latestVersion(table)
      val prev = V.dataDirIds(table, head - 1).toSet
      val now = V.dataDirIds(table, head).toSet
      V.read(s, table).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          money(sum(col("price_cents"))).as("sum_price"))
        .select(col("o_orderstatus"), col("n_orders"), col("sum_price"),
          lit(head).as("head"),
          lit(prev.intersect(now).size).as("n_carried_dirs"),
          lit(prev.diff(now).size).as("n_dropped_dirs"),
          lit(V.dvDirIds(table, head).size).as("n_mask_dirs"))
        .orderBy("o_orderstatus")
    }),

    // 200: SHALLOW CLONE driver-gated — zero-copy table fork: events
    // commit in two appends, cloneTable hardlinks every data file
    // into an independent fork (O(files) metadata, zero bytes), then
    // the FORK deletes its clicks while the SOURCE keeps them. The
    // row left-joins per-type aggregates of both tables (click row:
    // null fork columns — divergence without interference) and
    // carries a zero_copy flag checked against a real inode link
    // count (nlink ≥ 2 on a cloned file), so the oracle gates
    // content, independence, AND that no bytes were copied.
    "q_clone" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val src = stagingRoot(dir) + "/versioned_clone_src"
      val cln = stagingRoot(dir) + "/versioned_clone_fork"
      if (V.latestVersion(src) < 0) {
        val ev = t(s, dir, "events").select(col("event_id"),
          col("event_type"), cents(col("value")).as("vc"))
        V.commit(ev.filter(col("event_id") % 2 === 0), src,
          overwrite = false): Unit
        V.commit(ev.filter(col("event_id") % 2 === 1), src,
          overwrite = false): Unit
      }
      if (V.latestVersion(cln) < 0) {
        V.cloneTable(src, cln): Unit
        V.deleteWhereDV(s, cln, col("event_type") === "click"): Unit
      }
      val linked = java.nio.file.Paths.get(
        cln, "data", V.dataDirIds(cln, 0).head)
      val aFile = {
        val st = java.nio.file.Files.list(linked)
        try st.filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        finally st.close()
      }
      val zeroCopy = java.nio.file.Files
        .getAttribute(aFile, "unix:nlink")
        .asInstanceOf[Number].intValue() >= 2
      val srcAgg = V.read(s, src).groupBy("event_type")
        .agg(count(lit(1)).as("n_source"),
          money(sum(col("vc"))).as("sum_source"))
      val clnAgg = V.read(s, cln).groupBy("event_type")
        .agg(count(lit(1)).as("n_fork"),
          money(sum(col("vc"))).as("sum_fork"))
      srcAgg.join(clnAgg, Seq("event_type"), "left")
        .select(col("event_type"), col("n_source"), col("sum_source"),
          col("n_fork"), col("sum_fork"), lit(zeroCopy).as("zero_copy"))
        .orderBy("event_type")
    }),

    // 39 (beyond-§2): the reference's FULL pipeline composed end-to-end
    // — base load analog → marker semi-join → per-subset mark operators
    // (capped Qx, dedup-first H/C1/Qx1, stateful C5 gap) joined back →
    // the masked-update chain in reference order → export formatting.
    // Proves the operators compose; every piece is individually
    // oracle-checked by its own row above.
    "q_pipeline_e2e" -> ((s, dir) => {
      val ce = col("ambito") === "CONSULTA EXTERNA"
      // (factura, linea) is NOT unique in the data; rank duplicates by
      // the remaining columns for a unique, deterministic row key
      // without a global sort (identical rows are symmetric).
      val wdup = Window.partitionBy(col("factura"), col("linea"))
        .orderBy(col("servicio"), col("tipologia"), col("cant"),
          col("fec_servicio"), col("ambito"), col("cod_plan"))
      // Repartition ONCE by factura: hash(factura) satisfies the
      // clustered-distribution requirement of EVERY window family
      // whose keys start with factura (wdup, the marker window, wSubQ,
      // wScanQ, wFst) — all run as in-partition sorts over this one
      // exchange. No persist: the marker semi-join is a window over
      // the same partitioning (semiMarkerWindow — the join form's
      // distinct-keys subquery is what forced r3's persist), and the
      // two subset rules (C1, C5) are computed on ~9% slices whose
      // plans re-use this exchange (ReuseExchange), then joined back
      // on (factura, uid): hash(factura) satisfies the join's
      // clustering, so only the narrow flag frames shuffle — the wide
      // side never reshuffles. At 100 TB that replaces a full-input
      // cache write + full-width wC1 shuffle with two ~9% flag joins.
      // STAGED (guide §2.4): the C1 and C5 flag branches derive from
      // base0 but their tipologia filters cannot push below the uid
      // window, so as lazy lineage each branch re-ran the full
      // scan→broadcast-join→factura-exchange→wdup-window pipeline (3
      // parquet scans + 3 full-width exchanges + 3 uid windows in the
      // r18 "before" plan). One lineage-truncating materialization of
      // the uid-stamped frame feeds all three consumers and PRESERVES
      // the hash(factura) partitioning and sort, so the branches keep
      // their exchange-free window/join shape. Same trade at 100 TB:
      // two extra full scans + full-width shuffles + window sorts cost
      // more than one materialization of the same width.
      val base0 = sendas(s, dir).repartition(col("factura"))
        .withColumn("uid",
          concat_ws("_", col("factura"), col("linea"),
            row_number().over(wdup)))
        .staged
      val base = Rules.semiMarkerWindow(base0,
        "factura", col("servicio") === "132", "has_marker")
      // Qx/H marks fold into conditional windows over base: rows
      // outside a rule's subset contribute 0 to the running sums, so
      // the values equal the filtered-subset computation — with zero
      // join-backs. Every ordering ends in uid (total order; ties
      // between rows that differ only in hidden columns must not pick
      // per-engine winners).
      val inQx = col("tipologia").startsWith("Qx") && col("cant") > 0
      val wSubQ = Window
        .partitionBy(col("factura"), col("fec_servicio"), col("tipologia"))
        .orderBy(col("linea"), col("uid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wScanQ = Window
        .partitionBy(col("factura"), col("fec_servicio"))
        .orderBy(col("tipologia").desc, col("linea"), col("uid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wFst = Window
        .partitionBy(col("factura"), col("servicio"), col("tipologia"))
        .orderBy(col("linea"), col("uid"))
      val wC1 = Window
        .partitionBy(col("servicio"), col("fec_servicio"), col("tipologia"),
          col("cod_plan").startsWith("PGP"))
        .orderBy(col("factura"), col("linea"), col("uid"))
      // C1 dedup-first runs on its own slice: a (servicio, fec,
      // tipologia, pgp) window group is homogeneous in tipologia/pgp,
      // so row_number over the filtered slice equals row_number over
      // the full frame for every row the C1 rule can touch — and the
      // full-frame form would shuffle 100% of rows on wC1's keys.
      val c1 = base0
        .filter(col("tipologia") === "C1" && col("cod_plan").startsWith("PGP"))
        .withColumn("c1_mark",
          when(row_number().over(wC1) === 1, 1).otherwise(0))
        .select(col("factura").as("__f_c1"), col("uid").as("__u_c1"),
          col("c1_mark"))
      // Stateful C5 gap: narrow flag frame only (gapFlags), keyed back
      // by (factura, uid) — factura recovered from the uid prefix.
      val c5 = base0.filter(col("tipologia") === "C5")
        .gapFlags(Seq("servicio"), "fec_servicio", "uid", 3, "c5_gap")
        .select(substring_index(col("__gapid"), "_", 1).cast("long")
            .as("__f_c5"),
          col("__gapid").as("__u_c5"), col("c5_gap"))
      val joined = base
        .withColumn("__elig",
          inQx && sum(when(inQx, 1).otherwise(0)).over(wSubQ) <= 2)
        .withColumn("qx_mark",
          when(col("__elig") &&
            sum(when(col("__elig"), 1).otherwise(0)).over(wScanQ) <= 3, 1)
            .otherwise(0))
        .withColumn("h_mark",
          when(row_number().over(wFst) === 1, 1).otherwise(0))
        .withColumn("qx1_mark", col("h_mark"))
        .join(c1, col("factura") === col("__f_c1") &&
          col("uid") === col("__u_c1"), "left")
        .join(c5, col("factura") === col("__f_c5") &&
          col("uid") === col("__u_c5"), "left")
      val out = Rules.chainUpdate(joined, "validacion", lit(0L), Seq(
        (col("tipologia").startsWith("Qx") && col("cant") > 0,
          coalesce(col("qx_mark"), lit(0)).cast("long")),
        (col("tipologia") === "H1",
          coalesce(col("h_mark"), lit(0)).cast("long")),
        (col("tipologia") === "C1" && col("cod_plan").startsWith("PGP"),
          coalesce(col("c1_mark"), lit(0)).cast("long")),
        (ce && col("tipologia") === "C4" && col("servicio") =!= "502", lit(1L)),
        (ce && col("tipologia") === "C4" && col("servicio") === "502", col("cant")),
        (ce && col("tipologia") === "C4" && col("has_marker") &&
          col("servicio").isin("285", "385", "384", "284", "502"), lit(0L)),
        (col("tipologia") === "C7", col("cant")),
        (ce && col("tipologia") === "C8", col("cant")),
        (col("tipologia") === "HD", lit(1L)),
        (col("tipologia") === "ARI", lit(1L)),
        (col("tipologia") === "C5",
          coalesce(col("c5_gap"), lit(0)).cast("long")),
        (col("tipologia") === "Qx1",
          coalesce(col("qx1_mark"), lit(0)).cast("long")),
        (col("tipologia") === "RM", col("cant"))))
      out.select(col("factura"), col("linea"), col("servicio"),
          col("tipologia"),
          date_format(col("fec_servicio"), "yyyy/MM/dd").as("fecha"),
          col("validacion"))
        .orderBy("factura", "linea", "servicio", "tipologia", "fecha",
          "validacion")
    }),

    // 271: SQL DELETE FROM through the catalog, driver-gated — the
    // row-level-DML front door (sources/GraftSqlDml.scala) onto the
    // engine's merge-on-read delete (Versioned.deleteWhereDV): the
    // staged events table loses its clicks via ONE plain SQL
    // statement, the mask is a sidecar proportional to the deleted
    // rows, and ZERO data files rewrite (the ledger facts ride the
    // checked output: the original dir is carried by reference and
    // exactly one DV dir exists). The oracle recomputes the surviving
    // aggregate from the source table.
    "q_sql_delete" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_delete"
      val cat = sqlCatalogFor(s, dir)
      if (V.latestVersion(table) < 0) {
        val ev = t(s, dir, "events").select(col("event_id"),
          col("event_type"), cents(col("value")).as("vc"))
        V.commit(ev, table, overwrite = false) // v0
        s.sql(s"DELETE FROM $cat.sql_delete WHERE event_type = 'click'")
      }
      // ledger facts from the HEAD (== v1 once the DML landed; on an
      // EMPTY source the DML is a pure no-op and the head stays v0 —
      // the aggregate below is then zero rows, so the facts never
      // reach the compare; EmptyInputSpec runs every row over empty
      // tables)
      val head = V.latestVersion(table)
      s.sql(s"""SELECT event_type, count(*) AS n_events,
            CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
          FROM $cat.sql_delete GROUP BY event_type""")
        .withColumn("n_data_dirs", lit(V.dataDirIds(table, head).size))
        .withColumn("n_dv_dirs", lit(V.dvDirIds(table, head).size))
        .orderBy("event_type")
    }),

    // 272: SQL UPDATE through the catalog, driver-gated — UPDATE …
    // SET … WHERE onto Versioned.updateWhereDV: matched rows are
    // masked and their post-images append as ONE new dir, published
    // in one atomic manifest (bytes written ∝ matched rows — the
    // original dir carries by reference, counted in the output). The
    // oracle applies the same revaluation arithmetically.
    "q_sql_update" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_update"
      val cat = sqlCatalogFor(s, dir)
      if (V.latestVersion(table) < 0) {
        val ev = t(s, dir, "events").select(col("event_id"),
          col("event_type"), cents(col("value")).as("vc"))
        V.commit(ev, table, overwrite = false) // v0
        s.sql(s"UPDATE $cat.sql_update SET vc = vc * 3 " +
          "WHERE event_type = 'purchase'")
      }
      // ledger facts from the HEAD (== v1 once the DML landed; on an
      // EMPTY source the DML is a pure no-op and the head stays v0 —
      // the aggregate below is then zero rows, so the facts never
      // reach the compare; EmptyInputSpec runs every row over empty
      // tables)
      val head = V.latestVersion(table)
      s.sql(s"""SELECT event_type, count(*) AS n_events,
            CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
          FROM $cat.sql_update GROUP BY event_type""")
        .withColumn("n_data_dirs", lit(V.dataDirIds(table, head).size))
        .withColumn("n_dv_dirs", lit(V.dvDirIds(table, head).size))
        .orderBy("event_type")
    }),

    // 273: SQL MERGE INTO through the catalog, driver-gated — the
    // full conditional-clause shape (WHEN MATCHED AND … DELETE /
    // WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT) translated onto
    // Versioned.mergeDV (sources/GraftSqlDml.scala: ON split into key
    // equalities, one batch-sized pair join, first-clause-wins):
    // clicks leave, purchases revalue ×2, shifted-id views insert —
    // the same CDC scenario as q_stream_cdc, so the oracle is the
    // same arithmetic reconstruction; here the whole mutation is ONE
    // SQL statement with batch-proportional write amplification.
    "q_sql_merge" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_merge"
      val cat = sqlCatalogFor(s, dir)
      Tables.registerAll(s, dir)
      if (V.latestVersion(table) < 0) {
        val ev = t(s, dir, "events").select(col("event_id"),
          col("event_type"), cents(col("value")).as("vc"))
        V.commit(ev, table, overwrite = false) // v0
        s.sql(s"""MERGE INTO $cat.sql_merge tgt USING (
            SELECT event_id, event_type,
                   CAST(round(value * 100) AS BIGINT) * 2 AS vc
            FROM events WHERE event_type = 'purchase'
            UNION ALL
            SELECT event_id, event_type,
                   CAST(round(value * 100) AS BIGINT)
            FROM events WHERE event_type = 'click'
            UNION ALL
            SELECT event_id + 1000000000, event_type,
                   CAST(round(value * 100) AS BIGINT)
            FROM events WHERE event_type = 'view') src
          ON tgt.event_id = src.event_id
          WHEN MATCHED AND src.event_type = 'click' THEN DELETE
          WHEN MATCHED THEN UPDATE SET vc = src.vc
          WHEN NOT MATCHED THEN INSERT (event_id, event_type, vc)
            VALUES (src.event_id, src.event_type, src.vc)""")
      }
      s.sql(s"""SELECT event_type, count(*) AS n_events,
            CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
          FROM $cat.sql_merge GROUP BY event_type
          ORDER BY event_type""")
    }),

    // 274: CREATE TABLE AS SELECT through the catalog, driver-gated —
    // a SQL session BIRTHS a versioned table (schema-only v0 commit,
    // CTAS insert through the same V1 write bridge), renames a column
    // (metadata-only, name-mode column mapping), and keeps inserting
    // under the new name; the checked aggregate reads the final head,
    // and the oracle recomputes it from the source table — the full
    // SQL-only lifecycle with zero Scala calls after registration.
    "q_sql_ctas" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_ctas"
      val cat = sqlCatalogFor(s, dir)
      Tables.registerAll(s, dir)
      if (V.latestVersion(table) < 0) {
        s.sql(s"""CREATE TABLE $cat.sql_ctas AS
          SELECT c_custkey, c_mktsegment,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS vc
          FROM customer WHERE c_custkey % 2 = 0""")
        s.sql(s"ALTER TABLE $cat.sql_ctas RENAME COLUMN vc TO balance")
        s.sql(s"""INSERT INTO $cat.sql_ctas
          SELECT c_custkey, c_mktsegment,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS balance
          FROM customer WHERE c_custkey % 2 = 1""")
      }
      s.sql(s"""SELECT c_mktsegment, count(*) AS n,
            CAST(sum(balance) AS DOUBLE) / 100.0 AS sum_balance
          FROM $cat.sql_ctas GROUP BY c_mktsegment
          ORDER BY c_mktsegment""")
    }),

    // 283: PARTITIONED BY through SQL DDL driver-gated — the
    // partition-pruned layout q_partition_prune proves the engine
    // has, now reachable from PURE SQL: CREATE TABLE … PARTITIONED BY
    // records the write policy in the birth manifest, INSERT routes
    // through commitPartitioned (hive layout + per-dir spec), and the
    // filtered read prunes whole partition directories before any
    // file IO (VersionedPrune.partitionPrune). The checked output
    // carries the aggregate AND a `pruned` flag gated on the scan's
    // real file accounting (filesRead < filesTotal); oracle = the
    // source-table filter + TRUE. Bounded collect: ≤2 groups.
    "q_sql_partitioned" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_part"
      val cat = sqlCatalogFor(s, dir)
      Tables.registerAll(s, dir)
      if (V.latestVersion(table) < 0) {
        s.sql(s"""CREATE TABLE $cat.sql_part (
            o_orderkey BIGINT, o_orderpriority STRING,
            price_cents BIGINT) PARTITIONED BY (o_orderpriority)""")
        s.sql(s"""INSERT INTO $cat.sql_part
          SELECT o_orderkey, o_orderpriority,
                 CAST(round(o_totalprice * 100) AS BIGINT)
          FROM orders""")
      }
      val agg = s.sql(s"""SELECT o_orderpriority, count(*) AS n_orders,
            CAST(sum(price_cents) AS DOUBLE) / 100.0 AS sum_price
          FROM $cat.sql_part
          WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
          GROUP BY o_orderpriority""").collect() // ≤2 groups
      val (accPath, read, tot) =
        graft.sources.GraftCatalog.lastVersionedScan.get()
      require(accPath == table,
        s"q_sql_partitioned: accounting is for '$accPath', not '$table'")
      import s.implicits._
      agg.toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toDF("o_orderpriority", "n_orders", "sum_price")
        .withColumn("pruned", lit(read < tot))
        .orderBy("o_orderpriority")
    }),

    // 290: TIME-TRANSFORM PARTITIONING through SQL DDL driver-gated —
    // THE canonical 100 TB lake layout, daily partitioning, with zero
    // materialized helper columns: CREATE TABLE … PARTITIONED BY
    // (days(ts)) records the transform spec in the birth manifest,
    // INSERT routes through commitPartitionedSpec (dirs named
    // ts__days=yyyy-MM-dd carry the rendering; the files keep the
    // FULL timestamp, so reads are exact), and a pure-SQL timestamp
    // RANGE predicate prunes whole day directories before any file IO
    // (VersionedPrune.transformPrune → readPartitionPrunedTime — a
    // lexicographic string-range compare over the zero-padded
    // renderings, bounds rendered under the same session clock the
    // writer staged under). The `pruned` flag gates the scan's REAL
    // file accounting (filesRead < filesTotal); the exact predicate
    // re-applies row-level, so boundary days never leak rows. Oracle
    // = the same range over the source events.
    "q_sql_partitioned_time" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_ptime"
      val cat = sqlCatalogFor(s, dir)
      Tables.registerAll(s, dir)
      if (V.latestVersion(table) < 0) {
        s.sql(s"""CREATE TABLE $cat.sql_ptime (
            event_id BIGINT, event_type STRING, ts TIMESTAMP,
            vc BIGINT) PARTITIONED BY (days(ts))""")
        s.sql(s"""INSERT INTO $cat.sql_ptime
          SELECT event_id, event_type, ts,
                 CAST(round(value * 100) AS BIGINT)
          FROM events""")
      }
      val agg = s.sql(s"""SELECT event_type, count(*) AS n_events,
            CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
          FROM $cat.sql_ptime
          WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
            AND ts < TIMESTAMP '2024-01-08 00:00:00'
          GROUP BY event_type""").collect() // ≤ |event types| rows
      val (accPath, read, tot) =
        graft.sources.GraftCatalog.lastVersionedScan.get()
      require(accPath == table,
        s"q_sql_partitioned_time: accounting is for '$accPath', " +
          s"not '$table'")
      import s.implicits._
      agg.toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toDF("event_type", "n_events", "sum_value")
        .withColumn("pruned", lit(read < tot))
        .orderBy("event_type")
    }),

    // 291: PARTITION-SCOPED ATOMIC OVERWRITE through SQL — the daily
    // re-land idiom: `INSERT OVERWRITE … PARTITION (p = v)` routes
    // through SupportsOverwrite onto Versioned.replaceWhere, and a
    // partition that landed as its own commit is DROPPED from the dir
    // chain metadata-only (zero existing bytes moved, zero mask rows
    // — the `replaced` flag gates n_dv_dirs == 0 on the accounting),
    // while everything outside the scope carries by reference. The
    // pre-replace snapshot stays time-travelable; the feed classifies
    // the replace. Oracle = the recomputed partition unioned with the
    // untouched rest.
    "q_sql_replace_where" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_replw"
      val cat = sqlCatalogFor(s, dir)
      Tables.registerAll(s, dir)
      if (V.latestVersion(table) < 0) {
        s.sql(s"""CREATE TABLE $cat.sql_replw (
            o_orderkey BIGINT, o_orderpriority STRING,
            price_cents BIGINT) PARTITIONED BY (o_orderpriority)""")
        // two loads: the urgent partition as its OWN aligned commit
        // (the dir the replace can prove), the rest as a second one
        s.sql(s"""INSERT INTO $cat.sql_replw
          SELECT o_orderkey, o_orderpriority,
                 CAST(round(o_totalprice * 100) AS BIGINT)
          FROM orders WHERE o_orderpriority = '1-URGENT'""")
        s.sql(s"""INSERT INTO $cat.sql_replw
          SELECT o_orderkey, o_orderpriority,
                 CAST(round(o_totalprice * 100) AS BIGINT)
          FROM orders WHERE o_orderpriority <> '1-URGENT'""")
        // the re-land: recompute the urgent partition (fewer rows,
        // repriced) and replace EXACTLY that scope in one commit
        s.sql(s"""INSERT OVERWRITE $cat.sql_replw
          PARTITION (o_orderpriority = '1-URGENT')
          SELECT o_orderkey,
                 CAST(round(o_totalprice * 100) AS BIGINT) * 2
          FROM orders
          WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0""")
      }
      val head = V.latestVersion(table)
      // metadata-only proof: no deletion-vector mask and the replaced
      // dir LEFT the chain (v0 schema dir + rest dir + re-land dir)
      val replaced = head >= 0 && V.dvDirIds(table, head).isEmpty &&
        V.dataDirIds(table, head).size == 3
      s.sql(s"""SELECT o_orderpriority, count(*) AS n_orders,
            CAST(sum(price_cents) AS DOUBLE) / 100.0 AS sum_price
          FROM $cat.sql_replw GROUP BY o_orderpriority""")
        .withColumn("replaced", lit(replaced))
        .orderBy("o_orderpriority")
    }),

    // 292: predicate-scoped replace, MASK tier (DSL) — when the scope
    // is not provably partition-aligned (here: one mixed dir),
    // replaceWhere stays row-EXACT by masking the matching live rows
    // via a deletion-vector sidecar and landing the batch beside the
    // carried dirs: mask rows ∝ matches, ZERO files rewritten (gated:
    // exactly one dv dir, original dir still in the chain). The GDPR/
    // backfill shape for scopes that cut across the layout. Oracle =
    // the recomputed scope unioned with the untouched complement.
    "q_replace_where" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/replw_dsl"
      if (V.latestVersion(table) < 0) {
        val ev = t(s, dir, "events").select(col("event_id"),
          col("event_type"), cents(col("value")).as("vc"))
        V.commit(ev, table, overwrite = false) // one mixed dir
        val batch = t(s, dir, "events")
          .filter(col("event_type") === "click" &&
            col("event_id") % 2 === 0)
          .select(col("event_id"), col("event_type"),
            (cents(col("value")) * 3).as("vc"))
        V.replaceWhere(s, table, batch,
          col("event_type") === "click"): Unit
      }
      val head = V.latestVersion(table)
      val carried = head >= 0 &&
        V.dataDirIds(table, head).size == 2 &&
        V.dvDirIds(table, head).size == 1
      V.read(s, table)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          (sum("vc").cast("double") / 100.0).as("sum_value"))
        .withColumn("masked", lit(carried))
        .orderBy("event_type")
    }),

    // 293: DYNAMIC partition overwrite — `INSERT OVERWRITE` under
    // partitionOverwriteMode=dynamic / writerV2.overwritePartitions():
    // the batch's DISTINCT partition renderings become the replace
    // scope (Versioned.replaceDynamic through the real DSv2
    // BatchWrite — executor parquet staging, ONE atomic commit), so
    // re-landing one event type drops that type's aligned dir
    // metadata-only and leaves every untouched partition alone — the
    // ETL idiom q_lake_refresh proves on the plain lake, here with
    // versions, OCC, and the change feed. Gated: zero mask dirs and
    // the replaced dir gone. Oracle = recomputed type ∪ the rest.
    "q_sql_replace_dynamic" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_repld"
      val cat = sqlCatalogFor(s, dir)
      Tables.registerAll(s, dir)
      if (V.latestVersion(table) < 0) {
        s.sql(s"""CREATE TABLE $cat.sql_repld (
            event_id BIGINT, event_type STRING, vc BIGINT)
          PARTITIONED BY (event_type)""")
        s.sql(s"""INSERT INTO $cat.sql_repld
          SELECT event_id, event_type,
                 CAST(round(value * 100) AS BIGINT)
          FROM events WHERE event_type = 'click'""")
        s.sql(s"""INSERT INTO $cat.sql_repld
          SELECT event_id, event_type,
                 CAST(round(value * 100) AS BIGINT)
          FROM events WHERE event_type <> 'click'""")
        // the dynamic re-land: touches ONLY the click partition
        s.sql(s"""SELECT event_id, 'click' AS event_type,
                 CAST(round(value * 100) AS BIGINT) * 5 AS vc
          FROM events
          WHERE event_type = 'click' AND event_id % 4 = 0""")
          .writeTo(s"$cat.sql_repld").overwritePartitions()
      }
      val head = V.latestVersion(table)
      val dynamic = head >= 0 && V.dvDirIds(table, head).isEmpty &&
        V.dataDirIds(table, head).size == 3
      s.sql(s"""SELECT event_type, count(*) AS n_events,
            CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
          FROM $cat.sql_repld GROUP BY event_type""")
        .withColumn("dynamic", lit(dynamic))
        .orderBy("event_type")
    }),

    // 294: PARTITION-SCOPED COMPACTION through CALL — OPTIMIZE one
    // partition, not the table: `CALL g.system.compact(scope =>
    // 'col=v')` merges exactly the data dirs provably covered by the
    // scope (Versioned.compactWhere — recorded spec + subtree
    // listing) into one dir, materializing the scope's DV masks away,
    // while every other dir carries BY REFERENCE — the nightly
    // per-partition OPTIMIZE a 100 TB table needs (a full rewrite
    // would move 99 untouched regions). Gated on the ledger: a
    // 'compact' commit landed and the urgent partition's fragmented
    // dirs left the chain. Oracle = the untouched logical content.
    "q_sql_compact_scope" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_compactw"
      val cat = sqlCatalogFor(s, dir)
      Tables.registerAll(s, dir)
      if (V.latestVersion(table) < 0) {
        s.sql(s"""CREATE TABLE $cat.sql_compactw (
            o_orderkey BIGINT, o_orderpriority STRING,
            price_cents BIGINT) PARTITIONED BY (o_orderpriority)""")
        // the urgent partition lands FRAGMENTED (two commits)…
        s.sql(s"""INSERT INTO $cat.sql_compactw
          SELECT o_orderkey, o_orderpriority,
                 CAST(round(o_totalprice * 100) AS BIGINT)
          FROM orders
          WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0""")
        s.sql(s"""INSERT INTO $cat.sql_compactw
          SELECT o_orderkey, o_orderpriority,
                 CAST(round(o_totalprice * 100) AS BIGINT)
          FROM orders
          WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 1""")
        s.sql(s"""INSERT INTO $cat.sql_compactw
          SELECT o_orderkey, o_orderpriority,
                 CAST(round(o_totalprice * 100) AS BIGINT)
          FROM orders WHERE o_orderpriority <> '1-URGENT'""")
        // …and the scoped OPTIMIZE merges exactly that partition
        s.sql(s"""CALL $cat.system.compact(`table` => 'sql_compactw',
          target_files => 1, scope => 'o_orderpriority=1-URGENT')""")
          .collect(): Unit // ≤1 accounting row
      }
      val head = V.latestVersion(table)
      // ledger proof: a compact commit landed and the two fragmented
      // urgent dirs merged (v0 schema dir + rest dir + compacted dir)
      val compacted = head >= 0 &&
        V.history(s, table).filter(col("mode") === "compact")
          .count() == 1L &&
        V.dataDirIds(table, head).size == 3
      s.sql(s"""SELECT o_orderpriority, count(*) AS n_orders,
            CAST(sum(price_cents) AS DOUBLE) / 100.0 AS sum_price
          FROM $cat.sql_compactw GROUP BY o_orderpriority""")
        .withColumn("compacted", lit(compacted))
        .orderBy("o_orderpriority")
    }),

    // 295: BROADCAST-PLANNED dim⨝fact through the SQL catalog — the
    // defining star-schema join shape at 100 TB: the V1 read bridge
    // hides scan statistics from join selection (V1ScanWrapper), so
    // without VersionedJoinHint a 2 KB nation dimension would shuffle
    // the whole customer side; the rule reads the pinned snapshot's
    // REAL file bytes and hints BROADCAST, and the checked `bcast`
    // flag gates the EXECUTED plan containing BroadcastHashJoin with
    // zero user hints. Oracle = the plain join aggregate.
    "q_sql_dim_join" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/dim_nation"
      val cat = sqlCatalogFor(s, dir)
      Tables.registerAll(s, dir)
      if (V.latestVersion(table) < 0)
        V.commit(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name")), table,
          overwrite = false)
      val df = s.sql(s"""SELECT n.n_name, count(*) AS n_cust,
            CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT))
              AS DOUBLE) / 100.0 AS sum_acctbal
          FROM customer c JOIN $cat.dim_nation n
            ON c.c_nationkey = n.n_nationkey
          GROUP BY n.n_name""")
      val bcast = df.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin")
      df.withColumn("bcast", lit(bcast)).orderBy("n_name")
    }),

    // 296: `<t>.partitions` metadata table — SHOW PARTITIONS for the
    // format: one row per partition VALUE with file/byte/commit-dir
    // accounting, derived from the same DISTRIBUTED listing as
    // `.files` (files-sized work at cluster width, partitions-sized
    // output — the operator's "how big is each day, how fragmented"
    // without driver materialization). Physical sizes aren't
    // oracle-reconstructable, so the checked columns are the
    // partition values, the per-value commit-dir count (deterministic
    // from the staging), and a files-present gate. Oracle = the
    // distinct partition values of the source.
    "q_sql_partitions" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_parts"
      val cat = sqlCatalogFor(s, dir)
      Tables.registerAll(s, dir)
      if (V.latestVersion(table) < 0) {
        s.sql(s"""CREATE TABLE $cat.sql_parts (
            event_id BIGINT, event_type STRING, vc BIGINT)
          PARTITIONED BY (event_type)""")
        // one commit per type — dirs align with partitions, so
        // n_dirs is deterministic (1 per value)
        val types = t(s, dir, "events").select("event_type")
          .distinct().collect().map(_.getString(0)).sorted // ≤ handful
        types.foreach { et =>
          s.sql(s"""INSERT INTO $cat.sql_parts
            SELECT event_id, event_type,
                   CAST(round(value * 100) AS BIGINT)
            FROM events WHERE event_type = '$et'""")
        }
      }
      s.sql(s"""SELECT part_value,
            CAST(n_dirs AS INT) AS n_dirs,
            n_files > 0 AND size_bytes > 0 AS has_files
          FROM $cat.sql_parts.partitions
          WHERE part_value IS NOT NULL""")
        .orderBy("part_value")
    }),

    // 282: SQL MERGE full-sync mirror driver-gated — WHEN NOT MATCHED
    // BY SOURCE completes the mirror idiom: matched rows revalue,
    // source-only rows insert, target rows that VANISHED from the
    // source (clicks) delete — one statement converges the table to
    // the source exactly (what q_stream_cdc approximates
    // incrementally). The scope is one reverse anti-join
    // (GraftSqlDml.mergeRun nmbsOut); write amplification stays
    // ∝ (batch + affected target rows), gated by the dir/mask
    // accounting on the checked output. Oracle = the source
    // reconstruction.
    "q_sql_merge_sync" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_merge_sync"
      val cat = sqlCatalogFor(s, dir)
      Tables.registerAll(s, dir)
      if (V.latestVersion(table) < 0) {
        val ev = t(s, dir, "events").select(col("event_id"),
          col("event_type"), cents(col("value")).as("vc"))
        V.commit(ev, table, overwrite = false) // v0
        s.sql(s"""MERGE INTO $cat.sql_merge_sync tgt USING (
            SELECT event_id, event_type,
                   CAST(round(value * 100) AS BIGINT) * 2 AS vc
            FROM events WHERE event_type <> 'click'
            UNION ALL
            SELECT event_id + 1000000000, 'mirror' AS event_type,
                   CAST(round(value * 100) AS BIGINT)
            FROM events WHERE event_type = 'purchase') src
          ON tgt.event_id = src.event_id
          WHEN MATCHED THEN UPDATE SET vc = src.vc
          WHEN NOT MATCHED THEN INSERT (event_id, event_type, vc)
            VALUES (src.event_id, src.event_type, src.vc)
          WHEN NOT MATCHED BY SOURCE THEN DELETE""")
      }
      val head = V.latestVersion(table)
      s.sql(s"""SELECT event_type, count(*) AS n_events,
            CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
          FROM $cat.sql_merge_sync GROUP BY event_type""")
        .withColumn("n_data_dirs", lit(V.dataDirIds(table, head).size))
        .withColumn("n_dv_dirs", lit(V.dvDirIds(table, head).size))
        .orderBy("event_type")
    }),

    // 289: MERGE WITH SCHEMA EVOLUTION driver-gated — the CDC-mirror
    // idiom surviving upstream schema drift: the batch carries a
    // column (`src`) the target was born without, and ONE statement
    // lands it end-to-end — the analyzer's
    // ResolveMergeIntoSchemaEvolution (unlocked by the table's
    // AUTOMATIC_SCHEMA_EVOLUTION capability) diffs source vs target
    // and routes the add through the engine's alterColumns METADATA
    // commit (v1 'meta': zero data moved, history null-fills), then
    // the merge itself lands merge-on-read (v2 'merge-dv'). The
    // `evolved` flag gates the REAL evidence: the ledger's
    // append→meta→merge-dv mode ladder plus v0's schema provably
    // lacking the column. Oracle reconstructs the post-merge snapshot
    // with `src` null-filled ('none') on untouched rows.
    "q_sql_merge_evolve" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_mergevo"
      val cat = sqlCatalogFor(s, dir)
      Tables.registerAll(s, dir)
      if (V.latestVersion(table) < 0) {
        val ev = t(s, dir, "events").select(col("event_id"),
          col("event_type"), cents(col("value")).as("vc"))
        V.commit(ev, table, overwrite = false) // v0: no `src` column
        s.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.sql_mergevo tgt
          USING (
            SELECT event_id, event_type,
                   CAST(round(value * 100) AS BIGINT) * 2 AS vc,
                   'upd' AS src
            FROM events WHERE event_type = 'purchase'
            UNION ALL
            SELECT event_id + 1000000000, 'evolved' AS event_type,
                   CAST(round(value * 100) AS BIGINT) AS vc,
                   'ins' AS src
            FROM events WHERE event_type = 'click') s
          ON tgt.event_id = s.event_id
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
      }
      val modes = V.history(s, table).orderBy("version")
        .select("mode").collect().map(_.getString(0)).toSeq // ≤3 rows
      val evolved = modes == Seq("append", "meta", "merge-dv") &&
        !V.schemaAt(s, table, 0).fieldNames.contains("src")
      s.sql(s"""SELECT event_type, coalesce(src, 'none') AS src,
            count(*) AS n_events,
            CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
          FROM $cat.sql_mergevo
          GROUP BY event_type, coalesce(src, 'none')""")
        .withColumn("evolved", lit(evolved))
        .orderBy("event_type", "src")
    }),

    // 297: NESTED-STRUCT SCHEMA EVOLUTION driver-gated — upstream
    // adding a field INSIDE a struct column is the most common
    // remaining drift shape once structs are first-class
    // (q_json_nested). v0 commits events packed into a struct WITHOUT
    // `flag`; `ALTER TABLE … ADD COLUMN meta.flag STRING` lands as
    // ONE metadata commit through the dotted-path alter ledger
    // (Versioned.alterColumns — zero data moved, history null-fills
    // the nested field under the explicit read schema); the next
    // INSERT populates it; and `UPDATE … SET meta.flag = …` exercises
    // nested-field assignment (GraftSqlDml.composeSet — a struct
    // rebuild via UpdateFields, so merge-on-read masks/feed/constraints
    // see a plain whole-column update). The `evolved` flag gates the
    // REAL evidence: v0's struct provably lacking the field plus
    // exactly one 'meta' ledger mode. Oracle reconstructs the final
    // snapshot with 'none' for null-filled pre-evolution rows.
    "q_sql_evolve_nested" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_evnested"
      val cat = sqlCatalogFor(s, dir)
      Tables.registerAll(s, dir)
      if (V.latestVersion(table) < 0) {
        val ev = t(s, dir, "events").select(col("event_id"),
          struct(col("event_type").as("etype"),
            cents(col("value")).as("vc")).as("meta"))
        V.commit(ev, table, overwrite = false) // v0: meta has NO flag
        s.sql(s"ALTER TABLE $cat.sql_evnested " +
          "ADD COLUMN meta.flag STRING")
        s.sql(s"""INSERT INTO $cat.sql_evnested
          SELECT event_id + 1000000000,
                 named_struct('etype', 'new_batch',
                   'vc', CAST(round(value * 100) AS BIGINT),
                   'flag', 'new')
          FROM events WHERE event_type = 'click'""")
        s.sql(s"""UPDATE $cat.sql_evnested SET meta.flag = 'seen'
          WHERE meta.etype = 'purchase'""")
      }
      val evolved = !V.schemaAt(s, table, 0)("meta").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.contains("flag") &&
        V.history(s, table).filter(col("mode") === "meta")
          .count() == 1L
      s.sql(s"""SELECT meta.etype AS etype,
            coalesce(meta.flag, 'none') AS flag, count(*) AS n_events,
            CAST(sum(meta.vc) AS DOUBLE) / 100.0 AS sum_value
          FROM $cat.sql_evnested
          GROUP BY meta.etype, coalesce(meta.flag, 'none')""")
        .withColumn("evolved", lit(evolved))
        .orderBy("etype", "flag")
    }),

    // 281: SQL DELETE WHERE … IN (subquery) driver-gated — the GDPR
    // erasure shape, the loudest former limit of the DML front door:
    // the subplan (purchasing users with event_id % 10 = 0) plans as
    // Catalyst's own distributed semi-join inside the mask write (the
    // statement's resolved condition bound to the live rows by exprId,
    // GraftSqlDml.hits — no key set is collected), and the delete lands
    // merge-on-read (one mask sidecar, zero dirs rewritten — the
    // ledger facts ride the checked output). The oracle reconstructs
    // the post-delete snapshot with the same NOT IN complement.
    "q_sql_delete_subq" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_delsubq"
      val cat = sqlCatalogFor(s, dir)
      Tables.registerAll(s, dir)
      if (V.latestVersion(table) < 0) {
        val ev = t(s, dir, "events").select(col("event_id"),
          col("user_id"), col("event_type"), cents(col("value")).as("vc"))
        V.commit(ev, table, overwrite = false) // v0
        s.sql(s"""DELETE FROM $cat.sql_delsubq WHERE user_id IN
            (SELECT user_id FROM events
             WHERE event_type = 'purchase' AND event_id % 10 = 0)""")
      }
      val head = V.latestVersion(table)
      s.sql(s"""SELECT event_type, count(*) AS n_events,
            CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
          FROM $cat.sql_delsubq GROUP BY event_type""")
        .withColumn("n_data_dirs", lit(V.dataDirIds(table, head).size))
        .withColumn("n_dv_dirs", lit(V.dvDirIds(table, head).size))
        .orderBy("event_type")
    }),

    // 284: SQL Z-ORDER SKIPPING driver-gated — z-order file skipping
    // through PURE SQL, twice over: the layout comes from
    // `CALL g.system.cluster(...)` (OPTIMIZE ZORDER as a maintenance
    // verb → Versioned.clusterRewrite: one overwrite commit whose
    // files carry tight (user_id, vc) bounding boxes, their min/max
    // recorded in the dir's _files.json, ledger mode 'cluster'), and
    // the SELECT's pushed `vc` range routes VersionedPrune through
    // readRangeClustered — files whose [lo, hi] misses [0, 500] are
    // pruned on the driver BEFORE any data IO, with the exact
    // predicate re-applied row-level. Checked output gates the
    // aggregate AND the scan's real file accounting (filesRead <
    // filesTotal); oracle = the full-scan filter + TRUE. The 1-row
    // collect is the aggregate itself.
    "q_sql_zorder_skip" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_zorder"
      val cat = sqlCatalogFor(s, dir)
      if (V.latestVersion(table) < 0) {
        val src = t(s, dir, "events").select(col("event_id"),
          col("user_id"), cents(col("value")).as("vc"))
        V.commit(src, table, overwrite = false): Unit // v0 arrival order
        s.sql(s"""CALL $cat.system.cluster(`table` => 'sql_zorder',
          c1 => 'user_id', c2 => 'vc', files => 16)""").collect(): Unit
      }
      val agg = s.sql(s"""SELECT count(*) AS n_rows,
            CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
          FROM $cat.sql_zorder
          WHERE vc >= 0 AND vc <= 500""").collect() // 1 row (aggregate)
      val (accPath, read, tot) =
        graft.sources.GraftCatalog.lastVersionedScan.get()
      require(accPath == table,
        s"q_sql_zorder_skip: accounting is for '$accPath', not '$table'")
      import s.implicits._
      Seq((agg(0).getLong(0),
          if (agg(0).isNullAt(1)) None else Some(agg(0).getDouble(1)),
          read < tot))
        .toDF("n_rows", "sum_value", "skipped")
    }),

    // 285: SQL BLOOM SKIPPING driver-gated — bloom file skipping
    // through the catalog: documents hash-spread on doc_id (the layout min/max
    // ranges CANNOT prune — every file's [lo, hi] spans the domain)
    // committed with the per-file bloom sidecar
    // (Versioned.commitBloomIndexed), and the SELECT's pushed
    // `doc_id = 42` routes VersionedPrune through
    // readEqualityClustered — files whose bloom proves the key absent
    // never reach IO; the exact predicate removes bloom false
    // positives. Same skipped-flag gate on the scan's file
    // accounting; oracle = the point lookup + TRUE. The collect is
    // the 1-row point lookup.
    // 299: PERSISTENT SQL VIEWS driver-gated — `CREATE VIEW` into the
    // warehouse metadata (GraftViewRules: Spark's own analyzer
    // blanket-rejects v2-catalog view DDL, so the hint-batch rule
    // routes it onto GraftCatalog.createView; reads serve the stored
    // text through loadTable as ViewSqlTable). Two views gate the two
    // load-bearing semantics: the LIVE view re-runs its text per
    // query (follows the table head across a later INSERT — snapshot-
    // consistent like any read), and the PINNED view's text carries
    // `VERSION AS OF 1`, so it answers v1's count forever
    // (time-travel-safe). The `pinned_ok` flag compares the pinned
    // view's 1-row count against the source row count (driver-side
    // 1-row aggregates, annotated). Oracle reconstructs the live
    // view's groups with the re-typed second batch.
    "q_sql_view" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_viewt"
      val cat = sqlCatalogFor(s, dir)
      if (V.latestVersion(table) < 0) {
        val ev = t(s, dir, "events").select(col("event_id"),
          col("event_type"), cents(col("value")).as("vc"))
        V.commit(ev, table, overwrite = false) // v0
        s.sql(s"""CREATE VIEW $cat.sql_view_live AS
            SELECT event_type, count(*) AS n_events,
                   CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
            FROM $cat.sql_viewt GROUP BY event_type""")
        s.sql(s"""CREATE VIEW $cat.sql_view_pinned AS
            SELECT count(*) AS n0 FROM $cat.sql_viewt VERSION AS OF 0""")
        // the live view must FOLLOW this insert; the pinned must not
        s.sql(s"""INSERT INTO $cat.sql_viewt
          SELECT event_id + 1000000000, 'view_batch' AS event_type, vc
          FROM $cat.sql_viewt VERSION AS OF 0
          WHERE event_type = 'click'""")
      }
      // 1-row collects: the pinned view's count and the source count
      val n0 = s.sql(s"SELECT n0 FROM $cat.sql_view_pinned")
        .collect()(0).getLong(0)
      val nSrc = t(s, dir, "events").count()
      s.sql(s"SELECT event_type, n_events, sum_value " +
          s"FROM $cat.sql_view_live")
        .withColumn("pinned_ok", lit(n0 == nSrc))
        .orderBy("event_type")
    }),

    // 298: HASH-BUCKET PARTITION LAYOUT driver-gated — `PARTITIONED
    // BY (bucket(16, doc_id))` through pure SQL: every INSERT lays
    // its dir out as pmod(hash(doc_id), 16) hive subdirs
    // (Versioned.bucketModulus / stageHiveSpec), and a pushed point
    // equality routes VersionedPrune through
    // readPartitionPrunedBucket — the probe value hashes driver-side
    // with the SAME Murmur3 expression the writer used, so only 1/16
    // of each bucketed dir's files are even LISTED, before any data
    // IO. The join-locality/point-lookup layout for high-cardinality
    // keys at 100 TB, where identity partitioning (one dir per value)
    // cannot go. Checked output gates the lookup AND the real file
    // accounting (filesRead < filesTotal); the 1-row collect is the
    // point lookup itself. Oracle = the filter + TRUE.
    "q_sql_bucketed" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_bucketed"
      val cat = sqlCatalogFor(s, dir)
      if (V.latestVersion(table) < 0) {
        s.sql(s"""CREATE TABLE $cat.sql_bucketed
            (doc_id BIGINT, n_chars BIGINT)
            PARTITIONED BY (bucket(16, doc_id))""")
        Tables(s, dir, "documents").select(col("doc_id"),
            col("n_chars")).createOrReplaceTempView("bucketed_src")
        s.sql(s"INSERT INTO $cat.sql_bucketed " +
          "SELECT doc_id, n_chars FROM bucketed_src")
      }
      val r = s.sql(s"""SELECT doc_id, n_chars FROM $cat.sql_bucketed
          WHERE doc_id = 42""").collect() // 1 row (point lookup)
      val (accPath, read, tot) =
        graft.sources.GraftCatalog.lastVersionedScan.get()
      require(accPath == table,
        s"q_sql_bucketed: accounting is for '$accPath', not '$table'")
      import s.implicits._
      r.toSeq.map(x => (x.getLong(0), x.getLong(1), read < tot))
        .toDF("doc_id", "n_chars", "bucket_pruned")
    }),

    "q_sql_bloom_skip" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_bloom"
      val cat = sqlCatalogFor(s, dir)
      if (V.latestVersion(table) < 0) {
        val src = t(s, dir, "documents").select(col("doc_id"),
          col("n_chars")).repartition(16, col("doc_id"))
        V.commitBloomIndexed(src, table, "doc_id",
          expectedPerFile = 2000L, overwrite = false): Unit
      }
      val r = s.sql(s"""SELECT doc_id, n_chars FROM $cat.sql_bloom
          WHERE doc_id = 42""").collect() // 1 row (point lookup)
      val (accPath, read, tot) =
        graft.sources.GraftCatalog.lastVersionedScan.get()
      require(accPath == table,
        s"q_sql_bloom_skip: accounting is for '$accPath', not '$table'")
      import s.implicits._
      r.toSeq.map(x => (x.getLong(0), x.getLong(1), read < tot))
        .toDF("doc_id", "n_chars", "skipped")
    }),

    // 286: SQL CONSTRAINT LIFECYCLE driver-gated — CHECK constraints
    // managed end-to-end through CALL verbs: add_constraint validates
    // the existing snapshot and publishes a metadata commit (v1);
    // while live, the gate REJECTS a violating INSERT (the staging
    // asserts the throw — if the gate leaked, the extra commit would
    // shift every later version and the oracle would mismatch);
    // drop_constraint removes it by exact expression text as another
    // metadata commit (v2); the previously-violating row then lands
    // (v3) — proof the gate was real and its removal is real. Checked
    // output = the ledger (version, mode, n_constraints) value-tied
    // to per-version `VERSION AS OF` row counts, q_history style;
    // oracle reconstructs all four versions from events arithmetic.
    "q_sql_constraints" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_constraints"
      val cat = sqlCatalogFor(s, dir)
      if (V.latestVersion(table) < 0) {
        val ev = t(s, dir, "events").select(col("event_id"),
          col("event_type"), cents(col("value")).as("vc"))
        V.commit(ev, table, overwrite = false): Unit // v0
        s.sql(s"""CALL $cat.system.add_constraint(
          `table` => 'sql_constraints', expr => 'vc >= 0')""")
          .collect(): Unit // v1 (meta)
        val denied = try {
          s.sql(s"""INSERT INTO $cat.sql_constraints VALUES
            (CAST(-2 AS BIGINT), 'bad', CAST(-1 AS BIGINT))""")
          false
        } catch { case _: Throwable => true }
        require(denied, "q_sql_constraints: the live CHECK constraint " +
          "let a violating INSERT through")
        s.sql(s"""CALL $cat.system.drop_constraint(
          `table` => 'sql_constraints', expr => 'vc >= 0')""")
          .collect(): Unit // v2 (meta)
        s.sql(s"""INSERT INTO $cat.sql_constraints VALUES
          (CAST(-1 AS BIGINT), 'sentinel', CAST(-100 AS BIGINT))""") // v3
      }
      s.sql(s"""
        SELECT h.version, h.mode, h.n_constraints, v.n_events
        FROM $cat.sql_constraints.history h
        JOIN (SELECT 0 AS version, count(*) AS n_events
                FROM $cat.sql_constraints VERSION AS OF 0
              UNION ALL SELECT 1, count(*)
                FROM $cat.sql_constraints VERSION AS OF 1
              UNION ALL SELECT 2, count(*)
                FROM $cat.sql_constraints VERSION AS OF 2
              UNION ALL SELECT 3, count(*)
                FROM $cat.sql_constraints VERSION AS OF 3) v
          ON h.version = v.version
        ORDER BY h.version""")
    }),

    // 287: TIMESTAMP AS OF through SQL TEXT driver-gated — the
    // wall-clock half of time travel (q_sql_time_travel covers
    // VERSION AS OF): each commit's ledger instant, read back from
    // DESCRIBE HISTORY (commits-sized collect), resolves via Spark's
    // native `TIMESTAMP AS OF '<instant>'` to exactly that version —
    // the as-of rule is "latest version committed at or before the
    // asked instant" (GraftCatalog.loadTable → Versioned.readAsOf).
    // Staging busy-waits the millisecond clock between commits so the
    // three ledger stamps are strictly ordered (same-milli commits
    // would make the ask ambiguous BY CONTRACT, not by bug). The
    // oracle reconstructs each version's content from events
    // arithmetic — identical shape to the version-addressed row, so a
    // timestamp resolving to the wrong version fails the value gate.
    "q_sql_ts_travel" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_tstravel"
      val cat = sqlCatalogFor(s, dir)
      if (V.latestVersion(table) < 0) {
        val ev = t(s, dir, "events").select(col("event_id"),
          col("event_type"), cents(col("value")).as("vc"))
        def tick(): Unit = {
          val t0 = System.currentTimeMillis()
          while (System.currentTimeMillis() <= t0) Thread.onSpinWait()
        }
        V.commit(ev.filter(col("event_type") === "view"), table,
          overwrite = false): Unit // v0
        tick()
        V.commit(ev.filter(col("event_type") =!= "view"), table,
          overwrite = false): Unit // v1: all events
        tick()
        V.commit(ev.filter(col("event_type") === "purchase"), table,
          overwrite = true): Unit // v2: purchases only
      }
      val ts = V.history(s, table).orderBy("version").collect()
        .map(_.getAs[Long]("ts_millis")) // 3 rows (ledger-sized)
      def tsLit(v: Int): String =
        java.time.Instant.ofEpochMilli(ts(v)).toString
      s.sql(Seq(0, 1, 2).map(v =>
        s"""SELECT $v AS version, count(*) AS n_events,
              CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
            FROM $cat.sql_tstravel TIMESTAMP AS OF '${tsLit(v)}'""")
        .mkString("", " UNION ALL ", " ORDER BY version"))
    }),

    // 288: STREAMING WRITES BY TABLE NAME driver-gated — the
    // write-side complement of q_stream_table: events stream through
    // `writeStream.toTable("<cat>.<t>")` into a versioned catalog
    // table (DSv2 StreamingWrite, streaming/StreamTableSink):
    // executors stage each epoch as parquet parts, the driver's
    // epoch commit replays the acknowledged files through
    // Versioned.commitTxn with a `stream:<queryId>:<epoch>` token —
    // exactly-once across crash-replays, every engine guard
    // (constraints, schema ledger, column mapping, feed) reused. The
    // staging RESTARTS the query over the same checkpoint and
    // requires zero replayed versions — the exactly-once contract is
    // executed, not assumed; the `tokened` flag gates that every
    // data commit carries its stream token. Oracle = events
    // arithmetic + TRUE.
    "q_stream_totable" -> ((s, dir) =>
      // state/shuffle width derived from the stream input size —
      // see withStreamStateWidth (micro-batch commits + merges
      // otherwise pay 32 near-empty tasks per batch)
      withStreamStateWidth(s, pathBytes(s"$dir/events.parquet")) {
      val V = graft.sources.Versioned
      val n = streamExecSeq.incrementAndGet()
      val cat = sqlCatalogFor(s, dir)
      val tname = s"stream_totable_$n"
      val table = stagingRoot(dir) + s"/$tname"
      val ckpt = stagingRoot(dir) + s"/stream_totable_ckpt_$n"
      s.sql(s"""CREATE TABLE $cat.$tname (
        event_id BIGINT, event_type STRING, vc BIGINT)""")
      def run(): Unit = {
        val src = eventsStream(s, dir).select(col("event_id"),
          col("event_type"), cents(col("value")).as("vc"))
        val q = src.writeStream.option("checkpointLocation", ckpt)
          .toTable(s"$cat.$tname")
        try q.processAllAvailable() finally q.stop()
      }
      run()
      val head = V.latestVersion(table)
      run() // restart, nothing new: exactly-once means zero replays
      require(V.latestVersion(table) == head,
        s"q_stream_totable: restart replayed commits " +
          s"($head -> ${V.latestVersion(table)})")
      val tokened = V.history(s, table) // ledger-sized collect
        .filter(col("version") > 0).select("txn").collect()
        .forall(r => !r.isNullAt(0) && r.getString(0).startsWith("stream:"))
      s.sql(s"""SELECT event_type, count(*) AS n_events,
            CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
          FROM $cat.$tname GROUP BY event_type""")
        .withColumn("tokened", lit(tokened))
        .orderBy("event_type")
    }),

    // 275: DESCRIBE HISTORY driver-gated — the commit ledger as a
    // queryable metadata table (`<table>.history`, Versioned.history:
    // version, mode, dir/mask/constraint counts), JOINED against
    // per-version `VERSION AS OF` row counts so the ledger arithmetic
    // is value-tied to the snapshots it describes (not just a shape
    // check). Three-commit fixture shared with q_time_travel; the
    // oracle reconstructs both the ledger facts and the counts.
    "q_history" -> ((s, dir) => {
      ensureVersionedEvents(s, dir): Unit
      val cat = sqlCatalogFor(s, dir)
      s.sql(s"""
        SELECT h.version, h.mode, h.n_data_dirs, h.n_dv_dirs,
               h.n_constraints, v.n_events
        FROM $cat.versioned_events.history h
        JOIN (SELECT 0 AS version, count(*) AS n_events
                FROM $cat.versioned_events VERSION AS OF 0
              UNION ALL SELECT 1, count(*)
                FROM $cat.versioned_events VERSION AS OF 1
              UNION ALL SELECT 2, count(*)
                FROM $cat.versioned_events VERSION AS OF 2) v
          ON h.version = v.version
        ORDER BY h.version""")
    }),

    // 276: STREAMING table read through the catalog, driver-gated —
    // q_stream_cdc's exact pipeline with the feed consumed via
    // spark.readStream.table("<cat>.<table>.changes") (the
    // GraftStreamRewrite analyzer rule routes it onto the stored
    // feed's file-stream source — checkpointed exactly-once), merged
    // per micro-batch into a versioned mirror; the oracle recomputes
    // the converged mirror from the base table. Proves the SQL
    // streaming story end-to-end: a session that only knows the
    // table NAME gets incremental CDC.
    "q_stream_table" -> ((s, dir) =>
      // state/shuffle width derived from the stream input size —
      // see withStreamStateWidth (micro-batch commits + merges
      // otherwise pay 32 near-empty tasks per batch)
      withStreamStateWidth(s, pathBytes(s"$dir/events.parquet")) {
      val V = graft.sources.Versioned
      val table = ensureCdcTable(s, dir)
      val cat = sqlCatalogFor(s, dir)
      val n = streamExecSeq.incrementAndGet()
      val mirror = stagingRoot(dir) + s"/cdc_tmirror_$n"
      val ckpt = stagingRoot(dir) + s"/cdc_tckpt_$n"
      V.commit(V.read(s, table, Some(0)), mirror,
        overwrite = false): Unit
      val feed = s.readStream.table(s"$cat.versioned_cdc.changes")
        .filter(col("_commit_version") === 1)
        .drop("_commit_version")
        .withColumnRenamed("_change_type", "change_type")
      val q = graft.streaming.CdcSink.startVersioned(
        feed, Seq("event_id"), mirror, appId = s"cdct_$n", ckpt)
      try q.processAllAvailable() finally q.stop()
      V.read(s, mirror)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          money(sum(col("vc"))).as("sum_value"))
        .orderBy("event_type")
    }),

    // 277: TPC-DS rollup report OVER THE VERSIONED TABLE through the
    // catalog, driver-gated — the breadth proof that real query load
    // composes with the lake layer: the orders fact lives in a
    // catalog table that has been CTAS-created, column-RENAMED
    // (metadata-only mapping), and row-DELETED (DV mask), and the
    // Q22-style hierarchy rollup still reads it with the date filter
    // pushed into the inner parquet scans and the mask applied inside
    // them before aggregation. The oracle folds the rename and delete into
    // arithmetic over the source table.
    "q_sql_ds_lakerollup" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/orders_lake"
      val cat = sqlCatalogFor(s, dir)
      if (V.latestVersion(table) < 0) {
        Tables.registerAll(s, dir)
        s.sql(s"""CREATE TABLE $cat.orders_lake AS
          SELECT o_orderkey, o_custkey, o_orderpriority,
                 CAST(o_orderdate AS DATE) AS odate,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS pc
          FROM orders""")
        s.sql(s"ALTER TABLE $cat.orders_lake RENAME COLUMN pc " +
          "TO price_cents")
        s.sql(s"DELETE FROM $cat.orders_lake " +
          "WHERE o_orderpriority = '5-LOW'")
      }
      s.sql(s"""
        WITH o AS (
          SELECT o_orderpriority,
                 CAST(EXTRACT(YEAR FROM odate) AS INT) AS yr,
                 price_cents
          FROM $cat.orders_lake WHERE odate >= DATE '1995-01-01')
        SELECT o_orderpriority, yr, count(*) AS n_orders,
               CAST(sum(price_cents) AS BIGINT) AS rev_cents
        FROM o GROUP BY ROLLUP(o_orderpriority, yr)
        ORDER BY o_orderpriority NULLS FIRST, yr NULLS FIRST""")
    }),

    // 278: TPC-DS rank-within-group report OVER THE VERSIONED TABLE
    // joined to a plain dimension view — the second breadth shape:
    // the customer fact is a catalog table with a renamed money
    // column and an EXPRESSION delete (c_custkey % 10 — exercising
    // the strategy path, not the translatable-filter path), joined to
    // the nation dimension, aggregated, and ranked within nation over
    // the aggregate's frame. Oracle folds the delete predicate into
    // the source arithmetic.
    "q_sql_ds_lakerank" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/cust_lake"
      val cat = sqlCatalogFor(s, dir)
      Tables.registerAll(s, dir)
      if (V.latestVersion(table) < 0) {
        s.sql(s"""CREATE TABLE $cat.cust_lake AS
          SELECT c_custkey, c_nationkey, c_mktsegment,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS bal
          FROM customer""")
        s.sql(s"ALTER TABLE $cat.cust_lake RENAME COLUMN bal TO balance")
        s.sql(s"DELETE FROM $cat.cust_lake WHERE c_custkey % 10 = 0")
      }
      s.sql(s"""
        WITH agg AS (
          SELECT n_name, c_mktsegment,
                 CAST(sum(balance) AS BIGINT) AS bal_cents,
                 count(*) AS n_cust
          FROM $cat.cust_lake JOIN nation ON n_nationkey = c_nationkey
          GROUP BY n_name, c_mktsegment),
        rk AS (
          SELECT n_name, c_mktsegment, bal_cents, n_cust,
                 CAST(rank() OVER (PARTITION BY n_name
                   ORDER BY bal_cents DESC, c_mktsegment) AS BIGINT)
                   AS rnk
          FROM agg)
        SELECT n_name, c_mktsegment, bal_cents, n_cust, rnk
        FROM rk WHERE rnk <= 2
        ORDER BY n_name, rnk, c_mktsegment""")
    }),

    // 279: SQL maintenance verbs (CALL procedures), driver-gated —
    // Spark 4's ProcedureCatalog surface (sources/GraftProcedures):
    // three appends, `CALL <cat>.system.compact(...)` folding the
    // ledger to one dir, `CALL add_constraint(...)` landing a quality
    // gate as a metadata commit — each verb 1:1 onto the engine entry
    // point the Scala API uses. The checked output joins the ledger
    // history (version/mode/dir counts, constants the CALL sequence
    // fully determines) to the surviving row count, so the whole
    // SQL-driven maintenance chain is value-gated.
    "q_sql_call" -> ((s, dir) => {
      val V = graft.sources.Versioned
      val table = stagingRoot(dir) + "/sql_call"
      val cat = sqlCatalogFor(s, dir)
      if (V.latestVersion(table) < 0) {
        val ev = t(s, dir, "events").select(col("event_id"),
          col("event_type"), cents(col("value")).as("vc"))
        (0 until 3).foreach(i => V.commit(
          ev.filter(col("event_id") % 3 === i), table,
          overwrite = false)) // v0..v2
        s.sql(s"CALL $cat.system.compact(`table` => 'sql_call', " +
          "target_files => 2)") // v3
        s.sql(s"CALL $cat.system.add_constraint(`table` => 'sql_call', " +
          "expr => 'event_id >= 0')") // v4 (meta)
      }
      s.sql(s"""
        SELECT h.version, h.mode, h.n_data_dirs, h.n_constraints,
               a.n_events
        FROM $cat.sql_call.history h
        CROSS JOIN (SELECT count(*) AS n_events FROM $cat.sql_call) a
        ORDER BY h.version""")
    }),

    // 38 (beyond-§2): rule-priority row selection per group
    // (asignar_tipologia): first Qx-if-small, else H-if-CE, else first
    // neutral row.
    "q_rule_priority" -> ((s, dir) => {
      // order must be total: (factura, linea) is not unique, and ties
      // differing in tipologia/cant would pick per-engine winners
      val picked = Rules.priorityPick(sendas(s, dir), Seq("servicio"),
        Seq(
          col("tipologia").startsWith("Qx") && col("cant") < 14,
          col("tipologia").startsWith("H") && col("ambito") === "CONSULTA EXTERNA",
          !col("tipologia").startsWith("Qx") && !col("tipologia").startsWith("H")),
        Seq(col("factura"), col("linea"), col("tipologia"), col("cant"),
          col("ambito"), col("cod_plan"), col("fec_servicio")))
      picked.select("servicio", "tipologia", "factura", "linea")
        .orderBy("servicio")
    }))

  private def etlOracle: Map[String, String] = {
    val orderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val antiCond = orderCols.map(c => s"a.$c IS NOT DISTINCT FROM b.$c")
      .mkString(" AND ")
    val nameGlue = (1 to 4).foldLeft("s2") { (acc, _) =>
      s"regexp_replace($acc, '(^| |#)(DE|DEL|LA|LOS) ', '\\1\\2#', 'g')"
    }
    Map(
    "q_upsert" -> """
      WITH target AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders WHERE o_orderkey % 3 = 0),
      updates AS (
        SELECT o_orderkey, 'U' AS o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) * 2 AS price_cents
        FROM orders WHERE o_orderkey % 6 = 0
        UNION ALL
        SELECT o_orderkey, 'N', CAST(round(o_totalprice * 100) AS BIGINT)
        FROM orders WHERE o_orderkey % 3 = 1 AND o_orderkey % 5 = 0)
      SELECT coalesce(t.o_orderkey, u.o_orderkey) AS o_orderkey,
             CASE WHEN u.o_orderkey IS NOT NULL
                  THEN u.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
             CAST(CASE WHEN u.o_orderkey IS NOT NULL
                  THEN u.price_cents ELSE t.price_cents END AS DOUBLE) / 100.0 AS price
      FROM target t FULL OUTER JOIN updates u ON t.o_orderkey = u.o_orderkey
      ORDER BY o_orderkey""",
    "q_lake_roundtrip" -> """
      SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1 ORDER BY day""",
    "q_schema_evolution" -> """
      SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus
                  ELSE '<none>' END AS status,
             count(*) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_price
      FROM orders GROUP BY 1 ORDER BY status""",
    "q_versioned_sink" -> """
      SELECT event_type, count(*) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_value
      FROM events GROUP BY 1 ORDER BY event_type""",
    "q_compact_roundtrip" -> """
      SELECT 'post' AS phase, 1 AS n_dirs, count(*) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_price
      FROM orders
      UNION ALL
      SELECT 'pre', 4, count(*),
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0
      FROM orders
      ORDER BY phase""",
    "q_restore" -> """
      WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS pc
                 FROM orders)
      SELECT 0 AS version, 2 AS head, count(*) AS n_orders,
             CAST(sum(pc) AS DOUBLE) / 100.0 AS sum_price FROM o
      UNION ALL
      SELECT 1, 2, 2 * count(*), CAST(sum(pc) * 3 AS DOUBLE) / 100.0 FROM o
      UNION ALL
      SELECT 2, 2, count(*), CAST(sum(pc) AS DOUBLE) / 100.0 FROM o
      ORDER BY version""",
    "q_vacuum" -> """
      SELECT 3 AS head, 1 AS n_manifests, 1 AS n_data_dirs,
             count(*) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_price
      FROM orders""",
    "q_vacuum_age" -> """
      SELECT 1 AS head, 1 AS n_manifests, 2 AS n_data_dirs,
             FALSE AS v0_readable, count(*) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_value
      FROM events""",
    "q_partition_prune" -> """
      SELECT o_orderpriority, count(*) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
               AS DOUBLE) / 100.0 AS sum_price,
             TRUE AS pruned
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_delete_dv" -> """
      WITH o AS (SELECT o_orderkey, o_orderstatus,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS pc
                 FROM orders),
      del AS (SELECT count(*) AS n_deleted,
                CAST(sum(pc) AS DOUBLE) / 100.0 AS sum_deleted
              FROM o WHERE o_orderkey % 2 = 1 AND o_orderstatus = 'F')
      SELECT o_orderstatus, count(*) AS n_orders,
             CAST(sum(pc) AS DOUBLE) / 100.0 AS sum_price,
             n_deleted, sum_deleted, 2 AS head, 2 AS n_carried_dirs,
             0 AS n_rewritten_files
      FROM o CROSS JOIN del
      WHERE NOT (o_orderkey % 2 = 1 AND o_orderstatus = 'F')
      GROUP BY o_orderstatus, n_deleted, sum_deleted
      ORDER BY o_orderstatus""",
    "q_merge_dv" -> """
      WITH o AS (SELECT o_orderkey, o_orderstatus,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS pc
                 FROM orders),
      survivors AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 97 = 0 THEN pc + 1000
                    ELSE pc END AS pc
        FROM o WHERE NOT (o_orderkey % 89 = 0 AND o_orderkey % 97 <> 0)
        UNION ALL
        SELECT o_orderkey + 1000000000, 'N', pc
        FROM o WHERE o_orderkey % 101 = 0)
      SELECT o_orderstatus, count(*) AS n_orders,
             CAST(sum(pc) AS DOUBLE) / 100.0 AS sum_price,
             2 AS head, 2 AS n_carried_dirs, 0 AS n_dropped_dirs,
             1 AS n_mask_dirs
      FROM survivors
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""",
    "q_clone" -> """
      WITH ev AS (SELECT event_type,
                    CAST(round(value * 100) AS BIGINT) AS vc FROM events)
      SELECT event_type, count(*) AS n_source,
             CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_source,
             CASE WHEN event_type = 'click' THEN NULL
                  ELSE count(*) END AS n_fork,
             CASE WHEN event_type = 'click' THEN NULL
                  ELSE CAST(sum(vc) AS DOUBLE) / 100.0 END AS sum_fork,
             TRUE AS zero_copy
      FROM ev GROUP BY event_type ORDER BY event_type""",
    "q_lake_refresh" -> """
      SELECT event_type, count(*) AS n_events,
             CAST(sum(CAST(round(
               CASE WHEN event_type = 'purchase' THEN value * 2
                    ELSE value END * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_value
      FROM events GROUP BY 1 ORDER BY event_type""",
    "q_time_travel" -> """
      WITH ev AS (SELECT event_type,
                    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      s0 AS (SELECT 0 AS version, count(*) AS n_events,
               CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
             FROM ev WHERE event_type <> 'purchase'),
      s1 AS (SELECT 1 AS version, count(*) AS n_events,
               CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value FROM ev),
      s2 AS (SELECT 2 AS version, count(*) AS n_events,
               CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
             FROM ev WHERE event_type = 'click')
      SELECT * FROM s0 UNION ALL SELECT * FROM s1
      UNION ALL SELECT * FROM s2 ORDER BY version""",
    "q_rename_column" -> """
      WITH c AS (SELECT c_custkey, c_mktsegment,
                   CAST(round(c_acctbal * 100) AS BIGINT) AS bal
                 FROM customer)
      SELECT c_mktsegment, count(*) AS n,
             CAST(sum(bal) AS DOUBLE) / 100.0 AS sum_balance,
             CAST(sum(CASE WHEN c_custkey % 2 = 1 THEN 2 ELSE 0 END)
               AS BIGINT) AS sum_flag
      FROM c GROUP BY 1 ORDER BY 1""",
    "q_sql_time_travel" -> """
      WITH ev AS (SELECT event_type,
                    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      s0 AS (SELECT 0 AS version, count(*) AS n_events,
               CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
             FROM ev WHERE event_type <> 'purchase'),
      s1 AS (SELECT 1 AS version, count(*) AS n_events,
               CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value FROM ev),
      s2 AS (SELECT 2 AS version, count(*) AS n_events,
               CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
             FROM ev WHERE event_type = 'click')
      SELECT * FROM s0 UNION ALL SELECT * FROM s1
      UNION ALL SELECT * FROM s2 ORDER BY version""",
    "q_snapshot_diff" -> """
      WITH ev AS (SELECT event_id, event_type,
                    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      b AS (SELECT event_id, event_type,
                   CASE WHEN event_type = 'purchase' THEN vc * 2
                        ELSE vc END AS vc
            FROM ev WHERE event_type <> 'click'
            UNION ALL
            SELECT event_id + 1000000000, event_type, vc
            FROM ev WHERE event_type = 'view'),
      j AS (SELECT CASE WHEN a.event_id IS NULL THEN 'insert'
                        WHEN b.event_id IS NULL THEN 'delete'
                        WHEN a.event_type <> b.event_type
                             OR a.vc <> b.vc THEN 'update'
                        ELSE 'unchanged' END AS change_type
            FROM ev a FULL OUTER JOIN b ON a.event_id = b.event_id)
      SELECT change_type, count(*) AS n_rows
      FROM j GROUP BY change_type ORDER BY change_type""",
    "q_stream_cdc" -> """
      WITH ev AS (SELECT event_id, event_type,
                    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      b AS (SELECT event_id, event_type,
                   CASE WHEN event_type = 'purchase' THEN vc * 2
                        ELSE vc END AS vc
            FROM ev WHERE event_type <> 'click'
            UNION ALL
            SELECT event_id + 1000000000, event_type, vc
            FROM ev WHERE event_type = 'view')
      SELECT event_type, count(*) AS n_events,
             CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
      FROM b GROUP BY event_type ORDER BY event_type""",
    "q_changefeed" -> """
      WITH ev AS (SELECT event_id, event_type,
                    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      f AS (
        SELECT 0 AS commit_version, 'insert' AS change_type, vc
        FROM ev WHERE event_id % 3 = 0
        UNION ALL SELECT 1, 'insert', vc FROM ev WHERE event_id % 3 = 1
        UNION ALL SELECT 2, 'insert', vc FROM ev WHERE event_id % 3 = 2
        UNION ALL SELECT 2, 'update', vc * 3 FROM ev WHERE event_id % 6 = 0
        UNION ALL SELECT 2, 'delete', CAST(NULL AS BIGINT)
        FROM ev WHERE event_id % 3 = 1 AND event_type = 'click')
      SELECT CAST(commit_version AS INT) AS commit_version, change_type,
             count(*) AS n_rows, CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
      FROM f GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_changes_range" -> """
      WITH ev AS (SELECT event_id, event_type,
                    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      f AS (
        SELECT 'insert' AS change_type, vc FROM ev WHERE event_id % 3 = 2
        UNION ALL SELECT 'update', vc * 3 FROM ev WHERE event_id % 6 = 0
        UNION ALL SELECT 'delete', CAST(NULL AS BIGINT)
        FROM ev WHERE event_id % 3 = 1 AND event_type = 'click')
      SELECT change_type, count(*) AS n_rows,
             CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value,
             TRUE AS skipped
      FROM f GROUP BY change_type ORDER BY change_type""",
    "q_yoy_growth" -> """
      WITH m AS (SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS yr,
                        CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS mo,
                        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS rc
                 FROM orders GROUP BY 1, 2)
      SELECT cur.yr, cur.mo, cur.rc AS rev_cents, prev.rc AS prev_cents,
             cur.rc - prev.rc AS diff_cents
      FROM m cur JOIN m prev ON prev.yr = cur.yr - 1 AND prev.mo = cur.mo
      ORDER BY cur.yr, cur.mo""",
    "q_regex_flag" -> """
      SELECT p_partkey, p_name,
             CAST(CASE WHEN regexp_matches(p_name, 'RED|GEAR', 'i')
                  THEN 1 ELSE 2 END AS INT) AS grupo
      FROM part ORDER BY p_partkey""",
    "q_project_filter" -> """
      SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
      FROM orders
      WHERE o_orderpriority LIKE '%IGH%'
        AND o_orderstatus NOT LIKE 'F%'
        AND o_orderstatus IN ('O', 'P')
      ORDER BY o_orderkey""",
    "q_antijoin_all" -> s"""
      SELECT a.o_orderkey, a.o_orderstatus, CAST(a.o_orderdate AS DATE) AS o_orderdate
      FROM orders a
      WHERE a.o_orderkey % 3 = 0 AND NOT EXISTS (
        SELECT 1 FROM orders b WHERE b.o_orderkey % 2 = 0 AND $antiCond)
      ORDER BY a.o_orderkey""",
    "q_first_match_join" -> """
      WITH first_li AS (
        SELECT l_orderkey AS o_orderkey, l_partkey, l_quantity FROM (
          SELECT *, row_number() OVER (PARTITION BY l_orderkey
            ORDER BY l_linenumber, l_partkey, l_quantity) AS rn
          FROM lineitem) WHERE rn = 1)
      SELECT o.o_orderkey, f.l_partkey, CAST(f.l_quantity AS BIGINT) AS l_quantity
      FROM orders o LEFT JOIN first_li f USING (o_orderkey)
      ORDER BY o_orderkey""",
    "q_coalesce_join" -> """
      WITH lk AS (SELECT l_partkey, l_suppkey, l_extendedprice
                  FROM lineitem WHERE l_suppkey % 2 = 0),
      fine AS (SELECT l_partkey, l_suppkey, min(l_extendedprice) AS fv
               FROM lk GROUP BY 1, 2),
      coarse AS (SELECT l_partkey, min(l_extendedprice) AS cv
                 FROM lk GROUP BY 1)
      SELECT f.l_orderkey, f.l_linenumber,
             coalesce(fine.fv, coarse.cv) AS lookup_price
      FROM lineitem f
      LEFT JOIN fine   ON f.l_partkey = fine.l_partkey AND f.l_suppkey = fine.l_suppkey
      LEFT JOIN coarse ON f.l_partkey = coarse.l_partkey
      ORDER BY f.l_orderkey, f.l_linenumber, lookup_price""",
    "q_date_derive" -> """
      WITH j AS (
        SELECT o_orderkey AS factura, l_linenumber AS linea,
               CAST(strptime(substr(strftime(o_orderdate, '%a %b %d %Y %H:%M:%S'), 5, 20),
                 '%b %d %Y %H:%M:%S') + INTERVAL 5 HOUR AS DATE) AS fecha_fact,
               CAST(strptime(substr(strftime(l_shipdate, '%a %b %d %Y %H:%M:%S'), 5, 20),
                 '%b %d %Y %H:%M:%S') + INTERVAL 5 HOUR AS DATE) AS fec_servicio
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      d AS (SELECT *, date_diff('day', fecha_fact, fec_servicio) AS dias
            FROM j WHERE month(fecha_fact) = 3)
      SELECT factura, linea, fecha_fact, fec_servicio,
             CAST(CASE WHEN dias >= 365 THEN dias // 365
                       WHEN dias >= 30 THEN dias // 30
                       ELSE dias END AS BIGINT) AS edad1,
             CASE WHEN dias >= 365 THEN 'Años'
                  WHEN dias >= 30 THEN 'Meses' ELSE 'Días' END AS edad2
      FROM d ORDER BY factura, linea, fec_servicio, edad1""",
    "q_conditional_update" -> s"""
      WITH s AS ($sendasSql),
      m AS (SELECT *, factura IN (SELECT factura FROM s WHERE servicio = '132')
              AS has_marker FROM s)
      SELECT factura, linea, tipologia,
        CASE
          WHEN tipologia = 'RM' THEN cant
          WHEN tipologia = 'C5' THEN 0
          WHEN tipologia = 'ARI' THEN 1
          WHEN tipologia = 'HD' THEN 1
          WHEN ambito = 'CONSULTA EXTERNA' AND tipologia = 'C8' THEN cant
          WHEN tipologia = 'C7' THEN cant
          WHEN ambito = 'CONSULTA EXTERNA' AND tipologia = 'C4' AND has_marker
               AND servicio IN ('285','385','384','284','502') THEN 0
          WHEN ambito = 'CONSULTA EXTERNA' AND tipologia = 'C4'
               AND servicio = '502' THEN cant
          WHEN ambito = 'CONSULTA EXTERNA' AND tipologia = 'C4'
               AND servicio <> '502' THEN 1
          ELSE 0 END AS validacion
      FROM m ORDER BY factura, linea, tipologia, validacion""",
    "q_capped_group_mark" -> s"""
      WITH s AS ($sendasSql),
      f AS (SELECT * FROM s WHERE tipologia LIKE 'Qx%' AND cant > 0),
      w AS (SELECT *,
              row_number() OVER (PARTITION BY factura, fec_servicio, tipologia
                ORDER BY tipologia DESC, linea) AS rsub
            FROM f),
      e AS (SELECT *, CASE WHEN rsub <= 2 THEN 1 ELSE 0 END AS elig FROM w),
      c AS (SELECT *, sum(elig) OVER (PARTITION BY factura, fec_servicio
              ORDER BY tipologia DESC, linea
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM e)
      SELECT factura, fec_servicio, linea, tipologia,
             CASE WHEN elig = 1 AND cum <= 3 THEN 1 ELSE 0 END AS validacion
      FROM c ORDER BY factura, fec_servicio, linea, tipologia, validacion""",
    "q_dedup_mark" -> s"""
      WITH s AS ($sendasSql)
      SELECT factura, servicio, linea,
             CASE WHEN row_number() OVER (PARTITION BY factura, servicio
               ORDER BY linea) = 1 THEN 1 ELSE 0 END AS validacion
      FROM s WHERE tipologia = 'Qx1'
      ORDER BY factura, servicio, linea, validacion""",
    "q_semi_anti" -> """
      SELECT o_orderkey,
             CASE WHEN EXISTS (SELECT 1 FROM lineitem
               WHERE l_orderkey = o_orderkey AND l_partkey % 1000 = 132)
             THEN 'has' ELSE 'none' END AS tag
      FROM orders ORDER BY o_orderkey""",
    "q_gap_mark" -> """
      WITH RECURSIVE base AS (
        SELECT user_id, event_type, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
               row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY epoch_us(CAST(ts AS TIMESTAMP)),
                          CAST(event_id AS VARCHAR)) AS rn
        FROM events),
      r AS (
        SELECT user_id, event_type, event_id, tsu, rn,
               1 AS validacion, tsu AS last_ts
        FROM base WHERE rn = 1
        UNION ALL
        SELECT b.user_id, b.event_type, b.event_id, b.tsu, b.rn,
               CASE WHEN (b.tsu - r.last_ts) // 86400000000 > 3
                    THEN 1 ELSE 0 END,
               CASE WHEN (b.tsu - r.last_ts) // 86400000000 > 3
                    THEN b.tsu ELSE r.last_ts END
        FROM base b JOIN r ON b.user_id = r.user_id
          AND b.event_type = r.event_type AND b.rn = r.rn + 1)
      SELECT event_id, validacion FROM r ORDER BY event_id""",
    "q_stream_gap" -> """
      WITH RECURSIVE base AS (
        SELECT user_id, event_type, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
               row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY epoch_us(CAST(ts AS TIMESTAMP)),
                          CAST(event_id AS VARCHAR)) AS rn
        FROM events),
      r AS (
        SELECT user_id, event_type, event_id, tsu, rn,
               1 AS validacion, tsu AS last_ts
        FROM base WHERE rn = 1
        UNION ALL
        SELECT b.user_id, b.event_type, b.event_id, b.tsu, b.rn,
               CASE WHEN (b.tsu - r.last_ts) // 86400000000 > 3
                    THEN 1 ELSE 0 END,
               CASE WHEN (b.tsu - r.last_ts) // 86400000000 > 3
                    THEN b.tsu ELSE r.last_ts END
        FROM base b JOIN r ON b.user_id = r.user_id
          AND b.event_type = r.event_type AND b.rn = r.rn + 1)
      SELECT event_id, validacion FROM r ORDER BY event_id""",
    "q_name_split" -> s"""
      WITH n AS (
        SELECT doc_id, upper(array_to_string(list_transform(
          list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
            x -> x <> '')[1:CAST(doc_id % 4 + 2 AS INT)],
          t -> CASE t WHEN 'the' THEN 'de' WHEN 'a' THEN 'la'
                      WHEN 'of' THEN 'del' WHEN 'to' THEN 'los'
                      ELSE t END), ' ')) AS nombre_completo
        FROM documents),
      m0 AS (SELECT doc_id, nombre_completo,
               regexp_replace(nombre_completo, '( (DE|DEL|LA|LOS))+$$', '')
                 AS s1 FROM n),
      m1 AS (SELECT *, CASE WHEN regexp_matches(s1,
               '^(DE|DEL|LA|LOS)( (DE|DEL|LA|LOS))*$$')
               THEN '' ELSE s1 END AS s2 FROM m0),
      g AS (SELECT doc_id, nombre_completo, $nameGlue AS glued FROM m1),
      p AS (SELECT doc_id, nombre_completo,
              list_filter(string_split(glued, ' '), x -> x <> '') AS parts
            FROM g)
      SELECT doc_id, nombre_completo,
        replace(CASE WHEN len(parts) >= 1 THEN parts[1] ELSE '' END, '#', ' ') AS nombre1,
        replace(CASE WHEN len(parts) = 4 THEN parts[2]
                     WHEN len(parts) > 4 THEN array_to_string(parts[2:len(parts)-2], ' ')
                     ELSE '' END, '#', ' ') AS nombre2,
        replace(CASE WHEN len(parts) IN (2, 3) THEN parts[2]
                     WHEN len(parts) >= 4 THEN parts[len(parts)-1]
                     ELSE '' END, '#', ' ') AS apellido1,
        replace(CASE WHEN len(parts) = 3 THEN parts[3]
                     WHEN len(parts) >= 4 THEN parts[len(parts)]
                     ELSE '' END, '#', ' ') AS apellido2
      FROM p ORDER BY doc_id""",
    "q_comprobar" -> s"""
      WITH miss AS (
        SELECT doc_id, text FROM documents
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey % 5 < 3 AND o_custkey = doc_id)),
      n AS (
        SELECT DISTINCT doc_id AS doc, upper(array_to_string(list_transform(
          list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
            x -> x <> '')[1:CAST(doc_id % 4 + 2 AS INT)],
          t -> CASE t WHEN 'the' THEN 'de' WHEN 'a' THEN 'la'
                      WHEN 'of' THEN 'del' WHEN 'to' THEN 'los'
                      ELSE t END), ' ')) AS nombre_completo
        FROM miss),
      m0 AS (SELECT doc, nombre_completo,
               regexp_replace(nombre_completo, '( (DE|DEL|LA|LOS))+$$', '')
                 AS s1 FROM n),
      m1 AS (SELECT *, CASE WHEN regexp_matches(s1,
               '^(DE|DEL|LA|LOS)( (DE|DEL|LA|LOS))*$$')
               THEN '' ELSE s1 END AS s2 FROM m0),
      g AS (SELECT doc, $nameGlue AS glued FROM m1),
      p AS (SELECT doc,
              list_filter(string_split(glued, ' '), x -> x <> '') AS parts
            FROM g)
      SELECT doc,
        replace(CASE WHEN len(parts) >= 1 THEN parts[1] ELSE '' END, '#', ' ') AS nombre1,
        replace(CASE WHEN len(parts) = 4 THEN parts[2]
                     WHEN len(parts) > 4 THEN array_to_string(parts[2:len(parts)-2], ' ')
                     ELSE '' END, '#', ' ') AS nombre2,
        replace(CASE WHEN len(parts) IN (2, 3) THEN parts[2]
                     WHEN len(parts) >= 4 THEN parts[len(parts)-1]
                     ELSE '' END, '#', ' ') AS apellido1,
        replace(CASE WHEN len(parts) = 3 THEN parts[3]
                     WHEN len(parts) >= 4 THEN parts[len(parts)]
                     ELSE '' END, '#', ' ') AS apellido2
      FROM p ORDER BY doc""",
    "q_csv_source" -> """
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_price
      FROM orders
      GROUP BY o_orderstatus, o_orderpriority
      ORDER BY o_orderstatus, o_orderpriority""",
    "q_numeric_coerce" -> """
      SELECT event_id,
             coalesce(TRY_CAST(
               CASE WHEN event_id % 7 = 0
                    THEN 'x' || json_extract_string(props, '$.k')
                    ELSE json_extract_string(props, '$.k') END AS INT), 0)
               AS coerced,
             strftime(CAST(ts AS TIMESTAMP), '%Y/%m/%d') AS fecha
      FROM events ORDER BY event_id""",
    "q_pipeline_e2e" -> s"""
      WITH RECURSIVE s0 AS ($sendasSql),
      s AS (SELECT *, factura || '_' || linea || '_' ||
              row_number() OVER (PARTITION BY factura, linea
                ORDER BY servicio, tipologia, cant, fec_servicio,
                         ambito, cod_plan) AS uid
            FROM s0),
      m AS (SELECT *, factura IN (SELECT factura FROM s WHERE servicio = '132')
              AS has_marker FROM s),
      qxf AS (SELECT * FROM s WHERE tipologia LIKE 'Qx%' AND cant > 0),
      qxw AS (SELECT uid, elig, sum(elig) OVER (PARTITION BY factura, fec_servicio
                ORDER BY tipologia DESC, linea, uid
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM (SELECT *, CASE WHEN row_number() OVER
                  (PARTITION BY factura, fec_servicio, tipologia
                   ORDER BY tipologia DESC, linea, uid) <= 2 THEN 1 ELSE 0 END AS elig
                FROM qxf)),
      qx AS (SELECT uid, CASE WHEN elig = 1 AND cum <= 3 THEN 1 ELSE 0 END
               AS qx_mark FROM qxw),
      h AS (SELECT uid, CASE WHEN row_number() OVER (PARTITION BY factura,
              servicio ORDER BY linea, uid) = 1 THEN 1 ELSE 0 END AS h_mark
            FROM s WHERE tipologia = 'H1'),
      c1 AS (SELECT uid, CASE WHEN row_number() OVER (PARTITION BY servicio,
               fec_servicio ORDER BY factura, linea, uid) = 1 THEN 1 ELSE 0 END
               AS c1_mark
             FROM s WHERE tipologia = 'C1' AND cod_plan LIKE 'PGP%'),
      c5base AS (SELECT servicio, uid,
                   epoch_us(CAST(fec_servicio AS TIMESTAMP)) AS tsu,
                   row_number() OVER (PARTITION BY servicio
                     ORDER BY epoch_us(CAST(fec_servicio AS TIMESTAMP)),
                              uid) AS rn
                 FROM s WHERE tipologia = 'C5'),
      c5r AS (
        SELECT servicio, uid, tsu, rn, 1 AS c5_gap, tsu AS last_ts
        FROM c5base WHERE rn = 1
        UNION ALL
        SELECT b.servicio, b.uid, b.tsu, b.rn,
               CASE WHEN (b.tsu - r.last_ts) // 86400000000 > 3
                    THEN 1 ELSE 0 END,
               CASE WHEN (b.tsu - r.last_ts) // 86400000000 > 3
                    THEN b.tsu ELSE r.last_ts END
        FROM c5base b JOIN c5r r ON b.servicio = r.servicio
          AND b.rn = r.rn + 1),
      qx1 AS (SELECT uid, CASE WHEN row_number() OVER (PARTITION BY factura,
                servicio ORDER BY linea, uid) = 1 THEN 1 ELSE 0 END AS qx1_mark
              FROM s WHERE tipologia = 'Qx1')
      SELECT m.factura, m.linea, m.servicio, m.tipologia,
             strftime(CAST(m.fec_servicio AS TIMESTAMP), '%Y/%m/%d') AS fecha,
        CASE
          WHEN m.tipologia = 'RM' THEN m.cant
          WHEN m.tipologia = 'Qx1' THEN coalesce(qx1.qx1_mark, 0)
          WHEN m.tipologia = 'C5' THEN coalesce(c5r.c5_gap, 0)
          WHEN m.tipologia = 'ARI' THEN 1
          WHEN m.tipologia = 'HD' THEN 1
          WHEN m.ambito = 'CONSULTA EXTERNA' AND m.tipologia = 'C8' THEN m.cant
          WHEN m.tipologia = 'C7' THEN m.cant
          WHEN m.ambito = 'CONSULTA EXTERNA' AND m.tipologia = 'C4'
               AND m.has_marker
               AND m.servicio IN ('285','385','384','284','502') THEN 0
          WHEN m.ambito = 'CONSULTA EXTERNA' AND m.tipologia = 'C4'
               AND m.servicio = '502' THEN m.cant
          WHEN m.ambito = 'CONSULTA EXTERNA' AND m.tipologia = 'C4'
               AND m.servicio <> '502' THEN 1
          WHEN m.tipologia = 'C1' AND m.cod_plan LIKE 'PGP%'
               THEN coalesce(c1.c1_mark, 0)
          WHEN m.tipologia = 'H1' THEN coalesce(h.h_mark, 0)
          WHEN m.tipologia LIKE 'Qx%' AND m.cant > 0
               THEN coalesce(qx.qx_mark, 0)
          ELSE 0 END AS validacion
      FROM m LEFT JOIN qx ON m.uid = qx.uid
             LEFT JOIN h ON m.uid = h.uid
             LEFT JOIN c1 ON m.uid = c1.uid
             LEFT JOIN c5r ON m.uid = c5r.uid
             LEFT JOIN qx1 ON m.uid = qx1.uid
      ORDER BY m.factura, m.linea, m.servicio, m.tipologia, fecha, validacion""",
    "q_sql_delete" -> """
      WITH ev AS (SELECT event_type,
                    CAST(round(value * 100) AS BIGINT) AS vc
                  FROM events WHERE event_type <> 'click')
      SELECT event_type, count(*) AS n_events,
             CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value,
             CAST(1 AS INT) AS n_data_dirs, CAST(1 AS INT) AS n_dv_dirs
      FROM ev GROUP BY event_type ORDER BY event_type""",
    "q_sql_partitioned" -> """
      SELECT o_orderpriority, count(*) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
               AS DOUBLE) / 100.0 AS sum_price,
             TRUE AS pruned
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_sql_partitioned_time" -> """
      SELECT event_type, count(*) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_value,
             TRUE AS pruned
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
        AND ts < TIMESTAMP '2024-01-08 00:00:00'
      GROUP BY event_type ORDER BY event_type""",
    "q_sql_replace_where" -> """
      WITH src AS (SELECT o_orderkey, o_orderpriority,
                     CAST(round(o_totalprice * 100) AS BIGINT)
                       AS price_cents
                   FROM orders),
      fin AS (SELECT o_orderpriority, price_cents FROM src
              WHERE o_orderpriority <> '1-URGENT'
              UNION ALL
              SELECT o_orderpriority, price_cents * 2
              FROM src
              WHERE o_orderpriority = '1-URGENT'
                AND o_orderkey % 3 = 0)
      SELECT o_orderpriority, count(*) AS n_orders,
             CAST(sum(price_cents) AS DOUBLE) / 100.0 AS sum_price,
             TRUE AS replaced
      FROM fin GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_replace_where" -> """
      WITH ev AS (SELECT event_id, event_type,
                    CAST(round(value * 100) AS BIGINT) AS vc
                  FROM events),
      fin AS (SELECT event_type, vc FROM ev
              WHERE event_type <> 'click'
              UNION ALL
              SELECT event_type, vc * 3 FROM ev
              WHERE event_type = 'click' AND event_id % 2 = 0)
      SELECT event_type, count(*) AS n_events,
             CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value,
             TRUE AS masked
      FROM fin GROUP BY event_type ORDER BY event_type""",
    "q_sql_partitions" -> """
      SELECT 'event_type=' || event_type AS part_value,
             CAST(1 AS INT) AS n_dirs, TRUE AS has_files
      FROM (SELECT DISTINCT event_type FROM events)
      ORDER BY part_value""",
    "q_sql_dim_join" -> """
      SELECT n.n_name, count(*) AS n_cust,
             CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT))
               AS DOUBLE) / 100.0 AS sum_acctbal,
             TRUE AS bcast
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name ORDER BY n.n_name""",
    "q_sql_compact_scope" -> """
      SELECT o_orderpriority, count(*) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
               AS DOUBLE) / 100.0 AS sum_price,
             TRUE AS compacted
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_sql_replace_dynamic" -> """
      WITH ev AS (SELECT event_id, event_type,
                    CAST(round(value * 100) AS BIGINT) AS vc
                  FROM events),
      fin AS (SELECT event_type, vc FROM ev
              WHERE event_type <> 'click'
              UNION ALL
              SELECT event_type, vc * 5 FROM ev
              WHERE event_type = 'click' AND event_id % 4 = 0)
      SELECT event_type, count(*) AS n_events,
             CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value,
             TRUE AS dynamic
      FROM fin GROUP BY event_type ORDER BY event_type""",
    "q_sql_merge_sync" -> """
      WITH ev AS (SELECT event_id, event_type,
                    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      m AS (SELECT event_type, vc * 2 AS vc FROM ev
            WHERE event_type <> 'click'
            UNION ALL
            SELECT 'mirror', vc FROM ev WHERE event_type = 'purchase')
      SELECT event_type, count(*) AS n_events,
             CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value,
             CAST(2 AS INT) AS n_data_dirs, CAST(1 AS INT) AS n_dv_dirs
      FROM m GROUP BY event_type ORDER BY event_type""",
    "q_sql_merge_evolve" -> """
      WITH ev AS (SELECT event_id, event_type,
                    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      m AS (SELECT event_type,
                   CASE WHEN event_type = 'purchase' THEN 'upd'
                        ELSE 'none' END AS src,
                   CASE WHEN event_type = 'purchase' THEN vc * 2
                        ELSE vc END AS vc
            FROM ev
            UNION ALL
            SELECT 'evolved', 'ins', vc FROM ev
            WHERE event_type = 'click')
      SELECT event_type, src, count(*) AS n_events,
             CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value,
             TRUE AS evolved
      FROM m GROUP BY event_type, src ORDER BY event_type, src""",
    "q_sql_evolve_nested" -> """
      WITH ev AS (SELECT event_type AS etype,
                    CAST(round(value * 100) AS BIGINT) AS vc
                  FROM events),
      m AS (SELECT etype,
                   CASE WHEN etype = 'purchase' THEN 'seen'
                        ELSE 'none' END AS flag, vc
            FROM ev
            UNION ALL
            SELECT 'new_batch', 'new', vc FROM ev
            WHERE etype = 'click')
      SELECT etype, flag, count(*) AS n_events,
             CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value,
             TRUE AS evolved
      FROM m GROUP BY etype, flag ORDER BY etype, flag""",
    "q_sql_delete_subq" -> """
      WITH del AS (SELECT DISTINCT user_id FROM events
                   WHERE event_type = 'purchase' AND event_id % 10 = 0),
      ev AS (SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS vc
             FROM events
             WHERE user_id NOT IN (SELECT user_id FROM del))
      SELECT event_type, count(*) AS n_events,
             CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value,
             CAST(1 AS INT) AS n_data_dirs, CAST(1 AS INT) AS n_dv_dirs
      FROM ev GROUP BY event_type ORDER BY event_type""",
    "q_sql_zorder_skip" -> """
      SELECT count(*) AS n_rows,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_value,
             TRUE AS skipped
      FROM events
      WHERE CAST(round(value * 100) AS BIGINT) BETWEEN 0 AND 500""",
    "q_sql_view" -> """
      WITH ev AS (SELECT event_type,
                    CAST(round(value * 100) AS BIGINT) AS vc
                  FROM events),
      m AS (SELECT event_type, vc FROM ev
            UNION ALL
            SELECT 'view_batch', vc FROM ev
            WHERE event_type = 'click')
      SELECT event_type, count(*) AS n_events,
             CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value,
             TRUE AS pinned_ok
      FROM m GROUP BY event_type ORDER BY event_type""",
    "q_sql_bucketed" -> """
      SELECT doc_id, n_chars, TRUE AS bucket_pruned
      FROM documents WHERE doc_id = 42""",
    "q_sql_bloom_skip" -> """
      SELECT doc_id, n_chars, TRUE AS skipped
      FROM documents WHERE doc_id = 42""",
    "q_sql_constraints" -> """
      WITH h(version, mode, n_constraints) AS (
        VALUES (0, 'append', 0), (1, 'meta', 1),
               (2, 'meta', 0), (3, 'append', 0)),
      v AS (SELECT 0 AS version, count(*) AS n_events FROM events
            UNION ALL SELECT 1, count(*) FROM events
            UNION ALL SELECT 2, count(*) FROM events
            UNION ALL SELECT 3, count(*) + 1 FROM events)
      SELECT h.version, h.mode, h.n_constraints, v.n_events
      FROM h JOIN v ON h.version = v.version ORDER BY h.version""",
    "q_sql_ts_travel" -> """
      WITH ev AS (SELECT event_type,
                    CAST(round(value * 100) AS BIGINT) AS vc
                  FROM events)
      SELECT 0 AS version, count(*) AS n_events,
             CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
      FROM ev WHERE event_type = 'view'
      UNION ALL
      SELECT 1, count(*), CAST(sum(vc) AS DOUBLE) / 100.0 FROM ev
      UNION ALL
      SELECT 2, count(*), CAST(sum(vc) AS DOUBLE) / 100.0
      FROM ev WHERE event_type = 'purchase'
      ORDER BY version""",
    "q_stream_totable" -> """
      SELECT event_type, count(*) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_value,
             TRUE AS tokened
      FROM events GROUP BY event_type ORDER BY event_type""",
    "q_sql_update" -> """
      WITH ev AS (SELECT event_type,
                    CASE WHEN event_type = 'purchase'
                         THEN CAST(round(value * 100) AS BIGINT) * 3
                         ELSE CAST(round(value * 100) AS BIGINT)
                    END AS vc
                  FROM events)
      SELECT event_type, count(*) AS n_events,
             CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value,
             CAST(2 AS INT) AS n_data_dirs, CAST(1 AS INT) AS n_dv_dirs
      FROM ev GROUP BY event_type ORDER BY event_type""",
    "q_sql_merge" -> """
      WITH ev AS (SELECT event_id, event_type,
                    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      b AS (SELECT event_id, event_type,
                   CASE WHEN event_type = 'purchase' THEN vc * 2
                        ELSE vc END AS vc
            FROM ev WHERE event_type <> 'click'
            UNION ALL
            SELECT event_id + 1000000000, event_type, vc
            FROM ev WHERE event_type = 'view')
      SELECT event_type, count(*) AS n_events,
             CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
      FROM b GROUP BY event_type ORDER BY event_type""",
    "q_sql_ctas" -> """
      WITH c AS (SELECT c_mktsegment,
                   CAST(round(c_acctbal * 100) AS BIGINT) AS bal
                 FROM customer)
      SELECT c_mktsegment, count(*) AS n,
             CAST(sum(bal) AS DOUBLE) / 100.0 AS sum_balance
      FROM c GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_history" -> """
      WITH h(version, mode, n_data_dirs, n_dv_dirs, n_constraints) AS (
        VALUES (0, 'append', 1, 0, 0), (1, 'append', 2, 0, 0),
               (2, 'overwrite', 1, 0, 0)),
      v AS (SELECT 0 AS version, count(*) AS n_events
              FROM events WHERE event_type <> 'purchase'
            UNION ALL SELECT 1, count(*) FROM events
            UNION ALL SELECT 2, count(*)
              FROM events WHERE event_type = 'click')
      SELECT h.version, h.mode, h.n_data_dirs, h.n_dv_dirs,
             h.n_constraints, v.n_events
      FROM h JOIN v ON h.version = v.version ORDER BY h.version""",
    "q_stream_table" -> """
      WITH ev AS (SELECT event_id, event_type,
                    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      b AS (SELECT event_id, event_type,
                   CASE WHEN event_type = 'purchase' THEN vc * 2
                        ELSE vc END AS vc
            FROM ev WHERE event_type <> 'click'
            UNION ALL
            SELECT event_id + 1000000000, event_type, vc
            FROM ev WHERE event_type = 'view')
      SELECT event_type, count(*) AS n_events,
             CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
      FROM b GROUP BY event_type ORDER BY event_type""",
    "q_sql_ds_lakerollup" -> """
      WITH o AS (
        SELECT o_orderpriority,
               CAST(EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) AS INT)
                 AS yr,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders
        WHERE o_orderpriority <> '5-LOW'
          AND CAST(o_orderdate AS DATE) >= DATE '1995-01-01')
      SELECT o_orderpriority, yr, count(*) AS n_orders,
             CAST(sum(price_cents) AS BIGINT) AS rev_cents
      FROM o GROUP BY ROLLUP(o_orderpriority, yr)
      ORDER BY o_orderpriority NULLS FIRST, yr NULLS FIRST""",
    "q_sql_ds_lakerank" -> """
      WITH c AS (SELECT c_custkey, c_nationkey, c_mktsegment,
                   CAST(round(c_acctbal * 100) AS BIGINT) AS balance
                 FROM customer WHERE c_custkey % 10 <> 0),
      agg AS (SELECT n_name, c_mktsegment,
                     CAST(sum(balance) AS BIGINT) AS bal_cents,
                     count(*) AS n_cust
              FROM c JOIN nation ON n_nationkey = c_nationkey
              GROUP BY n_name, c_mktsegment),
      rk AS (SELECT n_name, c_mktsegment, bal_cents, n_cust,
                    CAST(rank() OVER (PARTITION BY n_name
                      ORDER BY bal_cents DESC, c_mktsegment) AS BIGINT)
                      AS rnk
             FROM agg)
      SELECT n_name, c_mktsegment, bal_cents, n_cust, rnk
      FROM rk WHERE rnk <= 2
      ORDER BY n_name, rnk, c_mktsegment""",
    "q_sql_call" -> """
      WITH h(version, mode, n_data_dirs, n_constraints) AS (
        VALUES (0, 'append', 1, 0), (1, 'append', 2, 0),
               (2, 'append', 3, 0), (3, 'compact', 1, 0),
               (4, 'meta', 1, 1)),
      a AS (SELECT count(*) AS n_events FROM events)
      SELECT h.version, h.mode, h.n_data_dirs, h.n_constraints,
             a.n_events
      FROM h CROSS JOIN a ORDER BY h.version""",
    "q_rule_priority" -> s"""
      WITH s AS ($sendasSql),
      p AS (SELECT *,
              CASE WHEN tipologia LIKE 'Qx%' AND cant < 14 THEN 0
                   WHEN tipologia LIKE 'H%' AND ambito = 'CONSULTA EXTERNA' THEN 1
                   WHEN tipologia NOT LIKE 'Qx%' AND tipologia NOT LIKE 'H%' THEN 2
                   ELSE NULL END AS prio
            FROM s),
      f AS (SELECT *, row_number() OVER (PARTITION BY servicio
              ORDER BY prio, factura, linea, tipologia, cant,
                       ambito, cod_plan, fec_servicio) AS rn
            FROM p WHERE prio IS NOT NULL)
      SELECT servicio, tipologia, factura, linea
      FROM f WHERE rn = 1 ORDER BY servicio""")
  }

  // ======================================================== LLM rows 25-35

  private def llmQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // 97: data-mixing report — per-source corpus share (docs and
    // chars) for training-mixture design. Two aggregates over one
    // scan; the 1-row corpus total broadcasts onto the per-source
    // frame (the same scalar-broadcast shape as the TF-IDF corpus
    // constants — no driver collect, no second wide shuffle).
    "q_domain_mix" -> ((s, dir) => {
      val d = docs(s, dir)
      val per = d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      val tot = d.agg(count(lit(1)).as("t_docs"),
        sum(col("n_chars")).as("t_chars"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("sum_chars"),
          (col("n_docs").cast("double") * 100.0 / col("t_docs"))
            .as("doc_share_pct"),
          (col("sum_chars").cast("double") * 100.0 / col("t_chars"))
            .as("char_share_pct"))
        .orderBy("source")
    }),

    // 99: collection-function surface over the token array — distinct
    // count, stopword-intersection size (both engines' intersect is
    // SET-semantics so sizes agree), leading-trigram join. Pure
    // per-row Column tree: no shuffle at all beyond the final sort.
    "q_array_ops" -> ((s, dir) => {
      val tk = TF.tokens(col("text"))
      val stop = array(Seq("the", "a", "of", "to", "and", "in", "is",
        "it", "on", "for").map(lit): _*)
      docs(s, dir)
        .select(col("doc_id"),
          size(tk).as("n_tokens"),
          size(array_distinct(tk)).as("n_distinct"),
          size(array_intersect(tk, stop)).as("n_stop"),
          array_join(slice(tk, 1, 3), " ").as("first3"))
        .orderBy("doc_id")
    }),

    // 25: exact dedup — one shuffle on the text hash.
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exact(docs(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("n_dups"))
        .orderBy("doc_id")
    }),

    // 147: chunk-level exact dedup (Dedup.chunkDedup) — duplicated
    // 10-token passages across docs that are NOT whole-doc dups
    // (boilerplate/licence blocks; the non-overlapping cousin of
    // exact-substring dedup). One shuffle keyed by the chunk hash;
    // ownership is a struct-min aggregate, so a hot boilerplate
    // chunk pre-reduces map-side instead of hammering one reducer.
    "q_chunk_dedup" -> ((s, dir) => {
      Dedup.chunkDedup(docs(s, dir), "text", "doc_id", 10)
        .orderBy("doc_id")
    }),

    // 155: overlapping-shingle exact-substring dedup — the stride-1
    // variant of q_chunk_dedup (every 10-token window hashes, so a
    // duplicated passage is caught at ANY alignment). Same single
    // hash-groupBy shuffle, ×width denser key stream — the declared
    // cost of alignment-free detection; ownership still pre-reduces
    // map-side via the struct-min aggregate.
    "q_shingle_dedup" -> ((s, dir) => {
      Dedup.shingleDedup(docs(s, dir), "text", "doc_id", 10)
        .orderBy("doc_id")
    }),

    // 106: INCREMENTAL corpus dedup — how a 100 TB corpus actually
    // refreshes: the prior runs' fingerprints live in a PERSISTED
    // artifact table (written here once per run, distinct-compacted);
    // the NEW batch (doc_id % 5 == 0) is the only text signed or
    // shuffled in the dedup job — first-seen-wins against the
    // artifact (left_anti), then min-id within the batch. The old
    // corpus is never re-read. Oracle = the same first-seen-wins
    // dedup computed from scratch, restricted to the new batch.
    "q_dedup_incremental" -> ((s, dir) => {
      val dd = docs(s, dir)
      val artPath = dedupArtifactPath(dir)
      dd.filter(col("doc_id") % 5 =!= 0)
        .select(md5(col("text")).as("fp")).distinct()
        .write.mode("overwrite").parquet(artPath)
      val artifact = s.read.parquet(artPath)
      dd.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), md5(col("text")).as("fp"))
        .join(artifact, Seq("fp"), "left_anti")
        .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id", "fp")
        .orderBy("doc_id")
    }),

    // 109: incremental NEAR-dup refresh — the MinHash twin of
    // q_dedup_incremental: the old corpus's banded LSH signatures are
    // a persisted artifact; only the new batch is shingled/minhashed,
    // then band-joined against artifact ∪ new. Oracle = the full
    // self-join LSH pair set restricted to pairs touching a new doc —
    // proving incremental == from-scratch on the refresh slice.
    "q_minhash_incremental" -> ((s, dir) => {
      val dd = docs(s, dir)
      val artPath = minhashArtifactPath(dir)
      Dedup.bandedSignatures(dd.filter(col("doc_id") % 5 =!= 0),
          "text", "doc_id", shingleK = 5, nPerm = 16, bands = 4)
        .write.mode("overwrite").parquet(artPath)
      val newBanded = Dedup.bandedSignatures(
        dd.filter(col("doc_id") % 5 === 0), "text", "doc_id",
        shingleK = 5, nPerm = 16, bands = 4)
      Dedup.minhashLshIncrementalPairs(newBanded, s.read.parquet(artPath))
        .orderBy("id_a", "id_b")
    }),

    // 151: incremental AGGREGATE refresh — the materialized-view
    // idiom: the old corpus's PARTIAL per-lang aggregate (docs,
    // chars, tokens) is a persisted artifact; a refresh tokenizes
    // ONLY the new batch (doc_id % 5 == 0) and combines partials
    // (sums of sums — every measure here is decomposable), so the
    // old text is never re-read. Oracle = the full recompute over
    // everything: combine(partial_old, partial_new) == from-scratch.
    "q_incremental_agg" -> ((s, dir) => {
      def partial(df: DataFrame): DataFrame = df.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(TF.tokenCount(col("text")).cast("long")).as("sum_tokens"))
      val dd = docs(s, dir)
      partial(dd.filter(col("doc_id") % 5 =!= 0))
        .write.mode("overwrite").parquet(aggArtifactPath(dir))
      s.read.parquet(aggArtifactPath(dir))
        .unionByName(partial(dd.filter(col("doc_id") % 5 === 0)))
        .groupBy("lang")
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("sum_chars")).as("sum_chars"),
          sum(col("sum_tokens")).as("sum_tokens"))
        .orderBy("lang")
    }),

    // 26: token counting (pure Column tree, codegen'd).
    "q_token_count" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TF.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")
    }),

    // 65: json-staged source path driver-gated (csv twin: q_csv_source)
    // — stage documents to newline-delimited json + schema sidecar,
    // read back through Tables, and aggregate token counts per lang;
    // the oracle runs on the parquet original, so the row passes only
    // if text (embedded newlines, quotes, unicode) survives the json
    // round-trip byte-exactly.
    "q_json_source" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_json_stage").toString
      Tables.stage(s, dir, "documents", tmp, "json")
      t(s, tmp, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(TF.tokenCount(col("text")).cast("long")).as("sum_tokens"))
        .orderBy("lang")
    }),

    // 130: NESTED JSON source — the document-shaped interchange the
    // flat CSV/JSON rows can't exercise: lineitems fold into
    // array-of-struct items under an order header (struct meta),
    // stage to JSON files, read back through SCHEMA INFERENCE, then
    // explode/flatten into a relational aggregate. The oracle
    // computes straight from the parquet — so the nested write,
    // inference and flatten must all be lossless. Items-per-order
    // bounds the collect_list; everything else is one join + one
    // aggregate.
    "q_json_nested" -> ((s, dir) => {
      // dir-keyed stable staging (overwritten per run, reaped on JVM
      // exit) — a fresh createTempDirectory per invocation leaked a
      // staged JSON copy of lineitem⋈orders on every bench/verify run
      val tmp = stagingRoot(dir) + "/jsonnest_stage"
      t(s, dir, "lineitem")
        .select(col("l_orderkey"),
          struct(col("l_linenumber").as("ln"),
            cents(col("l_extendedprice")).as("pc")).as("item"))
        .groupBy(col("l_orderkey"))
        .agg(collect_list(col("item")).as("items"))
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          struct(col("o_orderpriority").as("pri"),
            col("o_orderstatus").as("st")).as("meta")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey").as("okey"), col("meta"), col("items"))
        .write.mode("overwrite").json(tmp + "/nested")
      // Empty input writes zero JSON files → inference has nothing to
      // infer (empty relation, meta.pri unresolvable). Fall back to
      // the declared interchange schema only in that degenerate case;
      // the non-empty path stays pure inference.
      val inferred = s.read.json(tmp + "/nested")
      val staged =
        if (inferred.schema.nonEmpty) inferred
        else s.read.schema(
          "okey BIGINT, meta STRUCT<pri: STRING, st: STRING>, " +
            "items ARRAY<STRUCT<ln: BIGINT, pc: BIGINT>>")
          .json(tmp + "/nested")
      staged
        .select(col("meta.pri").as("pri"), col("meta.st").as("st"),
          explode(col("items")).as("it"))
        .groupBy("pri", "st")
        .agg(count(lit(1)).as("n_items"),
          sum(col("it.pc")).as("sc"))
        .select(col("pri"), col("st"), col("n_items"),
          money(col("sc")).as("total"))
        .orderBy("pri", "st")
    }),

    // 75: top-3 TF-IDF salient terms per document. Rational idf
    // (N+1)/(df+1) — see Relevance's determinism note (ln is not
    // correctly-rounded in every runtime; ranks must not hang on a
    // libm ulp). The 1-row corpus-count frame rides a broadcast
    // cross join (fenced as an intended nested loop in PlanSpec).
    "q_tfidf" -> ((s, dir) => {
      graft.text.Relevance
        .tfidfTopK(docs(s, dir), "text", "doc_id", 3)
        .orderBy("doc_id", "rank")
    }),

    // 76: BM25 document ranking for a fixed query-term bag. Top-20 via
    // orderBy+limit (TakeOrdered: per-partition heaps — NOT a global
    // single-partition window); the rank column is then numbered over
    // the already-20-row result, where a 1-partition window is free.
    "q_bm25" -> ((s, dir) => {
      val top = graft.text.Relevance
        .bm25(docs(s, dir), "text", "doc_id",
          Seq("table", "join", "window"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)
      top.withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank").cast("int").as("rank"),
          round(col("score"), 6).as("score"))
        .orderBy("rank")
    }),

    // 77: PII redaction (emails → <EMAIL>, then phones → <PHONE>)
    // with per-class hit counts. The corpus is synthetic and carries
    // no real PII, so deterministic PII is spliced into each document
    // from its doc_id — the operator still does the real regex work
    // over the full text.
    "q_pii_redact" -> ((s, dir) => {
      val aug = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
          lit("@ex.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          when(col("doc_id") % 3 === 0, lit(" alt a.b@mail.org"))
            .otherwise(lit(""))).as("full_text"))
      graft.text.Redact.report(aug, "full_text", "doc_id")
        .select(col("doc_id"), col("n_0").as("n_email"),
          col("n_1").as("n_phone"), md5(col("redacted")).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // 78: Gopher-style repetition metrics — most-frequent-bigram share
    // as exact integers (max_count·20 > total ⇔ share > 5%; no float
    // threshold). Two shuffles: (doc, bigram) count, then per-doc.
    "q_repetition" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TF.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"),
          explode(TF.bigramsFromTokens(col("t"))).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(sum("cnt").as("n_bigrams"),
          count(lit(1)).as("n_distinct"),
          max("cnt").as("max_count"),
          when(max("cnt") * 20 > sum("cnt"), 1).otherwise(0).cast("int")
            .as("rep_flag"))
        .orderBy("doc_id")
    }),

    // 79: train/test decontamination — deterministic 10% test split by
    // salted doc-id hash, word 5-gram hash overlap (5 chosen where the
    // synthetic vocab gives a non-trivial hit mix; real corpora use
    // 8-13). Long↔long equi-join on gram hashes, never on text.
    "q_contamination" -> ((s, dir) => {
      val dd = docs(s, dir)
      val isTest = TF.hash32(
        concat(lit("cont:"), col("doc_id").cast("string"))) % 10 === 0
      graft.text.Contamination.report(
          dd.filter(!isTest), dd.filter(isTest), "text", "doc_id", 5)
        .orderBy("doc_id")
    }),

    // 80: inverted-index posting lists — df + ascending doc-id
    // postings per token, md5-pinned (the full list is checked, not
    // sampled).
    "q_inverted_index" -> ((s, dir) => {
      graft.text.Corpus.postings(docs(s, dir), "text", "doc_id")
        .select(col("token"), col("df"),
          md5(col("postings")).as("postings_md5"))
        .orderBy("token")
    }),

    // 81: exact discrete percentiles (p50/p90/p99) per order priority
    // over BIGINT cents — integer rank thresholds (rn·den ≥ n·num),
    // no float ranks, engine- and partitioning-exact.
    "q_percentiles" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderpriority").as("pri"),
        cents(col("o_totalprice")).as("cents"), col("o_orderkey"))
      graft.ops.Stats.percentileDisc(o, Seq("pri"), "cents", "o_orderkey",
          Seq(("p50c", 1, 2), ("p90c", 9, 10), ("p99c", 99, 100)))
        .select(col("pri"), col("n"),
          money(col("p50c")).as("p50"), money(col("p90c")).as("p90"),
          money(col("p99c")).as("p99"))
        .orderBy("pri")
    }),

    // 82: bigram-LM statistics — the most likely next token per token
    // (count desc, word asc — total), with the per-token total for
    // conditional probability downstream. Pure integer outputs.
    // The argmax is TWO-PHASE AGGREGATION, not a window: at corpus
    // scale "the" would make one reducer own the hottest w1 partition
    // twice (sum-window + sort-window); min(struct(-cnt, w2)) is a
    // partial-aggregable struct-min (lexicographic: largest cnt, then
    // smallest w2 on ties) that spreads the hot token across mappers.
    // 103: LM-coverage quality filter (CCNet-shaped): score each doc
    // by the share of its bigram INSTANCES whose bigram occurs ≥2
    // times corpus-wide — low coverage = text unlike the corpus.
    // Bigrams ride md5-derived long hashes on both the doc frame and
    // the vocabulary frame, so the join never shuffles raw text and
    // the keys are long equality (the q_contamination discipline);
    // the vocabulary side is corpus-vocabulary-sized, not corpus-
    // sized. Counts are exact ints → the pct division is engine-
    // identical.
    "q_lm_coverage" -> ((s, dir) => {
      // Instances are pre-aggregated to (doc_id, h, cnt) BEFORE the
      // vocabulary join: the join key's multiplicity drops from bigram
      // INSTANCES to documents-containing, so a corpus-hot bigram
      // ("of the") lands on a reducer as one row per document instead
      // of millions of instance rows; AQE skew-split covers the
      // residue and the per-doc rollup rides the doc_id grouping.
      val bg = docs(s, dir)
        .select(col("doc_id"), TF.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"),
          explode(TF.bigramsFromTokens(col("t"))).as("bg"))
        .select(col("doc_id"),
          conv(substring(md5(col("bg")), 1, 15), 16, 10).cast("long")
            .as("h"))
        .groupBy("doc_id", "h").agg(count(lit(1)).as("cnt"))
        // STAGED: the vocabulary pass and the final join both consume
        // this frame — lazy lineage re-ran scan+tokenize+bigram-md5
        // twice; the (doc_id,h,cnt) frame is bigram-type-sized.
        .staged
      val known = bg.groupBy("h").agg(sum(col("cnt")).as("tot"))
        .filter(col("tot") >= 2).select(col("h").as("kh"))
      bg.join(known, col("h") === col("kh"), "left")
        .groupBy("doc_id")
        .agg(sum(col("cnt")).as("n_bigrams"),
          sum(when(col("kh").isNotNull, col("cnt"))
            .otherwise(lit(0L))).as("n_known"))
        .select(col("doc_id"), col("n_bigrams"), col("n_known"),
          (col("n_known").cast("double") * 100.0 / col("n_bigrams"))
            .as("coverage_pct"))
        .orderBy("doc_id")
    }),

    "q_bigram_lm" -> ((s, dir) => {
      val c = docs(s, dir)
        .select(TF.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(explode(TF.bigramPairsFromTokens(col("t"))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
      c.groupBy("w1")
        .agg(sum("cnt").as("total"),
          min(struct((-col("cnt")).as("nc"), col("w2").as("w"))).as("__m"))
        .select(col("w1"), col("__m.w").as("w2"),
          (-col("__m.nc")).as("cnt"), col("total"))
        .orderBy("w1")
    }),

    // 126: document perplexity under the corpus bigram LM (add-one
    // smoothed) — the KenLM-shaped quality score: high perplexity =
    // text the corpus model finds surprising. All probabilities come
    // from EXACT integer counts ((c12+1)/(c1+V)); the per-doc nll is
    // the only float sum (≤ distinct-bigrams terms, round 6). Doc
    // bigrams pre-aggregate to (doc, w1, w2, cnt) BEFORE the prob
    // join (the q_lm_coverage de-skew discipline), and the prob table
    // is bigram-vocabulary-sized, never corpus-sized.
    "q_perplexity" -> ((s, dir) => {
      // STAGED (guide §2.4 "do fewer passes"): bg feeds four consumers
      // (corpus counts, left counts, vocab, and the final doc join) —
      // as lazy lineage each consumer re-ran scan→tokenize→bigram-
      // explode→agg (4 parquet scans + 4 Generates in the r18 plan,
      // the dominant cost); materializing the doc-bigram counts once
      // makes every consumer read the (doc,w1,w2,cnt) frame — which is
      // also the right call at 100 TB (recompute-4× of the tokenize
      // pass dwarfs one bigram-sized materialization).
      val bg = docs(s, dir)
        .select(col("doc_id"), TF.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"),
          explode(TF.bigramPairsFromTokens(col("t"))).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("cnt"))
        .staged
      val corpus = bg.groupBy("w1", "w2").agg(sum(col("cnt")).as("c12"))
      val left = corpus.groupBy("w1").agg(sum(col("c12")).as("c1"))
      val vocab = corpus.agg(countDistinct(col("w2")).as("v"))
      val probs = corpus.join(left, "w1").crossJoin(broadcast(vocab))
        .select(col("w1"), col("w2"),
          ((col("c12") + 1).cast("double") / (col("c1") + col("v")))
            .as("p"))
      bg.join(probs, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(sum(col("cnt")).as("n_bigrams"),
          sum(col("cnt").cast("double") * log(col("p"))).as("__nll"))
        .select(col("doc_id"), col("n_bigrams"),
          round(exp(-col("__nll") / col("n_bigrams")), 6).as("perplexity"))
        .orderBy("doc_id")
    }),

    // 86: composite curation gate — first-failing-rule reason codes
    // (too_short → low_diversity → repetitive → keep), the filter
    // shape every corpus pipeline ends with. Length/diversity are
    // per-row Column work; the repetition input joins back doc-keyed
    // (the only shuffle chain). kept derives from reason, so the two
    // can never disagree.
    "q_quality_gate" -> ((s, dir) => {
      // STAGED: the metrics pass and the bigram-repetition pass both
      // consume the token arrays — lazy lineage tokenized the corpus
      // twice. One materialization of (doc_id, tokens) feeds both.
      val d = docs(s, dir)
        .select(col("doc_id"), TF.tokens(col("text")).as("t"))
        .staged
      val m = d.select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        TF.uniqueTokenRatioFromTokens(col("t")).as("__uniq"))
      val rep = d.filter(size(col("t")) >= 2)
        .select(col("doc_id"),
          explode(TF.bigramsFromTokens(col("t"))).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(sum("cnt").as("__total"), max("cnt").as("__maxc"))
      val isRep = coalesce(col("__maxc") * 20 > col("__total"), lit(false))
      m.join(rep, Seq("doc_id"), "left")
        .withColumn("reason",
          when(col("n_tokens") < 30, "too_short")
            .when(col("__uniq") < 0.35, "low_diversity")
            .when(isRep, "repetitive")
            .otherwise("keep"))
        .select(col("doc_id"), col("n_tokens"), col("reason"),
          when(col("reason") === "keep", 1).otherwise(0).cast("int")
            .as("kept"))
        .orderBy("doc_id")
    }),

    // 27: text-quality scoring — ratios rounded to 6dp (both engines
    // evaluate the identical double expression tree).
    "q_text_quality" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          round(TF.stopwordRatioFromTokens(col("toks")), 6).as("stopword_ratio"),
          round(TF.uniqueTokenRatioFromTokens(col("toks")), 6).as("uniq_ratio"),
          round(TF.meanTokenLenFromTokens(col("toks")), 6).as("mean_token_len"),
          round(TF.qualityScoreFromTokens(col("toks")), 6).as("quality"))
        .orderBy("doc_id")
    }),

    // 28: heuristic language ID (stopword profiles, first-max wins).
    "q_lang_id" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), col("lang"), TF.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("lang"),
          TF.langIdFromTokens(col("toks")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // 29: order-insensitive document fingerprint.
    "q_fingerprint" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // 115: token-distribution Shannon entropy per doc (the
    // Gopher-family quality signal: low entropy = repetitive/
    // degenerate text). entropy = ln(n) − Σ c·ln(c) / n over EXACT
    // integer type counts, so the only float work is the final
    // ln/divide — the sum is over ≤ |types| terms and rides round(6)
    // for cross-engine parity. Two partial-aggregable groupBys on
    // doc-rooted keys; no joins, no window.
    "q_entropy" -> ((s, dir) => {
      val c = docs(s, dir)
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      c.groupBy("doc_id")
        .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"),
          sum(col("c").cast("double") * log(col("c").cast("double")))
            .as("__clogc"))
        .select(col("doc_id"), col("n").as("n_tokens"), col("n_types"),
          round(log(col("n").cast("double")) - col("__clogc") / col("n"), 6)
            .as("entropy"))
        .orderBy("doc_id")
    }),

    // 30: blocked shingle-Jaccard near-dup pairs (≥ 0.5, exact
    // rational compare); blocking on (lang, source, length bucket)
    // bounds the pair blow-up.
    "q_ngram_jaccard" -> ((s, dir) => {
      val d = docs(s, dir)
        .withColumn("len_bucket", floor(col("n_chars") / 100))
      Dedup.ngramJaccardPairs(d, "text", "doc_id",
          Seq("lang", "source", "len_bucket"), 3, 1, 2)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_a", "id_b")
    }),

    // 249: CROSS-SOURCE SHINGLE OVERLAP — the corpus-mixing overlap
    // matrix: Jaccard of each source PAIR's shingle vocabularies
    // (high overlap = the same crawl ingested twice under two
    // names). The frame aggregates to distinct (source, hash) FIRST
    // (bounded by vocabulary, not rows), pairs meet in a hash-space
    // equi-join, and |sources|² stays tiny while the heavy lifting
    // is the one shuffle on the shingle hash.
    "q_source_overlap" -> ((s, dir) => {
      val shExpr = org.apache.spark.sql.GraftBridge.column(
        graft.plans.CharShingleHashes(
          org.apache.spark.sql.GraftBridge.expression(col("text")), 5, 8))
      val sv = docs(s, dir)
        .select(col("source"), explode(array_distinct(shExpr)).as("h"))
        .distinct()
        .staged // reused by sizes + the pair join
      val sizes = sv.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = sv.toDF("sa", "h")
        .join(sv.toDF("sb", "h"), "h")
        .filter(col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("inter_n"))
      inter
        .join(broadcast(sizes.toDF("sa", "na")), "sa")
        .join(broadcast(sizes.toDF("sb", "nb")), "sb")
        .select(col("sa"), col("sb"), col("inter_n"), col("na"), col("nb"),
          round(col("inter_n").cast("double")
            / (col("na") + col("nb") - col("inter_n")).cast("double"), 6)
            .as("jaccard"))
        .orderBy("sa", "sb")
    }),

    // 250: DEDUP SURVIVORSHIP — the canonical-record policy applied
    // to exact-dup clusters: one groupBy on the content digest, the
    // survivor chosen per cluster by (longest text, then lowest id)
    // through a deterministic rank inside the digest partition —
    // never a whole-cluster collect. Every cluster reports its
    // survivor and member count.
    "q_survivorship" -> ((s, dir) => {
      val w = Window.partitionBy(col("fp"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      docs(s, dir)
        .select(md5(col("text")).as("fp"), col("doc_id"), col("n_chars"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_members", count(lit(1))
          .over(Window.partitionBy(col("fp"))))
        .filter(col("rn") === 1)
        .select(col("doc_id").as("survivor_id"), col("n_members"),
          col("n_chars").as("survivor_chars"))
        .orderBy("survivor_id")
    }),

    // 243: DUPLICATE RATIO BY SOURCE — the corpus-health dashboard
    // number: per source, how much of the crawl is exact-dup dead
    // weight. One groupBy with a distinct-count of content hashes
    // (md5 text digests — the dedup key, never the raw text, moves
    // through the shuffle); one mirrored division per source row.
    "q_dupe_ratio" -> ((s, dir) => {
      docs(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique"))
        .select(col("source"), col("n_docs"), col("n_unique"),
          (col("n_docs") - col("n_unique")).as("n_dup_rows"),
          round((col("n_docs") - col("n_unique")).cast("double")
            / col("n_docs").cast("double"), 6).as("dup_ratio"))
        .orderBy("source")
    }),

    // 244: BOILERPLATE DETECTION — the 3 most document-frequent
    // 5-gram shingles per source (navigation chrome / template text
    // shows up as a shingle shared by most of a domain's pages).
    // Distinct-per-doc shingles explode once, ONE partial-aggregable
    // (source, shingle) count, then the q_topk_per_group window on
    // the already-aggregated frame with a deterministic tiebreak.
    "q_boilerplate" -> ((s, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(col("n_docs_sh").desc, col("sh"))
      docs(s, dir)
        .select(col("source"),
          explode(TF.shingles(col("text"), 5)).as("sh"))
        .groupBy("source", "sh")
        .agg(count(lit(1)).as("n_docs_sh"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("source", "rn", "sh", "n_docs_sh")
        .orderBy("source", "rn")
    }),

    // 245: ZIPF SLOPE — the log-log rank-frequency regression slope
    // of the top-50 token types (a healthy natural-language corpus
    // sits near −1; template spam and synthetic junk bend it). The
    // vocabulary aggregates first; ranks come from Ranking.withRank
    // (the vocabulary is NOT bounded a priori at corpus scale — no
    // global-sort window); the OLS slope runs over the fixed 50-row
    // head, float only in the final ln/2-sum chain under round(6)
    // (the q_entropy bounded-frame float class).
    "q_zipf" -> ((s, dir) => {
      val vocab = docs(s, dir)
        .select(explode(TF.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val pts = Ranking.withRank(vocab, Seq.empty,
          Seq(col("freq").desc, col("tok")), "rk")
        .filter(col("rk") <= 50)
        .select(log(col("rk").cast("double")).as("x"),
          log(col("freq").cast("double")).as("y"))
      val d = (c: Column) => c.cast("double")
      pts.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n").as("n_types"),
          round((d(col("n")) * col("sxy") - col("sx") * col("sy"))
            / (d(col("n")) * col("sxx") - col("sx") * col("sx")), 6)
            .as("zipf_slope"))
    }),

    // 234: SHINGLE NOVELTY — per document, the fraction of its
    // 3-gram shingles that NO lower-id document contains (the
    // "how much new text does this doc add" curation signal; with
    // doc_id as ingest order it is the dedup-marginal-value curve).
    // First-owner = min(doc_id) per shingle hash: ONE groupBy on the
    // hashed shingle space (min is associative — map-side partials
    // absorb hot shingles), one equi-join back, one doc-grain
    // re-aggregation. Never all-pairs; cost ∝ Σ|shingles|.
    "q_doc_novelty" -> ((s, dir) => {
      val shExpr = org.apache.spark.sql.GraftBridge.column(
        graft.plans.CharShingleHashes(
          org.apache.spark.sql.GraftBridge.expression(col("text")), 3, 8))
      // NOT staged (measured): the exploded per-shingle stream is wide
      // relative to its compute (native one-pass CharShingleHashes) —
      // materializing it profiled 0.76→0.84s; recompute is cheaper here.
      val ex = docs(s, dir)
        .select(col("doc_id"), explode(array_distinct(shExpr)).as("h"))
      val owner = ex.groupBy("h").agg(min(col("doc_id")).as("owner"))
      ex.join(owner, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum((col("owner") === col("doc_id")).cast("long"))
            .as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          round(col("n_novel").cast("double")
            / col("n_shingles").cast("double"), 6).as("novelty"))
        .orderBy("doc_id")
    }),

    // 235: CONTAINMENT NEAR-DUP PAIRS — Broder's asymmetric
    // |A∩B|/|A| within (lang, source, length-bucket) blocks: the
    // signal that catches a short document swallowed by a longer one,
    // which Jaccard's union term hides. Exact rational keep filter
    // (inter·4 ≥ min(|A|,|B|)·3); same blocked never-all-pairs shape
    // and loud block-size guard as q_ngram_jaccard.
    "q_containment" -> ((s, dir) => {
      val d = docs(s, dir)
        .withColumn("len_bucket", floor(col("n_chars") / 100))
      Dedup.containmentPairs(d, "text", "doc_id",
          Seq("lang", "source", "len_bucket"), 3, 3, 4)
        .withColumn("cont_ab", round(col("cont_ab"), 6))
        .withColumn("cont_ba", round(col("cont_ba"), 6))
        .orderBy("id_a", "id_b")
    }),

    // 236: TOKENIZER FERTILITY — characters per token by language,
    // the budget planner's bytes→tokens conversion table. One scan,
    // one tiny groupBy; the division happens once per LANGUAGE on
    // exact integer sums, never per row.
    "q_token_fertility" -> ((s, dir) => {
      docs(s, dir)
        .select(col("lang"), col("n_chars"),
          TF.tokenCount(col("text")).cast("long").as("n_toks"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
          sum(col("n_toks")).as("toks"))
        .select(col("lang"), col("n_docs"), col("chars"), col("toks"),
          round(col("chars").cast("double") / col("toks").cast("double"),
            6).as("chars_per_token"))
        .orderBy("lang")
    }),

    // 237: GOPHER-STYLE RULE FILTER — the classic multi-rule text
    // quality gate with per-rule verdicts (length band, mean word
    // length band, type/token diversity, stopword presence) so a
    // curation pipeline can report WHY a document dropped, not just
    // that it did. Every rule is an integer cross-multiplication on
    // per-row token stats — no float, no join, pure codegen'd scan.
    "q_gopher_rules" -> ((s, dir) => {
      val stopArr = array(Seq("the", "a", "of", "to", "and",
        "in", "is", "it", "on", "for").map(lit): _*)
      val okLen = col("n") >= 30 && col("n") <= 100000
      val okWl = col("sl") * 2 >= col("n") * 9 &&
        col("sl") <= col("n") * 10
      val okDiv = col("ntypes") * 2 >= col("n")
      val okStop = col("nstop") >= 2
      docs(s, dir)
        .select(col("doc_id"), TF.tokens(col("text")).as("t"))
        .select(col("doc_id"), size(col("t")).as("n"),
          aggregate(transform(col("t"), x => length(x)),
            lit(0), (acc, x) => acc + x).as("sl"),
          size(array_distinct(col("t"))).as("ntypes"),
          size(array_intersect(array_distinct(col("t")), stopArr))
            .as("nstop"))
        .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
          okLen.as("ok_len"), okWl.as("ok_word_len"),
          okDiv.as("ok_diversity"), okStop.as("ok_stopwords"),
          (okLen && okWl && okDiv && okStop).as("pass"))
        .orderBy("doc_id")
    }),

    // 31: MinHash + LSH banding — candidates only within band buckets.
    "q_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashLshPairs(docs(s, dir), "text", "doc_id",
          shingleK = 5, nPerm = 16, bands = 4)
        .orderBy("id_a", "id_b")
    }),

    // 32: 60-bit SimHash near-dup pairs, hamming ≤ 3, banded join.
    "q_simhash" -> ((s, dir) => {
      SimHash.simhashPairs(docs(s, dir), "text", "doc_id", 3)
        .orderBy("id_a", "id_b")
    }),

    // 56: fuzzy duplicate pairs — blocked edit-distance matching
    // (levenshtein ≤ 2 within a (size, first-word) block). Integer
    // distances: no cross-engine float risk; blocking keeps the pair
    // generation off the all-pairs cliff, same discipline as the
    // sketch dedups.
    "q_fuzzy_pairs" -> ((s, dir) => {
      fuzzyPairs(s, dir).orderBy("id_a", "id_b")
    }),

    // 74: frame-sampling plumbing over the media schema — uniform
    // sample of nSamples frame rows per media row (first/last always
    // included). The frame payload is the declared byte-slice stub
    // (no video codec in this JVM); the explode/schema/slicing
    // plumbing is real and the oracle checks it byte-exactly (ascii
    // text payloads ⇒ DuckDB's char slicing == Spark's byte slicing).
    "q_frame_sample" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.asMedia(
        docs(s, dir), "doc_id", "text",
        "video_stub", "application/octet-stream")
      graft.multimodal.Multimodal
        .sampleFrames(media, expr("meta.n_bytes div 64"), 4, 64)
        .select(col("media_id"), col("frame_idx"),
          md5(col("frame")).as("frame_hash"))
        .orderBy("media_id", "frame_idx")
    }),

    // 73: deterministic stratified sampling — per-language keep rates
    // (data mixing: downsample dominant languages, keep the rest),
    // decided by an md5 bucket per row so the sample is reproducible
    // on any engine/partitioning: the curation-pipeline "mixture
    // weights" step. Pure filter — no shuffle at all.
    "q_stratified_sample" -> ((s, dir) => {
      val rate = when(col("lang") === "en", 500)
        .when(col("lang") === "zh", 800)
        .otherwise(1000) // keep smaller languages whole
      val bucket = conv(substring(
        md5(concat(col("doc_id").cast("string"), lit(":"), col("lang"))),
        1, 8), 16, 10).cast("long") % 1000
      docs(s, dir)
        .withColumn("bucket", bucket)
        .filter(col("bucket") < rate)
        .select("doc_id", "lang", "bucket")
        .orderBy("doc_id")
    }),

    // 124: token co-occurrence PMI — the association score behind
    // phrase mining and embedding-free relatedness: for token pairs
    // sharing a document, pmi = ln(n·c_xy / (c_x·c_y)) over EXACT
    // document frequencies (only the final ln is float). Pair
    // generation is per-row (distinct tokens explode twice, w1 < w2
    // fence) — no self-join of the corpus; the c_x side is
    // vocabulary-sized and broadcasts. Support floor c_xy ≥ 25 keeps
    // the output the interesting tail, not the cross product.
    "q_pmi" -> ((s, dir) => {
      // STAGED: pair counts, unigram counts and the doc total all
      // consume the distinct-token arrays — lazy lineage tokenized the
      // corpus three times.
      val dt = docs(s, dir)
        .select(col("doc_id"),
          array_distinct(TF.tokens(col("text"))).as("ts"))
        .staged
      val pairs = dt
        .select(col("doc_id"), explode(col("ts")).as("w1"), col("ts"))
        .select(col("doc_id"), col("w1"), explode(col("ts")).as("w2"))
        .filter(col("w1") < col("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 25)
      val df1 = dt.select(explode(col("ts")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val nDocs = dt.agg(count(lit(1)).as("n"))
      pairs
        .join(broadcast(df1.select(col("w").as("w1"), col("c").as("c_x"))), "w1")
        .join(broadcast(df1.select(col("w").as("w2"), col("c").as("c_y"))), "w2")
        .crossJoin(broadcast(nDocs))
        .select(col("w1"), col("w2"), col("c_xy"),
          round(log(col("n").cast("double") * col("c_xy") /
            (col("c_x") * col("c_y"))), 6).as("pmi"))
        .orderBy("w1", "w2")
    }),

    // 176: MARKET-BASKET association rules — support/confidence/lift
    // for item pairs co-ordered in one order (items = partkey%100
    // pseudo-SKUs). The pair join is a SELF-EQUI-JOIN ON THE ORDER
    // KEY: quadratic only WITHIN an order (≤7 lines ⇒ ≤21 pairs),
    // linear across orders — the shape that survives 100 TB, unlike
    // an item-item cross join. ReuseExchange feeds both sides from
    // one shuffle; the 100-row item-count table broadcasts twice; the
    // 1-row basket total rides the fenced scalar carrier. Confidence
    // and lift are IEEE divisions of exact BIGINTs (engine-identical),
    // top-20 by lift under a full deterministic tiebreak.
    "q_basket_rules" -> ((s, dir) => {
      // STAGED: item counts, the basket total and both self-join sides
      // consume the distinct frame — lazy lineage ran the scan+distinct
      // shuffle four times (broadcast sides defeat ReuseExchange).
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("oid"),
          (col("l_partkey") % 100).as("item"))
        .distinct()
        .staged
      val cnts = li.groupBy("item").agg(count(lit(1)).as("cnt"))
      val nOrders = li.agg(countDistinct(col("oid")).as("n_orders"))
      val a = li.select(col("oid"), col("item").as("item_a"))
      val b = li.select(col("oid"), col("item").as("item_b"))
      val pairs = a.join(b, Seq("oid"))
        .filter(col("item_a") < col("item_b"))
        .groupBy("item_a", "item_b").agg(count(lit(1)).as("pair_cnt"))
        .filter(col("pair_cnt") >= 5)
      pairs
        .join(broadcast(cnts.select(col("item").as("item_a"),
          col("cnt").as("c_a"))), "item_a")
        .join(broadcast(cnts.select(col("item").as("item_b"),
          col("cnt").as("c_b"))), "item_b")
        .crossJoin(broadcast(nOrders))
        .select(col("item_a"), col("item_b"), col("pair_cnt"),
          (col("pair_cnt").cast("double") / col("c_a")).as("confidence"),
          ((col("pair_cnt") * col("n_orders")).cast("double") /
            (col("c_a") * col("c_b"))).as("lift"))
        .orderBy(col("lift").desc, col("item_a"), col("item_b"))
        .limit(20)
    }),

    // 119: class-balance cap — EXACTLY-k-per-class downsampling
    // (each lang keeps its 80 hash-first docs), the corpus-balancing
    // step stratified RATE sampling (row above) can't express: a rate
    // bounds the fraction, a cap bounds the COUNT. Selection order is
    // an md5 hash, so the kept set is a deterministic uniform draw on
    // both engines. Scale path: a hash-threshold PREFILTER bounds the
    // per-class window input to ~4k expected rows (hash prefix below
    // 4k/|class| of the 32-bit space) BEFORE the window — md5 hex
    // sorts identically to its numeric value, so the survivors are a
    // strict prefix of each class's (h, doc_id) order. Exactness is
    // by construction, not by luck: a per-class survivor count gates
    // the filter, and any class whose prefix came up short (never,
    // statistically, at mean 4k — but proven, not assumed) falls back
    // to its full row set for the window.
    "q_class_balance" -> ((s, dir) => {
      val k = 80
      val h = md5(concat(col("doc_id").cast("string"), lit("#bal")))
      val dd = docs(s, dir)
        .select(col("doc_id"), col("lang"), h.as("h"))
        .withColumn("hv", conv(substring(col("h"), 1, 8), 16, 10)
          .cast("long"))
      val cnt = dd.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      val pre = dd.join(broadcast(cnt), Seq("lang"))
        .withColumn("keep", col("hv").cast("double") < lit(4294967296.0) *
          least(lit(1.0), lit(4.0 * k) / col("n_lang")))
      val gate = cnt.join(
          pre.filter(col("keep")).groupBy("lang")
            .agg(count(lit(1)).as("n_surv")),
          Seq("lang"), "left")
        .select(col("lang"), (coalesce(col("n_surv"), lit(0L)) >=
          least(lit(k.toLong), col("n_lang"))).as("pre_ok"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("h"), col("doc_id"))
      pre.join(broadcast(gate), Seq("lang"))
        .filter(col("keep") || !col("pre_ok"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select(col("doc_id"), col("lang"), col("rn"))
        .orderBy("doc_id")
    }),

    // 71: context-window chunking — fixed-size token windows with
    // overlap (50 tokens every 40), the step between a curated corpus
    // and training sequences. Per-row explode, no shuffle; chunk
    // content pinned by an md5 hash both engines compute.
    "q_text_chunk" -> ((s, dir) => {
      graft.text.Chunker
        .chunkTokens(docs(s, dir), "text", "doc_id", 50, 40)
        .select(col("doc_id"), col("chunk_id"),
          size(col("toks")).as("n_tokens"),
          md5(array_join(col("toks"), " ")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_id")
    }),

    // 72: token-budget packing — chunks accumulate into ≤512-token
    // bins by running start offset, sharded (doc_id % 8) so the sort
    // never goes global; the capacity-approximate one-window-pass
    // form every distributed packer uses.
    "q_token_pack" -> ((s, dir) => {
      val chunks = graft.text.Chunker
        .chunkTokens(docs(s, dir), "text", "doc_id", 50, 40)
        .select(col("doc_id"), col("chunk_id"),
          size(col("toks")).as("n_tokens"))
        .withColumn("shard", (col("doc_id") % 8).cast("int"))
      graft.text.Chunker
        .packBins(chunks, Seq(col("doc_id"), col("chunk_id")),
          "n_tokens", 512L, Seq("shard"))
        .select("shard", "doc_id", "chunk_id", "n_tokens", "bin")
        .orderBy("shard", "doc_id", "chunk_id")
    }),

    // 70: corpus-adaptive boilerplate discovery — tokens present in
    // > 78% of documents are corpus stopwords (a fixed list misses
    // domain boilerplate); output is the per-document before/after
    // token accounting a curation pipeline gates on. DF agg + tiny
    // broadcast anti-join: the full text never shuffles.
    "q_corpus_stopwords" -> ((s, dir) => {
      graft.text.Corpus
        .stripCommonCounts(docs(s, dir), "text", "doc_id", 39, 50)
        .select(col("doc_id"), col("n_before").cast("int").as("n_before"),
          col("n_after"))
        .orderBy("doc_id")
    }),

    // 69: interval containment join WITHOUT an equi key — the second
    // temporal join next to as-of. The naive non-equi form is a
    // nested loop; RangeJoin.bucketedRangeJoin manufactures an equi
    // key (time bucket), so the plan is a plain shuffled equi-join +
    // exact BETWEEN filter (PlanSpec's no-nested-loop sweep holds for
    // this row). Intervals sampled from events; points are all events.
    "q_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val iv = ev.filter(col("event_id") % 97 === 0)
        .select(col("event_id").as("iv_id"),
          unix_micros(col("ts")).as("iv_start"),
          (unix_micros(col("ts")) +
            (col("event_id") % 29 + 1) * lit(3600000000L)).as("iv_end"))
      val pts = ev.select(unix_micros(col("ts")).as("pt"),
        cents(col("value")).as("vc"))
      RangeJoin.bucketedRangeJoin(pts, "pt", iv, "iv_start", "iv_end",
          8L * 3600000000L)
        .groupBy("iv_id")
        .agg(count(lit(1)).as("n_events"),
          money(sum(col("vc"))).as("sum_value"))
        .orderBy("iv_id")
    }),

    // 67b (row 68): near-dup pairs are not yet a dedup decision —
    // A~B and B~C must collapse to ONE survivor even when A≁C.
    // Connected components over the fuzzy pair graph via min-label
    // propagation (Dedup.connectedComponents); output is each
    // paired node with its component id (= min reachable id), the
    // canonical-document assignment. Oracle: recursive CTE closure.
    "q_dedup_cluster" -> ((s, dir) => {
      Dedup.connectedComponents(fuzzyPairs(s, dir)).orderBy("id")
    }),

    // 120: PageRank, 3 damped iterations over the customer→supplier
    // purchase graph (the OTHER canonical graph aggregate beside the
    // CC rows — importance, not membership). Edges checkpoint once
    // and every iteration is one groupBy(dst) shuffle of |E| rows —
    // the textbook Spark PR loop, diameter-free by construction.
    // Supplier ids offset into their own node range. N enters as a
    // literal from one bounded count (node-table-sized, not
    // fact-sized); no dangling-mass redistribution (suppliers are
    // sinks; the leak is deterministic on both engines and the
    // oracle unrolls the identical 3 steps). Output ×N, round 9 —
    // float error after 3 iterations is ~1e-13 relative.
    // 185: BFS LEVELS — the third graph family (traversal) beside
    // ranking (q_pagerank) and counting (q_triangle): hop distance
    // from a seed set (nation-0 customers) over the undirected
    // customer↔supplier bipartite graph, 3 frontier expansions. Each
    // round is ONE equi-join + anti-join against the visited set —
    // per-round cost ∝ frontier edges, the textbook distributed BFS;
    // edges stage once (reliable checkpoint when a dir is set).
    "q_bfs_levels" -> ((s, dir) => {
      val e0 = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
        .distinct()
      val e = e0.union(e0.select(col("dst").as("src"),
        col("src").as("dst"))).staged
      val seeds = t(s, dir, "customer")
        .filter(col("c_nationkey") === 0)
        .select(col("c_custkey").as("id")).distinct()
      var visited = seeds.withColumn("level", lit(0)).staged
      var frontier = seeds
      for (k <- 1 to 3) {
        // STAGED: next is consumed twice (the visited union AND the
        // next round's expansion probe) — as lazy lineage the whole
        // expand+anti-join re-ran for the probe each round.
        val next = e.join(frontier, e("src") === frontier("id"))
          .select(e("dst").as("id")).distinct()
          .join(visited, Seq("id"), "left_anti")
          .staged
        visited = visited.unionByName(
          next.withColumn("level", lit(k))).staged
        frontier = next
      }
      visited.groupBy("level").agg(count(lit(1)).as("n_nodes"))
        .orderBy("level")
    }),

    "q_pagerank" -> ((s, dir) => {
      val edges = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
        .distinct()
        .staged
      val nodes = edges.select(col("src").as("id"))
        .union(edges.select(col("dst"))).distinct().staged
      val n = nodes.count()
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      var pr = nodes.withColumn("pr", lit(1.0 / n))
      for (_ <- 1 to 3) {
        val contrib = edges.join(deg, "src")
          .join(pr, edges("src") === pr("id"))
          .select(col("dst").as("id"), (col("pr") / col("deg")).as("c"))
        pr = nodes
          .join(contrib.groupBy("id").agg(sum(col("c")).as("s")),
            Seq("id"), "left")
          .select(col("id"),
            (lit(0.15 / n) + lit(0.85) * coalesce(col("s"), lit(0.0)))
              .as("pr"))
      }
      pr.select(col("id"), round(col("pr") * n, 9).as("pr_scaled"))
        .orderBy("id")
    }),

    // 201: LABEL PROPAGATION — the fourth graph family (community
    // membership by iteration) beside traversal (q_bfs_levels),
    // ranking (q_pagerank), counting (q_triangle), and contraction-CC
    // (q_dedup_cluster): two SYNCHRONOUS min-label rounds over a
    // sparse customer↔supplier graph (cheap-order/low-quantity edges
    // fragment it into ~80 communities at sf0.01 — a dense graph
    // degenerates to one label and gates nothing). Each round is ONE
    // groupBy(dst-side) shuffle of |E| rows + a label join — the same
    // per-iteration scale shape as PageRank, skew-safe because min is
    // associative (map-side partials absorb hot vertices). min-label
    // with a fixed round count is deterministic on any engine —
    // classic async LPA is not, which is why the sync variant is the
    // one a distributed engine ships.
    "q_label_prop" -> ((s, dir) => {
      val e0 = t(s, dir, "orders")
        .filter(col("o_totalprice") < 60000.0)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").filter(col("l_quantity") <= 8)
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
        .distinct()
      val e = e0.union(e0.select(col("dst").as("src"),
        col("src").as("dst"))).staged
      var lbl = e.select(col("src").as("id")).distinct()
        .withColumn("lbl", col("id"))
      for (_ <- 1 to 2) {
        val nl = e.join(lbl.select(col("id").as("nid"), col("lbl")),
            col("dst") === col("nid"))
          .groupBy("src").agg(min(col("lbl")).as("nl"))
        lbl = lbl.join(nl, lbl("id") === nl("src"), "left")
          .select(lbl("id"),
            least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("lbl"))
          .staged
      }
      lbl.groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy("community")
    }),

    // 61: regex group extraction — parse structured text into typed
    // columns (the log/sheet-parsing ETL shape; the reference's
    // pandas .str pipeline equivalent). Groups: "<adjective> <noun>".
    "q_regex_extract" -> ((s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"),
          regexp_extract(col("p_name"), "^(\\w+) (\\w+)$", 1).as("adj"),
          regexp_extract(col("p_name"), "^(\\w+) (\\w+)$", 2).as("noun"))
        .filter(col("noun") =!= "")
        .orderBy("p_partkey")
    }),

    // 51: deterministic train/valid/test split — hash-bucket
    // assignment (md5 of a salted id), reproducible across engines,
    // runs, and partitionings; the standard leakage-free split for
    // training-data pipelines.
    "q_sample_split" -> ((s, dir) => {
      val bucket = (conv(substring(md5(concat(lit("split:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long") % 100)
      docs(s, dir)
        .select(col("doc_id"),
          when(bucket < 80, "train").when(bucket < 90, "valid")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    }),

    // 186: WEIGHTED (importance) sampling — the data-mixing step
    // rate/cap sampling can't express: each doc keeps with
    // probability ∝ its weight (n_chars here — longer docs
    // oversampled, the length-balanced-token draw). Deterministic on
    // both engines: keep iff md5-uniform(doc_id)/2^60 < weight/maxw,
    // both sides the SAME IEEE divisions of exact BIGINTs (no RNG, no
    // seed drift); the 1-row max weight broadcasts (fenced carrier).
    // Checked output: per-lang kept counts + mean kept length, which
    // rises above the corpus mean — the oversampling itself is gated.
    "q_weighted_sample" -> ((s, dir) => {
      val h = conv(substring(md5(concat(lit("ws:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
      val dd = docs(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val maxw = dd.agg(max(col("n_chars")).as("maxw"))
      dd.crossJoin(broadcast(maxw))
        .filter((h.cast("double") / lit(1152921504606846976.0)) <
          (col("n_chars").cast("double") / col("maxw")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          (sum(col("n_chars")).cast("double") / count(lit(1)))
            .as("mean_len"))
        .orderBy("lang")
    }),

    // 52: the training-data prep pipeline COMPOSED end-to-end:
    // exact dedup (keep min id per identical text) → simhash near-dup
    // prune (greedy: drop the larger id of every pair) → language
    // gate (predicted en) → quality/length gate. Every stage is
    // individually oracle-checked by its own row; this row proves the
    // composition — the engine's flagship LLM-corpus use-case.
    "q_datapipe_e2e" -> ((s, dir) => {
      val d = docs(s, dir)
      // exact dedup as a window (keep min doc_id per identical text):
      // one shuffle on the text hash, no join-back — same set as
      // Dedup.exact's agg+join (row 25 keeps that as the operator)
      val wTxt = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      // STAGED: d1 feeds the simhash signature pass AND the anti-join
      // left side — as lazy lineage both re-ran the scan + md5-window
      // dedup (2 parquet scans + 2 dedup windows in the r18 "before"
      // plan). One materialization of the deduped corpus feeds both.
      val d1 = d.withColumn("__rn", row_number().over(wTxt))
        .filter(col("__rn") === 1).drop("__rn")
        .staged
      val dupIds = SimHash.simhashPairs(d1, "text", "doc_id", 3)
        .select(col("id_b").as("doc_id")).distinct()
      val d2 = d1.join(dupIds, Seq("doc_id"), "left_anti")
      d2.select(col("doc_id"), TF.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          TF.langIdFromTokens(col("toks")).as("lang_pred"),
          size(col("toks")).as("n_tokens"),
          round(TF.qualityScoreFromTokens(col("toks")), 6).as("quality"))
        .filter(col("lang_pred") === "en" && col("n_tokens") >= 5 &&
          col("quality") >= 0.5)
        .orderBy("doc_id")
    }),

    // 33: brute-force cosine top-k with per-partition heap
    // pre-reduction (the full scored product never shuffles).
    "q_embed_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") % 50 === 0)
      Similarity.bruteTopK(e, q, "embedding", "vec_id", 10)
        .orderBy("query_id", "rank")
    }),

    // 34: LSH-bucketed ANN — equi-join on the hyperplane signature.
    "q_embed_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") % 50 === 0)
      Similarity.lshTopK(e, q, "embedding", "vec_id", dim = 64,
          planes = 8, k = 5)
        .orderBy("query_id", "rank")
    }),

    // 45: IVF-assembled ANN — coarse cells (4 hyperplanes → ≤16
    // inverted lists) + decimal-sum centroids + route to nprobe=4
    // cells + probe only those via an equi-join. The full IVF query
    // the centroid row (41) is the building block for.
    "q_embed_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") % 50 === 0)
      Similarity.ivfTopK(e, q, "embedding", "vec_id", dim = 64,
          cellPlanes = 4, nprobe = 4, k = 5)
        .orderBy("query_id", "rank")
    }),

    // 35: embedding near-dup pairs (cosine ≥ 0.3) within label blocks.
    "q_embed_neardup" -> ((s, dir) => {
      Similarity.nearDupPairs(emb(s, dir), "embedding",
          "vec_id", "label", 0.3)
        .orderBy("id_a", "id_b")
    }),

    // 148: SemDeDup-shaped semantic dedup (Similarity.semanticDedup,
    // Abbas et al. 2023) — the bit-stable kmeans argmin assigns each
    // vector a cell, then inside each cell a vector is dropped iff a
    // lower-id vector matches at cosine ≥ 0.3 (first-seen-wins).
    // Pairwise work is cell-bounded, never corpus-quadratic; the
    // verdict row carries keep/dup_of so the kept set is auditable.
    "q_semantic_dedup" -> ((s, dir) => {
      Similarity.semanticDedup(emb(s, dir), "embedding",
          "vec_id", "label", 0.3)
        .orderBy("vec_id")
    }),

    // 195: kNN CLASSIFICATION — the label-propagation consumer of
    // the ANN stack: each query vector takes the majority label of
    // its 5 nearest cosine neighbors (bruteTopK's bounded per-
    // partition heaps — the k=5 ranking is a prefix of the k=10 row
    // the oracle already pins), vote ties broken on the smaller
    // label; the row carries the true label and a correct flag, so
    // the oracle gates the full predict-vs-truth table. Votes and
    // the argmax run on the |queries|·|labels| frame, never the
    // corpus.
    "q_knn_classify" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") % 50 === 0)
      val nn = Similarity.bruteTopK(e, q, "embedding", "vec_id", 5)
      val votes = nn
        .join(e.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label")), "neighbor_id")
        .groupBy("query_id", "n_label")
        .agg(count(lit(1)).as("votes"))
      val wv = Window.partitionBy(col("query_id"))
        .orderBy(col("votes").desc, col("n_label"))
      votes.withColumn("rr", row_number().over(wv))
        .filter(col("rr") === 1)
        .join(e.select(col("vec_id").as("query_id"),
          col("label").as("true_label")), "query_id")
        .select(col("query_id"), col("true_label"),
          col("n_label").as("pred_label"), col("votes"),
          (col("n_label") === col("true_label")).as("correct"))
        .orderBy("query_id")
    }),

    // 36: multimodal plumbing — binary payload + typed metadata +
    // stubbed decode (deterministic md5 features).
    "q_multimodal" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.asMedia(
        docs(s, dir), "doc_id", "text", "text", "text/plain")
      media.select(col("media_id"), col("modality"),
          col("meta.n_bytes").as("n_bytes"),
          round(element_at(
            graft.multimodal.Multimodal.fakeDecode(col("content")), 1), 6)
            .as("feat0"))
        .orderBy("media_id")
    }),

    // 122: one exact Lloyd (k-means) iteration — label-mean init →
    // sequential-fold squared-L2 argmin (bit-stable: fixed dim order,
    // decimal-rounded centroids) → decimal-mean update. The
    // clustering primitive behind IVF cell refinement, as a checked
    // row: the oracle replays the identical step, so assignment AND
    // update must match float-for-float. Corpus scans twice (score,
    // update); the k-row centroid table broadcasts.
    "q_kmeans" -> ((s, dir) => {
      Similarity.kmeansStep(emb(s, dir), "embedding",
          "vec_id", "label")
        .orderBy("cluster", "pos")
    }),

    // 41: per-label embedding centroids (IVF coarse-quantizer
    // building block); decimal component sums are row-order-proof.
    "q_embed_centroid" -> ((s, dir) => {
      Similarity.centroids(emb(s, dir), "embedding", "label")
        .orderBy("grp", "pos")
    }),

    // 111: int8 vector quantization — the compression step a 100 TB
    // embedding store runs before ANN serving (4× smaller, SIMD int
    // dot products downstream). Per-vector absmax scaling: scale =
    // 127/amax computed ONCE then applied (both engines multiply by
    // the identical pre-divided double — a*(127/amax), never
    // (a*127)/amax, so the IEEE op order matches), round-to-int is
    // engine-unambiguous, and the quantized codes are pinned by an
    // md5 of the int sequence. Pure per-row Column tree, no shuffle.
    "q_embed_quantize" -> ((s, dir) => {
      Similarity.quantizeInt8(emb(s, dir), "embedding", "vec_id")
        .select(col("id").as("vec_id"), col("amax"),
          aggregate(col("qvec"), lit(0L), (a, x) => a + x).as("qsum"),
          md5(array_join(transform(col("qvec"), _.cast("string")), ","))
            .as("qhash"))
        .orderBy("vec_id")
    }),

    // 87: bloom-prefiltered fact⨝dim — the 100 TB shuffle-avoidance
    // pattern for a dim that is selective but too large to broadcast
    // as a hash join: a bloom over the dim keys (a few MB regardless
    // of row width) broadcasts instead, and probe rows that cannot
    // match drop BEFORE the join exchange. The exact equi-join prunes
    // bloom false positives, so the oracle is the PLAIN join —
    // semantically identical by construction (ops/Bloom.scala).
    "q_bloom_join" -> ((s, dir) => {
      val fact = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"),
        cents(col("l_extendedprice")).as("price_c"))
      val dim = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_custkey"))
      graft.ops.Bloom.prefilteredJoin(fact, "l_orderkey", dim, "o_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          money(col("price_c")).as("price"), col("o_custkey"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "price")
    }),

    // 88: REAL image decode as a CHECKED row — a 64-image corpus of
    // deterministic RGB patterns encoded as REAL PNGs on the
    // executors (javax.imageio), decoded back through the production
    // decodePixelHex path (ImageIO per partition, corrupt-tolerant),
    // pinned by (width, height, md5 of the row-major rrggbb pixel
    // transcript). PNG is lossless, so the decoded pixels equal the
    // arithmetic pattern and the codec-less oracle reproduces the
    // exact md5. The resize and frame-sample paths (spec-gated /
    // q_frame_sample) plug into the same media schema; a real video
    // demuxer swaps in where q_frame_sample's byte-slice stub sits.
    "q_image_decode" -> ((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .orderBy("doc_id").limit(64)
      val media = ids.as[Long].repartition(mediaSlots(s)).mapPartitions { it =>
        it.map(m => (m, graft.multimodal.Multimodal.patternPng(m)))
      }.toDF("media_id", "content")
      graft.multimodal.Multimodal.decodePixelHex(media)
        .select(col("media_id"), col("width"), col("height"),
          md5(col("pixel_hex")).as("pixel_md5"))
        .orderBy("media_id")
    }),

    // 268: REAL JPEG decode as a CHECKED row — closing the one
    // unchecked modality path (PNG/GIF/WAV/AVI are lossless, so their
    // oracles reconstruct pixels arithmetically; JPEG's decoded
    // pixels are ENCODER-DEFINED, so no codec-less oracle exists).
    // The contract is decode-ONCE-compare-TWICE: a 48-image corpus of
    // smooth-gradient patterns is encoded + decoded on the executors
    // (ImageIO, deterministic within one runtime) into all-integer
    // (width, height, 16-bucket luma histogram) features; the FIRST
    // run stages that exact frame to a dir-independent parquet (ids
    // are literals 0..47, so every SF and process derives identical
    // bytes — the stage is write-once with an atomic publish), and
    // the DuckDB oracle reads the staged parquet back. Equality holds
    // iff the decode is STABLE and the Spark plumbing (binary column,
    // partitioned decode, histogram arithmetic) is correct; a
    // MultimodalSpec test separately bounds the decoded luma against
    // the pre-encode pattern, so a decoder returning garbage cannot
    // hide behind self-agreement.
    "q_jpeg_decode" -> ((s, dir) => {
      import s.implicits._
      val fresh = graft.multimodal.Multimodal.decodeLumaHist(
        s.range(48).as[Long].repartition(mediaSlots(s)).mapPartitions { it =>
          it.map(m => (m, graft.multimodal.Multimodal.patternJpeg(m)))
        }.toDF("media_id", "content"), bins = 16)
        .orderBy("media_id")
      val dst = java.nio.file.Paths.get(jpegOraclePath)
      if (!java.nio.file.Files.exists(dst.resolve("_SUCCESS"))) {
        val tmp = java.nio.file.Paths.get(
          jpegOraclePath + s".tmp-${java.util.UUID.randomUUID()}")
        fresh.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        try { java.nio.file.Files.move(tmp, dst): Unit }
        catch { case _: Exception => // racer published first
          java.nio.file.Files.walk(tmp)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p): Unit })
        }
      }
      fresh
    }),

    // 104: REAL multi-frame demux as a CHECKED row — a 48-container
    // corpus of deterministic ANIMATED GIFs encoded on the executors
    // (indexed-gray palette ⇒ lossless), demuxed back through the
    // production demuxGifFrames path (ImageReader.getNumImages/read(i)
    // per partition, corrupt-tolerant) into one row per real frame,
    // pinned by (frame_idx, width, height, pixel-transcript md5). This
    // is the demuxer q_frame_sample's byte-slice stub declared as its
    // swap point: same media schema, real frames.
    "q_gif_frames" -> ((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .orderBy("doc_id").limit(48)
      val media = ids.as[Long].repartition(mediaSlots(s)).mapPartitions { it =>
        it.map(m => (m, graft.multimodal.Multimodal.patternGif(m)))
      }.toDF("media_id", "content")
      graft.multimodal.Multimodal.demuxGifFrames(media)
        .select(col("media_id"), col("frame_idx"), col("width"),
          col("height"), md5(col("pixel_hex")).as("pixel_md5"))
        .orderBy("media_id", "frame_idx")
    }),

    // 141: REAL video demux under the oracle gate — the q_gif_frames
    // pattern applied to the last open modality: a dependency-free
    // uncompressed-AVI (RIFF/BI_RGB) container is ENCODED on the
    // executors per media id, then graft.multimodal.Avi parses the
    // container for real (headers, movi chunk walk, bottom-up padded
    // DIB rows) and emits one row per frame; the oracle reconstructs
    // each frame's pixel transcript arithmetically (lossless raw
    // frames) and md5s it. Corrupt payloads degrade to (-1, …, null)
    // rows, never task failures.
    "q_video_frames" -> ((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .orderBy("doc_id").limit(48)
      val media = ids.as[Long].repartition(mediaSlots(s)).mapPartitions { it =>
        it.map(m => (m, graft.multimodal.Avi.patternAvi(m)))
      }.toDF("media_id", "content")
      graft.multimodal.Avi.demuxAviFrames(media)
        .select(col("media_id"), col("frame_idx"), col("width"),
          col("height"), md5(col("pixel_hex")).as("pixel_md5"))
        .orderBy("media_id", "frame_idx")
    }),

    // 113: REAL audio decode as a CHECKED row — a 48-clip corpus of
    // deterministic 16-bit PCM WAVs encoded on the executors
    // (javax.sound.sampled — JDK built-in; PCM is lossless), decoded
    // back through the production decodeWav path (real container
    // parse: rate/frames/endianness, corrupt-tolerant), pinned by
    // per-clip stats + an md5 over the int16 sample transcript the
    // codec-less oracle reconstructs arithmetically. Completes the
    // modality set: PNG (q_image_decode), GIF frames (q_gif_frames),
    // WAV audio — all three decode for real under the oracle gate.
    "q_audio_decode" -> ((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .orderBy("doc_id").limit(48)
      val media = ids.as[Long].repartition(mediaSlots(s)).mapPartitions { it =>
        it.map(m => (m, graft.multimodal.Multimodal.patternWav(m)))
      }.toDF("media_id", "content")
      graft.multimodal.Multimodal.decodeWav(media).orderBy("media_id")
    }),

    // 116: Count-Min sketch heavy-hitter counts vs the exact twin —
    // the OTHER workhorse sketch (HLL answers "how many distinct",
    // CMS answers "how often is X"). Counters are the REAL
    // distributed build: per-token partial counts explode to
    // (depth, bucket) cells and sum — exactly a map-side-combined
    // groupBy, the CMS merge property as a Spark plan (cells add;
    // no dedup, bounded d×w state however big the stream). Estimate
    // = min over depths of the cell sum; md5-derived bucket hashes
    // so the oracle reconstructs every counter exactly. Output pins
    // estimate AND exact per token — the overestimate structure is
    // driver-checked, not asserted away.
    "q_countmin" -> ((s, dir) => {
      val W = 256L
      val cnt = docs(s, dir)
        .select(explode(TF.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("exact"))
      val cells = cnt.select(col("tok"), col("exact"),
          explode(array((0 until 4).map(lit(_)): _*)).as("r"))
        .withColumn("b",
          conv(substring(md5(concat(col("r"), col("tok"))), 1, 15), 16, 10)
            .cast("long") % W)
      val counters = cells.groupBy("r", "b").agg(sum("exact").as("cnt"))
      cells.join(counters, Seq("r", "b"))
        .groupBy("tok")
        .agg(max("exact").as("exact"), min("cnt").as("cms_est"))
        .orderBy("tok")
    }),

    // 89: HLL approx-distinct vs its exact twin — the sketch a 100 TB
    // user reaches for when count(DISTINCT)'s dedup shuffle is too
    // expensive (HLL registers merge order-independently; no dedup
    // pass). Checked output = the EXACT count (both engines) plus the
    // bound check on Spark's running HLL++ estimate (rsd 2%, asserted
    // within 10% or ±2): the approx path executes for real; the
    // oracle pins the bound, the exact twin pins the truth.
    "q_distinct_approx" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"),
          approx_count_distinct(col("l_suppkey"), 0.02).as("__approx"))
        .select(col("l_returnflag"), col("supplier_cnt"),
          (abs(col("__approx") - col("supplier_cnt")) <=
            greatest(col("supplier_cnt") / lit(10L), lit(2L)))
            .as("within_10pct"))
        .orderBy("l_returnflag")
    }),

    // 175: HLL SKETCH artifact + merge — the incremental
    // distinct-count idiom at 100 TB: per-batch HyperLogLog sketches
    // (Datasketches HllSketch via functions.hll_sketch_agg) are
    // PERSISTED once (the history batch — event_id%4<3 — is sketched
    // and written as a tiny binary-column artifact), and the query
    // answers "distinct users per type" by sketching ONLY the new
    // batch and hll_union_agg-merging it with the stored sketches —
    // the history is never rescanned, and the artifact is
    // kilobyte-sized regardless of history row count (the property
    // countDistinct partials lack: they're as big as the key set).
    // Oracle gate = the exact twin over the full data with a 10%
    // tolerance flag (lgConfigK=12 ⇒ ~1.6% rse), the
    // q_distinct_approx pattern.
    "q_hll_incremental" -> ((s, dir) => {
      val art = stagingRoot(dir) + "/hll_sketches"
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("event_id"), col("user_id"))
      if (!new java.io.File(art).exists())
        ev.filter(col("event_id") % 4 < 3)
          .groupBy("event_type")
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
          .write.mode("overwrite").parquet(art)
      val fresh = ev.filter(col("event_id") % 4 === 3)
        .groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val merged = s.read.parquet(art).unionByName(fresh)
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("__est"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("distinct_users"))
      exact.join(merged, "event_type")
        .select(col("event_type"), col("distinct_users"),
          (abs(col("__est") - col("distinct_users")) <=
            greatest(col("distinct_users") / lit(10L), lit(2L)))
            .as("within_10pct"))
        .orderBy("event_type")
    }),

    // 90: approx percentiles vs the exact twin (q_percentiles) —
    // percentile_approx (GK summary, accuracy 10000) per priority
    // over BIGINT cents, checked against the exact integer-rank
    // values within 5%. The exact columns come from the same
    // Stats.percentileDisc path as q_percentiles, so the row also
    // guards the twin-pair relationship itself.
    "q_quantile_approx" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderpriority").as("pri"),
        cents(col("o_totalprice")).as("cents"), col("o_orderkey"))
      val ex = graft.ops.Stats.percentileDisc(o, Seq("pri"), "cents",
        "o_orderkey", Seq(("p50c", 1, 2), ("p90c", 9, 10)))
      val ap = o.groupBy("pri").agg(
        percentile_approx(col("cents"), array(lit(0.5), lit(0.9)),
          lit(10000)).as("__ap"))
      ex.join(ap, "pri")
        .select(col("pri"), col("n"),
          money(col("p50c")).as("p50"), money(col("p90c")).as("p90"),
          (abs(element_at(col("__ap"), 1) - col("p50c")) * 20 <=
            col("p50c")).as("ok50"),
          (abs(element_at(col("__ap"), 2) - col("p90c")) * 20 <=
            col("p90c")).as("ok90"))
        .orderBy("pri")
    }),

    // 251: BOUNDED K-CORE TRIM — 4 peel rounds at k=3 over the
    // customer↔supplier co-purchase bipartite graph (the q_bfs_levels
    // edge set), via [[graft.ops.Graphs.kCore]] (per-round shape +
    // fixpoint early-exit documented there). Node tagging is
    // SCALE-PROOF by sign: customers keep their positive custkey,
    // suppliers are tagged as -l_suppkey — the two id spaces are
    // disjoint at EVERY scale factor (suppkey ≥ 1 ⟹ tag < 0 <
    // custkey), unlike an additive offset that custkeys outgrow
    // (1e6 collided at sf ≳ 7). Disjointness also makes the
    // symmetric UNION ALL duplicate-free by construction — a
    // (pos, neg) row can never equal a (neg, pos) flip — so Spark's
    // union and the oracle's UNION ALL agree with zero dedup
    // shuffle on the full edge set.
    "q_kcore" -> ((s, dir) => {
      val e0 = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (-col("l_suppkey")).cast("long").as("dst"))
        .distinct()
      val sym = e0.select(col("src").cast("long").as("src"), col("dst"))
        .union(e0.select(col("dst").as("src"),
          col("src").cast("long").as("dst")))
      graft.ops.Graphs.kCore(sym, k = 3, rounds = 4).orderBy("round")
    }),

    // 252: BOM-STYLE HIERARCHY EXPLOSION — every part resolved to its
    // root ancestor + depth through a synthetic decimal-trie parent
    // table (parent = (key−1) div 10, roots 1..10; deterministic, no
    // synthesized data). The walk is the real distributed shape: the
    // parent map is a MATERIALIZED edge frame and each level is ONE
    // frontier-sized hash equi-join — never a driver-side chase —
    // looping until the frontier empties (depth ≤ log₁₀ |parts|, so
    // ~12 levels at 100 TB; each level staged, lineage truncated).
    // Oracle = DuckDB WITH RECURSIVE over the same parent function.
    "q_bom_explode" -> ((s, dir) => {
      val parts = t(s, dir, "part").select(col("p_partkey"))
      val edges = parts.select(col("p_partkey").as("child"),
        expr("(p_partkey - 1) div 10").as("parent")).staged
      var frontier = parts.select(col("p_partkey"),
        col("p_partkey").as("node"), lit(0).as("depth"))
      var acc: DataFrame = null
      var more = true
      while (more) {
        val stepped = frontier.join(edges,
            frontier("node") === edges("child"))
          .select(frontier("p_partkey"), frontier("node"),
            frontier("depth"), edges("parent"))
        val fin = stepped.filter(col("parent") === 0)
          .select(col("p_partkey"), col("node").as("root_key"),
            col("depth"))
        acc = if (acc == null) fin else acc.unionByName(fin)
        frontier = stepped.filter(col("parent") >= 1)
          .select(col("p_partkey"), col("parent").as("node"),
            (col("depth") + 1).as("depth")).staged
        more = !frontier.isEmpty
      }
      acc.orderBy("p_partkey")
    }),

    // 253: K-ANONYMITY AUDIT — the privacy screen every
    // training-data release runs: group by the quasi-identifier
    // tuple (nation, market segment, $1000 balance band) and report
    // every equivalence class smaller than k=5 (re-identifiable
    // rows). One hash groupBy with map-side partials; output bounded
    // by QI-combination cardinality, never row count. The band
    // floors EXACT cents through a sub-2^53 double so the
    // floor-vs-trunc divergence of integer division on negative
    // balances can't bite either engine.
    "q_k_anonymity" -> ((s, dir) => {
      val band = floor(cents(col("c_acctbal")).cast("double") /
        100000.0).cast("long")
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          band.as("bal_band"))
        .agg(count(lit(1)).as("k"))
        .filter(col("k") < 5)
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")
    }),

    // 254: NDCG@10 RANKING QUALITY — how well the account-balance
    // ranking predicts the actual revenue ranking, per nation: DCG of
    // the predicted order vs ideal DCG, top-10 cutoff. The classic
    // eval for any learned ranker. Float-sum-order trap dodged by
    // design: the 1/log₂(i+1) discounts are TEN FIXED INTEGER
    // micro-weights (round(1e6/log₂(i+1)) — a documented lookup, not
    // runtime libm), so both DCGs are exact BIGINT dot products and
    // NDCG is ONE mirrored IEEE division. Two per-nation rank windows
    // (bounded partitions), one suppkey equi-join.
    "q_ndcg" -> ((s, dir) => {
      val w10 = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
        356207L, 333333L, 315465L, 301030L, 289065L)
      val wexpr = (pos: Column) =>
        w10.zipWithIndex.foldLeft(lit(0L)) { case (acc, (w, i)) =>
          when(pos === (i + 1), lit(w)).otherwise(acc) }
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(sum(cents(col("l_extendedprice") *
          (lit(1) - col("l_discount")))).as("rel0"))
      val g = t(s, dir, "supplier")
        .join(t(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .join(rev, col("s_suppkey") === col("l_suppkey"), "left")
        .select(col("n_name"), col("s_suppkey"),
          coalesce(col("rel0"), lit(0L)).as("rel"),
          cents(col("s_acctbal")).as("pred"))
      val wp = Window.partitionBy(col("n_name"))
        .orderBy(col("pred").desc, col("s_suppkey"))
      val wi = Window.partitionBy(col("n_name"))
        .orderBy(col("rel").desc, col("s_suppkey"))
      g.withColumn("pp", row_number().over(wp))
        .withColumn("ip", row_number().over(wi))
        .groupBy(col("n_name"))
        .agg(
          sum(when(col("pp") <= 10, col("rel") * wexpr(col("pp")))
            .otherwise(0L)).as("dcg_w"),
          sum(when(col("ip") <= 10, col("rel") * wexpr(col("ip")))
            .otherwise(0L)).as("idcg_w"))
        .select(col("n_name"), col("dcg_w"), col("idcg_w"),
          when(col("idcg_w") > 0, col("dcg_w").cast("double") /
            col("idcg_w").cast("double")).otherwise(lit(0.0))
            .as("ndcg"))
        .orderBy("n_name")
    }),

    // 255: MUTUAL INFORMATION lang×source + the DETERMINISTIC
    // FLOAT-SUM pattern: MI's total is a sum of per-cell ln terms —
    // a float sum whose result depends on ADDITION ORDER, which a
    // distributed reduce does not fix. Reproducibility discipline for
    // 100 TB: reduce the corpus to the bounded |langs|×|sources|
    // contingency frame (one exact-count groupBy), compute each
    // cell's contribution as ONE mirrored IEEE expression over exact
    // BIGINTs, then fold the cells in (lang, source) order via
    // sorted-array aggregate — bit-identical on every partitioning,
    // and to DuckDB's list_reduce over the same ordered list.
    "q_mutual_info" -> ((s, dir) => {
      val joint = docs(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("nxy"))
      val contrib = joint
        .withColumn("nx",
          sum(col("nxy")).over(Window.partitionBy(col("lang"))))
        .withColumn("ny",
          sum(col("nxy")).over(Window.partitionBy(col("source"))))
        .withColumn("nn", sum(col("nxy")).over(Window.partitionBy()))
        .withColumn("c",
          (col("nxy").cast("double") / col("nn").cast("double")) *
            log((col("nxy").cast("double") * col("nn").cast("double")) /
              (col("nx").cast("double") * col("ny").cast("double"))))
      contrib.agg(max(col("nn")).as("n_docs"),
        count(lit(1)).as("n_pairs"),
        aggregate(
          array_sort(collect_list(struct(col("lang"), col("source"),
            col("c")))),
          lit(0.0), (acc, x) => acc + x.getField("c")).as("mi_nats"))
    }),

    // 256: SQL front door, TPC-DS Q47's monthly-deviation shape —
    // see [[sqlDsMonthdev]].
    "q_sql_ds_monthdev" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sqlDsMonthdev)
    }),

    // 264: DIFFERENCE-IN-DIFFERENCES — the workhorse causal
    // estimator: did the BUILDING segment's mean order value move
    // differently across the date-range midpoint than everyone
    // else's? The 2×2 (treated × period) cells come from the bounded
    // (group × day) frame — the fact table reduces in ONE exact
    // groupBy (BIGINT cent sums) before any scalar joins, so the
    // midpoint carrier only ever touches |groups|×|days| rows. Cell
    // means are mirrored divisions; DiD is one mirrored expression.
    "q_did" -> ((s, dir) => {
      val day = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy((col("c_mktsegment") === "BUILDING")
            .cast("int").as("treated"),
          col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("sc"))
      val bounds = day.agg(min(col("d")).as("dmin"),
        max(col("d")).as("dmax"))
      val cells = day.crossJoin(broadcast(bounds))
        .withColumn("post",
          (datediff(col("d"), col("dmin")) * 2 >=
            datediff(col("dmax"), col("dmin"))).cast("int"))
        .groupBy(col("treated"), col("post"))
        .agg(sum(col("n")).as("n"), sum(col("sc")).as("sc"))
      val m = cells.agg(
        sum(when(col("treated") === 1 && col("post") === 0, col("n"))
          .otherwise(0L)).as("n_pre_t"),
        sum(when(col("treated") === 1 && col("post") === 0, col("sc"))
          .otherwise(0L)).as("s_pre_t"),
        sum(when(col("treated") === 1 && col("post") === 1, col("n"))
          .otherwise(0L)).as("n_post_t"),
        sum(when(col("treated") === 1 && col("post") === 1, col("sc"))
          .otherwise(0L)).as("s_post_t"),
        sum(when(col("treated") === 0 && col("post") === 0, col("n"))
          .otherwise(0L)).as("n_pre_c"),
        sum(when(col("treated") === 0 && col("post") === 0, col("sc"))
          .otherwise(0L)).as("s_pre_c"),
        sum(when(col("treated") === 0 && col("post") === 1, col("n"))
          .otherwise(0L)).as("n_post_c"),
        sum(when(col("treated") === 0 && col("post") === 1, col("sc"))
          .otherwise(0L)).as("s_post_c"))
      def mean(sc: String, n: String) =
        col(sc).cast("double") / col(n).cast("double") / 100.0
      m.select(col("n_pre_t"), col("n_post_t"), col("n_pre_c"),
        col("n_post_c"),
        ((mean("s_post_t", "n_post_t") - mean("s_pre_t", "n_pre_t")) -
          (mean("s_post_c", "n_post_c") - mean("s_pre_c", "n_pre_c")))
          .as("did_dollars"))
    }),

    // 261: SPEARMAN WITH TIE CORRECTION — the AVERAGE-RANK variant
    // (q_spearman row 226 breaks ties by key; this one computes the
    // textbook tie-corrected statistic, which matters when one
    // variable is heavily tied — order counts here take ~30 distinct
    // values over 150k customers). The 100 TB discipline is the
    // RANKING itself: no global-sort
    // window — each variable reduces to its distinct-value count
    // frame, Ranking.withPrefixSums produces exact cumulative counts
    // (range-sliced, offsets broadcast), and twice-the-average-rank
    // rides back as the INTEGER 2·off + cnt + 1. All five moments of
    // the doubled ranks are exact BIGINTs (≤ 4n³ — exact through
    // sf≈30); rho is one mirrored IEEE expression over them.
    "q_spearman_ties" -> ((s, dir) => {
      val x = t(s, dir, "customer").select(col("c_custkey").as("k"),
        cents(col("c_acctbal")).as("xv"))
      val y = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("yv"))
      val base = x.join(y, col("k") === col("o_custkey"), "left")
        .select(col("k"), col("xv"),
          coalesce(col("yv"), lit(0L)).as("yv"))
      def rank2(v: String): DataFrame = {
        val cnts = base.groupBy(col(v)).agg(count(lit(1)).as("c"))
        graft.ops.Ranking.withPrefixSums(cnts, Seq.empty,
            Seq(col(v)), Seq("c"))
          .select(col(v), (lit(2L) * (col("c_cum") - col("c")) +
            col("c") + 1L).as(s"r2$v"))
      }
      val ranked = base
        .join(rank2("xv"), Seq("xv"))
        .join(rank2("yv"), Seq("yv"))
      val m = ranked.agg(count(lit(1)).as("n"),
        sum(col("r2xv")).as("sx"), sum(col("r2yv")).as("sy"),
        sum(col("r2xv") * col("r2xv")).as("sxx"),
        sum(col("r2yv") * col("r2yv")).as("syy"),
        sum(col("r2xv") * col("r2yv")).as("sxy"))
      m.select(col("n"), col("sx"), col("sy"), col("sxx"),
        col("syy"), col("sxy"),
        (((col("sxy").cast("double") / col("n").cast("double")) -
          (col("sx").cast("double") / col("n").cast("double")) *
          (col("sy").cast("double") / col("n").cast("double"))) /
          (sqrt(col("sxx").cast("double") / col("n").cast("double") -
            (col("sx").cast("double") / col("n").cast("double")) *
            (col("sx").cast("double") / col("n").cast("double"))) *
           sqrt(col("syy").cast("double") / col("n").cast("double") -
            (col("sy").cast("double") / col("n").cast("double")) *
            (col("sy").cast("double") / col("n").cast("double")))))
          .as("rho"))
    }),

    // 262: ONE-WAY ANOVA — does mean order value differ across the
    // customer's nation? Between/within sum-of-squares from EXACT
    // per-group BIGINT moments (whole-dollar order totals keep Σx²
    // under 2^63 through sf10); the only float reduction — the
    // 25-term Σ S_g²/n_g — folds in nation order via the
    // sorted-array aggregate (the q_mutual_info determinism
    // pattern), and F is one mirrored IEEE expression.
    "q_anova" -> ((s, dir) => {
      val g = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("nk"),
          round(col("o_totalprice")).cast("long").as("x"))
        .groupBy(col("nk")).agg(count(lit(1)).as("ng"),
          sum(col("x")).as("sg"),
          sum(col("x") * col("x")).as("qg"))
      val m = g.agg(count(lit(1)).as("k"),
        sum(col("ng")).as("n"), sum(col("sg")).as("s"),
        sum(col("qg")).as("q"),
        aggregate(
          array_sort(collect_list(struct(col("nk"),
            (col("sg").cast("double") * col("sg").cast("double") /
              col("ng").cast("double")).as("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("sb0"))
      m.select(col("k"), col("n"),
          (col("sb0") - col("s").cast("double") *
            col("s").cast("double") / col("n").cast("double"))
            .as("ssb"),
          (col("q").cast("double") - col("sb0")).as("ssw"))
        .select(col("k"), col("n"), col("ssb"), col("ssw"),
          ((col("ssb") / (col("k") - 1).cast("double")) /
            (col("ssw") / (col("n") - col("k")).cast("double")))
            .as("f_stat"))
    }),

    // 257: DECISION-STUMP SPLIT SEARCH — the supervised-learning
    // primitive feature pipelines run at scale: the best balance
    // threshold predicting market segment by minimum weighted Gini
    // impurity. The 100 TB shape: ONE hash groupBy reduces the table
    // to the bounded (band × segment) contingency frame ($500 bands —
    // candidate thresholds track the FEATURE RANGE, never row count);
    // the dense grid, per-class cumulatives, and per-threshold
    // scoring all run on that bounded frame. Scoring is EXACT:
    // weighted Gini over common denominator n·nL·nR becomes
    // score = (nL²−ΣcL²)·nR + (nR²−ΣcR²)·nL — an ≈n³-scale product
    // that passes 2^63 around n ≈ 2e6 customers (sf ≈ 15), so the
    // operands widen to decimal(38,0) BEFORE the multiply (the q_hhi
    // pattern; exact to n ≈ 4e12 — far past sf1000, where Spark
    // BIGINT would wrap silently to a wrong argmin while DuckDB
    // errors). The argmin (tie → lowest band) runs on the exact
    // decimal; the REPORTED score and impurity are each one mirrored
    // exact-int→IEEE-double conversion on the way out, keeping the
    // output dtype cross-engine stable (HUGEINT/decimal never
    // reaches the hash path).
    "q_best_split" -> ((s, dir) => {
      val cont = t(s, dir, "customer")
        .groupBy(floor(cents(col("c_acctbal")).cast("double") /
            50000.0).cast("long").as("band"),
          col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n"))
      // dense (band × seg) grid: every class needs a value at every
      // threshold for ΣcL² — both sides bounded (feature bands ×
      // label classes), the fenced bounded-carrier pattern
      val grid = cont.select(col("band")).distinct()
        .crossJoin(broadcast(cont.select(col("seg")).distinct()))
      val dense = grid.join(cont, Seq("band", "seg"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
      val cum = dense
        .withColumn("cl",
          sum(col("n")).over(Window.partitionBy(col("seg"))
            .orderBy(col("band"))))
        .withColumn("ct",
          sum(col("n")).over(Window.partitionBy(col("seg"))))
      val th = cum.groupBy(col("band")).agg(
        sum(col("cl")).as("n_l"),
        sum(col("cl") * col("cl")).as("ssq_l"),
        sum(col("ct") - col("cl")).as("n_r"),
        sum((col("ct") - col("cl")) * (col("ct") - col("cl")))
          .as("ssq_r"))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      th.filter(col("n_l") > 0 && col("n_r") > 0)
        .withColumn("score_x",
          (dec(col("n_l")) * dec(col("n_l")) - dec(col("ssq_l"))) *
            dec(col("n_r")) +
            (dec(col("n_r")) * dec(col("n_r")) - dec(col("ssq_r"))) *
              dec(col("n_l")))
        .orderBy(col("score_x"), col("band")).limit(1)
        .select(col("band").as("best_band"), col("n_l"), col("n_r"),
          col("score_x").cast("double").as("score"),
          (col("score_x").cast("double") /
            (dec(col("n_l") + col("n_r")) * dec(col("n_l")) *
              dec(col("n_r"))).cast("double")).as("weighted_gini"))
    }),

    // 258: WEIGHT-OF-EVIDENCE / INFORMATION VALUE — the
    // credit-scoring feature screen (how predictive is the balance
    // band of urgent orders?). Corpus reduces to the bounded
    // per-band (good, bad) count frame first (one groupBy after the
    // customer⋈orders equi-join); totals ride bounded windows. Each
    // band's IV term is ONE mirrored IEEE expression over exact
    // BIGINTs; the total folds the bands IN BAND ORDER via the
    // sorted-array aggregate (the q_mutual_info determinism pattern)
    // — bit-reproducible on any partitioning. Laplace +1 on both
    // counts keeps ln() finite on one-sided bands.
    "q_woe_iv" -> ((s, dir) => {
      val lab = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(floor(cents(col("c_acctbal")).cast("double") /
            100000.0).cast("long").as("band"),
          when(col("o_orderpriority") === "1-URGENT", 1L)
            .otherwise(0L).as("bad"))
      val bands = lab.groupBy(col("band")).agg(
        (sum(lit(1L) - col("bad")) + 1L).as("ng"),
        (sum(col("bad")) + 1L).as("nb"))
      val tot = bands
        .withColumn("tg", sum(col("ng")).over(Window.partitionBy()))
        .withColumn("tb", sum(col("nb")).over(Window.partitionBy()))
      val term = tot.withColumn("woe",
          log((col("ng").cast("double") * col("tb").cast("double")) /
            (col("nb").cast("double") * col("tg").cast("double"))))
        .withColumn("iv_term",
          (col("ng").cast("double") / col("tg").cast("double") -
            col("nb").cast("double") / col("tb").cast("double")) *
            col("woe"))
      term.agg(count(lit(1)).as("n_bands"),
        (max(col("tg")) - count(lit(1))).as("n_good"),
        (max(col("tb")) - count(lit(1))).as("n_bad"),
        aggregate(
          array_sort(collect_list(struct(col("band"),
            col("iv_term")))),
          lit(0.0), (acc, x) => acc + x.getField("iv_term"))
          .as("iv_nats"))
    }),

    // 37: the streaming pipeline's transformation, driven in batch
    // mode (Spark's batch/stream unification makes them the same
    // plan); the MemoryStream spec proves the streaming execution.
    "q_stream_window" -> ((s, dir) => {
      graft.streaming.StreamingOps
        .windowedTypeCounts(t(s, dir, "events"), "1 hour", "1 hour")
        .select(col("win_start").cast("date").as("day"),
          hour(col("win_start")).as("hr"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("day", "hr", "event_type")
    }),

    // 66: the SAME windowed aggregation executed through the real
    // streaming engine — parquet file-source readStream → watermarked
    // window agg → memory sink (AvailableNow trigger, complete mode)
    // — against the identical batch oracle. Makes streaming execution
    // itself driver-gated, not only MemoryStream-spec-gated.
    "q_stream_exec" -> ((s, dir) =>
      withStreamStateWidth(s, pathBytes(s"$dir/events.parquet")) {
      val agg = graft.streaming.StreamingOps
        .windowedTypeCounts(eventsStream(s, dir), "1 hour", "1 hour")
      val sink = s"q_stream_exec_${streamExecSeq.incrementAndGet()}"
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
        .select(col("win_start").cast("date").as("day"),
          hour(col("win_start")).as("hr"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("day", "hr", "event_type")
    }),

    // 67: STATEFUL streaming driver-gated — the gapMark twin executed
    // through flatMapGroupsWithState on the real engine (file source →
    // arbitrary state → memory sink, append mode), against the same
    // recursive-CTE oracle as the batch row. events is a single file,
    // so AvailableNow yields one micro-batch and the per-key state
    // pass equals the batch operator exactly (the cross-batch
    // carry-over is spec-gated separately in StatefulOpsSpec).
    "q_stream_gap" -> ((s, dir) =>
      withStreamStateWidth(s, pathBytes(s"$dir/events.parquet")) {
      // injective group key: user_id digits never contain '|'
      val keyed = eventsStream(s, dir).select(
        concat_ws("|", col("user_id"), col("event_type")).as("k"),
        col("ts"), col("event_id").as("id"))
      val marked = graft.streaming.StatefulOps.gapMarkStream(keyed, 3)
      val sink = s"q_stream_gap_${streamExecSeq.incrementAndGet()}"
      val q = marked.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
        .select(col("id").cast("long").as("event_id"),
          col("flag").as("validacion"))
        .orderBy("event_id")
    }),

    // 114: watermarked stream-stream interval join on the real
    // engine — the attribution shape (each view pairs with the same
    // user's purchases within the next 4 hours). Two file-source
    // streams, both watermarked so the join state is EVICTABLE (an
    // unwatermarked stream-stream join grows state forever — the
    // 100 TB/continuous killer); interval bounds let the engine
    // range-prune state per key. AvailableNow + append against the
    // identical batch self-join oracle. gap rides exact epoch
    // micros — both engines truncate the source nanos the same way.
    "q_stream_join" -> streamJoinRow("inner", "q_stream_join",
      Seq(col("view_id"), col("purchase_id"))),

    // 259: LEFT-OUTER stream-stream join on the real engine — the
    // attribution shape with the "never converted" views kept:
    // unmatched views emit null-padded ONCE their join window closes
    // under the watermark (late purchases inside the watermark could
    // still pair them, so earlier emission would be wrong — and a
    // retraction-free append sink forces exactly-one emission). The
    // oracle mirrors the eviction rule: a view is decidably
    // unconverted iff v_ts + 4h < min(max view ts, max purchase ts)
    // − 24h — the engine's global watermark is the MIN across the
    // two watermark operators, each clocked by its own FILTERED
    // stream; views still inside that horizon stay in state at
    // end-of-stream and must NOT appear —
    // the same bounded-state discipline as q_stream_join, now with
    // the outer-emission clock made part of the checked contract.
    "q_stream_outer" -> streamJoinRow("left_outer", "q_stream_outer",
      Seq(col("view_id"), col("purchase_id"))),

    // 263: FULL-OUTER stream-stream join on the real engine — BOTH
    // sides' never-matched rows, each under its OWN eviction clock:
    // an unmatched view emits once the watermark passes v_ts + 4h
    // (no future purchase can land in its window), an unmatched
    // purchase once the watermark passes p_ts itself (views with
    // v_ts ≤ p_ts could arrive until then). The oracle encodes both
    // horizons against the shared min-of-streams watermark — the
    // asymmetry IS the check (left and right state evict at
    // different clocks derived from the interval bounds).
    // NULLS LAST on both keys: Spark's ASC default is nulls FIRST,
    // DuckDB's is nulls LAST — the right-only rows' NULL view_id would
    // land at opposite ends of the dump
    "q_stream_full" -> streamJoinRow("full_outer", "q_stream_full",
      Seq(col("view_id").asc_nulls_last, col("purchase_id").asc_nulls_last)),

    // 260: SESSION WINDOWS on the real streaming engine — the
    // merging-window stateful shape (fixed windows never exercise
    // window-merge state): 30-idle-minute sessions per user under a
    // 24 h watermark, append mode, so a session emits exactly once —
    // when the watermark passes its end and no later event can merge
    // into it. The oracle is the batch gap-sessionization filtered by
    // the same clock (end < max ts − 24 h); still-open tail sessions
    // must NOT appear. State is watermark-bounded per user — the
    // continuous-ingest shape where sessions close and leave state
    // instead of accumulating forever.
    "q_stream_session" -> ((s, dir) =>
      withStreamStateWidth(s, pathBytes(s"$dir/events.parquet")) {
      val sess = eventsStream(s, dir)
        .withWatermark("ts", "24 hours")
        .groupBy(session_window(col("ts"), "30 minutes"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      val sink = s"q_stream_session_${streamExecSeq.incrementAndGet()}"
      val q = sess.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"))
        .orderBy("user_id", "start_us")
    }),

    // 137: streaming exactly-once dedup on the real engine —
    // dropDuplicatesWithinWatermark over a deliberately doubled
    // stream (the at-least-once delivery every ingest pipeline sees:
    // two file-source streams of the same events unioned). Watermark
    // bounds the dedup state (the unbounded-state killer for
    // continuous 100 TB ingest: keys older than the watermark are
    // evicted, so state is window-sized, not stream-sized). Oracle =
    // the original table, because dedup of an exact double must
    // reproduce it.
    "q_stream_dedup" -> ((s, dir) =>
      withStreamStateWidth(s, pathBytes(s"$dir/events.parquet")) {
      val doubled = eventsStream(s, dir).unionAll(eventsStream(s, dir))
      val dd = doubled
        .withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark("event_id")
      val sink = s"q_stream_dedup_${streamExecSeq.incrementAndGet()}"
      val q = dd.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_usec"))
        .orderBy("event_id")
    }))

  /** Unique memory-sink names: the row may run several times in one
    * session (partition-invariance spec, repeated bench runs). */
  private val streamExecSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Bytes on disk of a table path (file or directory of parts). */
  private def pathBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory)
      Option(f.listFiles()).map(_.filter(_.isFile).map(_.length()).sum)
        .getOrElse(0L)
    else f.length()
  }

  /** The stream-join rows (q_stream_join, q_stream_outer,
    * q_stream_full): the view→purchase attribution shape joined as
    * `joinType`, drained with AvailableNow + append into the memory
    * sink `sinkPrefix`_n, read back as (view_id, purchase_id,
    * gap_usec) ordered by `order`. */
  private def streamJoinRow(joinType: String, sinkPrefix: String,
      order: Seq[Column]): (SparkSession, String) => DataFrame = (s, dir) =>
    withStreamStateWidth(s, pathBytes(s"$dir/events.parquet")) {
      def side(eventType: String, ts: String, id: String) =
        eventsStream(s, dir)
          .filter(col("event_type") === eventType)
          .select(col("user_id"), col("ts").as(ts), col("event_id").as(id))
      val joined = graft.streaming.StreamingOps.streamStreamJoin(
        side("view", "v_ts", "view_id"),
        side("purchase", "p_ts", "purchase_id"), "user_id", "v_ts", "p_ts",
        "0 seconds", "4 hours", "24 hours", joinType)
      val sink = s"${sinkPrefix}_${streamExecSeq.incrementAndGet()}"
      val q = joined.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
        .select(col("view_id"), col("purchase_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("v_ts")))
            .as("gap_usec"))
        .orderBy(order: _*)
    }

  /** Source bytes per streaming state partition. */
  private val streamStateSlotBytes: Long = 512L << 10

  /** Run `body` — the build + start + drain of ONE streaming query —
    * with `spark.sql.shuffle.partitions` derived from the stream's
    * input size, restored afterwards. The session value is what fixes
    * a streaming query's STATE-STORE partition count at its first
    * checkpoint, and it is a pure deployment constant: a stateful
    * operator instantiates (and checkpoints) one state store per
    * partition PER BATCH, so a session constant sized for batch
    * parallelism multiplies the per-batch fixed cost — a stream-stream
    * join keeps 4 store instances per partition, and at the session's
    * 32 that measured 7.1s vs 2.5s at an input-derived width on the
    * identical query (OPTIMIZATION_r18.md) with identical output. The
    * width derives from INPUT SIZE (guide §2: scale-adaptive
    * partitioning, never a constant tuned for one machine): one state
    * partition per [[streamStateSlotBytes]] (512 KB) of
    * source bytes, clamped to the session's configured parallelism —
    * a cluster-scale stream saturates the clamp and behaves exactly
    * as before. Restore is in `finally`; the suite runs queries
    * sequentially per session, so the scoped override cannot race
    * another query's planning. */
  private def withStreamStateWidth[A](s: SparkSession, inputBytes: Long)(
      body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    val slot = streamStateSlotBytes
    val width = math.min(prev.toLong,
      math.max(1L, (inputBytes + slot - 1) / slot))
    s.conf.set(key, width.toString)
    try body finally s.conf.set(key, prev)
  }

  /** The events table as a file-source stream, robust to layout: a
    * single-FILE table needs the parent dir + a filename glob (the
    * source monitors directories), while a DIRECTORY table is
    * streamed directly — a glob on the parent would silently match
    * zero part files and stream nothing (caught by the 10× scale
    * probe, whose staged tables are directories). Normalizes the
    * nanos ts exactly like Tables. */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val raw = s.read.parquet(path)
    val src0 =
      if (new java.io.File(path).isDirectory)
        s.readStream.schema(raw.schema).parquet(path)
      else
        s.readStream.schema(raw.schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
    raw.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        src0.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        // un-adjusted parquet micros infer NTZ; watermarks need
        // TimestampType — session TZ is UTC, the instant is unchanged
        src0.withColumn("ts", col("ts").cast("timestamp"))
      case _ => src0
    }
  }

  /** Parts with the fuzzy blocking key, guarded: a skewed
    * (size, first-word) block fails the job loudly instead of
    * silently going quadratic (levenshtein is O(block²) inside). */
  private def fuzzyBlocked(s: SparkSession, dir: String): DataFrame = {
    val wBlk = Window.partitionBy(col("p_size"), col("blk"))
    t(s, dir, "part")
      .select(col("p_partkey"), col("p_name"), col("p_size"),
        substring_index(col("p_name"), " ", 1).as("blk"))
      .withColumn("__bc", count(lit(1)).over(wBlk))
      .filter(when(col("__bc") <= 10000, lit(true)).otherwise(
        raise_error(concat(lit("fuzzy_pairs: block over 10000 rows: "),
          col("blk"))).cast("boolean")))
      .drop("__bc")
  }

  /** Blocked levenshtein ≤ 2 duplicate pairs over part names —
    * shared by the pair row and the clustering row.
    *
    * The block key carries an EXACT length band on top of
    * (size, first-word): |len(a)−len(b)| ≤ 2 is a NECESSARY condition
    * for lev ≤ 2, so banding `floor(len/3)` — with ±1 neighbor
    * replication on ONE side, so every qualifying pair meets in
    * exactly one band — moves that condition from a post-join filter
    * INTO the equi-join key. Candidate generation then scales with
    * Σ(per-length-band block sizes)² instead of Σ(block sizes)²: the
    * r15 10× probe measured this row 16.2× superlinear because hot
    * (size, first-word) blocks grow linearly with the corpus and the
    * kernel is block-quadratic — the length band divides each hot
    * block by its length spread before any levenshtein runs. Lossless
    * by construction (unlike a MinHash band, which would drop true
    * pairs and break the exact oracle); the 10k block guard stays. */
  private def fuzzyPairs(s: SparkSession, dir: String): DataFrame = {
    // STAGED: both banded self-join sides consume the blocked frame —
    // lazy lineage ran the scan + block-guard window twice.
    val blocked = fuzzyBlocked(s, dir).staged
    val a = blocked.toDF("id_a", "name_a", "size_a", "blk_a")
      .withColumn("lb", floor(length(col("name_a")) / 3))
    val b = blocked.toDF("id_b", "name_b", "size_b", "blk_b")
      .withColumn("lb", explode(array((-1 to 1).map(d =>
        floor(length(col("name_b")) / 3) + d): _*)))
    // the thresholded levenshtein runs the banded O(n·k) algorithm
    // and bails at -1 past the bound instead of filling the full
    // O(n·m) matrix; the residual |len| filter tightens the band's
    // relaxation before the kernel
    a.join(b, a("lb") === b("lb") &&
        col("size_a") === col("size_b") &&
        col("blk_a") === col("blk_b") && col("id_a") < col("id_b") &&
        abs(length(col("name_a")) - length(col("name_b"))) <= 2)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 2))
      .filter(col("dist") >= 0)
      .select("id_a", "id_b", "dist")
  }

  private def llmOracle: Map[String, String] = {
    // shared DuckDB fragments (token list / shingle set / hash60)
    val toks = "list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '')"
    val sh3 = "CASE WHEN length(text) >= 3 THEN " +
      "list_distinct([substring(text, i, 3) for i in range(1, length(text) - 1)]) " +
      "ELSE [] END"
    // k=5 for minhash: 3-grams over the tiny synthetic vocab are so
    // common that LSH buckets degenerate (2324-doc bucket at sf0.1).
    val sh5 = "CASE WHEN length(text) >= 5 THEN " +
      "list_distinct([substring(text, i, 5) for i in range(1, length(text) - 3)]) " +
      "ELSE [] END"
    def h60(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"
    val stops = "('the','a','of','to','and','in','is','it','on','for')"
    val sw = s"CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> x IN $stops)) AS DOUBLE) / CAST(len(t) AS DOUBLE) ELSE 0.0 END"
    val uq = "CASE WHEN len(t) > 0 THEN CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE) ELSE 0.0 END"
    val ml = "CASE WHEN len(t) > 0 THEN CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / CAST(len(t) AS DOUBLE) ELSE 0.0 END"
    val minhashes = (0 until 16).map { i =>
      val (a, b) = TF.minhashAB(i)
      s"list_min(list_transform(hs, h -> ($a * h + $b) % 2147483647)) AS m$i"
    }.mkString(",\n        ")
    val bandExprs = (0 until 4).map { b =>
      val ms = (0 until 4).map(r => s"m${b * 4 + r}").mkString(", ")
      s"md5(concat_ws('_', $ms)) AS b$b"
    }.mkString(",\n        ")
    val langScores = Seq(
      "de" -> "('der','die','das','und','nicht','ist','ein')",
      "en" -> "('the','a','of','to','and','in','is')",
      "es" -> "('el','la','de','que','y','en','un')",
      "fr" -> "('le','la','de','et','un','une','est')",
      "zh" -> "('的','了','和','是','在')")
    val scoreCols = langScores.map { case (c, words) =>
      s"len(list_filter(t, x -> x IN $words)) AS s_$c" }.mkString(",\n        ")
    val codes = langScores.map(_._1)
    val langCase = codes.zipWithIndex.map { case (c, i) =>
      val laters = codes.drop(i + 1).map(l => s"s_$c >= s_$l")
      val cond = (laters :+ s"s_$c > -1").mkString(" AND ")
      s"WHEN $cond THEN '$c'"
    }.mkString("\n          ")
    // shared cosine fragments (left-fold sums so the double op order
    // matches Spark's aggregate() exactly)
    def dot(a: String, b: String) =
      s"list_reduce(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"
    def cosine(a: String, b: String) =
      s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
    def hpSigN(planes: Int) =
      s"array_to_string(list_transform(range(0, $planes), p -> " +
        "CASE WHEN list_reduce(list_transform(range(1, 65), d -> " +
        "CAST(v[d] AS DOUBLE) * ((('0x' || substr(md5('hp:' || p || ':' || (d - 1)), 1, 8))::BIGINT / 4294967296.0) - 0.5)" +
        "), (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END), '')"
    val hpSig = hpSigN(8)
    Map(
    "q_domain_mix" -> """
      WITH p AS (SELECT source, count(*) AS n_docs,
                        CAST(sum(n_chars) AS BIGINT) AS sum_chars
                 FROM documents GROUP BY source),
           t AS (SELECT count(*) AS t_docs,
                        CAST(sum(n_chars) AS BIGINT) AS t_chars
                 FROM documents)
      SELECT source, n_docs, sum_chars,
             CAST(n_docs AS DOUBLE) * 100.0 / t_docs AS doc_share_pct,
             CAST(sum_chars AS DOUBLE) * 100.0 / t_chars AS char_share_pct
      FROM p, t ORDER BY source""",
    "q_array_ops" -> s"""
      SELECT doc_id,
             CAST(len(t) AS INT) AS n_tokens,
             CAST(len(list_distinct(t)) AS INT) AS n_distinct,
             CAST(len(list_intersect(t,
               ['the','a','of','to','and','in','is','it','on','for']))
               AS INT) AS n_stop,
             array_to_string(t[1:3], ' ') AS first3
      FROM (SELECT doc_id, $toks AS t FROM documents)
      ORDER BY doc_id""",
    "q_dedup_exact" -> """
      SELECT min(doc_id) AS doc_id, count(*) AS n_dups
      FROM documents GROUP BY md5(text) ORDER BY doc_id""",
    "q_chunk_dedup" -> s"""
      WITH tok AS (SELECT doc_id, $toks AS ts FROM documents),
      ch0 AS (SELECT doc_id, ts,
                     unnest(range(0, CAST(ceil(len(ts) / 10.0) AS BIGINT))) AS ci
              FROM tok WHERE len(ts) > 0),
      ch AS (SELECT doc_id, ci AS chunk_idx,
                    md5(array_to_string(ts[ci*10+1 : ci*10+10], ' ')) AS h
             FROM ch0),
      rn AS (SELECT doc_id, chunk_idx,
                    row_number() OVER (PARTITION BY h
                      ORDER BY doc_id, chunk_idx) AS rn
             FROM ch)
      SELECT doc_id, count(*) AS n_chunks,
             CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks
      FROM rn GROUP BY doc_id ORDER BY doc_id""",
    "q_shingle_dedup" -> s"""
      WITH tok AS (SELECT doc_id, $toks AS ts FROM documents),
      sh0 AS (SELECT doc_id, ts,
                     unnest(range(0, len(ts) - 10 + 1)) AS si
              FROM tok WHERE len(ts) >= 10),
      sh AS (SELECT doc_id, si AS sh_idx,
                    md5(array_to_string(ts[si+1 : si+10], ' ')) AS h
             FROM sh0),
      rn AS (SELECT doc_id, sh_idx,
                    row_number() OVER (PARTITION BY h
                      ORDER BY doc_id, sh_idx) AS rn
             FROM sh)
      SELECT doc_id, count(*) AS n_shingles,
             CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_shingles
      FROM rn GROUP BY doc_id ORDER BY doc_id""",
    "q_dedup_incremental" -> """
      WITH oldc AS (SELECT DISTINCT md5(text) AS fp FROM documents
                    WHERE doc_id % 5 <> 0),
      batch AS (SELECT doc_id, md5(text) AS fp FROM documents
                WHERE doc_id % 5 = 0),
      fresh AS (SELECT b.doc_id, b.fp FROM batch b
                LEFT JOIN oldc o ON b.fp = o.fp WHERE o.fp IS NULL)
      SELECT min(doc_id) AS doc_id, fp FROM fresh
      GROUP BY fp ORDER BY doc_id""",
    "q_token_count" -> s"""
      SELECT doc_id, CAST(len($toks) AS INT) AS n_tokens
      FROM documents ORDER BY doc_id""",
    "q_incremental_agg" -> s"""
      SELECT lang, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(sum(len($toks)) AS BIGINT) AS sum_tokens
      FROM documents GROUP BY lang ORDER BY lang""",
    "q_entropy" -> s"""
      WITH tok AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
      c AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_types,
             round(ln(CAST(sum(c) AS DOUBLE)) -
               sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 6) AS entropy
      FROM c GROUP BY doc_id ORDER BY doc_id""",
    // sums carry an outer BIGINT cast: DuckDB sum(BIGINT) returns
    // HUGEINT, which pandas narrows to float64 — the driver's hash
    // then compares "19525.0" vs Spark's "19525" (the r4 red row).
    "q_json_source" -> s"""
      SELECT lang, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(sum(CAST(len($toks) AS BIGINT)) AS BIGINT) AS sum_tokens
      FROM documents GROUP BY lang ORDER BY lang""",
    "q_json_nested" -> """
      SELECT o_orderpriority AS pri, o_orderstatus AS st,
             count(*) AS n_items,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS DOUBLE) / 100.0 AS total
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2 ORDER BY pri, st""",
    "q_tfidf" -> s"""
      WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
      df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      n AS (SELECT count(*) AS nd FROM documents),
      s AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
              CAST(tf.tf AS DOUBLE) * ((nd + 1.0) / (df.df + 1.0)) AS score
            FROM tf JOIN df USING (token) CROSS JOIN n),
      r AS (SELECT doc_id, token, tf, df,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, token) AS rank
            FROM s)
      SELECT doc_id, CAST(rank AS INT) AS rank, token,
             CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
      FROM r WHERE rank <= 3 ORDER BY doc_id, rank""",
    "q_bm25" -> s"""
      WITH d AS (SELECT doc_id, $toks AS t FROM documents),
      dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM d),
      stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                       count(*) AS nd FROM dl),
      tf AS (SELECT doc_id, token, count(*) AS tf
             FROM (SELECT doc_id, unnest(t) AS token FROM d)
             GROUP BY 1, 2),
      df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      term AS (SELECT tf.doc_id, tf.token,
                 ((nd - df.df + 0.5) / (df.df + 0.5)) *
                 ((CAST(tf.tf AS DOUBLE) * 2.2) /
                  (CAST(tf.tf AS DOUBLE) + 1.2 *
                   ((1.0 - 0.75) + 0.75 * (CAST(dl.dl AS DOUBLE) / avgdl))))
                   AS ts
               FROM tf JOIN df USING (token) JOIN dl USING (doc_id)
                    CROSS JOIN stats
               WHERE tf.token IN ('table', 'join', 'window')),
      sc AS (SELECT doc_id,
               coalesce(max(CASE WHEN token = 'table'  THEN ts END), 0.0)
             + coalesce(max(CASE WHEN token = 'join'   THEN ts END), 0.0)
             + coalesce(max(CASE WHEN token = 'window' THEN ts END), 0.0)
               AS score
             FROM term GROUP BY doc_id),
      r AS (SELECT doc_id, score,
              row_number() OVER (ORDER BY score DESC, doc_id) AS rank
            FROM sc)
      SELECT doc_id, CAST(rank AS INT) AS rank, round(score, 6) AS score
      FROM r WHERE rank <= 20 ORDER BY rank""",
    "q_pii_redact" -> s"""
      WITH aug AS (SELECT doc_id,
        text || ' contact u' || doc_id || '@ex.com or +1-555-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             || CASE WHEN doc_id % 3 = 0 THEN ' alt a.b@mail.org'
                     ELSE '' END AS full_text
        FROM documents),
      e AS (SELECT doc_id,
              CAST(len(regexp_extract_all(full_text,
                '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS INT)
                AS n_email,
              regexp_replace(full_text,
                '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g')
                AS r1
            FROM aug),
      p AS (SELECT doc_id, n_email,
              CAST(len(regexp_extract_all(r1, '\\+[0-9][0-9-]{7,}')) AS INT)
                AS n_phone,
              regexp_replace(r1, '\\+[0-9][0-9-]{7,}', '<PHONE>', 'g') AS r2
            FROM e)
      SELECT doc_id, n_email, n_phone, md5(r2) AS redacted_md5
      FROM p ORDER BY doc_id""",
    "q_repetition" -> s"""
      WITH d AS (SELECT doc_id, $toks AS t FROM documents),
      b AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
              i -> t[i] || ' ' || t[i + 1])) AS bg
            FROM d WHERE len(t) >= 2),
      c AS (SELECT doc_id, bg, count(*) AS cnt FROM b GROUP BY 1, 2)
      SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(max(cnt) AS BIGINT) AS max_count,
             CAST(CASE WHEN max(cnt) * 20 > sum(cnt) THEN 1 ELSE 0 END
               AS INT) AS rep_flag
      FROM c GROUP BY doc_id ORDER BY doc_id""",
    "q_contamination" -> s"""
      WITH d AS (SELECT doc_id, $toks AS t,
                   ('0x' || substr(md5('cont:' || doc_id), 1, 8))::BIGINT
                     % 10 = 0 AS is_test
                 FROM documents),
      g AS (SELECT doc_id, is_test,
              unnest(list_distinct(list_transform(range(1, len(t) - 3),
                i -> ('0x' || substr(md5(
                  array_to_string(t[i:i+4], ' ')), 1, 15))::BIGINT))) AS gh
            FROM d WHERE len(t) >= 5),
      tr AS (SELECT DISTINCT gh FROM g WHERE NOT is_test),
      te AS (SELECT doc_id, gh FROM g WHERE is_test)
      SELECT te.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(count(tr.gh) AS BIGINT) AS n_hit,
             CAST(CASE WHEN count(tr.gh) > 0 THEN 1 ELSE 0 END AS INT)
               AS contaminated
      FROM te LEFT JOIN tr ON te.gh = tr.gh
      GROUP BY te.doc_id ORDER BY te.doc_id""",
    "q_inverted_index" -> s"""
      WITH tok AS (SELECT DISTINCT doc_id, unnest(list_distinct($toks))
                     AS token FROM documents)
      SELECT token, CAST(count(*) AS BIGINT) AS df,
             md5(array_to_string(list(doc_id ORDER BY doc_id), '-'))
               AS postings_md5
      FROM tok GROUP BY token ORDER BY token""",
    "q_percentiles" -> """
      WITH c AS (SELECT o_orderpriority AS pri,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   o_orderkey
                 FROM orders),
      r AS (SELECT pri, cents,
              row_number() OVER (PARTITION BY pri
                ORDER BY cents, o_orderkey) AS rn,
              count(*) OVER (PARTITION BY pri) AS n
            FROM c)
      SELECT pri, CAST(max(n) AS BIGINT) AS n,
             CAST(min(CASE WHEN rn * 2 >= n THEN cents END) AS DOUBLE)
               / 100.0 AS p50,
             CAST(min(CASE WHEN rn * 10 >= n * 9 THEN cents END) AS DOUBLE)
               / 100.0 AS p90,
             CAST(min(CASE WHEN rn * 100 >= n * 99 THEN cents END) AS DOUBLE)
               / 100.0 AS p99
      FROM r GROUP BY pri ORDER BY pri""",
    "q_lm_coverage" -> s"""
      WITH d AS (SELECT doc_id, $toks AS t FROM documents),
      b AS (SELECT doc_id, ('0x' || substr(md5(bg), 1, 15))::BIGINT AS h
            FROM (SELECT doc_id, unnest(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i + 1])) AS bg
                  FROM d WHERE len(t) >= 2)),
      k AS (SELECT h FROM b GROUP BY h HAVING count(*) >= 2)
      SELECT b.doc_id, count(*) AS n_bigrams,
             CAST(count(k.h) AS BIGINT) AS n_known,
             CAST(count(k.h) AS DOUBLE) * 100.0 / count(*) AS coverage_pct
      FROM b LEFT JOIN k ON b.h = k.h
      GROUP BY b.doc_id ORDER BY b.doc_id""",
    "q_bigram_lm" -> s"""
      WITH d AS (SELECT doc_id, $toks AS t FROM documents),
      b AS (SELECT unnest(list_transform(range(1, len(t)),
              i -> [t[i], t[i + 1]])) AS bg
            FROM d WHERE len(t) >= 2),
      c AS (SELECT bg[1] AS w1, bg[2] AS w2, count(*) AS cnt
            FROM b GROUP BY 1, 2),
      r AS (SELECT w1, w2, cnt,
              CAST(sum(cnt) OVER (PARTITION BY w1) AS BIGINT) AS total,
              row_number() OVER (PARTITION BY w1
                ORDER BY cnt DESC, w2) AS rk
            FROM c)
      SELECT w1, w2, CAST(cnt AS BIGINT) AS cnt, total
      FROM r WHERE rk = 1 ORDER BY w1""",
    "q_perplexity" -> s"""
      WITH d AS (SELECT doc_id, $toks AS t FROM documents),
      bi AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
               i -> [t[i], t[i + 1]])) AS bg
             FROM d WHERE len(t) >= 2),
      bg AS (SELECT doc_id, bg[1] AS w1, bg[2] AS w2, count(*) AS cnt
             FROM bi GROUP BY 1, 2, 3),
      corpus AS (SELECT w1, w2, CAST(sum(cnt) AS BIGINT) AS c12
                 FROM bg GROUP BY 1, 2),
      lft AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
              FROM corpus GROUP BY 1),
      vocab AS (SELECT count(DISTINCT w2) AS v FROM corpus),
      probs AS (SELECT w1, w2,
                  CAST(c12 + 1 AS DOUBLE) / (c1 + v) AS p
                FROM corpus JOIN lft USING (w1) CROSS JOIN vocab)
      SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
             round(exp(-sum(cnt * ln(p)) / sum(cnt)), 6) AS perplexity
      FROM bg JOIN probs USING (w1, w2)
      GROUP BY doc_id ORDER BY doc_id""",
    "q_exists_subquery" -> existsSubquerySql,
    "q_sql_q2" -> sqlQ2,
    "q_sql_q21" -> sqlQ21,
    "q_sql_q17" -> sqlQ17,
    "q_sql_q13" -> sqlQ13,
    "q_sql_q19" -> sqlQ19,
    "q_sql_q22" -> sqlQ22,
    "q_sql_q4" -> sqlQ4,
    "q_sql_q15" -> sqlQ15,
    "q_sql_q20" -> sqlQ20,
    "q_sql_q7" -> sqlQ7,
    "q_sql_q8" -> sqlQ8,
    "q_sql_q10" -> sqlQ10,
    "q_sql_q12" -> sqlQ12,
    "q_sql_q6" -> sqlQ6,
    "q_sql_q9" -> sqlQ9,
    "q_sql_q11" -> sqlQ11,
    "q_sql_ds_rollup" -> sqlDsRollup,
    "q_sql_ds_repeat" -> sqlDsRepeat,
    "q_sql_ds_share" -> sqlDsShare,
    "q_sql_ds_toprank" -> sqlDsTopRank,
    "q_sql_ds_channel" -> sqlDsChannel,
    "q_sql_ds_cumulative" -> sqlDsCumulative,
    "q_sql_ds_bands" -> sqlDsBands,
    "q_sql_ds_frequent" -> sqlDsFrequent,
    "q_sql_ds_deviation" -> sqlDsDeviation,
    "q_sql_ds_returns" -> sqlDsReturns,
    "q_sql_ds_margin" -> sqlDsMargin,
    "q_linreg" -> """
      WITH m AS (SELECT l_returnflag AS flag, count(*) AS n,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS BIGINT) AS sy,
          CAST(sum(CAST(l_quantity AS BIGINT) *
            CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sxy,
          CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
            AS BIGINT) AS sxx
        FROM lineitem GROUP BY 1)
      SELECT flag, n, sx, sy,
        round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
        round((CAST(sy AS DOUBLE)
               - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * CAST(sx AS DOUBLE))
              / CAST(n AS DOUBLE), 6) AS intercept
      FROM m ORDER BY flag""",
    "q_data_profile" -> """
      WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                        o_orderpriority,
                        CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_date,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS o_price_c
                 FROM orders)
      SELECT col_name, n_null, n_distinct, min_repr, max_repr FROM (
        SELECT 'o_orderkey' AS col_name,
          CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_null,
          CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
          min(CAST(o_orderkey AS VARCHAR)) AS min_repr,
          max(CAST(o_orderkey AS VARCHAR)) AS max_repr FROM o
        UNION ALL
        SELECT 'o_custkey',
          CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          CAST(count(DISTINCT o_custkey) AS BIGINT),
          min(CAST(o_custkey AS VARCHAR)), max(CAST(o_custkey AS VARCHAR))
        FROM o
        UNION ALL
        SELECT 'o_orderstatus',
          CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
          CAST(count(DISTINCT o_orderstatus) AS BIGINT),
          min(o_orderstatus), max(o_orderstatus) FROM o
        UNION ALL
        SELECT 'o_orderpriority',
          CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
          CAST(count(DISTINCT o_orderpriority) AS BIGINT),
          min(o_orderpriority), max(o_orderpriority) FROM o
        UNION ALL
        SELECT 'o_date',
          CAST(sum(CASE WHEN o_date IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          CAST(count(DISTINCT o_date) AS BIGINT),
          min(o_date), max(o_date) FROM o
        UNION ALL
        SELECT 'o_price_c',
          CAST(sum(CASE WHEN o_price_c IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          CAST(count(DISTINCT o_price_c) AS BIGINT),
          min(CAST(o_price_c AS VARCHAR)), max(CAST(o_price_c AS VARCHAR))
        FROM o) t
      ORDER BY col_name""",
    "q_triangle" -> """
      WITH pairs AS (SELECT l1.l_suppkey AS a, l2.l_suppkey AS b,
                            l1.l_orderkey AS ok
                     FROM lineitem l1 JOIN lineitem l2
                       ON l1.l_orderkey = l2.l_orderkey
                      AND l1.l_suppkey < l2.l_suppkey),
      e AS (SELECT a, b FROM pairs GROUP BY a, b
            HAVING count(DISTINCT ok) >= 6),
      n AS (SELECT count(DISTINCT v) AS n_nodes FROM
              (SELECT a AS v FROM e UNION ALL SELECT b FROM e) u),
      m AS (SELECT count(*) AS n_edges FROM e),
      tri AS (SELECT count(*) AS n_triangles
              FROM e e1 JOIN e e2 ON e2.a = e1.b
                        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
      SELECT n_nodes, n_edges, n_triangles
      FROM n CROSS JOIN m CROSS JOIN tri""",
    "q_stream_dedup" -> """
      SELECT event_id, event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_usec
      FROM events ORDER BY event_id""",
    "q_grouping_sets" -> groupingSetsSql,
    "q_window_cume" -> windowCumeSql,
    "q_quality_gate" -> s"""
      WITH d AS (SELECT doc_id, $toks AS t FROM documents),
      m AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
              CASE WHEN len(t) > 0 THEN
                CAST(len(list_distinct(t)) AS DOUBLE) /
                CAST(len(t) AS DOUBLE) ELSE 0.0 END AS uniq,
              t FROM d),
      b AS (SELECT doc_id, bg, count(*) AS cnt FROM (
              SELECT doc_id, unnest(list_transform(range(1, len(t)),
                i -> t[i] || ' ' || t[i + 1])) AS bg
              FROM d WHERE len(t) >= 2) GROUP BY 1, 2),
      r AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS total,
              CAST(max(cnt) AS BIGINT) AS maxc FROM b GROUP BY doc_id),
      g AS (SELECT m.doc_id, m.n_tokens,
              CASE WHEN m.n_tokens < 30 THEN 'too_short'
                   WHEN m.uniq < 0.35 THEN 'low_diversity'
                   WHEN coalesce(r.maxc * 20 > r.total, false)
                     THEN 'repetitive'
                   ELSE 'keep' END AS reason
            FROM m LEFT JOIN r ON m.doc_id = r.doc_id)
      SELECT doc_id, n_tokens, reason,
             CAST(CASE WHEN reason = 'keep' THEN 1 ELSE 0 END AS INT)
               AS kept
      FROM g ORDER BY doc_id""",
    "q_frame_sample" -> """
      WITH m AS (SELECT doc_id AS media_id, text,
                   greatest(length(text) // 64, 1) AS nf
                 FROM documents),
      s AS (SELECT media_id, text, nf, unnest(range(0, 4)) AS si FROM m),
      f AS (SELECT DISTINCT media_id,
              CAST((si * (nf - 1)) // 3 AS BIGINT) AS frame_idx,
              text FROM s)
      SELECT media_id, frame_idx,
             md5(substring(text, CAST(frame_idx * 64 + 1 AS INT), 64))
               AS frame_hash
      FROM f ORDER BY media_id, frame_idx""",
    "q_pmi" -> s"""
      WITH dt AS (SELECT doc_id, list_distinct($toks) AS ts
                  FROM documents),
      tok AS (SELECT doc_id, unnest(ts) AS w FROM dt),
      pairs AS (SELECT a.w AS w1, b.w AS w2, count(*) AS c_xy
                FROM tok a JOIN tok b
                  ON a.doc_id = b.doc_id AND a.w < b.w
                GROUP BY 1, 2 HAVING count(*) >= 25),
      df AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
      nn AS (SELECT count(*) AS n FROM dt)
      SELECT w1, w2, c_xy,
             round(ln(CAST(n AS DOUBLE) * c_xy / (x.c * y.c)), 6) AS pmi
      FROM pairs JOIN df x ON x.w = pairs.w1
                 JOIN df y ON y.w = pairs.w2
                 CROSS JOIN nn
      ORDER BY w1, w2""",
    "q_basket_rules" -> """
      WITH li AS (SELECT DISTINCT l_orderkey AS oid, l_partkey % 100 AS item
                  FROM lineitem),
      cnts AS (SELECT item, count(*) AS cnt FROM li GROUP BY 1),
      nn AS (SELECT count(DISTINCT oid) AS n_orders FROM li),
      pairs AS (SELECT a.item AS item_a, b.item AS item_b,
                       count(*) AS pair_cnt
                FROM li a JOIN li b
                  ON a.oid = b.oid AND a.item < b.item
                GROUP BY 1, 2 HAVING count(*) >= 5)
      SELECT p.item_a, p.item_b, p.pair_cnt,
             CAST(p.pair_cnt AS DOUBLE) / ca.cnt AS confidence,
             CAST(p.pair_cnt * nn.n_orders AS DOUBLE)
               / (ca.cnt * cb.cnt) AS lift
      FROM pairs p JOIN cnts ca ON ca.item = p.item_a
                   JOIN cnts cb ON cb.item = p.item_b
                   CROSS JOIN nn
      ORDER BY lift DESC, item_a, item_b LIMIT 20""",
    "q_class_balance" -> """
      WITH h AS (SELECT doc_id, lang,
                   md5(CAST(doc_id AS VARCHAR) || '#bal') AS h
                 FROM documents),
      r AS (SELECT doc_id, lang,
              CAST(row_number() OVER (PARTITION BY lang
                ORDER BY h, doc_id) AS INT) AS rn
            FROM h)
      SELECT doc_id, lang, rn FROM r WHERE rn <= 80
      ORDER BY doc_id""",
    "q_stratified_sample" -> """
      WITH b AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || lang),
                 1, 8))::BIGINT % 1000 AS bucket,
               CASE lang WHEN 'en' THEN 500 WHEN 'zh' THEN 800
                         ELSE 1000 END AS rate
        FROM documents)
      SELECT doc_id, lang, bucket FROM b
      WHERE bucket < rate ORDER BY doc_id""",
    "q_text_chunk" -> s"""
      WITH d AS (SELECT doc_id, $toks AS t FROM documents),
      k AS (SELECT doc_id, t, len(t) AS n,
              CAST((greatest(len(t) - 50, 0) + 39) // 40 AS INT) AS kmax
            FROM d WHERE len(t) > 0),
      c0 AS (SELECT doc_id, t, n,
               unnest(range(0, kmax + 1)) AS cid FROM k),
      c AS (SELECT doc_id, CAST(cid AS INT) AS chunk_id,
              t[(cid*40+1):least(cid*40+50, n)] AS ch
            FROM c0)
      SELECT doc_id, chunk_id, CAST(len(ch) AS INT) AS n_tokens,
             md5(array_to_string(ch, ' ')) AS chunk_hash
      FROM c ORDER BY doc_id, chunk_id""",
    "q_token_pack" -> s"""
      WITH d AS (SELECT doc_id, $toks AS t FROM documents),
      k AS (SELECT doc_id, t, len(t) AS n,
              CAST((greatest(len(t) - 50, 0) + 39) // 40 AS INT) AS kmax
            FROM d WHERE len(t) > 0),
      c0 AS (SELECT doc_id, t, n,
               unnest(range(0, kmax + 1)) AS cid FROM k),
      c AS (SELECT doc_id, CAST(cid AS INT) AS chunk_id,
              CAST(len(t[(cid*40+1):least(cid*40+50, n)]) AS INT)
                AS n_tokens
            FROM c0),
      p AS (SELECT CAST(doc_id % 8 AS INT) AS shard, doc_id, chunk_id,
              n_tokens,
              sum(n_tokens) OVER (PARTITION BY doc_id % 8
                ORDER BY doc_id, chunk_id
                ROWS UNBOUNDED PRECEDING) AS cum
            FROM c)
      SELECT shard, doc_id, chunk_id, n_tokens,
             CAST((cum - n_tokens) // 512 AS BIGINT) AS bin
      FROM p ORDER BY shard, doc_id, chunk_id""",
    "q_corpus_stopwords" -> s"""
      WITH d AS (SELECT doc_id, $toks AS t FROM documents),
      n AS (SELECT count(*) AS nd FROM documents),
      tok AS (SELECT doc_id, unnest(list_distinct(t)) AS tk FROM d),
      dfq AS (SELECT tk, count(*) AS df FROM tok GROUP BY tk),
      common AS (SELECT tk FROM dfq, n WHERE df * 50 > nd * 39),
      tokall AS (SELECT doc_id, unnest(t) AS tk FROM d),
      kept AS (SELECT doc_id, count(*) AS n_after FROM tokall
               WHERE tk NOT IN (SELECT tk FROM common) GROUP BY doc_id)
      SELECT d.doc_id, CAST(len(t) AS INT) AS n_before,
             coalesce(n_after, 0) AS n_after
      FROM d LEFT JOIN kept USING (doc_id) ORDER BY doc_id""",
    "q_text_quality" -> s"""
      WITH d AS (SELECT doc_id, $toks AS t FROM documents)
      SELECT doc_id,
             round($sw, 6) AS stopword_ratio,
             round($uq, 6) AS uniq_ratio,
             round($ml, 6) AS mean_token_len,
             round(($sw) * 0.4 + ($uq) * 0.4 +
               (CASE WHEN ($ml) >= 3.0 AND ($ml) <= 8.0 THEN 0.2 ELSE 0.0 END), 6)
               AS quality
      FROM d ORDER BY doc_id""",
    "q_lang_id" -> s"""
      WITH d AS (SELECT doc_id, lang, $toks AS t FROM documents),
      sc AS (SELECT doc_id, lang,
        $scoreCols
      FROM d)
      SELECT doc_id, lang,
        CASE $langCase
          ELSE 'und' END AS lang_pred
      FROM sc ORDER BY doc_id""",
    "q_fingerprint" -> s"""
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct($toks)), ' ')) AS fp
      FROM documents ORDER BY doc_id""",
    "q_source_overlap" -> s"""
      WITH sv AS (SELECT DISTINCT source, h FROM (
              SELECT source, unnest(list_distinct(list_transform($sh5,
                s -> ('0x' || substr(md5(s), 1, 8))::BIGINT))) AS h
              FROM documents)),
      sizes AS (SELECT source, count(*) AS n FROM sv GROUP BY 1),
      i AS (SELECT a.source AS sa, b.source AS sb, count(*) AS inter_n
            FROM sv a JOIN sv b ON a.h = b.h AND a.source < b.source
            GROUP BY 1, 2)
      SELECT sa, sb, inter_n, na.n AS na, nb.n AS nb,
             round(CAST(inter_n AS DOUBLE)
               / CAST(na.n + nb.n - inter_n AS DOUBLE), 6) AS jaccard
      FROM i JOIN sizes na ON na.source = sa
             JOIN sizes nb ON nb.source = sb
      ORDER BY sa, sb""",
    "q_survivorship" -> s"""
      WITH d AS (SELECT md5(text) AS fp, doc_id, n_chars FROM documents),
      r AS (SELECT fp, doc_id, n_chars,
              row_number() OVER (PARTITION BY fp
                ORDER BY n_chars DESC, doc_id) AS rn,
              count(*) OVER (PARTITION BY fp) AS n_members
            FROM d)
      SELECT doc_id AS survivor_id, n_members, n_chars AS survivor_chars
      FROM r WHERE rn = 1 ORDER BY survivor_id""",
    "q_dupe_ratio" -> s"""
      SELECT source, count(*) AS n_docs,
             count(DISTINCT md5(text)) AS n_unique,
             count(*) - count(DISTINCT md5(text)) AS n_dup_rows,
             round(CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 6) AS dup_ratio
      FROM documents GROUP BY source ORDER BY source""",
    "q_boilerplate" -> s"""
      WITH ex AS (SELECT source, unnest($sh5) AS sh FROM documents),
      cnt AS (SELECT source, sh, count(*) AS n_docs_sh
              FROM ex GROUP BY 1, 2),
      r AS (SELECT source, sh, n_docs_sh,
              CAST(row_number() OVER (PARTITION BY source
                ORDER BY n_docs_sh DESC, sh) AS INT) AS rn
            FROM cnt)
      SELECT source, rn, sh, n_docs_sh FROM r WHERE rn <= 3
      ORDER BY source, rn""",
    "q_zipf" -> s"""
      WITH v AS (SELECT tok, count(*) AS freq
                 FROM (SELECT unnest($toks) AS tok FROM documents)
                 GROUP BY tok),
      r AS (SELECT freq,
              row_number() OVER (ORDER BY freq DESC, tok) AS rk FROM v),
      p AS (SELECT ln(CAST(rk AS DOUBLE)) AS x,
                   ln(CAST(freq AS DOUBLE)) AS y
            FROM r WHERE rk <= 50),
      a AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx FROM p)
      SELECT n AS n_types,
             round((CAST(n AS DOUBLE) * sxy - sx * sy)
               / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS zipf_slope
      FROM a""",
    "q_doc_novelty" -> s"""
      WITH d AS (SELECT doc_id,
                        list_distinct(list_transform($sh3,
                          s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)) AS sh
                 FROM documents),
      ex AS (SELECT doc_id, unnest(sh) AS h FROM d),
      own AS (SELECT h, min(doc_id) AS owner FROM ex GROUP BY 1)
      SELECT doc_id, count(*) AS n_shingles,
             CAST(sum(CASE WHEN owner = doc_id THEN 1 ELSE 0 END)
               AS BIGINT) AS n_novel,
             round(CAST(sum(CASE WHEN owner = doc_id THEN 1 ELSE 0 END)
               AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS novelty
      FROM ex JOIN own USING (h)
      GROUP BY doc_id ORDER BY doc_id""",
    "q_containment" -> s"""
      WITH d AS (SELECT doc_id, lang, source, n_chars // 100 AS len_bucket,
                        list_distinct(list_transform($sh3,
                          s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)) AS sh
                 FROM documents),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              len(list_intersect(a.sh, b.sh)) AS inter_n,
              len(a.sh) AS na, len(b.sh) AS nb
            FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
              AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, CAST(inter_n AS INT) AS inter_n,
             CAST(na AS INT) AS na, CAST(nb AS INT) AS nb,
             round(CASE WHEN na > 0
               THEN CAST(inter_n AS DOUBLE) / CAST(na AS DOUBLE)
               ELSE 0.0 END, 6) AS cont_ab,
             round(CASE WHEN nb > 0
               THEN CAST(inter_n AS DOUBLE) / CAST(nb AS DOUBLE)
               ELSE 0.0 END, 6) AS cont_ba
      FROM p WHERE inter_n * 4 >= least(na, nb) * 3
      ORDER BY id_a, id_b""",
    "q_token_fertility" -> s"""
      WITH d AS (SELECT lang, n_chars, len($toks) AS n_toks FROM documents)
      SELECT lang, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS chars,
             CAST(sum(n_toks) AS BIGINT) AS toks,
             round(CAST(sum(n_chars) AS DOUBLE)
               / CAST(sum(n_toks) AS DOUBLE), 6) AS chars_per_token
      FROM d GROUP BY lang ORDER BY lang""",
    "q_gopher_rules" -> s"""
      WITH d AS (SELECT doc_id, $toks AS t FROM documents),
      m AS (SELECT doc_id, len(t) AS n,
              list_sum(list_transform(t, x -> length(x))) AS sl,
              len(list_distinct(t)) AS ntypes,
              len(list_intersect(list_distinct(t),
                ['the','a','of','to','and','in','is','it','on','for']))
                AS nstop
            FROM d)
      SELECT doc_id, n AS n_tokens,
             (n >= 30 AND n <= 100000) AS ok_len,
             (sl * 2 >= n * 9 AND sl <= n * 10) AS ok_word_len,
             (ntypes * 2 >= n) AS ok_diversity,
             (nstop >= 2) AS ok_stopwords,
             (n >= 30 AND n <= 100000 AND sl * 2 >= n * 9
              AND sl <= n * 10 AND ntypes * 2 >= n AND nstop >= 2) AS pass
      FROM m ORDER BY doc_id""",
    "q_ngram_jaccard" -> s"""
      WITH d AS (SELECT doc_id, lang, source, n_chars // 100 AS len_bucket,
                        list_distinct(list_transform($sh3,
                          s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)) AS sh
                 FROM documents),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              len(list_intersect(a.sh, b.sh)) AS inter_n,
              len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS union_n
            FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
              AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, CAST(inter_n AS INT) AS inter_n,
             CAST(union_n AS INT) AS union_n,
             round(CASE WHEN union_n > 0
               THEN CAST(inter_n AS DOUBLE) / CAST(union_n AS DOUBLE)
               ELSE 0.0 END, 6) AS jaccard
      FROM p WHERE inter_n * 2 >= union_n * 1
      ORDER BY id_a, id_b""",
    "q_minhash_lsh" -> s"""
      WITH d AS (SELECT doc_id, $sh5 AS sh FROM documents),
      dh AS (SELECT doc_id,
               list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)
                 AS hs
             FROM d),
      mh AS (SELECT doc_id,
        $minhashes
      FROM dh),
      bands AS (SELECT doc_id,
        $bandExprs
      FROM mh),
      e AS (
        SELECT doc_id, 0 AS band, b0 AS bh FROM bands UNION ALL
        SELECT doc_id, 1, b1 FROM bands UNION ALL
        SELECT doc_id, 2, b2 FROM bands UNION ALL
        SELECT doc_id, 3, b3 FROM bands)
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM e a JOIN e b ON a.band = b.band AND a.bh = b.bh
        AND a.doc_id < b.doc_id
      ORDER BY id_a, id_b""",
    "q_minhash_incremental" -> s"""
      WITH d AS (SELECT doc_id, $sh5 AS sh FROM documents),
      dh AS (SELECT doc_id,
               list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)
                 AS hs
             FROM d),
      mh AS (SELECT doc_id,
        $minhashes
      FROM dh),
      bands AS (SELECT doc_id,
        $bandExprs
      FROM mh),
      e AS (
        SELECT doc_id, 0 AS band, b0 AS bh FROM bands UNION ALL
        SELECT doc_id, 1, b1 FROM bands UNION ALL
        SELECT doc_id, 2, b2 FROM bands UNION ALL
        SELECT doc_id, 3, b3 FROM bands)
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM e a JOIN e b ON a.band = b.band AND a.bh = b.bh
        AND a.doc_id < b.doc_id
      WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0
      ORDER BY id_a, id_b""",
    "q_simhash" -> s"""
      WITH d AS (SELECT doc_id, $toks AS t FROM documents),
      tok AS (SELECT doc_id, unnest(t) AS tk FROM d),
      th AS (SELECT doc_id, ${h60("tk")} AS h FROM tok),
      votes AS (SELECT doc_id, i.i AS bit,
                  sum(CASE WHEN (h >> i.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
                FROM th, (SELECT unnest(range(0, 60)) AS i) i
                GROUP BY doc_id, i.i),
      sigs0 AS (SELECT doc_id,
                  sum(CASE WHEN v >= 0 THEN (1::BIGINT << bit) ELSE 0 END) AS sig
                FROM votes GROUP BY doc_id),
      sigs AS (SELECT doc_id, coalesce(sig, 0)::BIGINT AS sig
               FROM d LEFT JOIN sigs0 USING (doc_id)),
      e AS (SELECT doc_id, sig, b.b AS band, (sig >> (b.b * 15)) & 32767 AS bits
            FROM sigs, (SELECT unnest(range(0, 4)) AS b) b)
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS dist
      FROM e a JOIN e b ON a.band = b.band AND a.bits = b.bits
        AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= 3
      ORDER BY id_a, id_b""",
    "q_regex_extract" -> """
      SELECT p_partkey,
             coalesce(regexp_extract(p_name, '^(\w+) (\w+)$', 1), '') AS adj,
             coalesce(regexp_extract(p_name, '^(\w+) (\w+)$', 2), '') AS noun
      FROM part
      WHERE coalesce(regexp_extract(p_name, '^(\w+) (\w+)$', 2), '') <> ''
      ORDER BY p_partkey""",
    "q_fuzzy_pairs" -> """
      WITH p AS (SELECT p_partkey, p_name, p_size,
                        split_part(p_name, ' ', 1) AS blk
                 FROM part)
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
             CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
      FROM p a JOIN p b ON a.p_size = b.p_size AND a.blk = b.blk
        AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 2
      ORDER BY id_a, id_b""",
    "q_pagerank" -> """
      WITH e AS (SELECT DISTINCT o_custkey AS src,
                   l_suppkey + 1000000 AS dst
                 FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      nn AS (SELECT count(*) AS n FROM nodes),
      deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      p0 AS (SELECT id, CAST(1 AS DOUBLE) / nn.n AS pr
             FROM nodes CROSS JOIN nn),
      p1 AS (SELECT nodes.id, CAST(0.15 AS DOUBLE) / nn.n +
               CAST(0.85 AS DOUBLE) * coalesce(c.s, CAST(0 AS DOUBLE))
                 AS pr
             FROM nodes CROSS JOIN nn
             LEFT JOIN (SELECT e.dst AS id, sum(p.pr / d.deg) AS s
                        FROM e JOIN deg d USING (src)
                        JOIN p0 p ON p.id = e.src
                        GROUP BY e.dst) c ON nodes.id = c.id),
      p2 AS (SELECT nodes.id, CAST(0.15 AS DOUBLE) / nn.n +
               CAST(0.85 AS DOUBLE) * coalesce(c.s, CAST(0 AS DOUBLE))
                 AS pr
             FROM nodes CROSS JOIN nn
             LEFT JOIN (SELECT e.dst AS id, sum(p.pr / d.deg) AS s
                        FROM e JOIN deg d USING (src)
                        JOIN p1 p ON p.id = e.src
                        GROUP BY e.dst) c ON nodes.id = c.id),
      p3 AS (SELECT nodes.id, CAST(0.15 AS DOUBLE) / nn.n +
               CAST(0.85 AS DOUBLE) * coalesce(c.s, CAST(0 AS DOUBLE))
                 AS pr
             FROM nodes CROSS JOIN nn
             LEFT JOIN (SELECT e.dst AS id, sum(p.pr / d.deg) AS s
                        FROM e JOIN deg d USING (src)
                        JOIN p2 p ON p.id = e.src
                        GROUP BY e.dst) c ON nodes.id = c.id)
      SELECT id, round(pr * nn.n, 9) AS pr_scaled
      FROM p3 CROSS JOIN nn ORDER BY id""",
    "q_dedup_cluster" -> """
      WITH RECURSIVE p AS (SELECT p_partkey, p_name, p_size,
                        split_part(p_name, ' ', 1) AS blk
                 FROM part),
      pairs AS (
        SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
        FROM p a JOIN p b ON a.p_size = b.p_size AND a.blk = b.blk
          AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 2),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT src AS id, src AS comp FROM edges
        UNION
        SELECT e.dst AS id, r.comp
        FROM reach r JOIN edges e ON e.src = r.id)
      SELECT id, min(comp) AS comp FROM reach GROUP BY id ORDER BY id""",
    "q_range_join" -> """
      WITH iv AS (
        SELECT event_id AS iv_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS s,
               epoch_us(CAST(ts AS TIMESTAMP))
                 + (event_id % 29 + 1) * 3600000000 AS e
        FROM events WHERE event_id % 97 = 0),
      p AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS pt,
               CAST(round(value * 100) AS BIGINT) AS vc
        FROM events)
      SELECT iv_id, count(*) AS n_events,
             CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
      FROM iv JOIN p ON p.pt BETWEEN iv.s AND iv.e
      GROUP BY iv_id ORDER BY iv_id""",
    "q_sample_split" -> """
      SELECT doc_id,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'valid' ELSE 'test' END AS split
      FROM (SELECT doc_id,
              ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
            FROM documents)
      ORDER BY doc_id""",
    "q_weighted_sample" -> """
      WITH m AS (SELECT max(n_chars) AS maxw FROM documents),
      k AS (SELECT lang, n_chars FROM documents CROSS JOIN m
            WHERE CAST(('0x' || substr(md5('ws:' ||
                    CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
                  / 1152921504606846976.0
                < CAST(n_chars AS DOUBLE) / maxw)
      SELECT lang, count(*) AS n_kept,
             CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_len
      FROM k GROUP BY lang ORDER BY lang""",
    "q_bfs_levels" -> """
      WITH e0 AS (SELECT DISTINCT o_custkey AS src,
                         l_suppkey + 1000000 AS dst
                  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      l0 AS (SELECT DISTINCT c_custkey AS id FROM customer
             WHERE c_nationkey = 0),
      f1 AS (SELECT DISTINCT e.dst AS id FROM e JOIN l0 ON e.src = l0.id),
      l1 AS (SELECT id FROM f1 WHERE id NOT IN (SELECT id FROM l0)),
      f2 AS (SELECT DISTINCT e.dst AS id FROM e JOIN l1 ON e.src = l1.id),
      l2 AS (SELECT id FROM f2 WHERE id NOT IN
             (SELECT id FROM l0 UNION ALL SELECT id FROM l1)),
      f3 AS (SELECT DISTINCT e.dst AS id FROM e JOIN l2 ON e.src = l2.id),
      l3 AS (SELECT id FROM f3 WHERE id NOT IN
             (SELECT id FROM l0 UNION ALL SELECT id FROM l1
              UNION ALL SELECT id FROM l2))
      SELECT CAST(0 AS INT) AS level, count(*) AS n_nodes FROM l0
        HAVING count(*) > 0
      UNION ALL SELECT 1, count(*) FROM l1 HAVING count(*) > 0
      UNION ALL SELECT 2, count(*) FROM l2 HAVING count(*) > 0
      UNION ALL SELECT 3, count(*) FROM l3 HAVING count(*) > 0
      ORDER BY level""",
    "q_label_prop" -> """
      WITH e0 AS (SELECT DISTINCT o_custkey AS src,
                         l_suppkey + 1000000 AS dst
                  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                  WHERE o_totalprice < 60000 AND l_quantity <= 8),
      e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      n AS (SELECT DISTINCT src AS id FROM e),
      l0 AS (SELECT id, id AS lbl FROM n),
      p1 AS (SELECT e.src AS id, min(l0.lbl) AS nl
             FROM e JOIN l0 ON l0.id = e.dst GROUP BY e.src),
      l1 AS (SELECT l0.id, least(l0.lbl, coalesce(p1.nl, l0.lbl)) AS lbl
             FROM l0 LEFT JOIN p1 ON l0.id = p1.id),
      p2 AS (SELECT e.src AS id, min(l1.lbl) AS nl
             FROM e JOIN l1 ON l1.id = e.dst GROUP BY e.src),
      l2 AS (SELECT l1.id, least(l1.lbl, coalesce(p2.nl, l1.lbl)) AS lbl
             FROM l1 LEFT JOIN p2 ON l1.id = p2.id)
      SELECT lbl AS community, count(*) AS n_members
      FROM l2 GROUP BY lbl ORDER BY community""",
    "q_chi2" -> """
      WITH c AS (SELECT event_type, dayofweek(CAST(ts AS DATE)) AS dow,
                        count(*) AS o FROM events GROUP BY 1, 2),
      tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM c),
      r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
            FROM c GROUP BY 1),
      k AS (SELECT dow, CAST(sum(o) AS BIGINT) AS ct FROM c GROUP BY 1),
      cells AS (SELECT event_type, dow, n,
                       CAST(o * n - rt * ct AS DOUBLE)
                         * CAST(o * n - rt * ct AS DOUBLE)
                         / (CAST(rt AS DOUBLE) * ct * n) AS term
                FROM c JOIN r USING (event_type) JOIN k USING (dow)
                     CROSS JOIN tot)
      SELECT round(sum(term), 6) AS chi2,
             CAST((count(DISTINCT event_type) - 1)
               * (count(DISTINCT dow) - 1) AS BIGINT) AS dof,
             CAST(any_value(n) AS BIGINT) AS n_events
      FROM cells""",
    "q_distinct_twophase" -> """
      SELECT event_type, count(DISTINCT user_id) AS n_users,
             count(*) AS n_events
      FROM events GROUP BY event_type ORDER BY event_type""",
    "q_wow_revenue" -> """
      WITH rev AS (
        SELECT weekofyear(CAST(o_orderdate AS DATE)) AS w,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS rc,
               count(*) AS n_orders
        FROM orders
        WHERE year(CAST(o_orderdate AS DATE)) = 1996
        GROUP BY 1),
      lagged AS (
        SELECT w, rc, n_orders, lag(rc, 1) OVER (ORDER BY w) AS prev_rc
        FROM rev)
      SELECT CAST(w AS INT) AS w,
             CAST(rc AS DOUBLE) / 100.0 AS revenue,
             CAST(prev_rc AS DOUBLE) / 100.0 AS prev_revenue,
             round(CAST(rc AS DOUBLE) / prev_rc, 6) AS wow_ratio,
             n_orders
      FROM lagged
      WHERE w BETWEEN 2 AND 52 AND prev_rc IS NOT NULL
      ORDER BY w""",
    "q_sql_ds_minavg" -> sqlDsMinavg,
    "q_sql_ds_intersect" -> sqlDsIntersect,
    "q_sql_ds_bestfreq" -> sqlDsBestfreq,
    "q_sql_ds_growth" -> sqlDsGrowth,
    "q_sql_ds_shipdelay" -> sqlDsShipdelay,
    "q_sql_ds_tripcount" -> sqlDsTripcount,
    "q_sql_ds_timebands" -> sqlDsTimebands,
    "q_sql_ds_channelcum" -> sqlDsChannelcum,
    "q_sql_ds_ampm" -> sqlDsAmpm,
    "q_sql_ds_netloss" -> sqlDsNetloss,
    "q_sql_ds_belowavg" -> sqlDsBelowavg,
    "q_ab_within" -> """
      WITH ev AS (SELECT user_id, event_type,
                    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                    CAST(ts AS DATE) AS day FROM events),
      v AS (SELECT user_id, us AS tv, day FROM ev
            WHERE event_type = 'view'),
      p AS (SELECT user_id, us AS tp FROM ev
            WHERE event_type = 'purchase'),
      pr AS (SELECT v.user_id, v.day FROM v JOIN p USING (user_id)
             WHERE tp >= tv AND tp - tv <= 3600000000),
      conv AS (SELECT day, count(DISTINCT user_id) AS n_conv_users,
                      count(*) AS n_pairs FROM pr GROUP BY day),
      vv AS (SELECT day, count(DISTINCT user_id) AS n_view_users
             FROM v GROUP BY day)
      SELECT day, n_view_users,
             coalesce(n_conv_users, 0) AS n_conv_users,
             coalesce(n_pairs, 0) AS n_pairs
      FROM vv LEFT JOIN conv USING (day)
      ORDER BY day""",
    "q_decile_lift" -> """
      WITH spend AS (SELECT o_custkey,
                       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                         AS BIGINT) AS tc
                     FROM orders GROUP BY 1),
      r AS (SELECT tc,
              row_number() OVER (ORDER BY tc DESC, o_custkey) AS rk,
              count(*) OVER () AS n
            FROM spend),
      d AS (SELECT CAST(floor((rk - 1) * 10.0 / n) AS INT) + 1
              AS decile, tc FROM r),
      g AS (SELECT decile, count(*) AS n_customers,
              CAST(sum(tc) AS BIGINT) AS rev FROM d GROUP BY 1)
      SELECT decile, n_customers,
             CAST(rev AS DOUBLE) / 100.0 AS revenue,
             round(CAST(sum(rev) OVER (ORDER BY decile) AS DOUBLE) /
                   sum(rev) OVER (), 6) AS cum_share
      FROM g ORDER BY decile""",
    "q_datapipe_e2e" -> s"""
      WITH kept AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      d0 AS (SELECT d.doc_id, d.text FROM documents d JOIN kept USING (doc_id)),
      d AS (SELECT doc_id, $toks AS t FROM d0),
      tok AS (SELECT doc_id, unnest(t) AS tk FROM d),
      th AS (SELECT doc_id, ${h60("tk")} AS h FROM tok),
      votes AS (SELECT doc_id, i.i AS bit,
                  sum(CASE WHEN (h >> i.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
                FROM th, (SELECT unnest(range(0, 60)) AS i) i
                GROUP BY doc_id, i.i),
      sigs0 AS (SELECT doc_id,
                  sum(CASE WHEN v >= 0 THEN (1::BIGINT << bit) ELSE 0 END) AS sig
                FROM votes GROUP BY doc_id),
      sigs AS (SELECT doc_id, coalesce(sig, 0)::BIGINT AS sig
               FROM d LEFT JOIN sigs0 USING (doc_id)),
      e AS (SELECT doc_id, sig, b.b AS band, (sig >> (b.b * 15)) & 32767 AS bits
            FROM sigs, (SELECT unnest(range(0, 4)) AS b) b),
      dups AS (SELECT DISTINCT b.doc_id AS doc_id
               FROM e a JOIN e b ON a.band = b.band AND a.bits = b.bits
                 AND a.doc_id < b.doc_id
               WHERE bit_count(xor(a.sig, b.sig)) <= 3),
      d2 AS (SELECT doc_id, t FROM d
             WHERE doc_id NOT IN (SELECT doc_id FROM dups)),
      sc AS (SELECT doc_id, t,
        $scoreCols
      FROM d2),
      fin AS (SELECT doc_id,
                CASE $langCase
                  ELSE 'und' END AS lang_pred,
                CAST(len(t) AS INT) AS n_tokens,
                round(($sw) * 0.4 + ($uq) * 0.4 +
                  (CASE WHEN ($ml) >= 3.0 AND ($ml) <= 8.0
                        THEN 0.2 ELSE 0.0 END), 6) AS quality
              FROM sc)
      SELECT doc_id, lang_pred, n_tokens, quality FROM fin
      WHERE lang_pred = 'en' AND n_tokens >= 5 AND quality >= 0.5
      ORDER BY doc_id""",
    "q_embed_topk" -> s"""
      WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                 WHERE vec_id % 50 = 0),
      s AS (SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
              ${cosine("q.qv", "c.embedding")} AS score
            FROM embeddings c, q WHERE q.qid <> c.vec_id),
      r AS (SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rank
            FROM s)
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
      FROM r WHERE rank <= 10 ORDER BY query_id, rank""",
    "q_knn_classify" -> s"""
      WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                 WHERE vec_id % 50 = 0),
      s AS (SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
              ${cosine("q.qv", "c.embedding")} AS score
            FROM embeddings c, q WHERE q.qid <> c.vec_id),
      r AS (SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rank
            FROM s),
      v AS (SELECT r.query_id, e.label AS n_label, count(*) AS votes
            FROM r JOIN embeddings e ON e.vec_id = r.neighbor_id
            WHERE r.rank <= 5 GROUP BY 1, 2),
      p AS (SELECT query_id, n_label, votes,
              row_number() OVER (PARTITION BY query_id
                ORDER BY votes DESC, n_label) AS rr
            FROM v)
      SELECT p.query_id, e.label AS true_label, p.n_label AS pred_label,
             p.votes, p.n_label = e.label AS correct
      FROM p JOIN embeddings e ON e.vec_id = p.query_id
      WHERE p.rr = 1 ORDER BY p.query_id""",
    "q_embed_lsh" -> s"""
      WITH sg AS (SELECT vec_id, embedding AS v, $hpSig AS sig
                  FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv, sig AS qsig FROM sg
            WHERE vec_id % 50 = 0),
      s AS (SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
              ${cosine("q.qv", "c.v")} AS score
            FROM sg c, q WHERE c.sig = q.qsig AND q.qid <> c.vec_id),
      r AS (SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rank
            FROM s)
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
      FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "q_embed_ivf" -> s"""
      WITH sg AS (SELECT vec_id, embedding AS v, ${hpSigN(4)} AS cell
                  FROM embeddings),
      comp AS (SELECT cell, i.i AS pos,
                 round(CAST(sum(CAST(v[i.i] AS DECIMAL(18,9))) AS DOUBLE)
                   / count(*), 6) AS avg
               FROM sg, (SELECT unnest(range(1, 65)) AS i) i
               GROUP BY cell, i.i),
      cent AS (SELECT cell, list(avg ORDER BY pos) AS centroid
               FROM comp GROUP BY cell),
      q AS (SELECT vec_id AS qid, v AS qv FROM sg WHERE vec_id % 50 = 0),
      route AS (SELECT qid, cell FROM (
                  SELECT q.qid, c.cell,
                    row_number() OVER (PARTITION BY q.qid ORDER BY
                      ${dot("q.qv", "c.centroid")} /
                        (sqrt(${dot("q.qv", "q.qv")}) *
                         sqrt(${dot("c.centroid", "c.centroid")})) DESC,
                      c.cell) AS rr
                  FROM q, cent c)
                WHERE rr <= 4),
      s AS (SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
              ${cosine("q.qv", "c.v")} AS score
            FROM route r JOIN q ON q.qid = r.qid
                         JOIN sg c ON c.cell = r.cell
            WHERE q.qid <> c.vec_id),
      r AS (SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rank
            FROM s)
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
      FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "q_semantic_dedup" -> s"""
      WITH cent AS (
        SELECT label AS grp, CAST(i.i AS INT) AS pos,
               round(CAST(sum(CAST(embedding[i.i] AS DECIMAL(18,9)))
                 AS DOUBLE) / count(*), 6) AS avg
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY label, i.i),
      carr AS (SELECT grp, list(avg ORDER BY pos) AS cvec
               FROM cent GROUP BY grp),
      scored AS (
        SELECT vec_id, grp,
               list_sum(list_transform(range(1, 65),
                 i -> (CAST(embedding[i] AS DOUBLE) - cvec[i]) *
                      (CAST(embedding[i] AS DOUBLE) - cvec[i]))) AS d2
        FROM embeddings CROSS JOIN carr),
      assign AS (
        SELECT vec_id, grp AS cluster FROM (
          SELECT vec_id, grp, row_number() OVER (PARTITION BY vec_id
            ORDER BY d2, grp) AS rn FROM scored) r
        WHERE rn = 1),
      e AS (SELECT e0.vec_id, cluster, embedding AS v
            FROM embeddings e0 JOIN assign USING (vec_id)),
      dom AS (SELECT b.vec_id AS vid, min(a.vec_id) AS dup_of
              FROM e a JOIN e b ON a.cluster = b.cluster
                               AND a.vec_id < b.vec_id
              WHERE ${cosine("a.v", "b.v")} >= 0.3
              GROUP BY b.vec_id)
      SELECT e.vec_id, e.cluster,
             CAST(CASE WHEN dom.vid IS NULL THEN 1 ELSE 0 END AS INT)
               AS keep,
             CAST(coalesce(dom.dup_of, -1) AS BIGINT) AS dup_of
      FROM e LEFT JOIN dom ON e.vec_id = dom.vid
      ORDER BY e.vec_id""",
    "q_embed_neardup" -> s"""
      WITH e AS (SELECT vec_id, label, embedding AS v FROM embeddings)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE ${cosine("a.v", "b.v")} >= 0.3
      ORDER BY id_a, id_b""",
    "q_multimodal" -> """
      SELECT doc_id AS media_id, 'text' AS modality,
             CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
             round((('0x' || substr(md5(upper(hex(CAST(text AS BLOB))) || '0'), 1, 8))::BIGINT
               / 4294967296.0), 6) AS feat0
      FROM documents ORDER BY media_id""",
    "q_embed_centroid" -> """
      SELECT label AS grp, CAST(i.i AS INT) AS pos,
             round(CAST(sum(CAST(embedding[i.i] AS DECIMAL(18,9))) AS DOUBLE)
               / count(*), 6) AS avg
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
      GROUP BY label, i.i ORDER BY grp, pos""",
    "q_kmeans" -> """
      WITH cent AS (
        SELECT label AS grp, CAST(i.i AS INT) AS pos,
               round(CAST(sum(CAST(embedding[i.i] AS DECIMAL(18,9)))
                 AS DOUBLE) / count(*), 6) AS avg
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY label, i.i),
      carr AS (SELECT grp, list(avg ORDER BY pos) AS cvec
               FROM cent GROUP BY grp),
      scored AS (
        SELECT vec_id, grp,
               list_sum(list_transform(range(1, 65),
                 i -> (CAST(embedding[i] AS DOUBLE) - cvec[i]) *
                      (CAST(embedding[i] AS DOUBLE) - cvec[i]))) AS d2
        FROM embeddings CROSS JOIN carr),
      assign AS (
        SELECT vec_id, grp AS cluster FROM (
          SELECT vec_id, grp, row_number() OVER (PARTITION BY vec_id
            ORDER BY d2, grp) AS rn FROM scored) r
        WHERE rn = 1),
      j AS (SELECT a.cluster, e.embedding
            FROM embeddings e JOIN assign a USING (vec_id)),
      n AS (SELECT cluster, count(*) AS n_vectors FROM j
            GROUP BY cluster),
      upd AS (
        SELECT cluster, CAST(i.i AS INT) AS pos,
               round(CAST(sum(CAST(embedding[i.i] AS DECIMAL(18,9)))
                 AS DOUBLE) / count(*), 6) AS avg
        FROM j, (SELECT unnest(range(1, 65)) AS i) i
        GROUP BY cluster, i.i)
      SELECT u.cluster, u.pos, u.avg, n.n_vectors
      FROM upd u JOIN n USING (cluster)
      ORDER BY cluster, pos""",
    "q_embed_quantize" -> """
      WITH a AS (SELECT vec_id, embedding,
                   list_max(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE)))) AS amax
                 FROM embeddings),
      q AS (SELECT vec_id, amax,
              list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) *
                (CASE WHEN amax > 0 THEN 127.0 / amax ELSE 0.0 END))
                AS BIGINT)) AS qv
            FROM a)
      SELECT vec_id, amax, CAST(list_sum(qv) AS BIGINT) AS qsum,
             md5(array_to_string(qv, ',')) AS qhash
      FROM q ORDER BY vec_id""",
    "q_kcore" -> """
      WITH e0 AS (SELECT DISTINCT o_custkey AS src,
                         -l_suppkey AS dst
                  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      e1 AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      k1 AS (SELECT src AS v FROM e1 GROUP BY src HAVING count(*) >= 3),
      f1 AS (SELECT e.src, e.dst FROM e1 e JOIN k1 a ON e.src = a.v
             JOIN k1 b ON e.dst = b.v),
      k2 AS (SELECT src AS v FROM f1 GROUP BY src HAVING count(*) >= 3),
      f2 AS (SELECT e.src, e.dst FROM f1 e JOIN k2 a ON e.src = a.v
             JOIN k2 b ON e.dst = b.v),
      k3 AS (SELECT src AS v FROM f2 GROUP BY src HAVING count(*) >= 3),
      f3 AS (SELECT e.src, e.dst FROM f2 e JOIN k3 a ON e.src = a.v
             JOIN k3 b ON e.dst = b.v),
      k4 AS (SELECT src AS v FROM f3 GROUP BY src HAVING count(*) >= 3),
      f4 AS (SELECT e.src, e.dst FROM f3 e JOIN k4 a ON e.src = a.v
             JOIN k4 b ON e.dst = b.v)
      SELECT CAST(1 AS INT) AS round,
             (SELECT count(DISTINCT src) FROM f1) AS n_nodes,
             (SELECT count(*) FROM f1) AS n_dir_edges
      UNION ALL SELECT 2, (SELECT count(DISTINCT src) FROM f2),
             (SELECT count(*) FROM f2)
      UNION ALL SELECT 3, (SELECT count(DISTINCT src) FROM f3),
             (SELECT count(*) FROM f3)
      UNION ALL SELECT 4, (SELECT count(DISTINCT src) FROM f4),
             (SELECT count(*) FROM f4)
      ORDER BY round""",
    "q_bom_explode" -> """
      WITH RECURSIVE up AS (
        SELECT p_partkey, p_partkey AS node, CAST(0 AS INT) AS depth
        FROM part
        UNION ALL
        SELECT p_partkey, (node - 1) // 10, depth + 1 FROM up
        WHERE (node - 1) // 10 >= 1)
      SELECT p_partkey, node AS root_key, depth
      FROM up WHERE (node - 1) // 10 = 0
      ORDER BY p_partkey""",
    "q_k_anonymity" -> """
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(CAST(CAST(round(c_acctbal * 100) AS BIGINT)
               AS DOUBLE) / 100000.0) AS BIGINT) AS bal_band,
             count(*) AS k
      FROM customer
      GROUP BY 1, 2, 3
      HAVING count(*) < 5
      ORDER BY c_nationkey, c_mktsegment, bal_band""",
    "q_ndcg" -> """
      WITH rev AS (
        SELECT l_suppkey,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                 * 100) AS BIGINT)) AS BIGINT) AS rel0
        FROM lineitem GROUP BY l_suppkey),
      g AS (
        SELECT n_name, s_suppkey, coalesce(rel0, 0) AS rel,
               CAST(round(s_acctbal * 100) AS BIGINT) AS pred
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
             LEFT JOIN rev ON l_suppkey = s_suppkey),
      r AS (
        SELECT n_name, rel,
               row_number() OVER (PARTITION BY n_name
                 ORDER BY pred DESC, s_suppkey) AS pp,
               row_number() OVER (PARTITION BY n_name
                 ORDER BY rel DESC, s_suppkey) AS ip
        FROM g),
      d AS (
        SELECT n_name,
               CAST(sum(CASE WHEN pp <= 10 THEN rel *
                 (CASE pp WHEN 1 THEN 1000000 WHEN 2 THEN 630930
                   WHEN 3 THEN 500000 WHEN 4 THEN 430677
                   WHEN 5 THEN 386853 WHEN 6 THEN 356207
                   WHEN 7 THEN 333333 WHEN 8 THEN 315465
                   WHEN 9 THEN 301030 WHEN 10 THEN 289065 END)
                 ELSE 0 END) AS BIGINT) AS dcg_w,
               CAST(sum(CASE WHEN ip <= 10 THEN rel *
                 (CASE ip WHEN 1 THEN 1000000 WHEN 2 THEN 630930
                   WHEN 3 THEN 500000 WHEN 4 THEN 430677
                   WHEN 5 THEN 386853 WHEN 6 THEN 356207
                   WHEN 7 THEN 333333 WHEN 8 THEN 315465
                   WHEN 9 THEN 301030 WHEN 10 THEN 289065 END)
                 ELSE 0 END) AS BIGINT) AS idcg_w
        FROM r GROUP BY n_name)
      SELECT n_name, dcg_w, idcg_w,
             CASE WHEN idcg_w > 0 THEN CAST(dcg_w AS DOUBLE) / idcg_w
                  ELSE 0.0 END AS ndcg
      FROM d ORDER BY n_name""",
    "q_mutual_info" -> """
      WITH j AS (SELECT lang, source, count(*) AS nxy
                 FROM documents GROUP BY 1, 2),
      m AS (SELECT lang, source, nxy,
              CAST(sum(nxy) OVER (PARTITION BY lang) AS BIGINT) AS nx,
              CAST(sum(nxy) OVER (PARTITION BY source) AS BIGINT) AS ny,
              CAST(sum(nxy) OVER () AS BIGINT) AS nn
            FROM j),
      c AS (SELECT lang, source, nn,
              (CAST(nxy AS DOUBLE) / CAST(nn AS DOUBLE)) *
                ln((CAST(nxy AS DOUBLE) * CAST(nn AS DOUBLE)) /
                   (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))) AS c
            FROM m)
      SELECT CAST(max(nn) AS BIGINT) AS n_docs, count(*) AS n_pairs,
             list_reduce(list(c ORDER BY lang, source),
               (a, b) -> a + b) AS mi_nats
      FROM c""",
    "q_sql_ds_monthdev" -> sqlDsMonthdev,
    "q_stream_full" -> """
      WITH v AS (SELECT user_id, ts, event_id FROM events
                 WHERE event_type = 'view'),
      p AS (SELECT user_id, ts, event_id FROM events
            WHERE event_type = 'purchase'),
      wm AS (SELECT least((SELECT max(ts) FROM v),
                          (SELECT max(ts) FROM p))
                    - INTERVAL 24 HOUR AS w),
      matched AS (
        SELECT v.event_id AS view_id, p.event_id AS purchase_id,
               epoch_us(p.ts) - epoch_us(v.ts) AS gap_usec
        FROM v JOIN p
          ON v.user_id = p.user_id
         AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 4 HOUR),
      left_only AS (
        SELECT v.event_id AS view_id,
               CAST(NULL AS BIGINT) AS purchase_id,
               CAST(NULL AS BIGINT) AS gap_usec
        FROM v
        WHERE v.ts + INTERVAL 4 HOUR < (SELECT w FROM wm)
          AND NOT EXISTS (SELECT 1 FROM p
                WHERE p.user_id = v.user_id
                  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 4 HOUR)),
      right_only AS (
        SELECT CAST(NULL AS BIGINT) AS view_id,
               p.event_id AS purchase_id,
               CAST(NULL AS BIGINT) AS gap_usec
        FROM p
        WHERE p.ts < (SELECT w FROM wm)
          AND NOT EXISTS (SELECT 1 FROM v
                WHERE v.user_id = p.user_id
                  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 4 HOUR))
      SELECT * FROM matched
      UNION ALL SELECT * FROM left_only
      UNION ALL SELECT * FROM right_only
      ORDER BY view_id, purchase_id""",
    "q_stream_session" -> """
      WITH g AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP))
                            > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      s AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM g)
      SELECT user_id,
             epoch_us(CAST(min(ts) AS TIMESTAMP)) AS start_us,
             epoch_us(CAST(max(ts) AS TIMESTAMP)) + 1800 * 1000000 AS end_us,
             count(*) AS n_events
      FROM s GROUP BY user_id, sess_id
      HAVING epoch_us(CAST(max(ts) AS TIMESTAMP)) + 1800 * 1000000 <
             (SELECT epoch_us(CAST(max(ts) AS TIMESTAMP))
                     - CAST(86400 AS BIGINT) * 1000000 FROM events)
      ORDER BY user_id, start_us""",
    "q_did" -> """
      WITH day AS (
        SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                 AS treated,
               o_orderdate AS d, count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS sc
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
      b AS (SELECT min(d) AS dmin, max(d) AS dmax FROM day),
      cells AS (
        SELECT treated,
               CASE WHEN (CAST(d AS DATE) - (SELECT CAST(dmin AS DATE)
                      FROM b)) * 2 >=
                    ((SELECT CAST(dmax AS DATE) FROM b) -
                     (SELECT CAST(dmin AS DATE) FROM b))
                    THEN 1 ELSE 0 END AS post,
               CAST(sum(n) AS BIGINT) AS n, CAST(sum(sc) AS BIGINT) AS sc
        FROM day GROUP BY 1, 2),
      m AS (
        SELECT
          CAST(sum(CASE WHEN treated = 1 AND post = 0 THEN n ELSE 0 END) AS BIGINT) AS n_pre_t,
          CAST(sum(CASE WHEN treated = 1 AND post = 0 THEN sc ELSE 0 END) AS BIGINT) AS s_pre_t,
          CAST(sum(CASE WHEN treated = 1 AND post = 1 THEN n ELSE 0 END) AS BIGINT) AS n_post_t,
          CAST(sum(CASE WHEN treated = 1 AND post = 1 THEN sc ELSE 0 END) AS BIGINT) AS s_post_t,
          CAST(sum(CASE WHEN treated = 0 AND post = 0 THEN n ELSE 0 END) AS BIGINT) AS n_pre_c,
          CAST(sum(CASE WHEN treated = 0 AND post = 0 THEN sc ELSE 0 END) AS BIGINT) AS s_pre_c,
          CAST(sum(CASE WHEN treated = 0 AND post = 1 THEN n ELSE 0 END) AS BIGINT) AS n_post_c,
          CAST(sum(CASE WHEN treated = 0 AND post = 1 THEN sc ELSE 0 END) AS BIGINT) AS s_post_c
        FROM cells)
      SELECT n_pre_t, n_post_t, n_pre_c, n_post_c,
             ((CAST(s_post_t AS DOUBLE) / CAST(n_post_t AS DOUBLE) / 100.0
               - CAST(s_pre_t AS DOUBLE) / CAST(n_pre_t AS DOUBLE) / 100.0)
              -
              (CAST(s_post_c AS DOUBLE) / CAST(n_post_c AS DOUBLE) / 100.0
               - CAST(s_pre_c AS DOUBLE) / CAST(n_pre_c AS DOUBLE) / 100.0))
               AS did_dollars
      FROM m""",
    "q_spearman_ties" -> """
      WITH base AS (
        SELECT c_custkey AS k,
               CAST(round(c_acctbal * 100) AS BIGINT) AS xv,
               CAST(coalesce(o.cnt, 0) AS BIGINT) AS yv
        FROM customer LEFT JOIN (
          SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1
        ) o ON c_custkey = o_custkey),
      rx AS (SELECT xv, 2 * CAST(rank() OVER (ORDER BY xv) AS BIGINT)
                    + count(*) OVER (PARTITION BY xv) - 1 AS r2x
             FROM base),
      ry AS (SELECT yv, 2 * CAST(rank() OVER (ORDER BY yv) AS BIGINT)
                    + count(*) OVER (PARTITION BY yv) - 1 AS r2y
             FROM base),
      m AS (
        SELECT count(*) AS n,
               CAST(sum(r2x) AS BIGINT) AS sx,
               CAST(sum(r2y) AS BIGINT) AS sy,
               CAST(sum(r2x * r2x) AS BIGINT) AS sxx,
               CAST(sum(r2y * r2y) AS BIGINT) AS syy,
               CAST(sum(r2x * r2y) AS BIGINT) AS sxy
        FROM (SELECT b.k, x.r2x, y.r2y
              FROM base b
              JOIN (SELECT DISTINCT xv, r2x FROM rx) x ON b.xv = x.xv
              JOIN (SELECT DISTINCT yv, r2y FROM ry) y ON b.yv = y.yv))
      SELECT n, sx, sy, sxx, syy, sxy,
             ((CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)) -
              (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) *
              (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) /
             (sqrt(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) -
                (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) *
                (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) *
              sqrt(CAST(syy AS DOUBLE) / CAST(n AS DOUBLE) -
                (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) *
                (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))) AS rho
      FROM m""",
    "q_anova" -> """
      WITH g AS (
        SELECT c_nationkey AS nk, count(*) AS ng,
               CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
                 AS sg,
               CAST(sum(CAST(round(o_totalprice) AS BIGINT) *
                        CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
                 AS qg
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1),
      m AS (
        SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
               CAST(sum(sg) AS BIGINT) AS s,
               CAST(sum(qg) AS BIGINT) AS q,
               list_reduce(list(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                 / CAST(ng AS DOUBLE) ORDER BY nk), (a, b) -> a + b)
                 AS sb0
        FROM g)
      SELECT k, n,
             sb0 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
               CAST(n AS DOUBLE) AS ssb,
             CAST(q AS DOUBLE) - sb0 AS ssw,
             ((sb0 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
                 CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE)) /
             ((CAST(q AS DOUBLE) - sb0) / CAST(n - k AS DOUBLE))
               AS f_stat
      FROM m""",
    "q_best_split" -> """
      WITH cont AS (
        SELECT CAST(floor(CAST(CAST(round(c_acctbal * 100) AS BIGINT)
                 AS DOUBLE) / 50000.0) AS BIGINT) AS band,
               c_mktsegment AS seg, count(*) AS n
        FROM customer GROUP BY 1, 2),
      grid AS (
        SELECT b.band, s.seg
        FROM (SELECT DISTINCT band FROM cont) b
        CROSS JOIN (SELECT DISTINCT seg FROM cont) s),
      dense AS (
        SELECT g.band, g.seg, coalesce(c.n, 0) AS n
        FROM grid g LEFT JOIN cont c
          ON g.band = c.band AND g.seg = c.seg),
      cum AS (
        SELECT band, seg, n,
               CAST(sum(n) OVER (PARTITION BY seg ORDER BY band)
                 AS BIGINT) AS cl,
               CAST(sum(n) OVER (PARTITION BY seg) AS BIGINT) AS ct
        FROM dense),
      th AS (
        SELECT band, CAST(sum(cl) AS BIGINT) AS n_l,
               CAST(sum(cl * cl) AS BIGINT) AS ssq_l,
               CAST(sum(ct - cl) AS BIGINT) AS n_r,
               CAST(sum((ct - cl) * (ct - cl)) AS BIGINT) AS ssq_r
        FROM cum GROUP BY band),
      sc AS (
        SELECT band, n_l, n_r,
               (CAST(n_l AS HUGEINT) * n_l - ssq_l) * n_r +
               (CAST(n_r AS HUGEINT) * n_r - ssq_r) * n_l AS score_x
        FROM th WHERE n_l > 0 AND n_r > 0)
      SELECT band AS best_band, n_l, n_r,
             CAST(score_x AS DOUBLE) AS score,
             CAST(score_x AS DOUBLE) /
               CAST(CAST(n_l + n_r AS HUGEINT) * n_l * n_r AS DOUBLE)
               AS weighted_gini
      FROM sc ORDER BY score_x, band LIMIT 1""",
    "q_woe_iv" -> """
      WITH lab AS (
        SELECT CAST(floor(CAST(CAST(round(c_acctbal * 100) AS BIGINT)
                 AS DOUBLE) / 100000.0) AS BIGINT) AS band,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
                 END AS bad
        FROM orders JOIN customer ON o_custkey = c_custkey),
      bands AS (
        SELECT band, CAST(sum(1 - bad) + 1 AS BIGINT) AS ng,
               CAST(sum(bad) + 1 AS BIGINT) AS nb
        FROM lab GROUP BY band),
      tot AS (
        SELECT band, ng, nb,
               CAST(sum(ng) OVER () AS BIGINT) AS tg,
               CAST(sum(nb) OVER () AS BIGINT) AS tb
        FROM bands),
      term AS (
        SELECT band, tg, tb,
               (CAST(ng AS DOUBLE) / CAST(tg AS DOUBLE) -
                CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE)) *
               ln((CAST(ng AS DOUBLE) * CAST(tb AS DOUBLE)) /
                  (CAST(nb AS DOUBLE) * CAST(tg AS DOUBLE)))
                 AS iv_term
        FROM tot)
      SELECT count(*) AS n_bands,
             CAST(max(tg) - count(*) AS BIGINT) AS n_good,
             CAST(max(tb) - count(*) AS BIGINT) AS n_bad,
             list_reduce(list(iv_term ORDER BY band),
               (a, b) -> a + b) AS iv_nats
      FROM term""",
    "q_stream_window" -> """
      SELECT CAST(date_trunc('hour', ts) AS DATE) AS day,
             CAST(hour(date_trunc('hour', ts)) AS INT) AS hr, event_type,
             count(*) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
      FROM events GROUP BY 1, 2, 3 ORDER BY day, hr, event_type""",
    "q_stream_exec" -> """
      SELECT CAST(date_trunc('hour', ts) AS DATE) AS day,
             CAST(hour(date_trunc('hour', ts)) AS INT) AS hr, event_type,
             count(*) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
      FROM events GROUP BY 1, 2, 3 ORDER BY day, hr, event_type""",
    "q_stream_join" -> """
      SELECT v.event_id AS view_id, p.event_id AS purchase_id,
             epoch_us(p.ts) - epoch_us(v.ts) AS gap_usec
      FROM events v JOIN events p
        ON v.user_id = p.user_id
       AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 4 HOUR
      WHERE v.event_type = 'view' AND p.event_type = 'purchase'
      ORDER BY view_id, purchase_id""",
    "q_stream_outer" -> """
      WITH v AS (SELECT user_id, ts, event_id FROM events
                 WHERE event_type = 'view'),
      p AS (SELECT user_id, ts, event_id FROM events
            WHERE event_type = 'purchase'),
      matched AS (
        SELECT v.event_id AS view_id, p.event_id AS purchase_id,
               epoch_us(p.ts) - epoch_us(v.ts) AS gap_usec
        FROM v JOIN p
          ON v.user_id = p.user_id
         AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 4 HOUR),
      expired_unmatched AS (
        -- the engine's global watermark is the MIN across both
        -- watermark operators, each fed by its own FILTERED stream —
        -- so the clock is the slower of (max view ts, max purchase
        -- ts), not the raw table max
        SELECT v.event_id AS view_id,
               CAST(NULL AS BIGINT) AS purchase_id,
               CAST(NULL AS BIGINT) AS gap_usec
        FROM v
        WHERE v.ts + INTERVAL 4 HOUR <
                (SELECT least((SELECT max(ts) FROM v),
                              (SELECT max(ts) FROM p))
                        - INTERVAL 24 HOUR)
          AND NOT EXISTS (SELECT 1 FROM p
                WHERE p.user_id = v.user_id
                  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 4 HOUR))
      SELECT * FROM matched
      UNION ALL SELECT * FROM expired_unmatched
      ORDER BY view_id, purchase_id""",
    "q_bloom_join" -> """
      SELECT l_orderkey, l_linenumber, l_partkey,
             CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DOUBLE)
               / 100.0 AS price,
             o_custkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 10 = 0
      ORDER BY l_orderkey, l_linenumber, l_partkey, price""",
    // the decoded-pixel transcript reconstructed arithmetically (PNG
    // decode is lossless, so the real imageio path must produce
    // exactly this md5 per image)
    "q_image_decode" -> """
      WITH ids AS (SELECT doc_id AS m FROM documents
                   ORDER BY doc_id LIMIT 64),
      dims AS (SELECT m, CAST(16 + m % 17 AS INT) AS w,
                      CAST(16 + m % 13 AS INT) AS h FROM ids),
      px AS (SELECT m, w, h,
               string_agg(printf('%02x%02x%02x',
                 CAST((m*7 + x*3 + y*5) % 256 AS INT),
                 CAST((m*11 + x + y*2) % 256 AS INT),
                 CAST((m*13 + x*5 + y) % 256 AS INT)),
                 '' ORDER BY y, x) AS hexs
             FROM dims
             CROSS JOIN range(0, 28) ry(y)
             CROSS JOIN range(0, 32) rx(x)
             WHERE y < h AND x < w
             GROUP BY m, w, h)
      SELECT m AS media_id, w AS width, h AS height,
             md5(hexs) AS pixel_md5
      FROM px ORDER BY media_id""",
    "q_jpeg_decode" -> s"""
      SELECT media_id, width, height,
             ${(0 until 16).map(i => f"h$i%02d").mkString(", ")}
      FROM read_parquet('$jpegOraclePath/*.parquet')
      ORDER BY media_id""",
    "q_audio_decode" -> """
      WITH ids AS (SELECT doc_id AS m FROM documents
                   ORDER BY doc_id LIMIT 48),
      s AS (SELECT m, i, CAST((m*31 + i*7) % 65536 - 32768 AS INT) AS v
            FROM ids CROSS JOIN range(0, 500) r(i)
            WHERE i < 400 + m % 100)
      SELECT m AS media_id, CAST(8000 AS INT) AS sample_rate,
             count(*) AS n_frames,
             min(v) AS smin, max(v) AS smax,
             CAST(sum(v) AS BIGINT) AS ssum,
             md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY i))
               AS sample_md5
      FROM s GROUP BY m ORDER BY media_id""",
    "q_gif_frames" -> """
      WITH ids AS (SELECT doc_id AS m FROM documents
                   ORDER BY doc_id LIMIT 48),
      dims AS (SELECT m, CAST(10 + m % 7 AS INT) AS w,
                      CAST(10 + m % 5 AS INT) AS h,
                      2 + m % 4 AS nf FROM ids),
      px AS (SELECT m, f, w, h,
               string_agg(printf('%02x%02x%02x', g, g, g),
                 '' ORDER BY y, x) AS hexs
             FROM (SELECT m, f, w, h, x, y,
                     CAST((m*7 + f*31 + x*3 + y*5) % 256 AS INT) AS g
                   FROM dims
                   CROSS JOIN range(0, 5) rf(f)
                   CROSS JOIN range(0, 14) ry(y)
                   CROSS JOIN range(0, 16) rx(x)
                   WHERE f < nf AND y < h AND x < w)
             GROUP BY m, f, w, h)
      SELECT m AS media_id, f AS frame_idx, w AS width, h AS height,
             md5(hexs) AS pixel_md5
      FROM px ORDER BY media_id, frame_idx""",
    "q_video_frames" -> """
      WITH ids AS (SELECT doc_id AS m FROM documents
                   ORDER BY doc_id LIMIT 48),
      dims AS (SELECT m, CAST(10 + m % 7 AS INT) AS w,
                      CAST(10 + m % 5 AS INT) AS h,
                      2 + m % 4 AS nf FROM ids),
      px AS (SELECT m, f, w, h,
               string_agg(printf('%02x%02x%02x', g, g, g),
                 '' ORDER BY y, x) AS hexs
             FROM (SELECT m, f, w, h, x, y,
                     CAST((m*11 + f*29 + x*3 + y*5) % 256 AS INT) AS g
                   FROM dims
                   CROSS JOIN range(0, 5) rf(f)
                   CROSS JOIN range(0, 14) ry(y)
                   CROSS JOIN range(0, 16) rx(x)
                   WHERE f < nf AND y < h AND x < w)
             GROUP BY m, f, w, h)
      SELECT m AS media_id, f AS frame_idx, w AS width, h AS height,
             md5(hexs) AS pixel_md5
      FROM px ORDER BY media_id, frame_idx""",
    "q_distinct_approx" -> """
      SELECT l_returnflag,
             count(DISTINCT l_suppkey) AS supplier_cnt,
             TRUE AS within_10pct
      FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",
    "q_hll_incremental" -> """
      SELECT event_type,
             count(DISTINCT user_id) AS distinct_users,
             TRUE AS within_10pct
      FROM events GROUP BY 1 ORDER BY event_type""",
    "q_asof_time" -> """
      WITH ev AS (SELECT event_id, event_type,
                    CAST(round(value * 100) AS BIGINT) AS vc FROM events)
      SELECT event_type, count(*) AS n_events,
             CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
      FROM ev WHERE event_id % 3 = 0
      GROUP BY event_type ORDER BY event_type""",
    "q_constraint_gate" -> """
      WITH ev AS (SELECT CAST(round(value * 100) AS BIGINT) AS vc
                  FROM events)
      SELECT count(*) AS n_rows,
             CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value,
             CAST(1 AS INT) AS n_constraints, TRUE AS gate_held
      FROM ev""",
    "q_mv_refresh" -> """
      WITH ev AS (SELECT event_id, event_type,
                    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      final AS (
        SELECT event_type,
               CASE WHEN event_id % 6 = 0 THEN vc * 2 ELSE vc END AS vc
        FROM ev WHERE event_type <> 'error' AND event_id % 3 <> 2
        UNION ALL
        SELECT event_type, vc FROM ev
        WHERE event_type <> 'error' AND event_id % 3 = 2)
      SELECT event_type, count(*) AS n_rows,
             CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value,
             CAST(max(vc) AS DOUBLE) / 100.0 AS max_value
      FROM final GROUP BY event_type ORDER BY event_type""",
    "q_medallion_e2e" -> """
      WITH ev AS (SELECT event_id, event_type,
                    CAST(round(value * 100) AS BIGINT) AS vc FROM events)
      SELECT event_type, count(*) AS n_events,
             CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
      FROM ev WHERE event_type <> 'click'
      GROUP BY event_type ORDER BY event_type""",
    "q_countmin" -> s"""
      WITH tok AS (SELECT unnest($toks) AS tok FROM documents),
      cnt AS (SELECT tok, count(*) AS exact FROM tok GROUP BY tok),
      cells AS (SELECT tok, exact, r,
                  ('0x' || substr(md5(CAST(r AS VARCHAR) || tok), 1, 15))
                    ::BIGINT % 256 AS b
                FROM cnt CROSS JOIN range(0, 4) t(r)),
      counters AS (SELECT r, b, CAST(sum(exact) AS BIGINT) AS cnt
                   FROM cells GROUP BY r, b)
      SELECT tok, CAST(max(exact) AS BIGINT) AS exact,
             CAST(min(cnt) AS BIGINT) AS cms_est
      FROM cells JOIN counters USING (r, b)
      GROUP BY tok ORDER BY tok""",
    "q_quantile_approx" -> """
      WITH c AS (SELECT o_orderpriority AS pri,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   o_orderkey
                 FROM orders),
      r AS (SELECT pri, cents,
              row_number() OVER (PARTITION BY pri
                ORDER BY cents, o_orderkey) AS rn,
              count(*) OVER (PARTITION BY pri) AS n
            FROM c)
      SELECT pri, CAST(max(n) AS BIGINT) AS n,
             CAST(min(CASE WHEN rn * 2 >= n THEN cents END) AS DOUBLE)
               / 100.0 AS p50,
             CAST(min(CASE WHEN rn * 10 >= n * 9 THEN cents END) AS DOUBLE)
               / 100.0 AS p90,
             TRUE AS ok50, TRUE AS ok90
      FROM r GROUP BY pri ORDER BY pri""")
  }
}
