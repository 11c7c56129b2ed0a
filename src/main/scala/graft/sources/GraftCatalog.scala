package graft.sources

import java.util

import org.apache.spark.sql.{Column, DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL front door for [[Versioned]] tables — a DataSource V2
  * `TableCatalog` so a SQL user reaches every snapshot capability
  * through plain query text, including Spark's native time-travel
  * syntax:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", warehouseDir)
  *   spark.sql("SELECT * FROM graft.sales")                     // head
  *   spark.sql("SELECT * FROM graft.sales VERSION AS OF 3")     // commit v3
  *   spark.sql("SELECT * FROM graft.sales TIMESTAMP AS OF '…'") // as-of
  * }}}
  *
  * Identifiers map to table roots under the configured `warehouse`
  * directory (`graft.ns.t` → `<warehouse>/ns/t`). `loadTable` pins the
  * version AT RESOLUTION time — every query is a consistent snapshot
  * even while commits race it, the same guarantee [[Versioned.read]]
  * gives the Scala API.
  *
  * Execution reuses the snapshot read's DISTRIBUTED plan instead of
  * re-deriving one: every table here reads through one [[V1Scan]]
  * bridge ([[GraftCatalog.frameScan]]); for a versioned table its
  * relation builds `Versioned.read(...)` or one of its pruned reads
  * ([[VersionedPrune]]) — the union of explicit-schema parquet scans,
  * deletion vectors applied inside them — so DV-masked and evolved
  * snapshots are exactly as correct through SQL as through the Scala
  * API, and the physical work stays whole-stage-codegen parquet
  * batches on executors (the RDD handoff carries no driver
  * materialization). Filter and column pushdown are real: the V2
  * pushdown calls land on the inner DataFrame, where Catalyst pushes
  * them into the parquet readers ([[translateFilter]] covers the
  * standard `sources.Filter` algebra; anything it can't express is
  * rejected back to Spark, which keeps it on top — double-filtering
  * safe, never wrong).
  *
  * Writes: `INSERT INTO` / `INSERT OVERWRITE` are supported and go
  * THROUGH [[Versioned.commit]] — the V1 write bridge's
  * `InsertableRelation` hands the fully-resolved micro-plan to the
  * same commit path every Scala caller uses, so SQL inserts get the
  * identical arbiter race loop, constraint enforcement, schema
  * drift/widening ledger, column-mapping physical naming, and change
  * feed. `ALTER TABLE … ADD/RENAME/DROP COLUMN` statements map onto
  * ONE guarded [[Versioned.alterColumns]] metadata commit (all
  * changes validated before any publish — a failing change mid-list
  * leaves the table untouched, never partially altered).
  *
  * Row-level DML — `DELETE FROM` / `UPDATE` / `MERGE INTO` — executes
  * through the engine's merge-on-read primitives with
  * batch-proportional write amplification; see [[GraftSqlDml]].
  * `CREATE TABLE` / CTAS / `DROP TABLE` / `ALTER TABLE RENAME TO` are
  * full citizens too: create publishes a schema-only v0 commit (CTAS
  * then INSERTs through the same V1 bridge), drop removes the table
  * tree, rename moves the table directory.
  *
  * Metadata tables (Iceberg/Delta convention): `g.t.history` — the
  * commit ledger ([[Versioned.history]]: DESCRIBE HISTORY as a
  * queryable table) — and `g.t.changes` — the stored change-data feed
  * (batch: [[Versioned.readChanges]] over the retained range;
  * streaming via `spark.readStream.table("g.t.changes")` when
  * [[graft.plans.GraftExtensions]] is registered, see
  * [[GraftStreamRewrite]]). A real table named `history`/`changes`
  * wins over the metadata view.
  */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ViewCatalog {
  private var catName: String = _
  private var warehouse: String = _

  // ------------------------------------------------------------ views
  // PERSISTENT VIEWS in warehouse metadata: `CREATE VIEW g.ns.v AS …`
  // stores one JSON file `<warehouse>/ns/_views/<v>.json` (the
  // `_views` container can never collide with a table — tables are
  // DIRECTORIES carrying a `_versions` ledger) holding the view text
  // plus the analysis context Spark's view resolution replays (the
  // defining catalog/namespace, the analyzed schema, column names).
  // Resolution is the ANALYZER's own V2 view path: loadView hands the
  // stored definition back and Spark re-parses the text per query, so
  // a view over a versioned table pins the table's CURRENT head at
  // each query (snapshot-consistent like any read), and a view text
  // carrying `VERSION AS OF` stays pinned forever (time-travel-safe).
  // Create is atomic (CREATE_NEW write — racing creators lose loudly).

  private def viewsDir(namespace: Array[String]): java.nio.file.Path =
    nsDir(namespace).resolve("_views")

  private def viewPath(ident: Identifier): java.nio.file.Path =
    viewsDir(ident.namespace())
      .resolve(GraftCatalog.checkSegment(ident.name()) + ".json")

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    val dir = viewsDir(ns)
    if (!java.nio.file.Files.isDirectory(dir)) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Identifier]
    val s = java.nio.file.Files.list(dir)
    try s.forEach { p =>
      val n = p.getFileName.toString
      if (n.endsWith(".json"))
        out += Identifier.of(ns, n.stripSuffix(".json"))
    } finally s.close()
    out.sortBy(_.name()).toArray
  }

  override def viewExists(ident: Identifier): Boolean =
    java.nio.file.Files.isRegularFile(viewPath(ident))

  override def loadView(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.View = {
    val p = viewPath(ident)
    if (!java.nio.file.Files.isRegularFile(p))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident)
    val m = ManifestJson.parseObject(
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    def strs(k: String): Array[String] =
      m.getOrElse(k, List.empty[Any]).asInstanceOf[List[Any]]
        .map(_.asInstanceOf[String]).toArray
    new org.apache.spark.sql.connector.catalog.View {
      override def name(): String = s"$catName.${ident.toString}"
      override def query(): String = m("sql").asInstanceOf[String]
      override def currentCatalog(): String =
        m("currentCatalog").asInstanceOf[String]
      override def currentNamespace(): Array[String] =
        strs("currentNamespace")
      override def schema(): StructType = StructType.fromDDL(
        new String(java.util.Base64.getDecoder.decode(
          m("schemaB64").asInstanceOf[String]), "UTF-8"))
      override def queryColumnNames(): Array[String] =
        strs("queryColumnNames")
      override def columnAliases(): Array[String] =
        strs("columnAliases")
      override def columnComments(): Array[String] =
        strs("columnComments")
      override def properties(): util.Map[String, String] = {
        val out = new java.util.HashMap[String, String]()
        m.getOrElse("properties", Map.empty[String, Any])
          .asInstanceOf[Map[String, Any]]
          .foreach { case (k, v) =>
            out.put(k, v.asInstanceOf[String]): Unit }
        out
      }
    }
  }

  /** The persisted view-metadata JSON for `info`. */
  private def viewBody(
      info: org.apache.spark.sql.connector.catalog.ViewInfo): String = {
    def arr(xs: Array[String]): String =
      xs.map(ManifestJson.quote).mkString("[", ",", "]")
    import scala.jdk.CollectionConverters._
    s"""{"sql":${ManifestJson.quote(info.sql())},""" +
      s""""currentCatalog":${ManifestJson.quote(info.currentCatalog())},""" +
      s""""currentNamespace":${arr(info.currentNamespace())},""" +
      s""""schemaB64":"${java.util.Base64.getEncoder.encodeToString(
        info.schema().toDDL.getBytes("UTF-8"))}",""" +
      s""""queryColumnNames":${arr(info.queryColumnNames())},""" +
      s""""columnAliases":${arr(info.columnAliases())},""" +
      s""""columnComments":${arr(info.columnComments())},""" +
      s""""properties":{${info.properties().asScala.toSeq.sortBy(_._1)
        .map { case (k, v) =>
          s"${ManifestJson.quote(k)}:${ManifestJson.quote(v)}" }
        .mkString(",")}}}"""
  }

  override def createView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View = {
    val ident = info.ident()
    if (Versioned.latestVersion(pathOf(ident)) >= 0)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (ident.namespace() :+ ident.name()).toIndexedSeq)
    val p = viewPath(ident)
    java.nio.file.Files.createDirectories(p.getParent): Unit
    try java.nio.file.Files.write(p, viewBody(info).getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW): Unit
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.spark.sql.catalyst.analysis
          .ViewAlreadyExistsException(ident)
    }
    loadView(ident)
  }

  override def replaceView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo,
      orCreate: Boolean)
      : org.apache.spark.sql.connector.catalog.View = {
    // CREATE OR REPLACE: last writer wins on the single metadata
    // file. The new body lands in a temp sibling and MOVES onto the
    // target atomically — a concurrent reader sees either the old or
    // the new metadata, never a missing file (the delete+CREATE_NEW
    // form had a window where readers got NoSuchViewException and a
    // racing creator made the replace itself fail).
    val ident = info.ident()
    if (Versioned.latestVersion(pathOf(ident)) >= 0)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (ident.namespace() :+ ident.name()).toIndexedSeq)
    val p = viewPath(ident)
    if (!orCreate && !java.nio.file.Files.isRegularFile(p))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident)
    java.nio.file.Files.createDirectories(p.getParent): Unit
    val tmp = java.nio.file.Files.createTempFile(p.getParent,
      s".${p.getFileName}", ".tmp")
    java.nio.file.Files.write(tmp, viewBody(info).getBytes("UTF-8")): Unit
    try java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    catch { case e: Throwable =>
      java.nio.file.Files.deleteIfExists(tmp): Unit
      throw e
    }
    loadView(ident)
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View =
    throw new UnsupportedOperationException(
      "GraftCatalog: ALTER VIEW properties are not supported — " +
        "CREATE OR REPLACE the view")

  override def dropView(ident: Identifier): Boolean =
    java.nio.file.Files.deleteIfExists(viewPath(ident))

  override def renameView(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val src = viewPath(oldIdent)
    if (!java.nio.file.Files.isRegularFile(src))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(oldIdent)
    val dst = viewPath(newIdent)
    if (java.nio.file.Files.exists(dst))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(newIdent)
    java.nio.file.Files.createDirectories(dst.getParent): Unit
    java.nio.file.Files.move(src, dst): Unit
  }

  // ------------------------------------------------------- namespaces
  // A namespace is a warehouse subdirectory that is not itself a
  // table (tables carry a `_versions` ledger). This unlocks the SQL
  // session verbs a catalog-only user needs — `USE g`,
  // `SHOW NAMESPACES`, `CREATE NAMESPACE g.ns` before a CTAS into
  // it — with the same safety stance as dropTable: namespace DROP
  // only removes EMPTY directories (no cascade through this surface;
  // drop the tables first, deliberately).

  private def nsDir(namespace: Array[String]): java.nio.file.Path =
    java.nio.file.Paths.get((warehouse +:
      namespace.toIndexedSeq.map(GraftCatalog.checkSegment)).mkString("/"))

  private def isTableDir(p: java.nio.file.Path): Boolean =
    java.nio.file.Files.isDirectory(p.resolve("_versions"))

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    val dir = nsDir(namespace)
    if (!java.nio.file.Files.isDirectory(dir))
      throw new NoSuchNamespaceException(namespace)
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    val s = java.nio.file.Files.list(dir)
    try s.forEach { p =>
      if (java.nio.file.Files.isDirectory(p) && !isTableDir(p))
        out += (namespace :+ p.getFileName.toString)
    } finally s.close()
    out.toArray
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (namespace.nonEmpty && (!java.nio.file.Files.isDirectory(
        nsDir(namespace)) || isTableDir(nsDir(namespace))))
      throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (java.nio.file.Files.isDirectory(nsDir(namespace)))
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(namespace)
    java.nio.file.Files.createDirectories(nsDir(namespace)): Unit
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "GraftCatalog: namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val dir = nsDir(namespace)
    if (!java.nio.file.Files.isDirectory(dir)) return false
    if (isTableDir(dir)) throw new NoSuchNamespaceException(namespace)
    val empty = { val s = java.nio.file.Files.list(dir)
      try !s.iterator().hasNext finally s.close() }
    if (!empty) throw new UnsupportedOperationException(
      "GraftCatalog: namespace is not empty — DROP its tables first " +
        "(cascade through the namespace surface is refused on purpose)")
    java.nio.file.Files.delete(dir)
    true
  }

  /** SQL maintenance verbs (`CALL <cat>.system.compact/vacuum/
    * restore/clone/repair_feed/add_constraint` — see
    * [[GraftProcedures]]): each maps 1:1 onto the engine entry point
    * the Scala API uses, guards included. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures
        .UnboundProcedure =
    GraftProcedures.load(warehouse, ident)

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] = GraftProcedures.list(namespace)

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("warehouse")).getOrElse(sys.error(
      s"GraftCatalog '$name' needs spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catName

  private def pathOf(ident: Identifier): String =
    (warehouse +: (ident.namespace() :+ ident.name()).toIndexedSeq
      .map(GraftCatalog.checkSegment)).mkString("/")

  private def tableAt(ident: Identifier, version: Int): Table = {
    val spark = SparkSession.active
    new VersionedSqlTable(s"$catName.${ident.toString}",
      pathOf(ident), version,
      Versioned.schemaAt(spark, pathOf(ident), version))
  }

  /** Head read — the version pins here, at resolution. Error surface
    * is deliberate: a missing `_versions` ledger is NoSuchTable; a
    * corrupt ledger, a permissions failure, or any other read error
    * RETHROWS (masking them as "table not found" sent the operator
    * hunting the wrong bug); `<table>.history` / `<table>.changes`
    * resolve as metadata tables when the prefix is a table. */
  override def loadTable(ident: Identifier): Table = {
    GraftCatalog.ensureDmlStrategy(SparkSession.active)
    val head = Versioned.latestVersion(pathOf(ident))
    if (head >= 0) return tableAt(ident, head)
    // a stored VIEW reads as a read-only table (the analyzer's own
    // V2 view resolution is absent in stock Spark — see
    // [[GraftViewRules]]); a real table of the same name always wins
    // (createView refuses the collision at create time)
    if (viewExists(ident))
      return new ViewSqlTable(s"$catName.${ident.toString}",
        loadView(ident))
    if (ident.namespace().nonEmpty) {
      val parentPath = (warehouse +: ident.namespace()).mkString("/")
      val parentHead = Versioned.latestVersion(parentPath)
      if (parentHead >= 0) {
        val parentName = s"$catName.${ident.namespace().mkString(".")}"
        ident.name().toLowerCase(java.util.Locale.ROOT) match {
          case "history" =>
            return new HistorySqlTable(s"$parentName.history", parentPath)
          case "files" =>
            return new FilesSqlTable(s"$parentName.files", parentPath)
          case "partitions" =>
            return new PartitionsSqlTable(s"$parentName.partitions",
              parentPath)
          case "changes" =>
            return new ChangesSqlTable(s"$parentName.changes",
              parentPath,
              Versioned.oldestRetainedVersion(parentPath), parentHead,
              Versioned.schemaAt(SparkSession.active, parentPath,
                parentHead))
          case _ => ()
        }
      }
    }
    throw new NoSuchTableException(ident)
  }

  /** `VERSION AS OF <n>` — Spark hands the literal as a string. A
    * missing table is NoSuchTable; an out-of-range or vacuumed
    * version is ITS OWN error naming the retained range (not "table
    * not found" — the table exists, the version doesn't). */
  override def loadTable(ident: Identifier, version: String): Table = {
    GraftCatalog.ensureDmlStrategy(SparkSession.active)
    val v = try version.toInt catch {
      case _: NumberFormatException => sys.error(
        s"GraftCatalog: VERSION AS OF wants the integer commit " +
          s"version, got '$version'")
    }
    val path = pathOf(ident)
    val head = Versioned.latestVersion(path)
    if (head < 0) throw new NoSuchTableException(ident)
    if (!Versioned.versionExists(path, v)) sys.error(
      s"GraftCatalog: version $v of ${ident.toString} does not exist " +
        s"(retained range: ${Versioned.oldestRetainedVersion(path)}" +
        s"..$head — older versions may have been vacuumed)")
    tableAt(ident, v)
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands MICROseconds since epoch;
    * manifests stamp millis. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    tableAt(ident, Versioned.versionAt(pathOf(ident), timestamp / 1000L))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsDir(namespace)
    if (!java.nio.file.Files.isDirectory(dir))
      throw new NoSuchNamespaceException(namespace)
    val out = scala.collection.mutable.ArrayBuffer.empty[Identifier]
    val s = java.nio.file.Files.list(dir)
    try s.forEach { p =>
      if (java.nio.file.Files.isDirectory(p.resolve("_versions")))
        out += Identifier.of(namespace, p.getFileName.toString)
    } finally s.close()
    out.toArray
  }

  /** CREATE TABLE: a schema-only v0 commit (an empty staged data dir
    * under the declared schema — the ledger, constraints, and every
    * read path treat it like any other version), so a SQL session can
    * birth a table it then INSERTs into / ALTERs; CTAS rides the same
    * path (Spark creates, then INSERTs through the V1 write bridge).
    * Fields normalize to nullable — the versioned read null-fills
    * evolved columns, so table-level NOT NULL would be unenforceable
    * history-wide; declare quality gates as CHECK constraints
    * ([[Versioned.addConstraint]]) instead.
    *
    * `PARTITIONED BY (…)` — any mix of identity columns and time
    * transforms (`days(ts)` / `months` / `years` / `hours`), in
    * order — records the rendered spec as the `partCol` table
    * property in the birth manifest: every INSERT then routes through
    * [[Versioned.commitPartitionedSpec]] (its data dir lands
    * hive-laid-out with the per-dir spec recorded), and catalog SQL
    * reads partition-prune whole directories before any file IO
    * ([[VersionedPrune]]): equality/IN on an identity column, and
    * timestamp/date RANGE predicates on a transformed column (the
    * daily-partitioned 100 TB layout's canonical query). Partitioning
    * stays PER-COMMIT underneath (partition evolution intact — the
    * property is write policy, not a retroactive layout claim);
    * bucket and other transforms are rejected loudly. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // mirror of createView's table-collision check: a table silently
    // shadowing an existing view (loadTable prefers tables) would
    // orphan the _views entry
    if (viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(ident)
    def canonCol(t: Transform): String = {
      require(t.references().length == 1 &&
        t.references()(0).fieldNames().length == 1,
        s"GraftCatalog: PARTITIONED BY ${t.describe()} must reference " +
          "exactly one top-level column")
      val c = t.references()(0).fieldNames()(0)
      // store the SCHEMA's canonical spelling: the write path
      // matches it against the aligned insert frame's columns
      val canon = schema.fields.find(f =>
        f.name.toLowerCase(java.util.Locale.ROOT) ==
          c.toLowerCase(java.util.Locale.ROOT))
      require(canon.isDefined,
        s"GraftCatalog: PARTITIONED BY ($c) names no table column")
      canon.get.name
    }
    val spec: Seq[Versioned.PartField] = partitions.toIndexedSeq.map {
      case t if t.name == "identity" =>
        Versioned.PartField(canonCol(t), None)
      case t if Versioned.PartUnits.contains(t.name) =>
        val c = canonCol(t)
        val dt = schema.fields.find(_.name == c).get.dataType
        require(Seq(org.apache.spark.sql.types.TimestampType,
            org.apache.spark.sql.types.TimestampNTZType,
            org.apache.spark.sql.types.DateType).contains(dt),
          s"GraftCatalog: PARTITIONED BY ${t.name}($c) needs a " +
            s"timestamp/date column, got ${dt.sql}")
        Versioned.PartField(c, Some(t.name))
      case t if t.name == "bucket" =>
        // `PARTITIONED BY (bucket(16, k))` — hash-bucket dir layout
        // ([[Versioned.bucketModulus]]): point reads on `k` walk one
        // bucket dir in n, the join-locality story for
        // high-cardinality keys identity layout cannot carry
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value().isInstanceOf[Number] =>
            l.value().asInstanceOf[Number].intValue()
        }.getOrElse(throw new UnsupportedOperationException(
          s"GraftCatalog: PARTITIONED BY ${t.describe()} needs a " +
            "literal bucket count — bucket(<n>, <col>)"))
        require(n > 0 && n <= (1 << 20),
          s"GraftCatalog: bucket count must be in 1..2^20, got $n")
        Versioned.PartField(canonCol(t), Some(s"bucket$n"))
      case other => throw new UnsupportedOperationException(
        s"GraftCatalog: PARTITIONED BY ${other.describe()} is not " +
          "supported — identity columns, days/months/years/hours " +
          "time transforms, and bucket(n, col) hash buckets only")
    }
    val path = pathOf(ident)
    if (Versioned.latestVersion(path) >= 0)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (ident.namespace() :+ ident.name()).toIndexedSeq)
    val spark = SparkSession.active
    // recursively nullable: nested fields null-fill under evolution
    // exactly like top-level ones, so nested NOT NULL is equally
    // unenforceable history-wide
    val norm = StructType(schema.fields.map(f => f.copy(
      nullable = true, dataType = Versioned.asNullable(f.dataType))))
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), norm)
    Versioned.commitWithProps(empty, path, overwrite = false,
      props = if (spec.isEmpty) Map.empty
        else Map("partCol" -> Versioned.renderPartSpec(spec))): Unit
    loadTable(ident)
  }

  /** SQL schema evolution — `ALTER TABLE … ADD/RENAME/DROP COLUMN(S)`
    * becomes ONE [[Versioned.alterColumns]] metadata commit: every
    * change in the statement is validated against the evolving schema
    * BEFORE anything publishes, so a failing change mid-list leaves
    * the table untouched (no partially applied ALTER), and the whole
    * statement lands atomically under the usual race loop. NOT NULL
    * adds are rejected loudly (existing rows would null-fill the new
    * column — silently making it nullable lied about the contract).
    * Everything else (SET properties, type changes — widening happens
    * implicitly at data commits) is unsupported and loud. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val path = pathOf(ident)
    // multi-part field names address STRUCT fields (`meta.flag`) —
    // the dotted-path grammar [[Versioned.alterColumns]] resolves;
    // a name segment containing a literal '.' cannot be addressed
    // (rejected there as a missing path level, never mis-routed)
    def dotted(fieldNames: Array[String]): String =
      fieldNames.mkString(".")
    val ops: Seq[Versioned.ColumnOp] = changes.map {
      case add: TableChange.AddColumn =>
        require(add.isNullable,
          s"GraftCatalog: ADD COLUMN ${dotted(add.fieldNames())} NOT " +
            "NULL is not supported — existing rows null-fill a new " +
            "column, so the constraint would be violated at birth; " +
            "add it nullable, backfill, then add a CHECK constraint")
        Versioned.ColumnOp.Add(dotted(add.fieldNames()),
          add.dataType().sql)
      case ren: TableChange.RenameColumn =>
        Versioned.ColumnOp.Rename(dotted(ren.fieldNames()),
          ren.newName())
      case del: TableChange.DeleteColumn =>
        Versioned.ColumnOp.Drop(dotted(del.fieldNames()))
      case upd: TableChange.UpdateColumnType =>
        // `ALTER TABLE … ALTER COLUMN … TYPE` — and the analyzer's
        // MERGE … WITH SCHEMA EVOLUTION when the source column is
        // wider: lossless widenings are metadata commits (the guard
        // lives in [[Versioned.ColumnOp.Widen]]); anything else is
        // loudly rejected there
        Versioned.ColumnOp.Widen(dotted(upd.fieldNames()),
          upd.newDataType().sql)
      case other => throw new UnsupportedOperationException(
        s"GraftCatalog: unsupported ALTER TABLE change $other — " +
          "constraints via Versioned.addConstraint")
    }.toSeq
    Versioned.alterColumns(path, ops): Unit
    loadTable(ident)
  }

  /** DROP TABLE: removes the table tree. Only directories that ARE
    * versioned tables (carry a `_versions` ledger) are ever deleted —
    * anything else returns false, so the catalog can never be used to
    * remove an arbitrary directory. */
  override def dropTable(ident: Identifier): Boolean = {
    val path = pathOf(ident)
    if (Versioned.latestVersion(path) < 0) return false
    val root = java.nio.file.Paths.get(path)
    java.nio.file.Files.walk(root)
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p): Unit })
    true
  }

  /** RENAME TABLE: one directory move. Data files, the ledger, DV
    * masks, and the change feed all travel together because every
    * path in the format is TABLE-RELATIVE (the same property that
    * makes [[Versioned.cloneTable]] links safe). */
  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val oldPath = pathOf(oldIdent)
    val newPath = pathOf(newIdent)
    if (Versioned.latestVersion(oldPath) < 0)
      throw new NoSuchTableException(oldIdent)
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(newPath)))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (newIdent.namespace() :+ newIdent.name()).toIndexedSeq)
    val dst = java.nio.file.Paths.get(newPath)
    if (dst.getParent != null)
      java.nio.file.Files.createDirectories(dst.getParent): Unit
    java.nio.file.Files.move(java.nio.file.Paths.get(oldPath), dst): Unit
  }
}

/** One pinned snapshot (table path + commit version) as a V2 table.
  * Reads serve the PINNED version (snapshot-consistent per query);
  * writes always commit against the live head — the commit loop
  * re-reads it, exactly like the Scala API.
  *
  * Row-level SQL: [[SupportsDelete]] routes translatable
  * `DELETE FROM … WHERE` predicates onto [[Versioned.deleteWhereDV]]
  * (merge-on-read: a mask write proportional to the deleted rows,
  * zero data files rewritten) — UPDATE / MERGE INTO and
  * untranslatable deletes go through the [[GraftSqlDml]] planner
  * strategy. `TRUNCATE TABLE` is one empty overwrite commit (O(1)
  * metadata — NOT a whole-table deletion mask). */
private[sources] final class VersionedSqlTable(ident: String,
    val path: String, val pinned: Int, tableSchema: StructType)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  override def name(): String = ident
  override def schema(): StructType = tableSchema
  override def version(): String = pinned.toString

  /** The table's declared partition POLICY (`partCol` props —
    * CREATE TABLE … PARTITIONED BY) as DSv2 transforms, so SQL's
    * `PARTITION (col=value)` clauses resolve against it (Spark
    * validates static partition specs against identity transform
    * references) and DESCRIBE shows the layout. Time transforms
    * surface as their Spark forms (`days(ts)` …); identity columns
    * as themselves. */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    Versioned.tableProps(path, Some(pinned)).get("partCol") match {
      case None => Array.empty
      case Some(s) =>
        import org.apache.spark.sql.connector.expressions.Expressions
        Versioned.parsePartSpec(s).map { f =>
          f.unit match {
            case None => Expressions.identity(f.col)
            case Some("days") => Expressions.days(f.col)
            case Some("months") => Expressions.months(f.col)
            case Some("years") => Expressions.years(f.col)
            case Some("hours") => Expressions.hours(f.col)
            case Some(u) if Versioned.bucketModulus(u).isDefined =>
              Expressions.bucket(Versioned.bucketModulus(u).get, f.col)
            case Some(u) => sys.error(
              s"versioned table $ident: unknown partition transform '$u'")
          }
        }.toArray
    }

  override def capabilities(): util.Set[TableCapability] =
    // V1_BATCH_WRITE (not BATCH_WRITE): the batch write IS a V1Write
    // bridge — Spark's exec path calls toInsertableRelation only
    // when the table declares the V1 capability. STREAMING_WRITE is
    // the real DSv2 streaming path (writeStream.toTable →
    // [[graft.streaming.StreamTableSink.VersionedStreamingWrite]]).
    // AUTOMATIC_SCHEMA_EVOLUTION opts into the analyzer's
    // ResolveMergeIntoSchemaEvolution for `MERGE … WITH SCHEMA
    // EVOLUTION`: Spark diffs source vs target schema and routes the
    // changes through [[GraftCatalog.alterTable]] — the engine's own
    // guarded alterColumns/widening ledger — before resolving the
    // merge, so the CDC-mirror idiom survives upstream schema drift
    // with zero new commit machinery (see [[GraftSqlDml]]).
    // OVERWRITE_BY_FILTER routes `INSERT OVERWRITE … PARTITION (…)`
    // and DataFrameWriterV2.overwrite(cond) through the write
    // builder's SupportsOverwrite onto [[Versioned.replaceWhere]] —
    // the predicate-scoped atomic replace; a bare INSERT OVERWRITE
    // still truncates (AlwaysTrue → the overwrite commit).
    // OVERWRITE_DYNAMIC: `INSERT OVERWRITE` under
    // partitionOverwriteMode=dynamic / writerV2.overwritePartitions()
    // plans OverwritePartitionsDynamic (no V1 fallback exists), so
    // the builder's real BatchWrite ([[DynamicOverwriteBatch]]) stages
    // on executors and commits through [[Versioned.replaceDynamic]].
    // BATCH_WRITE rides along because TableCapabilityCheck demands it
    // literally for dynamic overwrite — appends/truncates still run
    // the V1 bridge (exec choice keys on the returned V1Write, and
    // the builder's toBatch is loud for anything but dynamic).
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.STREAMING_WRITE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    GraftCatalog.frameScan(tableSchema, s"graft-versioned $path v$pinned",
      GraftCatalog.translateFilter(_).isDefined,
      Some(() => Versioned.versionBytes(path, pinned))) {
      (spark, accepted) => new VersionedPrune(path, pinned, accepted).read(spark)
    }

  override def newWriteBuilder(
      infoArg: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new VersionedWriteBuilder(path, infoArg)

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftCatalog.translateFilter(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    val pred = filters.toIndexedSeq
      .flatMap(GraftCatalog.translateFilter)
      .reduceOption(_ && _).getOrElse(lit(true))
    Versioned.deleteWhereDV(SparkSession.active, path, pred): Unit
  }

  override def truncateTable(): Boolean = {
    val spark = SparkSession.active
    // the ledger's schema, metadata-only: no snapshot read is planned
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      Versioned.schemaAt(spark, path, Versioned.latestVersion(path)))
    Versioned.commit(empty, path, overwrite = true): Unit
    true
  }
}

/** `<table>.history` — [[Versioned.history]] (the commit ledger) as a
  * read-only SQL table: DESCRIBE HISTORY for this format. The frame
  * is ledger-sized (one row per commit, never data-sized), so the
  * scan carries no pushdown surface. */
private[sources] final class HistorySqlTable(ident: String,
    val path: String) extends Table with SupportsRead {
  private val historySchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("version",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("ts_millis",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("mode",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("txn",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_data_dirs",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("n_dv_dirs",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("n_constraints",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("schema_ddl",
      org.apache.spark.sql.types.StringType)))
  override def name(): String = ident
  override def schema(): StructType = historySchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    GraftCatalog.frameScan(historySchema, s"graft-history $path") {
      (spark, _) => Versioned.history(spark, path)
    }
}

/** `<table>.files` — the head snapshot's physical file inventory as
  * a SQL table (one row per data file: dir id, dir-relative path,
  * size, partition spec). The scan bridges to
  * [[Versioned.filesDetailPruned]], which reads each dir's
  * `_files.json`, and PUSHES DOWN the filters the manifest itself can
  * answer: `dir_id` equality/IN and `part_spec`
  * equality/IN/prefix(LIKE 'x%') become a DIRECTORY-LIST filter, so
  * `SELECT sum(size_bytes) FROM t.files WHERE part_spec LIKE
  * 'days%'` opens only matching dirs' file manifests. Accepted
  * filters still re-apply row-level; everything else is rejected back
  * to Spark. Dir accounting lands in [[GraftCatalog.lastFilesScan]]. */
private[sources] final class FilesSqlTable(ident: String, path: String)
    extends Table with SupportsRead {
  private val filesSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("dir_id",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("file",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("size_bytes",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("part_spec",
      org.apache.spark.sql.types.StringType)))
  override def name(): String = ident
  override def schema(): StructType = filesSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    GraftCatalog.frameScan(filesSchema, s"graft-files $path",
      f => dirLevel(f) || GraftCatalog.translateFilter(f).isDefined) {
      (spark, accepted) =>
        // conjunction-only and an exact dir gate: both columns are
        // per-dir constants of the MANIFEST's (dirId, partSpec) pairs
        def dirPred(id: String, spec: String): Boolean = {
          def of(a: String) = if (a.equalsIgnoreCase("dir_id")) id else spec
          accepted.filter(dirLevel).forall {
            case sources.EqualTo(a, v: String) => of(a) == v
            case sources.In(a, vs) => vs.contains(of(a))
            case sources.StringStartsWith(a, v) => of(a).startsWith(v)
            case _ => true
          }
        }
        val (df, walked, total) =
          Versioned.filesDetailPruned(spark, path, dirPred)
        GraftCatalog.lastFilesScan.set((path, walked, total))
        df
    }

  /** `dir_id` / `part_spec` equality, IN and prefix — the filters the
    * manifest answers before any file manifest is read. */
  private def dirLevel(f: Filter): Boolean = f match {
    case sources.EqualTo(a, _: String) => dirCol(a)
    case sources.In(a, vs) =>
      vs.nonEmpty && vs.forall(_.isInstanceOf[String]) && dirCol(a)
    case sources.StringStartsWith(a, _) => dirCol(a)
    case _ => false
  }

  private def dirCol(a: String): Boolean =
    Seq("dir_id", "part_spec").contains(a.toLowerCase(java.util.Locale.ROOT))
}

/** `<table>.partitions` — SHOW PARTITIONS for this format: one row
  * per (partition spec, partition value) of the head snapshot with
  * its file count, byte size, and the number of commits (dirs)
  * contributing — the operator's first question on a partitioned
  * table ("how big is each day, and how fragmented?"). DERIVED from
  * the same file manifests as `<t>.files` (the aggregate is
  * partitions-sized); unpartitioned dirs
  * aggregate under a NULL spec/value row. Hive subtree renderings
  * (`region=EU`, `ts__days=2024-01-15/region=EU`) are the values —
  * exactly the directory names pruning operates on. */
private[sources] final class PartitionsSqlTable(ident: String,
    path: String) extends Table with SupportsRead {
  private val partitionsSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("part_spec",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("part_value",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_files",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("size_bytes",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_dirs",
      org.apache.spark.sql.types.LongType)))
  override def name(): String = ident
  override def schema(): StructType = partitionsSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    GraftCatalog.frameScan(partitionsSchema, s"graft-partitions $path") {
      (spark, _) =>
        import org.apache.spark.sql.functions._
        val files = Versioned.filesDetail(spark, path)
        files
          .withColumn("part_value",
            // a file at a spec'd dir's ROOT derives an empty value —
            // surface NULL, not a phantom ''-named partition row
            when(col("part_spec") === "" ||
              size(split(col("file"), "/")) <= 1,
              lit(null).cast("string"))
              .otherwise(array_join(slice(split(col("file"), "/"),
                lit(1), size(split(col("file"), "/")) - 1), "/")))
          .withColumn("part_spec",
            when(col("part_spec") === "", lit(null).cast("string"))
              .otherwise(col("part_spec")))
          .groupBy("part_spec", "part_value")
          .agg(count(lit(1)).as("n_files"),
            sum("size_bytes").as("size_bytes"),
            countDistinct("dir_id").as("n_dirs"))
    }
}

/** `<table>.changes` — the STORED change-data feed as a SQL table:
  * batch reads cover the full retained feed range (pinned at
  * resolution, like every read here) and PUSH DOWN the filters the
  * feed layout `_changes/cv=N/ct=type/` indexes: `_commit_version`
  * =, >, >=, <, <= and IN narrow the version window ([[narrowing]])
  * and `_change_type` equality/IN selects `ct=` subdirs — both become
  * directory-list filters BEFORE any file IO
  * ([[Versioned.readChangesPruned]]), so the canonical "changes since
  * version N" query costs O(asked range), not O(retained feed). The
  * IN envelope is a relaxation: every accepted filter re-applies
  * row-level, and data-column filters replay onto the inner frame
  * where Catalyst pushes them into the parquet readers. The directory
  * accounting lands in [[GraftCatalog.lastChangesScan]].
  * Streaming reads (`spark.readStream.table`) route through
  * [[GraftStreamRewrite]] onto the feed's file-stream source. The
  * MICRO_BATCH_READ capability is declared so the table is
  * stream-eligible; reaching `toMicroBatchStream` without the
  * extension registered throws the pointer to it. */
private[sources] final class ChangesSqlTable(ident: String,
    val path: String, vFrom: Int, vTo: Int, tableSchema: StructType)
    extends Table with SupportsRead {
  private val feedSchema: StructType = StructType(
    tableSchema.fields.map(_.copy(nullable = true)) ++ Seq(
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType)))
  override def name(): String = ident
  override def schema(): StructType = feedSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    GraftCatalog.frameScan(feedSchema, s"graft-changes $path",
      f => narrowing(f).isDefined ||
        GraftCatalog.translateFilter(f).isDefined) { (spark, accepted) =>
      val narrow = accepted.toSeq.flatMap(narrowing)
      val lo = (vFrom.toLong +: narrow.collect { case Left((l, _)) => l }).max
      val hi = (vTo.toLong +: narrow.collect { case Left((_, h)) => h }).min
      val cts = narrow.collect { case Right(s) => s }.reduceOption(_ intersect _)
      // saturating Int clamp: a literal beyond Int range still narrows
      // soundly (versions are Ints, so > Int.MaxValue ⇒ empty range)
      def clamp(v: Long): Int =
        math.max(v, Int.MinValue.toLong).min(Int.MaxValue.toLong).toInt
      val (df, dirsRead) = Versioned.readChangesPruned(spark, path,
        clamp(lo), if (lo > hi) clamp(lo) - 1 else clamp(hi), cts)
      GraftCatalog.lastChangesScan.set(
        (path, dirsRead, Versioned.changeFeedDirCount(path, vFrom, vTo)))
      df
    }

  private def fold(s: String) = s.toLowerCase(java.util.Locale.ROOT)

  private def asVersion(v: Any): Option[Long] = v match {
    case n: java.lang.Integer => Some(n.longValue)
    case n: java.lang.Long => Some(n.longValue)
    case n: java.lang.Short => Some(n.longValue)
    case n: java.lang.Byte => Some(n.longValue)
    case _ => None
  }

  /** What `f` narrows in the feed's directory index: a
    * `_commit_version` window [lo, hi] (IN narrows to its min..max
    * envelope) or a `_change_type` set; None when it narrows
    * neither. */
  private def narrowing(f: Filter)
      : Option[Either[(Long, Long), Set[String]]] = f match {
    case sources.EqualTo(a, v) if fold(a) == "_commit_version" =>
      asVersion(v).map(n => Left((n, n)))
    case sources.GreaterThan(a, v) if fold(a) == "_commit_version" =>
      asVersion(v).map(n => Left((n + 1, Long.MaxValue)))
    case sources.GreaterThanOrEqual(a, v)
        if fold(a) == "_commit_version" =>
      asVersion(v).map(n => Left((n, Long.MaxValue)))
    case sources.LessThan(a, v) if fold(a) == "_commit_version" =>
      asVersion(v).map(n => Left((Long.MinValue, n - 1)))
    case sources.LessThanOrEqual(a, v) if fold(a) == "_commit_version" =>
      asVersion(v).map(n => Left((Long.MinValue, n)))
    case sources.In(a, vs) if fold(a) == "_commit_version" &&
        vs.nonEmpty && vs.forall(asVersion(_).isDefined) =>
      val ns = vs.toSeq.flatMap(asVersion)
      Some(Left((ns.min, ns.max)))
    case sources.EqualTo(a, v: String) if fold(a) == "_change_type" =>
      Some(Right(Set(fold(v))))
    case sources.In(a, vs) if fold(a) == "_change_type" &&
        vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
      Some(Right(vs.map(v => fold(v.asInstanceOf[String])).toSet))
    case _ => None
  }
}

/** INSERT INTO (append) / INSERT OVERWRITE (truncate) as ONE
  * [[Versioned.commit]] each — the V1 write bridge: Spark resolves
  * and aligns the query against the table schema, then hands the
  * frame to `InsertableRelation.insert`, which is exactly the Scala
  * commit path (arbiter race loop, txn ledger, constraints,
  * widening, column mapping, change feed — nothing bypassed). */
private[sources] final class VersionedWriteBuilder(path: String,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  private var overwrite = false
  // non-empty → predicate-scoped replace instead of truncate (the
  // static `INSERT OVERWRITE … PARTITION (…)` / writerV2
  // `.overwrite(cond)` path onto [[Versioned.replaceWhere]])
  private var replaceFilters: Array[Filter] = Array.empty
  override def truncate()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    overwrite = true; replaceFilters = Array.empty; this
  }
  override def canOverwrite(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftCatalog.translateFilter(f).isDefined)
  override def overwrite(filters: Array[Filter])
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val always = filters.isEmpty ||
      filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
    if (always) { overwrite = true; replaceFilters = Array.empty }
    else replaceFilters = filters
    this
  }
  private var dynamic = false
  override def overwriteDynamicPartitions()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    dynamic = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.V1Write {
      // dynamic partition overwrite has NO V1 fallback exec — this is
      // the one batch path that runs as a REAL DSv2 BatchWrite
      // (executor parquet staging, one replaceDynamic commit)
      override def toBatch
          : org.apache.spark.sql.connector.write.BatchWrite = {
        require(dynamic, s"versioned table at $path: unexpected " +
          "DSv2 batch write (only dynamic partition overwrite runs " +
          "as a real BatchWrite; appends/truncates ride the V1 bridge)")
        new DynamicOverwriteBatch(path, info.schema())
      }
      // writeStream.toTable: stage on executors, commit each epoch
      // through Versioned.commitTxn with a stream:<queryId>:<epoch>
      // token — exactly-once, every engine guard reused (see
      // graft.streaming.StreamTableSink). Complete mode arrives as
      // the truncate flag → per-epoch overwrite commits.
      override def toStreaming: org.apache.spark.sql.connector.write
          .streaming.StreamingWrite =
        new graft.streaming.StreamTableSink.VersionedStreamingWrite(
          path, info.schema(), info.queryId(), overwrite)
      override def toInsertableRelation
          : org.apache.spark.sql.sources.InsertableRelation =
        new org.apache.spark.sql.sources.InsertableRelation {
          override def insert(data: DataFrame, ow: Boolean): Unit = {
            if (replaceFilters.nonEmpty) {
              // predicate-scoped replace: ONE atomic commit drops the
              // provably-covered partition dirs, DV-masks the residue
              // row-exactly, and lands the batch under the table's
              // partition policy ([[Versioned.replaceWhere]])
              val pred = replaceFilters.toIndexedSeq
                .map(f => GraftCatalog.translateFilter(f).getOrElse(
                  sys.error(s"INSERT OVERWRITE at $path: filter $f " +
                    "is not translatable to a replace predicate")))
                .reduce(_ && _)
              Versioned.replaceWhere(data.sparkSession, path, data,
                pred, GraftCatalog.partEqsOf(replaceFilters)
                  .getOrElse(Seq.empty)): Unit
              return
            }
            // the table's declared partition policy (CREATE TABLE …
            // PARTITIONED BY) routes the insert through the
            // hive-layout commit — per-dir spec recorded, partition
            // pruning unlocked for every later read
            val part = Versioned.tableProps(path).get("partCol")
            part match {
              case Some(s) => Versioned.commitPartitionedSpec(data,
                path, Versioned.parsePartSpec(s),
                overwrite = overwrite || ow): Unit
              case None => Versioned.commit(data, path,
                overwrite = overwrite || ow): Unit
            }
          }
        }
    }
}

/** The DSv2 BatchWrite behind dynamic partition overwrite
  * (`INSERT OVERWRITE` under partitionOverwriteMode=dynamic /
  * `writerV2.overwritePartitions()`): executors stage the query's
  * rows as parquet parts through the SAME writer the streaming sink
  * uses ([[graft.streaming.StreamTableSink.StageWriterFactory]] —
  * Spark's own row codec, crash-salted file names, under the
  * `.stream_stage/` root the stage-vacuum already sweeps), and the
  * driver commits the acknowledged files as ONE
  * [[Versioned.replaceDynamic]] — the touched partitions drop/mask
  * atomically and the batch lands, every engine guard applied. The
  * stage dir is removed on commit and abort; a hard crash orphans
  * one dir for the sweeper. */
private[sources] final class DynamicOverwriteBatch(path: String,
    schema: StructType)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import graft.streaming.StreamTableSink
  private val root = StreamTableSink.stageRoot(path,
    s"batch-${java.util.UUID.randomUUID().toString.take(8)}")

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory =
    new StreamTableSink.StageWriterFactory(root, schema)

  override def commit(messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val files = messages.collect {
      case StreamTableSink.StagedFile(f) if f.nonEmpty => f }
    val spark = SparkSession.active
    try {
      val df =
        if (files.isEmpty) spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else spark.read.schema(schema).parquet(files.toIndexedSeq: _*)
      Versioned.replaceDynamic(spark, path, df): Unit
    } finally dropStage()
  }

  override def abort(messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = dropStage()

  private def dropStage(): Unit = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) return
    val w = java.nio.file.Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder())
      .forEach(q => java.nio.file.Files.deleteIfExists(q): Unit)
    finally w.close()
  }
}

/** File skipping for the versioned table's scan: picks, from the
  * filters the scan ACCEPTED, the read of the pinned snapshot that
  * skips the most IO, coarsest index first — an equality/IN on a
  * column some data dir is hive-partitioned on routes through
  * [[Versioned.readPartitionPruned]] (whole partition directories
  * skipped before any file IO), a timestamp range on a time-transform
  * column through [[Versioned.readPartitionPrunedTime]], an
  * equality/IN on a bucket column through
  * [[Versioned.readPartitionPrunedBucket]], an equality on a
  * bloom-indexed column through [[Versioned.readEqualityClustered]]
  * (files that provably lack the key skipped), and a range/equality
  * on a stats-indexed column through [[Versioned.readRangeClustered]]
  * (min/max pruning on each dir's `_files.json`) — so a SQL `WHERE k = v` or
  * `BETWEEN` skips files exactly like the Scala read paths. The skip
  * accounting lands in [[GraftCatalog.lastVersionedScan]].
  * Un-prunable shapes fall back to the plain snapshot read; the scan
  * bridge ([[GraftCatalog.frameScan]]) re-applies every accepted
  * filter row-level either way, so every branch may be a relaxation
  * (double-filtering safe). */
private[sources] final class VersionedPrune(path: String, pinned: Int,
    accepted: Array[Filter]) {

  def read(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val v = Some(pinned)
    partitionPrune().map { case (c, vals) =>
      Versioned.readPartitionPruned(spark, path, c, vals, v) }
      .orElse(transformPrune(spark).map { case (c, lo, hi) =>
        Versioned.readPartitionPrunedTime(spark, path, c, lo, hi, v) })
      .orElse(bucketPrune().map { case (c, vals) =>
        Versioned.readPartitionPrunedBucket(spark, path, c, vals, v) })
      .orElse(bloomPrune().map { case (c, value) =>
        Versioned.readEqualityClustered(spark, path, c, value, v) })
      .orElse(statsPrune().map { case (c, lo, hi) =>
        Versioned.readRangeClustered(spark, path, c, lo, hi, v) })
      .map { case (df, read, total) =>
        GraftCatalog.lastVersionedScan.set((path, read, total))
        df
      }
      .getOrElse(Versioned.read(spark, path, v))
  }

  private def fold(s: String) = s.toLowerCase(java.util.Locale.ROOT)

  /** Directory-name rendering of a pushed literal — must equal
    * `CAST(v AS STRING)` of the column value (the
    * [[Versioned.readPartitionPruned]] contract); types whose
    * rendering is ambiguous are left unpruned (never wrong, merely
    * unskipped). */
  private def renderPartVal(v: Any): Option[String] = v match {
    case null => None
    case s: String => Some(s)
    case _: java.lang.Integer | _: java.lang.Long |
         _: java.lang.Short | _: java.lang.Byte |
         _: java.lang.Boolean => Some(v.toString)
    case _ => None
  }

  /** The first accepted EQUALITY over a bloom-indexed column →
    * (logical col, probe value) — consulted when partition pruning
    * does not apply. Null probes never prune (a bloom answers
    * membership of values, not of NULL). */
  private def bloomPrune(): Option[(String, Any)] =
    accepted.iterator.collectFirst {
      case sources.EqualTo(a, v) if v != null &&
          Versioned.hasSkippingIndex(path, pinned, a, "bloom") =>
        (a, v)
    }

  /** Fold every accepted numeric comparison into per-column [lo, hi]
    * bounds (insertion-ordered), then pick the FIRST bounded column
    * that some data dir of this version stats-indexes →
    * (logical col, lo, hi). Strict bounds (`>`/`<`) are used
    * INCLUSIVELY — a relaxation that may read one extra file, never
    * skip a needed one; the exact predicate re-applies row-level.
    * Literals are compared through double like the recorded bounds
    * ([[DirFacts.rangeKeep]]); integral magnitudes beyond 2^53 are
    * left unpruned rather than risk a lossy rounding. An open side is
    * an infinite bound, which [[Versioned.readRangeClustered]] leaves
    * open. */
  private def statsPrune(): Option[(String, Double, Double)] = {
    val SAFE = 9007199254740992L // 2^53: exact in double
    def asD(v: Any): Option[Double] = v match {
      case n: java.lang.Integer => Some(n.doubleValue)
      case n: java.lang.Short => Some(n.doubleValue)
      case n: java.lang.Byte => Some(n.doubleValue)
      case n: java.lang.Float => Some(n.doubleValue)
      case n: java.lang.Double => Some(n.doubleValue)
      case n: java.lang.Long if math.abs(n.longValue) <= SAFE =>
        Some(n.doubleValue)
      case n: java.math.BigDecimal
          if n.abs.compareTo(java.math.BigDecimal.valueOf(SAFE)) <= 0 =>
        Some(n.doubleValue)
      case _ => None
    }
    val bounds = scala.collection.mutable
      .LinkedHashMap.empty[String, (Double, Double)]
    def upd(a: String, lo: Double, hi: Double): Unit = {
      val (l0, h0) = bounds.getOrElse(a,
        (Double.NegativeInfinity, Double.PositiveInfinity))
      bounds(a) = (math.max(l0, lo), math.min(h0, hi))
    }
    accepted.foreach {
      case sources.EqualTo(a, v) => asD(v).foreach(d => upd(a, d, d))
      case sources.GreaterThan(a, v) =>
        asD(v).foreach(d => upd(a, d, Double.PositiveInfinity))
      case sources.GreaterThanOrEqual(a, v) =>
        asD(v).foreach(d => upd(a, d, Double.PositiveInfinity))
      case sources.LessThan(a, v) =>
        asD(v).foreach(d => upd(a, Double.NegativeInfinity, d))
      case sources.LessThanOrEqual(a, v) =>
        asD(v).foreach(d => upd(a, Double.NegativeInfinity, d))
      case _ => ()
    }
    bounds.iterator
      .filter { case (_, (lo, hi)) =>
        lo != Double.NegativeInfinity || hi != Double.PositiveInfinity }
      .find { case (c, _) =>
        Versioned.hasSkippingIndex(path, pinned, c, "stats") }
      .map { case (c, (lo, hi)) => (c, lo, hi) }
  }

  /** The first accepted equality/IN over a column some dir of this
    * version identity-partitions on → (logical col, values). Specs
    * parse through the [[Versioned.parsePartSpec]] grammar, so
    * multi-column layouts prune on ANY of their identity columns
    * (the walker handles the nesting depth). */
  private def partitionPrune(): Option[(String, Seq[String])] = {
    val identFold = Versioned.partSpecIds(path, pinned).values
      .flatMap(Versioned.parsePartSpec).filter(_.unit.isEmpty)
      .map(f => fold(f.col)).toSet
    if (identFold.isEmpty) return None
    def specd(a: String): Boolean =
      identFold(fold(Versioned.physicalColumnName(path, pinned, a)))
    accepted.iterator.map {
      case sources.EqualTo(a, v) if specd(a) =>
        renderPartVal(v).map(s => (a, Seq(s)))
      case sources.In(a, vs) if vs.nonEmpty && specd(a) =>
        val rendered = vs.toIndexedSeq.map(renderPartVal)
        if (rendered.forall(_.isDefined)) Some((a, rendered.flatten))
        else None
      case _ => None
    }.collectFirst { case Some(x) => x }
  }

  /** Fold accepted timestamp/date comparisons into per-column
    * [lo, hi] LocalDateTime bounds (session-timezone rendering — the
    * same clock [[Versioned.commitPartitionedSpec]]'s `date_format`
    * staged the directory names under), then pick the FIRST bounded
    * column some dir of this version TIME-TRANSFORM-partitions on
    * (`days(ts)`-style) → (logical col, lo, hi). Strict bounds are
    * used inclusively and the kept boundary directories can hold rows
    * outside the exact instant range — both are RELAXATIONS; the
    * accepted filters re-apply row-level after the read. */
  private def transformPrune(
      spark: org.apache.spark.sql.SparkSession)
      : Option[(String, java.time.LocalDateTime,
        java.time.LocalDateTime)] = {
    val transFold = Versioned.partSpecIds(path, pinned).values
      .flatMap(Versioned.parsePartSpec)
      .filter(_.unit.exists(Versioned.PartUnits.contains))
      .map(f => fold(f.col)).toSet
    if (transFold.isEmpty) return None
    val zone = java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
    def asLdt(v: Any): Option[java.time.LocalDateTime] = v match {
      case t: java.sql.Timestamp =>
        Some(t.toInstant.atZone(zone).toLocalDateTime)
      case i: java.time.Instant => Some(i.atZone(zone).toLocalDateTime)
      case l: java.time.LocalDateTime => Some(l)
      case d: java.sql.Date => Some(d.toLocalDate.atStartOfDay)
      case d: java.time.LocalDate => Some(d.atStartOfDay)
      case _ => None
    }
    val MIN = java.time.LocalDateTime.of(1, 1, 1, 0, 0)
    val MAX = java.time.LocalDateTime.of(9999, 12, 31, 23, 59)
    val bounds = scala.collection.mutable
      .LinkedHashMap.empty[String, (java.time.LocalDateTime,
        java.time.LocalDateTime)]
    def upd(a: String, lo: java.time.LocalDateTime,
        hi: java.time.LocalDateTime): Unit = {
      val (l0, h0) = bounds.getOrElse(a, (MIN, MAX))
      bounds(a) = (if (lo.isAfter(l0)) lo else l0,
        if (hi.isBefore(h0)) hi else h0)
    }
    accepted.foreach {
      case sources.EqualTo(a, v) => asLdt(v).foreach(d => upd(a, d, d))
      case sources.GreaterThan(a, v) =>
        asLdt(v).foreach(d => upd(a, d, MAX))
      case sources.GreaterThanOrEqual(a, v) =>
        asLdt(v).foreach(d => upd(a, d, MAX))
      case sources.LessThan(a, v) =>
        asLdt(v).foreach(d => upd(a, MIN, d))
      case sources.LessThanOrEqual(a, v) =>
        asLdt(v).foreach(d => upd(a, MIN, d))
      case _ => ()
    }
    bounds.iterator
      .filter { case (_, (lo, hi)) => lo != MIN || hi != MAX }
      .find { case (c, _) => transFold(
        fold(Versioned.physicalColumnName(path, pinned, c))) }
      .map { case (c, (lo, hi)) => (c, lo, hi) }
  }

  /** The first accepted equality/IN over a column some dir of this
    * version BUCKET-partitions on → (logical col, raw probe values).
    * Null probes never prune (an equality on NULL matches nothing the
    * row filter wouldn't drop anyway). */
  private def bucketPrune(): Option[(String, Seq[Any])] = {
    val bucketFold = Versioned.partSpecIds(path, pinned).values
      .flatMap(Versioned.parsePartSpec)
      .filter(_.unit.exists(u => Versioned.bucketModulus(u).isDefined))
      .map(f => fold(f.col)).toSet
    if (bucketFold.isEmpty) return None
    def specd(a: String): Boolean =
      bucketFold(fold(Versioned.physicalColumnName(path, pinned, a)))
    accepted.iterator.collectFirst {
      case sources.EqualTo(a, v) if v != null && specd(a) =>
        (a, Seq(v))
      case sources.In(a, vs)
          if vs.nonEmpty && vs.forall(_ != null) && specd(a) =>
        (a, vs.toIndexedSeq)
    }
  }
}

object GraftCatalog {
  import org.apache.spark.sql.functions.{col, lit, not}

  /** Directory accounting of the most recent `<t>.changes`
    * batch scan in this JVM: (table path, ct-dirs read, ct-dirs in
    * the pinned range). The observability hook specs and driver rows
    * gate `dirsRead < dirsTotal` on — proof the `_commit_version` /
    * `_change_type` pushdown skipped real directory IO, not just
    * shaped a plan. */
  val lastChangesScan =
    new java.util.concurrent.atomic.AtomicReference[(String, Int, Int)](
      ("", 0, 0))

  /** File accounting of the most recent file-skipping
    * [[VersionedPrune]] in this JVM: (table path, files read, files
    * total) — set when a pushed filter partition-pruned directories
    * or sidecar-skipped files; the `filesRead < filesTotal` evidence
    * driver rows and specs gate on. */
  val lastVersionedScan =
    new java.util.concurrent.atomic.AtomicReference[(String, Int, Int)](
      ("", 0, 0))

  /** Dir accounting of the most recent `<t>.files` scan in this
    * JVM: (table path, dirs listed, dirs total) — set by
    * [[FilesSqlTable]]'s scan so specs can gate `dirsWalked < dirsTotal`
    * when a pushed `dir_id`/`part_spec` filter pruned the listing. */
  val lastFilesScan =
    new java.util.concurrent.atomic.AtomicReference[(String, Int, Int)](
      ("", 0, 0))

  /** Per-thread set of scans currently BUILDING their frame (a view
    * scan re-runs its stored SQL, which may read other views) — the
    * recursion guard [[frameScan]] trips loudly instead of looping
    * forever on a self-referencing definition. */
  private val scanExpansion =
    new ThreadLocal[java.util.HashSet[String]] {
      override def initialValue(): java.util.HashSet[String] =
        new java.util.HashSet[String]()
    }

  /** Path-containment gate for every identifier segment the catalog
    * (or a CALL verb) turns into a filesystem path: the catalog is
    * filesystem-MUTATING (DROP deletes a tree, RENAME moves one,
    * clone/vacuum write), so a backquoted `..` segment or a '../x'
    * CALL argument must never compose into a path that escapes the
    * warehouse — the is-it-a-table ledger check guards WHAT gets
    * touched, this guards WHERE. Rejects empty, '.', '..', and any
    * segment carrying a path separator. */
  private[sources] def checkSegment(seg: String): String = {
    require(seg != null && seg.nonEmpty && seg != "." && seg != ".." &&
      !seg.contains("/") && !seg.contains("\\"),
      s"GraftCatalog: illegal identifier segment '$seg' — segments " +
        "must be non-empty and must not be '.', '..', or contain " +
        "path separators (identifiers resolve strictly INSIDE the " +
        "catalog warehouse)")
    seg
  }

  /** `sources.Filter` → `Column` for the standard pushdown algebra.
    * None = inexpressible here (e.g. AlwaysTrue subtypes added later)
    * → rejected back to Spark, which evaluates it post-scan. */
  /** The structured `col IN values` rendering of an OVERWRITE filter
    * set — [[Versioned.replaceWhere]]'s dir-drop proof input. Some
    * only when EVERY filter is an equality/IN whose values render
    * canonically as hive partition-directory strings (strings,
    * integrals, booleans, dates — floats/decimals/timestamps have no
    * canonical rendering and fall to the row-exact mask tier); the
    * proof demands the WHOLE predicate, so one unprovable conjunct
    * voids it. Same-column conjuncts intersect. */
  private[sources] def partEqsOf(fs: Array[Filter])
      : Option[Seq[(String, Set[String])]] = {
    def render(v: Any): Option[String] = v match {
      case null => None
      case s: String => Some(s)
      case _: java.lang.Integer | _: java.lang.Long |
           _: java.lang.Short | _: java.lang.Byte |
           _: java.lang.Boolean => Some(v.toString)
      case d: java.sql.Date => Some(d.toString)
      case d: java.time.LocalDate => Some(d.toString)
      case _ => None
    }
    val parts = fs.toIndexedSeq.map {
      case sources.EqualTo(c, v) => render(v).map(r => c -> Set(r))
      case sources.EqualNullSafe(c, v) =>
        render(v).map(r => c -> Set(r))
      case sources.In(c, vs) if vs.nonEmpty =>
        val rs = vs.toIndexedSeq.map(render)
        if (rs.forall(_.isDefined)) Some(c -> rs.flatten.toSet)
        else None
      case _ => None
    }
    if (parts.exists(_.isEmpty)) None
    else Some(parts.flatten
      .groupBy(_._1.toLowerCase(java.util.Locale.ROOT)).valuesIterator
      .map(g => g.head._1 -> g.map(_._2).reduce(_ intersect _))
      .toSeq.sortBy(_._1))
  }

  private[sources] def translateFilter(f: Filter): Option[Column] =
    f match {
      case sources.EqualTo(a, v) => Some(col(a) === lit(v))
      case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
      case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case sources.LessThan(a, v) => Some(col(a) < lit(v))
      case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case sources.In(a, vs) =>
        Some(col(a).isin(vs.toIndexedSeq.map(lit(_)): _*))
      case sources.IsNull(a) => Some(col(a).isNull)
      case sources.IsNotNull(a) => Some(col(a).isNotNull)
      case sources.StringStartsWith(a, v) =>
        Some(col(a).startsWith(v))
      case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case sources.StringContains(a, v) => Some(col(a).contains(v))
      case sources.And(l, r) => for {
        lc <- translateFilter(l); rc <- translateFilter(r)
      } yield lc && rc
      case sources.Or(l, r) => for {
        lc <- translateFilter(l); rc <- translateFilter(r)
      } yield lc || rc
      case sources.Not(c) => translateFilter(c).map(not)
      case sources.AlwaysTrue() => Some(lit(true))
      case sources.AlwaysFalse() => Some(lit(false))
      case _ => None
    }

  /** THE scan bridge every graft SQL table reads through: a [[V1Scan]]
    * whose relation hands Spark the DISTRIBUTED row RDD of a
    * driver-BUILT frame (parquet batches, in-scan DV masks and all run
    * on executors — nothing collects on the driver). The V2 pushdown
    * lands on that frame: filters `accept` takes are handed to
    * `frame` (to prune directories or files with) and then REPLAYED
    * onto its result, where Catalyst pushes them into the parquet
    * readers; rejected filters are Spark's to apply on top, so no
    * filter evaluates zero times. Column pruning is TOP-LEVEL only:
    * Spark also offers nested pruning by narrowing a struct field's
    * type, but the bridge serves whole top-level columns (`SELECT
    * meta.flag` would then hand Spark full structs under a narrowed
    * declared schema — a row codec crash), so the table's full field
    * type is restored — the legal "scan ignored that part of the
    * prune" answer; Spark re-projects the subfield on top.
    * `size` (bytes) feeds [[org.apache.spark.sql.connector.read
    * .SupportsReportStatistics]]. A frame that re-enters its own scan
    * on this thread (a view whose text transitively reads itself)
    * fails loudly instead of expanding forever; the guard spans the
    * frame's planning too, where the nested scans are built. */
  private[sources] def frameScan(schema: StructType, desc: String,
      accept: Filter => Boolean = _ => false,
      size: Option[() => Long] = None)(
      frame: (SparkSession, Array[Filter]) => DataFrame): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters
        with SupportsPushDownRequiredColumns {
      private var accepted: Array[Filter] = Array.empty
      private var required: StructType = schema

      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        val (ok, rejected) = filters.partition(accept)
        accepted = ok
        rejected
      }
      override def pushedFilters(): Array[Filter] = accepted

      override def pruneColumns(requiredSchema: StructType): Unit =
        required = StructType(requiredSchema.fields.map { f =>
          schema.fields.find(t => t.name.equalsIgnoreCase(f.name))
            .map(t => f.copy(dataType = t.dataType, nullable = t.nullable))
            .getOrElse(f)
        })

      override def build(): Scan = new BridgeScan(desc, required,
        accepted, size, frame)
    }

  private final class BridgeScan(desc: String, required: StructType,
      accepted: Array[Filter], size: Option[() => Long],
      frame: (SparkSession, Array[Filter]) => DataFrame) extends V1Scan
      with org.apache.spark.sql.connector.read.SupportsReportStatistics {
    override def readSchema(): StructType = required
    override def description(): String =
      s"$desc pushed=[${accepted.mkString(", ")}]"
    override def estimateStatistics()
        : org.apache.spark.sql.connector.read.Statistics =
      new org.apache.spark.sql.connector.read.Statistics {
        private val bytes = size.map(_())
        override def sizeInBytes(): java.util.OptionalLong =
          bytes.fold(java.util.OptionalLong.empty())(
            java.util.OptionalLong.of)
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
      }
    override def toMicroBatchStream(checkpointLocation: String)
        : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
      throw new UnsupportedOperationException(
        s"$desc: streaming reads route through the stored feed's " +
          "file-stream source — register graft's session extensions " +
          "(spark.sql.extensions=graft.plans.GraftExtensions) so " +
          "spark.readStream.table(...) rewrites onto it")
    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T = {
      val rel = new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = required
        override def needConversion: Boolean = true
        override def buildScan(): org.apache.spark.rdd.RDD[
            org.apache.spark.sql.Row] = {
          val expanding = scanExpansion.get()
          require(!expanding.contains(desc),
            s"GraftCatalog: recursive view definition — $desc " +
              "(transitively) reads itself")
          expanding.add(desc): Unit
          try {
            var df = frame(context.sparkSession, accepted)
            accepted.flatMap(translateFilter).foreach(c => df = df.filter(c))
            df.select(required.fieldNames.map(col).toIndexedSeq: _*).rdd
          } finally expanding.remove(desc): Unit
        }
      }
      rel.asInstanceOf[T]
    }
  }

  /** Make the row-level DML strategy ([[GraftSqlDml.Strategy]])
    * visible to this session's planner — idempotent, called from
    * [[register]] and from every `loadTable`, so even a session that
    * configured the catalog through plain conf keys gets DELETE /
    * UPDATE / MERGE INTO without any Scala call. */
  private[graft] def ensureDmlStrategy(spark: SparkSession): Unit =
    // synchronized: loadTable runs on analyzer threads, and two
    // concurrent first-queries would otherwise race the read-append
    // on the experimental var (a lost update = one query planning
    // without the strategy)
    spark.experimental.synchronized {
      if (!spark.experimental.extraStrategies
          .contains(GraftSqlDml.Strategy))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ GraftSqlDml.Strategy
      // join-size planning for versioned scans (see
      // [[VersionedJoinHint]]) — same live-session seam
      if (!spark.experimental.extraOptimizations
          .contains(VersionedJoinHint))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ VersionedJoinHint
    }

  /** Wire the catalog onto a LIVE session (catalogs resolve lazily,
    * so a runtime conf set is enough — no session rebuild), including
    * the row-level-DML planner strategy. Streaming table reads
    * (`spark.readStream.table`) additionally need the BUILD-time
    * extension `spark.sql.extensions=graft.plans.GraftExtensions`
    * (analyzer rules cannot attach to a live session). */
  def register(spark: SparkSession, catalogName: String,
      warehouseDir: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$catalogName",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catalogName.warehouse",
      warehouseDir)
    ensureDmlStrategy(spark)
  }
}
