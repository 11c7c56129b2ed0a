package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Minimal versioned (snapshot-isolated) parquet table: the
  * manifest-log pattern every modern table format builds on — data
  * files are immutable, a numbered manifest names the file set of
  * each version, and COMMITTING a version is one atomic
  * rename-without-overwrite of its manifest. Readers resolve a
  * manifest first and then read exactly its file list, so they see a
  * consistent snapshot however many writers are appending, and any
  * historical version stays readable (time travel) until vacuumed.
  *
  * Layout: `<table>/_versions/v{N}.json` (JSON: version, mode, data
  * dirs, optional txn token and base64 schema DDL) +
  * `<table>/data/<uuid>/part-*.parquet` + the dir's file manifest
  * `<table>/data/<uuid>/_files.json` ([[DirFacts]]: each file's bytes
  * and per-file index bounds). The manifest-carried schema
  * makes column ADDS first-class: older files null-fill new columns
  * under the explicit read schema (no mergeSchema footer scan), and
  * same-name type drift fails the commit loudly.
  *
  * Concurrency contract: data dirs are written FIRST (invisible to
  * readers until referenced), then the manifest move publishes.
  * Two racing writers both stage data, then race the rename of
  * `v{N+1}.json`; the loser gets FileAlreadyExists, re-reads the
  * winner's manifest, and retries against the new head (appends
  * compose; a lost overwrite retries as an overwrite of the newer
  * head). The create-exclusive primitive is link(2) locally;
  * HDFS rename-no-overwrite / object-store conditional put supply
  * the identical contract on clusters.
  *
  * Scale notes: manifests hold DIRECTORY names, not file lists, so
  * manifest size grows with commits, not data (each dir's own
  * `_files.json` lists its files, written once); reads prune normally
  * (partition/filter pushdown applies per listed dir); `vacuum`
  * drops data dirs unreachable from any retained manifest.
  */
object Versioned {

  private def versionsDir(path: String) = Paths.get(path, "_versions")

  private def changesRoot(path: String) = Paths.get(path, "_changes")
  private[graft] def changeDirPath(path: String, v: Int) =
    changesRoot(path).resolve(s"cv=$v")

  private final case class Manifest(version: Int, mode: String,
      dataDirs: Seq[String], txn: Option[String] = None,
      schemaDdl: Option[String] = None, ts: Option[Long] = None,
      constraints: Seq[String] = Seq.empty,
      // DELETION-VECTOR ledger: each mask dir with its row count and
      // the data files (table-relative) it names positions in — what
      // a scan needs to load only its own files' masks
      // ([[graft.plans.DvMaskFilter]]) and compaction needs to retire
      // a mask, with no job
      masks: Seq[Mask] = Seq.empty,
      // PARTITION EVOLUTION ledger: dirId → the hive-layout partition
      // column that dir was written under ([[commitPartitioned]]).
      // Per-DIR, not per-table, so commits under different specs (or
      // none) coexist in one snapshot and readers handle each dir by
      // its own layout — changing the partitioning NEVER rewrites
      // history. Absent for plain dirs; filtered with the dir chain
      // on overwrite/rewrite.
      partSpecs: Map[String, String] = Map.empty,
      // DROPPED-COLUMN tombstones ([[dropColumn]]): PHYSICAL names
      // whose bytes still sit in the chain's old files. With column
      // mapping ([[colMap]]) these are no longer commit blockers —
      // they are a RESERVATION list: a re-added logical column gets a
      // FRESH physical name so the explicit-schema read can never
      // resurrect the dropped files' bytes (the ghost-column bug
      // field-id/name mapping solves). Carried by every derived
      // manifest, INCLUDING overwrites: the overwrite's data chain
      // holds no old files, but the change-FEED dirs of earlier eras
      // still carry every physical name ever written, so an overwrite
      // extends the list with the physical names of columns it drops
      // instead of resetting it (a post-overwrite re-add must not
      // read old feed bytes back as the new column).
      droppedCols: Seq[String] = Seq.empty,
      // TABLE-LEVEL properties (the one non-per-commit knob): today
      // only `partCol` — the DEFAULT hive-partition column the SQL
      // write path applies to INSERTs ([[GraftCatalog]] CREATE TABLE
      // … PARTITIONED BY). Distinct from partSpecs on purpose:
      // partSpecs records what layout each dir WAS written under
      // (history, per-dir, immutable); props records what layout new
      // writes SHOULD use (policy, table-wide, carried by every
      // derived manifest including overwrites — like constraints).
      props: Map[String, String] = Map.empty,
      // COLUMN MAPPING (Delta name-mode shape): logical column name →
      // immutable PHYSICAL name. A column's physical name is fixed at
      // its first commit and NEVER changes; logical names live only
      // here + in schemaDdl, so RENAME COLUMN is a metadata commit
      // and every file ever written stays readable under one physical
      // schema. Only DIVERGENT columns appear (empty map = identity —
      // every pre-mapping manifest parses unchanged). partSpecs and
      // droppedCols always hold PHYSICAL names; schemaDdl and
      // constraints always hold LOGICAL names.
      colMap: Map[String, String] = Map.empty) {
    /** The mask dir ids, in commit order. */
    def dvDirs: Seq[String] = masks.map(_.id)
    /** `partSpecs` restricted to dirs a derived manifest carries. */
    def specsFor(dirs: Seq[String]): Map[String, String] =
      partSpecs.filter { case (d, _) => dirs.contains(d) }
    /** The immutable physical name of logical column `l` (folded
      * lookup — Spark resolves names case-insensitively). */
    def physOf(l: String): String = {
      val f = l.toLowerCase(java.util.Locale.ROOT)
      colMap.collectFirst {
        case (k, p) if k.toLowerCase(java.util.Locale.ROOT) == f => p
      }.getOrElse(l)
    }
  }

  private def dvRoot(path: String) = Paths.get(path, "dv")

  /** Minimum age history must reach before [[vacuumOlderThan]]
    * reclaims it without `force` (7 days). A deployment seam like
    * [[arbiter]], settable once at session setup; the guard exists
    * because readers pin versions at resolution time and vacuum is
    * the one operation that can invalidate a pinned read. */
  @volatile var minRetentionMillis: Long = 7L * 24 * 3600 * 1000

  /** Recursive delete of a directory tree if it exists (staged-dir
    * cleanup / vacuum reclaim — the walk-in-reverse-order idiom,
    * defined once). */
  private def dropDirRec(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.deleteIfExists(f): Unit })

  private def manifestPath(path: String, v: Int) =
    versionsDir(path).resolve(s"v$v.json")

  // Manifest JSON: rendered with full string escaping and read back
  // by a real (still dependency-free) recursive-descent parser
  // ([[ManifestJson]]) — field order, whitespace, escapes, and
  // unknown future fields are all handled, so a manifest written by
  // a newer builder stays readable (the r8 split-on-substring parser
  // was byte-layout-coupled and one quote away from corruption).
  private def render(m: Manifest): String =
    s"""{"version":${m.version},"mode":${ManifestJson.quote(m.mode)},""" +
      s""""dataDirs":[${m.dataDirs.map(ManifestJson.quote).mkString(",")}]""" +
      m.txn.map(t => s""","txn":${ManifestJson.quote(t)}""").getOrElse("") +
      m.schemaDdl.map(d => s""","schemaB64":"${
        java.util.Base64.getEncoder.encodeToString(d.getBytes("UTF-8"))
      }"""").getOrElse("") +
      m.ts.map(t => s""","ts":$t""").getOrElse("") +
      (if (m.constraints.isEmpty) ""
       else s""","constraints":[${
         m.constraints.map(ManifestJson.quote).mkString(",")}]""") +
      (if (m.masks.isEmpty) ""
       else s""","masks":[${m.masks.map(k =>
         s"""{"id":${ManifestJson.quote(k.id)},"rows":${k.rows},""" +
           s""""rels":[${k.rels.map(ManifestJson.quote).mkString(",")}]}"""
       ).mkString(",")}]""") +
      (if (m.partSpecs.isEmpty) ""
       else s""","partSpecs":{${
         m.partSpecs.toSeq.sortBy(_._1).map { case (d, c) =>
           s"${ManifestJson.quote(d)}:${ManifestJson.quote(c)}"
         }.mkString(",")}}""") +
      (if (m.droppedCols.isEmpty) ""
       else s""","dropped":[${
         m.droppedCols.map(ManifestJson.quote).mkString(",")}]""") +
      (if (m.props.isEmpty) ""
       else s""","props":{${
         m.props.toSeq.sortBy(_._1).map { case (k, v) =>
           s"${ManifestJson.quote(k)}:${ManifestJson.quote(v)}"
         }.mkString(",")}}""") +
      (if (m.colMap.isEmpty) ""
       else s""","colMap":{${
         m.colMap.toSeq.sortBy(_._1).map { case (l, p) =>
           s"${ManifestJson.quote(l)}:${ManifestJson.quote(p)}"
         }.mkString(",")}}""") + "}"

  private def parse(path: String, s: String): Manifest = {
    val m = ManifestJson.parseObject(s)
    // masks written before the ledger recorded their files cannot be
    // applied in the scan: refuse them rather than read them unmasked
    m.get("dvDirs").collect { case d :: _ => d }.foreach(d => sys.error(
      s"versioned table at $path: manifest v${m("version")} carries " +
        s"deletion-vector mask dir $d without the record of the files " +
        "it masks, which the in-scan mask needs; a table written " +
        "before that record cannot be read (MIGRATION.md)"))
    Manifest(
      version = m("version").asInstanceOf[Long].toInt,
      mode = m("mode").asInstanceOf[String],
      dataDirs = m.getOrElse("dataDirs", List.empty[Any])
        .asInstanceOf[List[Any]].map(_.asInstanceOf[String]),
      txn = m.get("txn").map(_.asInstanceOf[String]),
      schemaDdl = m.get("schemaB64").map(b =>
        new String(java.util.Base64.getDecoder.decode(
          b.asInstanceOf[String]), "UTF-8")),
      ts = m.get("ts").map(_.asInstanceOf[Long]),
      constraints = m.getOrElse("constraints", List.empty[Any])
        .asInstanceOf[List[Any]].map(_.asInstanceOf[String]),
      masks = m.getOrElse("masks", List.empty[Any])
        .asInstanceOf[List[Any]].map { e =>
          val k = e.asInstanceOf[Map[String, Any]]
          Mask(k("id").asInstanceOf[String], k("rows").asInstanceOf[Long],
            k("rels").asInstanceOf[List[Any]].map(_.asInstanceOf[String]))
        },
      partSpecs = m.getOrElse("partSpecs", Map.empty[String, Any])
        .asInstanceOf[Map[String, Any]]
        .map { case (d, c) => d -> c.asInstanceOf[String] },
      droppedCols = m.getOrElse("dropped", List.empty[Any])
        .asInstanceOf[List[Any]].map(_.asInstanceOf[String]),
      props = m.getOrElse("props", Map.empty[String, Any])
        .asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> v.asInstanceOf[String] },
      colMap = m.getOrElse("colMap", Map.empty[String, Any])
        .asInstanceOf[Map[String, Any]]
        .map { case (l, p) => l -> p.asInstanceOf[String] })
  }

  private def foldName(s: String): String =
    s.toLowerCase(java.util.Locale.ROOT)

  /** The LOSSLESS widening ladder — the only type changes any path in
    * this format accepts (implicit at data commits, explicit through
    * [[ColumnOp.Widen]]): Spark 4's parquet readers upcast narrower
    * file bytes under the wider read schema, so neither old nor new
    * files rewrite; anything off the ladder (long→int, string→
    * numeric) is silent-corruption drift and fails loudly. */
  private def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** The immutable physical LEAF name of the column/field at logical
    * dotted path `path` (length 1 = a top-level column; deeper =
    * a struct field — nested mapping entries key the FULL dotted
    * logical path). Folded lookup, like [[Manifest.physOf]]. */
  private def physLeaf(m: Manifest, path: Seq[String]): String = {
    val key = foldName(path.mkString("."))
    m.colMap.collectFirst {
      case (k, p) if foldName(k) == key => p
    }.getOrElse(path.last)
  }

  /** Logical type → PHYSICAL type: struct fields renamed (at any
    * depth) to their immutable physical names via the dotted
    * [[Manifest.colMap]] entries. Structs only — fields inside
    * arrays/maps carry no mapping (nested ALTER rejects those paths),
    * so their types pass through unchanged. */
  private def physType(m: Manifest, prefix: Seq[String],
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case st: org.apache.spark.sql.types.StructType =>
      org.apache.spark.sql.types.StructType(st.fields.map { f =>
        val p = prefix :+ f.name
        f.copy(name = physLeaf(m, p), dataType = physType(m, p, f.dataType))
      })
    case other => other
  }

  /** The manifest's schema with every field under its PHYSICAL name —
    * what the files actually carry; the one read schema that covers
    * every data dir of every era (physical names never change).
    * Nested struct fields rename too (dotted colMap entries). */
  private def physStruct(m: Manifest,
      st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    if (m.colMap.isEmpty) st
    else org.apache.spark.sql.types.StructType(
      st.fields.map(f => f.copy(name = m.physOf(f.name),
        dataType = physType(m, Seq(f.name), f.dataType))))

  /** Rename a physical-named frame to the manifest's LOGICAL names
    * (identity — and plan-invisible — when no column ever diverged),
    * passing `extra` columns (row ids, feed partition cols) through.
    * Nested renames restore through a POSITIONAL struct cast — safe
    * because both sides are the same manifest struct, one under
    * physical and one under logical field names. */
  private def toLogical(m: Manifest,
      st: org.apache.spark.sql.types.StructType, df: DataFrame,
      extra: Seq[String] = Seq.empty): DataFrame =
    if (m.colMap.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      df.select((st.fields.toIndexedSeq.map { f =>
        val c = col(m.physOf(f.name))
        // cast target normalized nullable: the read frame's fields
        // are nullable (null-filled evolution), and a cast to a
        // NOT NULL struct field is an analysis error
        (if (physType(m, Seq(f.name), f.dataType) == f.dataType) c
         else c.cast(asNullable(f.dataType))).as(f.name)
      } ++ extra.map(col)): _*)
    }

  /** Rename a logical-named frame to PHYSICAL names before a file
    * write (the inverse of [[toLogical]]); `extra` passes through. */
  private def toPhysical(m: Manifest, df: DataFrame,
      extra: Seq[String] = Seq.empty): DataFrame =
    if (m.colMap.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      df.select((df.schema.fields.toIndexedSeq
        .filterNot(f => extra.contains(f.name))
        .map { f =>
          val pt = physType(m, Seq(f.name), f.dataType)
          (if (pt == f.dataType) col(f.name)
           else col(f.name).cast(asNullable(pt))).as(m.physOf(f.name))
        } ++ extra.map(col)): _*)
    }

  /** Nullability erased recursively — schema-evolution compares and
    * the stored DDL of evolved nested fields use this: every read
    * here null-fills evolved fields, so nested NOT NULL is
    * unenforceable history-wide, exactly like top-level. */
  private[sources] def asNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.fields.map(f => f.copy(
        nullable = true, dataType = asNullable(f.dataType))))
      case a: ArrayType =>
        ArrayType(asNullable(a.elementType), containsNull = true)
      case mp: MapType => MapType(asNullable(mp.keyType),
        asNullable(mp.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** THE commit-coordination primitive — delegates to the pluggable
    * [[CommitArbiter]] (see [[arbiter]]): atomically publish manifest
    * `m` for `path` IF AND ONLY IF its version slot is free,
    * returning whether the publish WON. The default arbiter is the
    * create-exclusive `link(2)` of POSIX/HDFS-class stores; a store
    * with NO fail-if-exists write swaps in
    * [[CommitArbiter.ExternalLog]] (slot CAS through an external
    * coordination log with crash recovery) — [[commitLoop]], the one
    * optimistic retry loop above this seam and its only caller, is
    * deployment-agnostic, so [[VersionedCrossProcessSpec]]'s
    * cross-process exactly-once proof carries over to whatever
    * implements the contract. Invokes the test-only [[prePublishHook]]
    * race-injection point before the attempt. */
  private def publishManifest(path: String, m: Manifest): Boolean = {
    prePublishHook()
    arbiter.putIfAbsent(path, m.version, render(m).getBytes("UTF-8"))
  }

  /** The [[CommitArbiter]] every commit publishes through. A
    * deployment seam, not per-table state: set ONCE at session setup
    * for stores without atomic fail-if-exists writes. Default:
    * [[CommitArbiter.LocalFs]]. */
  @volatile var arbiter: CommitArbiter = CommitArbiter.LocalFs

  /** Apply `f` to each direct child of `dir`, CLOSING the listing
    * stream (Files.list holds an OS directory handle until closed —
    * a leak per call in hot paths like the commit retry loop). */
  private def eachEntry(dir: java.nio.file.Path)(
      f: java.nio.file.Path => Unit): Unit = {
    val ls = Files.list(dir)
    try ls.iterator().forEachRemaining(p => f(p)) finally ls.close()
  }

  /** Latest committed version number, or -1 for an empty table. */
  def latestVersion(path: String): Int = {
    val dir = versionsDir(path)
    if (!Files.isDirectory(dir)) return -1
    var best = -1
    eachEntry(dir) { p =>
      val name = p.getFileName.toString
      if (name.startsWith("v") && name.endsWith(".json"))
        best = math.max(best, name.stripPrefix("v").stripSuffix(".json").toInt)
    }
    best
  }

  private def readManifest(path: String, v: Int): Manifest =
    parse(path, new String(Files.readAllBytes(manifestPath(path, v)), "UTF-8"))

  /** Data-dir count of a version's manifest (test/observability
    * hook — the ledger-bloat metric [[compact]] exists to reset). */
  def readManifestDirCount(path: String, v: Int): Int =
    readManifest(path, v).dataDirs.size

  /** Version ≤ `head` that committed `txn`, if any. Scans head→0
    * (retried micro-batches are near the head; vacuum trims the
    * tail). Missing manifests below `retainFrom` after a vacuum read
    * as not-found — a replay older than the retention window cannot
    * be deduplicated, the same contract every txn-ledger table format
    * documents. Takes `head` EXPLICITLY so [[commitLoop]] can order
    * its reads race-free: head first, then the scan over 0..head —
    * any manifest published after the scan necessarily occupies
    * ≥ head+1, where the create-exclusive publish collides with it. */
  private def findTxn(path: String, txn: String, head: Int): Option[Int] = {
    var v = head
    while (v >= 0) {
      if (Files.exists(manifestPath(path, v))) {
        if (readManifest(path, v).txn.contains(txn)) return Some(v)
      }
      v -= 1
    }
    None
  }

  /** The change feed a commit publishes once its manifest is in. */
  private sealed trait Feed
  private object Feed {
    /** None: a plain overwrite or restore is not representable as row
      * changes ([[requireFeed]] names the contract to its readers). */
    case object Absent extends Feed
    /** The committed EMPTY feed dir: no logical row changed (metadata
      * commits, physical rewrites). */
    case object Unchanged extends Feed
    /** Rows linked or written for the published manifest. */
    final case class Rows(publish: Manifest => Unit) extends Feed
  }

  /** One attempt of a versioned writer, derived from the head: `next`
    * is the manifest to publish ([[commitLoop]] stamps its version,
    * commit time and txn), `result` the writer's answer for the
    * published manifest, `staged` the dirs written for this attempt
    * alone (dropped when its publish loses), `feed` the change feed
    * published after it lands, and `newDir` the data dir it staged,
    * whose `_files.json` [[stageFacts]] writes before the publish. */
  private final case class Attempt[+A](next: Manifest,
      result: Manifest => A, staged: Seq[java.nio.file.Path] = Nil,
      feed: Feed = Feed.Unchanged, newDir: Option[NewDir] = None)

  /** The file-skipping indexes a data dir asks for: stats-indexed
    * columns, and bloom-indexed columns with the items per file each
    * bloom is sized for. */
  private final case class IndexSet(stats: Seq[String] = Nil,
      blooms: Map[String, Long] = Map.empty)

  /** The data dir an attempt staged: its id and the indexes it asks
    * for, in PHYSICAL names — None inherits the head's
    * ([[inheritedIndex]]). */
  private final case class NewDir(spark: SparkSession, id: String,
      index: Option[IndexSet] = None)

  /** THE optimistic commit protocol, written once for every versioned
    * writer (the Delta-log shape): read the head, answer `replay` if a
    * manifest ≤ head already carries `txn`, let `step` derive this
    * attempt from the head version and its manifest, write its new
    * data dir's `_files.json` ([[stageFacts]]), publish it at head+1
    * through [[publishManifest]], then publish its feed. A lost race
    * drops what the attempt staged and derives again from the new
    * head — a concurrent commit is never silently
    * overwritten, and a same-token racer turns the retry into a
    * replay. `step` may answer `Left(result)` to finish without a
    * commit (a delete that matched nothing). `what` names the writer
    * in every error. */
  private def commitLoop[A](path: String, what: String,
      txn: Option[String] = None,
      replay: Int => A = (_: Int) => sys.error("replay without a txn"))(
      step: (Int, Option[Manifest]) => Either[A, Attempt[A]]): A = {
    // token charset gate BEFORE any work: a token is an identifier
    // (an appId-derived batch id), and a quote or backslash in it is
    // a caller bug the ledger should not carry
    txn.foreach(t => require(t.nonEmpty && t.forall(ch =>
      ch.isLetterOrDigit && ch < 128 || ch == ':' || ch == '_' || ch == '-'),
      s"versioned $what: txn token must match [A-Za-z0-9:_-]+, got '$t'"))
    var attempt = 0
    while (true) {
      require(attempt < 50, s"versioned $what: 50 lost races at $path")
      attempt += 1
      // Order matters (TOCTOU): read head FIRST, then scan 0..head for
      // our txn, then attempt head+1. A same-txn racer publishing
      // after the scan lands at ≥ head+1 (commits only ever target
      // latest+1), so our publish at head+1 fails and the retry
      // re-scans — it can never be silently double-applied. The
      // reverse order (scan, then read head) had a window where the
      // racer's manifest raised the head between the two reads and
      // the late committer published to an uncontended version.
      val head = latestVersion(path)
      txn.flatMap(findTxn(path, _, head)) match {
        case Some(v) => return replay(v)
        case None => ()
      }
      val parent = if (head < 0) None else Some(readManifest(path, head))
      step(head, parent) match {
        case Left(done) => return done
        case Right(a) =>
          val m = a.next.copy(version = head + 1, txn = txn,
            ts = Some(System.currentTimeMillis()))
          a.newDir.foreach(n => stageFacts(n.spark, path, m, n.id,
            n.index.getOrElse(inheritedIndex(path, parent))))
          if (publishManifest(path, m)) {
            a.feed match {
              case Feed.Absent => ()
              case Feed.Unchanged =>
                Files.createDirectories(changeDirPath(path, m.version)): Unit
              case Feed.Rows(publish) => publish(m)
            }
            return a.result(m)
          }
          a.staged.foreach(dropDirRec) // lost the race: re-derive
      }
    }
    sys.error("unreachable")
  }

  /** The head manifest a writer derives from; loud when there is none. */
  private def headOf(parent: Option[Manifest], what: String,
      path: String): Manifest = {
    require(parent.isDefined,
      s"versioned $what: no committed version at $path")
    parent.get
  }

  /** CHECK-constraint gate (SQL semantics: NULL passes): one job looks
    * for a row of `rows` violating `cons` before the publish. */
  private def requireConstraints(what: String, path: String,
      cons: Seq[String], rows: DataFrame): Unit =
    if (cons.nonEmpty) {
      import org.apache.spark.sql.functions.{expr, not}
      val viol = rows.filter(not(cons.map(expr).reduce(_ && _))).limit(1)
        .collect().headOption
      require(viol.isEmpty, s"versioned $what at $path violates " +
        s"constraint(s) [${cons.mkString("; ")}]; example row: " +
        viol.map(_.toString).getOrElse(""))
    }

  /** Commit `df` as the next version. `overwrite` replaces the
    * table's content; append composes with the current head. Returns
    * the committed version number. Safe under concurrent committers
    * (rename-race retry, see class doc). */
  def commit(df: DataFrame, path: String, overwrite: Boolean): Int =
    commitTxn(df, path, overwrite, txn = None)

  /** [[commit]] with an idempotence token: if any existing manifest
    * already carries `txn`, the commit is a no-op returning that
    * version — the exactly-once contract a streaming sink needs under
    * engine retries (Structured Streaming re-runs a micro-batch after
    * a crash; the re-run must not double-append). The token is
    * checked again on every lost-race retry, so a concurrent
    * committer landing the same txn is also deduplicated — and the
    * data the retry had staged is dropped ([[commitLoop]]). */
  def commitTxn(df: DataFrame, path: String, overwrite: Boolean,
      txn: Option[String]): Int =
    commitCore(_ => df, path, overwrite, txn)

  /** Commit `df` Z-CLUSTERED on two numeric columns as the next
    * version: the staged data dir is written in
    * [[Clustered.clusteredFrame]] layout and its `_files.json` records
    * per-file min/max of both columns, so clustered layout + skipping
    * index ride the manifest — every version keeps its own index, and
    * [[readRangeClustered]] time-travels WITH file skipping. Commit
    * mechanics (atomicity, races, txn dedup, schema ledger) are
    * exactly [[commitTxn]]'s. */
  def commitClustered(df: DataFrame, path: String, c1: String, c2: String,
      files: Int, overwrite: Boolean, txn: Option[String] = None): Int =
    commitCore(_ => df, path, overwrite, txn,
      stage = clusteredStage(c1, c2, files),
      index = Some(IndexSet(Seq(c1, c2))),
      // the ledger names the maintenance action, like "compact" —
      // DESCRIBE HISTORY should say what rewrote the snapshot
      modeOverride = if (overwrite) Some("cluster") else None)

  /** [[Clustered]]'s z-ordered layout on `(c1, c2)` as a
    * [[commitCore]] staging writer. */
  private def clusteredStage(c1: String, c2: String, files: Int)
      : (String, DataFrame, String => String) => Unit =
    (dataDir, pdf, phys) =>
      Clustered.clusteredFrame(pdf, phys(c1), phys(c2), files)
        .write.mode("errorifexists").parquet(dataDir)

  /** STATS-INDEXED APPEND: a plain commit (no re-clustering, no
    * sort — the rows land in arrival order) whose `_files.json` also
    * records per-file min/max for `cols`, so [[readRangeClustered]]
    * prunes this dir's files too. The cheap middle ground between a
    * plain append (never skipped) and [[commitClustered]] (full
    * z-order rewrite): time-ordered ingest is usually ALREADY
    * range-clustered on its event-time column, so recording the
    * min/max buys date-range skipping for one extra aggregate job
    * per commit and zero data movement. */
  def commitIndexed(df: DataFrame, path: String, cols: Seq[String],
      overwrite: Boolean, txn: Option[String] = None): Int =
    commitCore(_ => df, path, overwrite, txn, index = Some(IndexSet(cols)))

  /** BLOOM-INDEXED commit: a plain commit (arrival order, optionally
    * pre-bucketed by the caller) that also writes the per-file bloom
    * sidecar for equality key `c` ([[Clustered.writeBloomIndex]]), so
    * [[readEqualityClustered]] — and the SQL catalog's pushed-filter
    * scan — answers point lookups reading only files that might
    * contain the key. The equality complement of [[commitIndexed]]:
    * min/max ranges cannot prune a high-cardinality key whose values
    * hash-spread across every file; a few-KB bloom per file can.
    * Commit mechanics (atomicity, races, txn dedup, schema ledger)
    * are exactly [[commitTxn]]'s. */
  def commitBloomIndexed(df: DataFrame, path: String, c: String,
      expectedPerFile: Long = 100000L, overwrite: Boolean = false,
      txn: Option[String] = None): Int =
    commitCore(_ => df, path, overwrite, txn,
      index = Some(IndexSet(blooms = Map(c -> expectedPerFile))))

  /** Build (or rebuild) the per-file min/max index for `cols` over
    * the head snapshot's data dirs IN PLACE — an INDEX build, not a
    * commit: zero data bytes move, no version publishes, and every
    * manifest referencing these dirs (past and future, until an
    * overwrite drops them) gains range file skipping the moment each
    * dir's rewritten `_files.json` lands. The retrofit path for
    * tables committed before anyone thought about skipping — the
    * expensive alternative is [[commitClustered]]'s full rewrite.
    * Hive-partitioned dirs are left alone (partition pruning already
    * covers them). Bounds describe file CONTENTS including DV-masked
    * rows — they only ever over-keep. Returns the number of dirs
    * indexed. */
  def buildStatsIndex(spark: SparkSession, path: String,
      cols: Seq[String]): Int = {
    val m = pinManifest(path, None)
    val phys = cols.map(m.physOf)
    val dirs = m.dataDirs.filterNot(m.partSpecs.contains)
    dirs.foreach { d =>
      val files = withBounds(spark, path, m, d, dirFacts(path, d).files, phys)
      updateFacts(path, d)(_.copy(files = files, stats = phys))
    }
    dirs.size
  }

  /** The bloom sibling of [[buildStatsIndex]]: build the per-file
    * bloom sidecar for equality key `c` over the head's (spec-free)
    * data dirs in place, then name it in each dir's `_files.json` —
    * point lookups start skipping immediately, no rewrite, no new
    * version. Returns the number of dirs indexed. */
  def buildBloomIndex(spark: SparkSession, path: String, c: String,
      expectedPerFile: Long = 100000L): Int = {
    val m = pinManifest(path, None)
    val cPhys = m.physOf(c)
    val dirs = m.dataDirs.filterNot(m.partSpecs.contains)
    dirs.foreach { d =>
      val bloom = writeBloom(spark, path, m, d, cPhys, expectedPerFile)
      updateFacts(path, d)(f => f.copy(blooms = f.blooms + (cPhys -> bloom)))
    }
    dirs.size
  }

  /** PARTITION-EVOLUTION commit (Iceberg's headline metadata trick,
    * ledger-sized for this format): stage `df` under a hive layout
    * (`<partCol>=<value>/` subdirs inside this commit's data dir) and
    * record the spec PER-DIR in the manifest. Because the spec rides
    * the dir, not the table, changing the partitioning NEVER rewrites
    * history: later commits may partition by a different column — or
    * none — and one snapshot reads dirs of every vintage, each by its
    * own recorded layout ([[readSnapshot]]). [[readPartitionPruned]]
    * skips whole partition directories of spec-matching dirs before
    * any file IO — the coarse, free sibling of [[commitClustered]]'s
    * min/max skipping. The partition column is carried in directory
    * NAMES (not file bytes); every read path in this object restores
    * it via per-dir partition discovery. Same optimistic-concurrency
    * ledger mechanics as every commit. */
  def commitPartitioned(df: DataFrame, path: String, partCol: String,
      overwrite: Boolean = false, txn: Option[String] = None): Int =
    commitPartitionedSpec(df, path, Seq(PartField(partCol, None)),
      overwrite, txn)

  /** One entry of a partition SPEC: an identity column (`unit` =
    * None — hive dirs carry the raw value) or a TIME transform of a
    * timestamp/date column (`unit` = days/months/years/hours — dirs
    * carry the truncated rendering, e.g. `ts__days=2024-01-15`, and
    * the files keep the FULL source column, so transform dirs read
    * back exactly and the derived value exists only in directory
    * names). Serialized into the manifest's per-dir spec string as
    * `col` / `unit(col)` / `unit(col)@zone`, comma-joined in layout
    * order — a bare column name parses identically to the
    * single-identity specs every pre-r15 manifest carries.
    *
    * `zone` records the WRITER's session timezone for transforms of
    * TimestampType columns (`date_format` renders under it): the
    * pruned read only skips a dir when the READER's session clock
    * matches the recorded one — under a mismatch the dir reads fully
    * (sound, merely unskipped) instead of rendering bounds under the
    * wrong clock and silently skipping a needed directory. Clock-free
    * columns (TIMESTAMP_NTZ, DATE) record no zone and always
    * prune. */
  final case class PartField(col: String, unit: Option[String],
      zone: Option[String] = None) {
    def render: String =
      unit.map(u => s"$u($col)" + zone.map(z => s"@$z").getOrElse(""))
        .getOrElse(col)
    /** The hive directory-level column name this entry lays out. */
    def dirName: String = unit.map(u => s"${col}__$u").getOrElse(col)
  }

  private[graft] val PartUnits = Map(
    "days" -> "yyyy-MM-dd", "months" -> "yyyy-MM",
    "years" -> "yyyy", "hours" -> "yyyy-MM-dd-HH")

  /** The modulus of a `bucket<N>` transform unit (`bucket16` → 16);
    * None for time units and identity. HASH-BUCKET layout: dirs carry
    * `pmod(hash(col), N)` — Spark's Murmur3 `hash()` (seed 42) on
    * both the write side ([[stageHiveSpec]]) and the read-side probe
    * ([[readPartitionPrunedBucket]] evaluates the same expression on
    * the literal), so an equality point read provably lives in ONE
    * bucket directory of each bucketed dir — the join-locality /
    * point-lookup layout for high-cardinality keys that identity
    * partitioning (one dir per value) cannot carry at 100 TB. */
  private[graft] def bucketModulus(unit: String): Option[Int] =
    if (unit.startsWith("bucket"))
      unit.drop("bucket".length).toIntOption.filter(_ > 0)
    else None

  private[graft] def renderPartSpec(spec: Seq[PartField]): String =
    spec.map(_.render).mkString(",")

  private[graft] def parsePartSpec(s: String): Seq[PartField] =
    s.split(",").toIndexedSeq.map(_.trim).filter(_.nonEmpty).map { e0 =>
      // optional writer-clock suffix: `unit(col)@zone`
      val (e, zone) = e0.lastIndexOf(")@") match {
        case -1 => (e0, None)
        case i => (e0.take(i + 1), Some(e0.drop(i + 2)))
      }
      e match {
        case _ if e.endsWith(")") && e.contains("(") =>
          val u = e.takeWhile(_ != '(')
          require(PartUnits.contains(u) || bucketModulus(u).isDefined,
            s"versioned partition spec: unknown transform '$u' in '$s'")
          PartField(e.drop(u.length + 1).dropRight(1).trim, Some(u), zone)
        case _ => PartField(e, None)
      }
    }

  /** PARTITION-EVOLUTION commit, general form: stage `df` hive-laid-
    * out under an ORDERED spec of identity columns and/or time
    * transforms (`PartField`) and record the rendered spec per-dir in
    * the manifest — `PARTITIONED BY (region, days(ts))` becomes
    * `region=EU/ts__days=2024-01-15/…` dirs. Time-transform dirs keep
    * the FULL source column in the file bytes (only the derived
    * rendering lives in directory names), so reads need no inverse
    * transform; identity columns live in directory names exactly as
    * the single-column form always did. The derived renderings use
    * [[PartUnits]]' zero-padded formats, which are LEXICOGRAPHICALLY
    * monotonic in time — what makes date-range directory pruning a
    * string-range compare ([[readPartitionPrunedTime]]). All
    * commit mechanics ([[commitPartitioned]] docs) unchanged.
    *
    * CLOCK CONTRACT: `date_format` renders TimestampType values under
    * the SESSION timezone, so the spec records the writer's zone per
    * entry (`days(ts)@UTC`) and the pruned read SKIPS a dir only when
    * the reader's session clock matches the recorded one — a
    * mismatched reader reads the dir fully (sound, merely unskipped)
    * instead of rendering bounds under the wrong clock and silently
    * missing rows. TIMESTAMP_NTZ and DATE columns are clock-free:
    * no zone recorded, pruning always engages. */
  def commitPartitionedSpec(df: DataFrame, path: String,
      spec: Seq[PartField], overwrite: Boolean = false,
      txn: Option[String] = None): Int = {
    val zoned = zonedPartSpec(df, spec)
    commitCore(_ => df, path, overwrite, txn,
      stage = (dataDir, pdf, phys) =>
        stageHiveSpec(dataDir, pdf, phys, spec),
      partSpec = Some(zoned))
  }

  /** Validate `spec` against `df`'s schema and record the writer's
    * session clock on TimestampType transforms (the PartField zone
    * contract) — the spec a partitioned commit RECORDS per-dir.
    * Shared by [[commitPartitionedSpec]] and [[replaceWhere]]'s
    * policy staging. */
  private def zonedPartSpec(df: DataFrame,
      spec: Seq[PartField]): Seq[PartField] = {
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    require(spec.nonEmpty, "versioned commitPartitionedSpec: empty spec")
    require(spec.map(f => foldName(f.col)).distinct.sizeIs == spec.size,
      s"versioned commitPartitionedSpec: a column appears twice in " +
        s"'${renderPartSpec(spec)}'")
    val byFold = df.schema.fields.map(f => foldName(f.name) -> f).toMap
    spec.map { f =>
      val fld = byFold.getOrElse(foldName(f.col), sys.error(
        s"versioned commitPartitionedSpec: no column '${f.col}' to " +
          s"partition by (have: ${df.columns.mkString(", ")})"))
      f.unit.foreach { u =>
        require(PartUnits.contains(u) || bucketModulus(u).isDefined,
          s"versioned commitPartitionedSpec: unknown transform '$u' " +
            s"(have: bucket<N>, ${PartUnits.keys.toSeq.sorted
              .mkString(", ")})")
        // time transforms need a time column; bucket hashes anything
        // Spark's hash() accepts (atomic keys — the point of a bucket)
        if (bucketModulus(u).isEmpty)
          require(Seq(TimestampType, TimestampNTZType, DateType)
              .contains(fld.dataType),
            s"versioned commitPartitionedSpec: $u(${f.col}) needs a " +
              s"timestamp/date column, got ${fld.dataType.sql}")
        // the derived directory column must not shadow a real one
        require(!byFold.contains(foldName(f.dirName)),
          s"versioned commitPartitionedSpec: derived partition " +
            s"column '${f.dirName}' collides with a table column")
      }
      // record the writer's clock for TimestampType transforms (see
      // the PartField zone contract); clock-free types — and bucket
      // transforms, whose hash is clock-independent — record none
      if (f.unit.exists(u => bucketModulus(u).isEmpty) &&
          fld.dataType == TimestampType)
        f.copy(zone = Some(df.sparkSession.sessionState.conf
          .sessionLocalTimeZone))
      else f.copy(zone = None)
    }
  }

  /** Stage the PHYSICAL-named frame `pdf` hive-laid-out under the
    * LOGICAL `spec` at `dataDir` (`phys` translates spec columns to
    * their physical names) — identity entries lay out the column
    * itself, time transforms lay out the [[PartUnits]] rendering in a
    * derived `<col>__<unit>` directory column while the files keep
    * the full source column. The staging writer shared by
    * [[commitPartitionedSpec]] and [[replaceWhere]]. */
  private def stageHiveSpec(dataDir: String, pdf: DataFrame,
      phys: String => String, spec: Seq[PartField]): Unit = {
    import org.apache.spark.sql.functions.{col, date_format, hash, lit, pmod}
    var staged = pdf
    val dirCols = spec.map { f =>
      f.unit match {
        case None => phys(f.col)
        case Some(u) =>
          val dn = PartField(phys(f.col), Some(u)).dirName
          staged = staged.withColumn(dn, bucketModulus(u) match {
            // bucket dirs carry pmod(hash, N) — NULL keys hash too
            // (hash(NULL) = the seed), so every row has a bucket
            case Some(n) => pmod(hash(col(phys(f.col))), lit(n))
            case None => date_format(col(phys(f.col)), PartUnits(u))
          })
          dn
      }
    }
    staged.write.partitionBy(dirCols: _*)
      .mode("errorifexists").parquet(dataDir)
  }

  /** Per-dir partition specs of `v`'s manifest (observability /
    * spec hook — the partition-evolution half of [[dataDirIds]]). */
  def partSpecIds(path: String, v: Int): Map[String, String] =
    readManifest(path, v).partSpecs

  /** TABLE-LEVEL properties at `version` (default head) — today only
    * `partCol`, the default hive-partition column the SQL write path
    * applies to INSERTs. Policy, not lineage: carried by every
    * derived manifest including overwrites, travels with clones. */
  def tableProps(path: String,
      version: Option[Int] = None): Map[String, String] =
    readManifest(path, version.getOrElse(latestVersion(path))).props

  /** [[commit]] with explicit table properties — the CREATE TABLE
    * birth commit ([[GraftCatalog.createTable]] records `partCol`
    * here so every later INSERT routes through
    * [[commitPartitioned]]). */
  def commitWithProps(df: DataFrame, path: String, overwrite: Boolean,
      props: Map[String, String]): Int =
    commitCore(_ => df, path, overwrite, txn = None,
      tableProps = Some(props))

  /** The immutable PHYSICAL name of logical column `c` at `v` (the
    * name directory layouts and file bytes carry) — the translation
    * the SQL scan needs to match pushed filters against per-dir
    * partition specs. */
  def physicalColumnName(path: String, v: Int, c: String): String =
    readManifest(path, v).physOf(c)

  /** Snapshot read with PARTITION pruning: keep only rows with
    * `c` ∈ `values`, skipping — before any file IO — every partition
    * directory of a `c`-partitioned dir whose value does not match.
    * Dirs partitioned by another column (or not at all) are read
    * fully and row-filtered exactly (unknown never justifies a
    * skip), so the result is row-exact across mixed layouts, and the
    * deletion-vector mask overlays as usual (mask rows for pruned
    * files never match). `values` are matched against the directory
    * names after hive unescaping — pass each value exactly as the
    * column renders it (`CAST(v AS STRING)`). Returns
    * (frame, filesRead, filesTotal). */
  def readPartitionPruned(spark: SparkSession, path: String, c: String,
      values: Seq[String], version: Option[Int] = None)
      : (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.col
    require(values.nonEmpty, "versioned readPartitionPruned: empty value set")
    val want = values.toSet
    val (df, read, tot) = specPrunedRead(spark, path, version, c,
      matches = _.unit.isEmpty, keep = (_, v) => want(v))
    (df.filter(col(c).isin(values: _*)), read, tot)
  }

  /** TIME-RANGE partition pruning over TRANSFORM-partitioned dirs
    * (`days(ts)`/`months`/`years`/`hours` — [[commitPartitionedSpec]]):
    * keep only partition directories whose rendered unit value
    * intersects `[lo, hi]` — a STRING range compare, sound because
    * the [[PartUnits]] renderings are zero-padded and therefore
    * lexicographically monotonic in time; the bounds render per-DIR
    * under each dir's own unit (partition evolution can mix daily and
    * monthly dirs in one snapshot). Dirs without a time transform on
    * `c` read fully.
    *
    * SUPERSET contract (unlike [[readPartitionPruned]]'s exact one):
    * the returned frame holds every row of every kept directory — the
    * caller re-applies its exact timestamp predicate on top (the SQL
    * scan replays its accepted filters; a Scala caller filters the
    * frame). Unit truncation means a kept boundary dir can hold rows
    * just outside the asked instant range, and pruning must never be
    * the thing that decides row membership. */
  def readPartitionPrunedTime(spark: SparkSession, path: String,
      c: String, lo: java.time.LocalDateTime,
      hi: java.time.LocalDateTime, version: Option[Int] = None)
      : (DataFrame, Int, Int) = {
    val readerZone = spark.sessionState.conf.sessionLocalTimeZone
    specPrunedRead(spark, path, version, c,
      // a TimestampType dir rendered under a DIFFERENT session clock
      // than this reader's cannot prune soundly — it reads fully
      // (the PartField zone contract); clock-free dirs always prune;
      // bucket transforms are not time-rangeable and never match here
      matches = f => f.unit.exists(PartUnits.contains) &&
        f.zone.forall(_ == readerZone),
      keep = (f, v) => {
        val fmt = java.time.format.DateTimeFormatter
          .ofPattern(PartUnits(f.unit.get))
        v >= fmt.format(lo) && v <= fmt.format(hi)
      })
  }

  /** BUCKET-pruned snapshot read over `bucket(n)`-partitioned dirs
    * ([[bucketModulus]]): an equality/IN probe on `c` keeps, per
    * bucketed dir, ONLY the bucket directories the probe values hash
    * into — `pmod(hash(v), n)` evaluated driver-side with the SAME
    * Murmur3 expression the writer laid the dirs out with, so a point
    * lookup on a 10⁶-file bucketed table reads 1/n of each dir.
    * Values hash under the column's DECLARED type (the staged layout
    * hashed the typed column); a probe that cannot
    * represent as that type keeps everything (sound, merely
    * unskipped). Dirs not bucket-partitioned on `c` read fully.
    *
    * SUPERSET contract like [[readPartitionPrunedTime]]: a bucket dir
    * holds every key that hashes there, so the caller re-applies the
    * exact predicate (the SQL scan replays its accepted filters).
    * Returns (frame, filesRead, filesTotal). */
  def readPartitionPrunedBucket(spark: SparkSession, path: String,
      c: String, values: Seq[Any], version: Option[Int] = None)
      : (DataFrame, Int, Int) = {
    require(values.nonEmpty,
      "versioned readPartitionPrunedBucket: empty value set")
    val v = version.getOrElse(latestVersion(path))
    require(v >= 0,
      s"versioned readPartitionPrunedBucket: no table at $path")
    val dt = schemaAt(spark, path, v).fields
      .find(f => foldName(f.name) == foldName(c))
      .map(_.dataType).getOrElse(sys.error(
        s"versioned readPartitionPrunedBucket: no column '$c' at $path"))
    def bucketOf(value: Any, n: Int): Option[Int] =
      try {
        val lit = org.apache.spark.sql.catalyst.expressions.Literal
          .create(value, dt)
        val h = new org.apache.spark.sql.catalyst.expressions
          .Murmur3Hash(Seq(lit)).eval(null).asInstanceOf[Int]
        Some(((h % n) + n) % n)
      } catch { case scala.util.control.NonFatal(_) => None }
    specPrunedRead(spark, path, version, c,
      matches = f => f.unit.exists(u => bucketModulus(u).isDefined),
      keep = (f, dirVal) => {
        val n = bucketModulus(f.unit.get).get
        val wanted = values.map(bucketOf(_, n))
        // any probe that cannot hash under the declared type keeps
        // the dir (unknown never justifies a skip)
        wanted.exists(b => b.isEmpty || b.get.toString == dirVal)
      })
  }

  /** The shared spec-pruned snapshot read behind
    * [[readPartitionPruned]] and [[readPartitionPrunedTime]]: per data
    * dir, parse its recorded partition spec ([[parsePartSpec]]) and
    * find the first entry on `c` (physical translation applied) that
    * `matches`; if found, keep only the files of `_files.json` whose
    * hive directory at that entry's depth names a value passing `keep`
    * — whole directories skipped before any file IO at whatever
    * nesting the spec put them. Dirs without a usable entry read fully
    * (unknown never justifies a skip); the DV mask overlays as usual.
    * Returns (frame, filesRead, filesTotal). */
  private def specPrunedRead(spark: SparkSession, path: String,
      version: Option[Int], c: String,
      matches: PartField => Boolean,
      keep: (PartField, String) => Boolean): (DataFrame, Int, Int) = {
    val m = pinManifest(path, version)
    // directory names on disk carry the PHYSICAL column name; the
    // caller prunes by the LOGICAL one
    val cPhys = m.physOf(c)
    var filesRead = 0
    var filesTotal = 0
    val picks = m.dataDirs.map { d =>
      val files = dirFacts(path, d).files
      filesTotal += files.size
      val spec = m.partSpecs.get(d).map(parsePartSpec)
        .getOrElse(Seq.empty)
      val idx = spec.indexWhere(f =>
        foldName(f.col) == foldName(cPhys) && matches(f))
      if (idx < 0) {
        // other layout: read fully, the caller's row filter applies
        filesRead += files.size
        d -> None
      } else {
        // levels above the entry pass through, the entry's level
        // filters by value, below it is kept whole
        val entry = spec(idx)
        val kept = files.map(_.path.split('/'))
          .filter(p => hiveValueAt(p, entry, idx).exists(keep(entry, _)))
        filesRead += kept.size
        d -> Some(kept.map(p => s"$path/data/$d/" +
          p.take(idx + 1).mkString("/")).distinct.sorted)
      }
    }
    (liveRows(spark, path, m, picks), filesRead, filesTotal)
  }

  /** The unescaped value of spec `entry`'s hive directory at depth
    * `idx` of a file's dir-relative path components; None when the
    * file does not sit below such a directory. */
  private def hiveValueAt(p: Array[String], entry: PartField,
      idx: Int): Option[String] = {
    val prefix = s"${entry.dirName}="
    if (p.length > idx + 1 && p(idx).startsWith(prefix))
      Some(unescapePartVal(p(idx).drop(prefix.length)))
    else None
  }

  /** Hive partition-dir value unescaping (percent-encoding). */
  private def unescapePartVal(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '%' && i + 2 < s.length) {
        b.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { b.append(ch); i += 1 }
    }
    b.toString
  }

  /** The one data-commit writer behind [[commit]], every commit mode
    * and the head rewrites ([[compact]], [[clusterRewrite]]): stage
    * `rows(head)` as one new data dir under the head's column mapping
    * and publish it through [[commitLoop]]. A caller's frame stages
    * ONCE — a lost race re-derives only the manifest, and the data is
    * restaged only when the column mapping drifted under it — while a
    * head rewrite's frame is the head snapshot itself, so each attempt
    * restages it from the new head. An append publishes its rows as
    * the insert feed; an overwrite publishes `overwriteFeed`. The
    * new dir asks for `index` (LOGICAL names), default the head's. */
  private def commitCore(rows: Int => DataFrame, path: String,
      overwrite: Boolean, txn: Option[String], what: String = "commit",
      stage: (String, DataFrame, String => String) => Unit = null,
      index: Option[IndexSet] = None,
      modeOverride: Option[String] = None,
      partSpec: Option[Seq[PartField]] = None,
      tableProps: Option[Map[String, String]] = None,
      overwriteFeed: Feed = Feed.Absent): Int = {
    // COLUMN-MAPPING assignment for this commit's columns: existing
    // logical columns keep their immutable physical name; NEW columns
    // get `logical` itself unless that physical name is already taken
    // by a live column or reserved by a dropColumn tombstone — then a
    // fresh `<logical>_p<version>` name, which is what makes
    // drop-then-re-add safe (old files simply lack the fresh physical
    // name and null-fill; their bytes can never resurrect).
    def assignPhys(df: DataFrame, parentM: Option[Manifest], nextV: Int)
        : Map[String, String] = parentM match {
      case None => df.columns.map(c => c -> c).toMap // fresh baseline
      case Some(pm) =>
        import org.apache.spark.sql.types.StructType
        val ps = pm.schemaDdl.map(StructType.fromDDL)
        val liveByFold = ps.map(_.fields.map(f =>
          foldName(f.name) -> f.name).toMap).getOrElse(Map.empty)
        var used = (ps.map(_.fields.toSeq.map(f =>
          foldName(pm.physOf(f.name)))).getOrElse(Seq.empty) ++
          pm.droppedCols.map(foldName)).toSet
        df.columns.map { c =>
          liveByFold.get(foldName(c)) match {
            case Some(parentName) => c -> pm.physOf(parentName)
            case None =>
              var cand = c
              var i = 0
              while (used(foldName(cand))) {
                i += 1
                cand = if (i == 1) s"${c}_p$nextV" else s"${c}_p${nextV}_$i"
              }
              used += foldName(cand)
              c -> cand
          }
        }.toMap
    }
    // physical renaming covers NESTED fields too: struct columns cast
    // positionally to their physical type (dotted colMap entries of
    // the manifest the mapping derives from) so the staged files
    // carry physical leaf names at every depth — identity (and
    // plan-invisible) when nothing ever diverged
    def physRename(df: DataFrame, mapping: Map[String, String],
        pm: Option[Manifest]): DataFrame = {
      import org.apache.spark.sql.functions.col
      def physT(f: org.apache.spark.sql.types.StructField) =
        pm.map(physType(_, Seq(f.name), f.dataType)).getOrElse(f.dataType)
      if (df.schema.fields.forall(f =>
          mapping(f.name) == f.name && physT(f) == f.dataType)) df
      else df.select(df.schema.fields.toIndexedSeq.map { f =>
        val pt = physT(f)
        (if (pt == f.dataType) col(f.name)
         else col(f.name).cast(asNullable(pt))).as(mapping(f.name))
      }: _*)
    }
    // what is staged now: the frame, the mapping its files carry, the
    // dir id — None until the first attempt stages
    var staged: Option[(DataFrame, Map[String, String], String)] = None
    def dropStaged(): Unit =
      staged.foreach { case (_, _, id) =>
        dropDirRec(Paths.get(path, "data", id)) }
    commitLoop[Int](path, what, txn,
      replay = v => { dropStaged(); v }) { (head, parentMeta) =>
      val df = rows(head)
      index.foreach(i => (i.stats ++ i.blooms.keys).foreach(c =>
        require(df.columns.exists(foldName(_) == foldName(c)),
          s"versioned $what: no column '$c' to index at $path")))
      // NAME CONTINUITY CROSSES OVERWRITES: the physical assignment
      // always derives from the actual head manifest, even when the
      // commit replaces the table's content. The data-dir chain resets
      // on overwrite, but the change-FEED dirs of earlier eras do not —
      // their files carry the old physical names, and [[feedSchema]]
      // reads every era under ONE head-derived physical schema. A
      // logical column that persists across the overwrite must
      // therefore keep its physical name (else historical feed reads
      // silently null-fill it), and a new column must avoid every
      // physical name any era ever used.
      val mapping = assignPhys(df, parentMeta, head + 1)
      // column-mapping drift check: staged files carry the physical
      // names of the head they were staged against; a concurrent
      // rename / colliding new-column commit can change the
      // assignment (physical names themselves are immutable, so this
      // is rare: only fresh-name suffixes and rename-reused logical
      // names move). Restage under the current assignment —
      // correctness over the re-write cost, on a losing-race path
      // that is already re-deriving everything else. A head rewrite
      // hands over a new frame per head, so it always restages.
      if (!staged.exists { case (d, mp, _) => (d eq df) && mp == mapping }) {
        dropStaged()
        // `cv`/`ct` are the change-feed's directory-derived partition
        // columns (shadowed at feed-read time); `__dv_rel`/`__dv_pos`
        // are the deletion-vector row-identity columns (a same-named
        // table column makes every masked read ambiguous AFTER a mask
        // already committed) — reserve all four up front
        // folded compare, like every other name comparison here: Spark
        // resolves case-insensitively, so 'Cv' would shadow the feed's
        // partition column exactly as 'cv' does
        Seq("cv", "ct", "__dv_rel", "__dv_pos").foreach(r =>
          require(!df.columns.exists(c => foldName(c) == r),
            s"versioned commit: column name '$r' is reserved (change-" +
              "feed partition / deletion-vector row-identity columns)"))
        val id = java.util.UUID.randomUUID().toString
        // default staging is a plain distributed parquet write of the
        // PHYSICAL-named frame; a commit MODE (e.g. [[commitClustered]])
        // swaps in its own layout writer, receiving the physical frame
        // and the name translator — the ledger mechanics are identical
        // either way
        val pdf = physRename(df, mapping, parentMeta)
        if (stage == null)
          pdf.write.mode("errorifexists").parquet(s"$path/data/$id")
        else stage(s"$path/data/$id", pdf,
          (c: String) => mapping.getOrElse(c, c))
        staged = Some((df, mapping, id))
      }
      val (_, _, dataId) = staged.get
      // metadata (constraints) survives overwrites — only the data-dir
      // chain and the schema baseline reset; an overwrite commit must
      // not silently drop the table's quality gates
      val parent = if (overwrite) None else parentMeta
      val parentDirs = parent.map(_.dataDirs).getOrElse(Seq.empty)
      // CHECK constraints: the staged dir stays orphaned on failure
      // (vacuum reclaims). For overwrite commits this scans the full
      // new content — which is exactly what "the table always
      // satisfies its constraints" costs on a rewrite.
      val cons = parentMeta.map(_.constraints).getOrElse(Seq.empty)
      requireConstraints(what, path, cons, df)
      // schema evolution: an append may ADD columns (they null-fill
      // for older files at read time), and a same-name column may
      // WIDEN along the lossless ladders byte→short→int→long and
      // float→double — Spark 4's parquet readers upcast narrower file
      // bytes under the wider read schema, so neither old nor new
      // files rewrite (the manifest adopts the widest type ever
      // committed; a NARROWER arrival is equally fine — its files
      // read widened). Anything off the ladder — long→int, string→
      // numeric — is silent-corruption drift and still fails loudly.
      // A name tombstoned by [[dropColumn]] CAN come back: column
      // mapping hands the reborn column a FRESH physical name
      // (assignPhys), so old files null-fill it — never resurrect it.
      // tombstones survive overwrites (see NAME CONTINUITY above): prior
      // reservations carry forward, and every parent physical name
      // the overwrite's column set does NOT reuse is newly tombstoned
      // — feed files of the old era still carry those bytes, so a
      // later re-add must draw a fresh physical name
      val dropped = parentMeta match {
        case None => Seq.empty
        case Some(pm) if !overwrite => pm.droppedCols
        case Some(pm) =>
          val keptFold = mapping.values.map(foldName).toSet
          val implicitDrops = pm.schemaDdl.toSeq.flatMap(d =>
            org.apache.spark.sql.types.StructType.fromDDL(d)
              .fields.toSeq.map(f => pm.physOf(f.name))
              .filterNot(p => keptFold(foldName(p))))
          (pm.droppedCols ++ implicitDrops).distinct
      }
      // NESTED GHOST GUARD input: an implicitly added struct FIELD
      // whose dotted PHYSICAL path a nested DROP tombstoned must not
      // come back through a data commit — data files would null-fill
      // it (fresh bytes), but historical FEED files still carry the
      // old bytes under that physical path, and only ALTER TABLE ADD
      // COLUMN assigns the fresh physical leaf name that keeps them
      // unresurrectable. Checked only when the TOP column persists
      // from the parent (a brand-new top column gets a fresh physical
      // top name from assignPhys, which orphans every nested path).
      def nestedTombstoned(lpath: Seq[String]): Boolean =
        lpath.sizeIs > 1 && parentMeta.exists { pm =>
          val topLive = pm.schemaDdl.exists(d =>
            org.apache.spark.sql.types.StructType.fromDDL(d)
              .fields.exists(f => foldName(f.name) == foldName(lpath.head)))
          topLive && {
            val phys = lpath.indices.map(i =>
              physLeaf(pm, lpath.take(i + 1))).mkString(".")
            pm.droppedCols.exists(d => foldName(d) == foldName(phys))
          }
        }
      // recursive type evolution for a column both sides carry:
      // nullability differences are immaterial (every read here
      // null-fills), atomic leaves may widen along the lossless
      // ladder, and STRUCTS evolve field-wise — incoming-only fields
      // are implicit nested ADDS (older files null-fill them under
      // the explicit read schema), parent-only fields persist (the
      // new files null-fill them). Arrays/maps/off-ladder leaves must
      // match (normalized) exactly — anything else is drift, loud.
      def mergeEvolved(lpath: Seq[String],
          pf: org.apache.spark.sql.types.DataType,
          in: org.apache.spark.sql.types.DataType)
          : org.apache.spark.sql.types.DataType = {
        import org.apache.spark.sql.types.StructType
        if (asNullable(pf) == asNullable(in)) pf
        else if (widens(pf, in)) in
        else if (widens(in, pf)) pf
        else (pf, in) match {
          case (psS: StructType, inS: StructType) =>
            val inByFold = inS.fields.map(f =>
              foldName(f.name) -> f).toMap
            val merged = psS.fields.map { f =>
              inByFold.get(foldName(f.name)) match {
                case Some(g) => f.copy(dataType = mergeEvolved(
                  lpath :+ f.name, f.dataType, g.dataType))
                case None => f
              }
            }
            val have = psS.fields.map(f => foldName(f.name)).toSet
            val added = inS.fields
              .filterNot(f => have.contains(foldName(f.name)))
              .map { f =>
                require(!nestedTombstoned(lpath :+ f.name),
                  s"versioned commit: nested field ${(lpath :+ f.name)
                    .mkString(".")} at $path was DROPPED — its bytes " +
                    "still sit in historical feed files; re-add it " +
                    "through ALTER TABLE ADD COLUMN (which assigns a " +
                    "fresh physical name) instead of a data commit")
                f.copy(nullable = true,
                  dataType = asNullable(f.dataType))
              }
            StructType(merged ++ added)
          case _ => sys.error(
            s"versioned commit: column ${lpath.mkString(".")} type " +
              s"drift ($pf -> $in) at $path")
        }
      }
      val ddl = parent.flatMap(_.schemaDdl) match {
        case Some(pd) =>
          import org.apache.spark.sql.types._
          val ps = StructType.fromDDL(pd)
          // Spark resolves column names case-INsensitively by default
          // (spark.sql.caseSensitive=false), so every name comparison
          // in this guard folds case: a re-cased arrival of an
          // existing column is the SAME column widening/matching, not
          // an addition, and a re-cased arrival of a DROPPED name is
          // a re-add (fresh physical via assignPhys), never a ghost.
          // Folding even under caseSensitive=true is deliberate:
          // case-colliding names in one table are a portability trap.
          def fold(s: String) = s.toLowerCase(java.util.Locale.ROOT)
          val byName =
            df.schema.fields.map(f => fold(f.name) -> f.dataType).toMap
          val merged = ps.fields.map { f =>
            byName.get(fold(f.name)) match {
              case Some(d) => f.copy(
                dataType = mergeEvolved(Seq(f.name), f.dataType, d))
              case None => f
            }
          }
          val have = ps.fields.map(f => fold(f.name)).toSet
          val added =
            df.schema.fields.filterNot(f => have.contains(fold(f.name)))
          StructType(merged ++ added).toDDL
        case None =>
          // overwrite / fresh baseline: the ghost guard still applies
          // to nested paths whose top column PERSISTS from the
          // replaced head (feed eras outlive overwrites)
          df.schema.fields.foreach { f =>
            def walk(lpath: Seq[String],
                dt: org.apache.spark.sql.types.DataType): Unit =
              dt match {
                case st: org.apache.spark.sql.types.StructType =>
                  st.fields.foreach { g =>
                    require(!nestedTombstoned(lpath :+ g.name),
                      s"versioned commit: nested field ${(lpath :+
                        g.name).mkString(".")} at $path was DROPPED — " +
                        "re-add it through ALTER TABLE ADD COLUMN")
                    walk(lpath :+ g.name, g.dataType)
                  }
                case _ => ()
              }
            walk(Seq(f.name), f.dataType)
          }
          df.schema.toDDL
      }
      // carry the parent's mapping (covers columns this commit does
      // not touch) plus this commit's non-identity assignments (new
      // columns that collided with a live physical or a tombstone).
      // An overwrite's schema holds exactly this commit's columns, so
      // its top-level mapping is exactly the staged assignment —
      // which already carries forward the parent's physical names for
      // persisting logical columns (NAME CONTINUITY above); NESTED
      // (dotted) entries of persisting top columns carry across the
      // overwrite too, because historical FEED files keep the old
      // physical leaf names and feedSchema reads every era under the
      // head's mapping.
      val nextColMap = (if (overwrite)
          parentMeta.map(_.colMap).getOrElse(Map.empty)
            .filter { case (k, _) => k.contains(".") &&
              df.columns.exists(c =>
                foldName(c) == foldName(k.takeWhile(_ != '.'))) }
        else parent.map(_.colMap).getOrElse(Map.empty)) ++
        mapping.filter { case (l, p) => foldName(l) != foldName(p) }
      // an APPEND carries the parent's deletion-vector mask — new
      // files are untouched by it (their (rel,pos) ids are fresh) and
      // the carried dirs' masked rows must STAY deleted; an overwrite
      // (incl. compact, which stages the MASKED snapshot) resets the
      // mask with the data-dir chain
      val next = Manifest(head + 1,
        modeOverride.getOrElse(if (overwrite) "overwrite" else "append"),
        parentDirs :+ dataId, schemaDdl = Some(ddl), constraints = cons,
        masks = parent.map(_.masks).getOrElse(Seq.empty),
        // carry the CARRIED dirs' partition specs; the new dir adds
        // its own spec iff this is a partitioned-layout commit
        // partSpecs hold PHYSICAL names (directories on disk are
        // physical); the new dir records its spec under the staged
        // mapping
        partSpecs = parent.map(_.specsFor(parentDirs))
          .getOrElse(Map.empty) ++
          partSpec.map(sp => dataId -> renderPartSpec(sp.map(f =>
            f.copy(col = mapping.getOrElse(f.col, f.col))))),
        droppedCols = dropped,
        // table properties are POLICY, not data lineage — they
        // survive overwrites like constraints do (parentMeta, not
        // parent); an explicit tableProps (CREATE TABLE) wins
        props = tableProps.getOrElse(
          parentMeta.map(_.props).getOrElse(Map.empty)),
        colMap = nextColMap)
      Right(Attempt[Int](next, _.version,
        // stored change-data feed (Delta-CDF shape): an APPEND's change
        // rows ARE its new data dir ([[insertFeed]]); an overwrite's
        // feed is the caller's — none for plain overwrites (not
        // representable in a row-change feed; [[readChanges]] fails
        // loudly on them), the empty dir for head rewrites
        feed = if (overwrite) overwriteFeed else Feed.Rows(m =>
          insertFeed(df.sparkSession, path, m.version, m, Seq(dataId))),
        newDir = Some(NewDir(df.sparkSession, dataId, index.map { i =>
          def phys(c: String) = mapping.getOrElse(c, c)
          IndexSet(i.stats.map(phys), i.blooms.map { case (c, n) =>
            phys(c) -> n })
        }))))
    }
  }

  /** Snapshot read: the table as of `version` (default: latest).
    * The manifest is resolved BEFORE any data is opened — commits
    * racing this read don't tear the snapshot. */
  def read(spark: SparkSession, path: String,
      version: Option[Int] = None): DataFrame = {
    val m = pinManifest(path, version)
    liveRows(spark, path, m, whole(m.dataDirs))
  }

  /** The manifest a read pins: `version`, default the head. */
  private def pinManifest(path: String, version: Option[Int]): Manifest = {
    val v = version.getOrElse(latestVersion(path))
    require(v >= 0, s"versioned read: no committed version at $path" +
      version.map(w => s" (asked for v$w)").getOrElse(""))
    readManifest(path, v)
  }

  /** One data dir [[readSnapshot]] reads: the whole dir (None) or the
    * listed files / hive subtrees under it (absolute paths). */
  private type DirPick = (String, Option[Seq[String]])

  private def whole(dirIds: Seq[String]): Seq[DirPick] = dirIds.map(_ -> None)

  /** THE snapshot reader every versioned read goes through: the picked
    * subset of `m`'s data dirs as ONE frame under the manifest's
    * LOGICAL names. Plain dirs batch into one read under the
    * manifest's authoritative schema:
    * files written before a column was added null-fill it under the
    * explicit read schema — no mergeSchema footer scan, the ledger
    * already knows (manifests from before schema tracking fall back
    * to parquet inference). A whole dir is passed as its dir path,
    * never as a driver-side listing. Hive-partitioned dirs
    * ([[Manifest.partSpecs]]) CANNOT join that batch: their partition
    * column lives in the directory names, not the file bytes, so an
    * explicit-schema read would silently null it — each is read on
    * its own with `basePath` (partition discovery restores the
    * column, PARSED under the declared type: a string column of
    * numeric-looking values — '00123', '1e3' — would otherwise infer
    * numeric and round-trip corrupted), then aligned to the manifest
    * schema. Mixed layouts in one snapshot are the point: changing
    * the partition spec never rewrites history. Files carry PHYSICAL
    * names (column mapping), so ONE rename projection at the end
    * restores the logical names — identity (and absent from the plan)
    * for tables that never renamed. `masks` apply ON the scans as one
    * [[graft.plans.DvMaskFilter]] over each row's file and physical
    * row index: `keep = false` drops the positions they name (the
    * live rows), `keep = true` keeps only those positions (a staged
    * mask's pre-images); masks that touch no picked dir are left out,
    * and with none left the scans take no filter. `withIds` appends
    * each row's (`__dv_rel`, `__dv_pos`) identity ON the scans too,
    * where `_metadata` resolves. When nothing is picked the result is
    * one zero-row frame — no IO. */
  private def readSnapshot(spark: SparkSession, path: String,
      m: Manifest, picks: Seq[DirPick], withIds: Boolean = false,
      masks: Seq[Mask] = Seq.empty, keep: Boolean = false): DataFrame = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = m.schemaDdl.map(StructType.fromDDL)
    val physOpt = schema.map(physStruct(m, _))
    val ids = if (withIds) Seq("__dv_rel", "__dv_pos") else Seq.empty
    val picked = picks.map(_._1).toSet
    val touched = masks.flatMap(k => k.rels
      .filter(r => picked(r.takeWhile(_ != '/'))).map(_ -> k.id))
      .groupMap(_._1)(_._2)
    val maskFilter = Option.when(touched.nonEmpty || keep)(column(
      graft.plans.DvMaskFilter(expression(col("_metadata.file_path")),
        expression(col("_metadata.row_index")), path, touched, keep)))
    def scan(reader: org.apache.spark.sql.DataFrameReader,
        paths: Seq[String]): DataFrame = {
      val df = maskFilter.foldLeft(reader.parquet(paths: _*))(_.filter(_))
      if (withIds) withRowId(df) else df
    }
    val (parted, plain) = picks.filter(_._2.forall(_.nonEmpty))
      .partition(p => m.partSpecs.contains(p._1))
    val plainPaths = plain.flatMap { case (d, sel) =>
      sel.getOrElse(Seq(s"$path/data/$d")) }
    val frames = (if (plainPaths.isEmpty) Seq.empty[DataFrame] else Seq(
      scan(physOpt.fold(spark.read)(st => spark.read.schema(st)), plainPaths))) ++
      parted.map { case (d, sel) =>
        val st = physOpt.getOrElse(sys.error(
          s"versioned read: partitioned dir $d at $path predates " +
            "schema tracking"))
        val dir = s"$path/data/$d"
        alignToSchema(scan(spark.read.schema(st).option("basePath", dir),
          sel.getOrElse(Seq(dir))), st, withIds)
      }
    (frames.reduceOption(_.unionByName(_)), schema) match {
      case (Some(phys), Some(st)) => toLogical(m, st, phys, ids)
      case (Some(phys), None) => phys
      case (None, st) => spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        StructType(asNullable(st.getOrElse(sys.error(
          s"versioned read: empty read at $path predates schema " +
            "tracking"))).asInstanceOf[StructType].fields ++
          (if (withIds) Seq(StructField("__dv_rel", StringType),
            StructField("__dv_pos", LongType)) else Nil)))
    }
  }

  /** The LIVE rows of `picks`: [[readSnapshot]] with the manifest's
    * deletion-vector masks applied in the scan, logical columns
    * only. */
  private def liveRows(spark: SparkSession, path: String, m: Manifest,
      picks: Seq[DirPick]): DataFrame =
    readSnapshot(spark, path, m, picks, masks = m.masks)

  /** Null-fill evolved columns and cast to the manifest's types in
    * its column order (the per-branch analog of the explicit-schema
    * read), passing the row-identity columns through when present. */
  private def alignToSchema(df: DataFrame,
      st: org.apache.spark.sql.types.StructType,
      withIds: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val present = df.columns.toSet
    val cols = st.fields.toIndexedSeq.map { f =>
      (if (present(f.name)) col(f.name).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)
    } ++ (if (withIds) Seq(col("__dv_rel"), col("__dv_pos")) else Nil)
    df.select(cols: _*)
  }

  /** Append each row's stable physical identity — its file path
    * RELATIVE to the table root (`<dirId>/<fileName>`, stable across
    * [[cloneTable]] links and table moves) and its parquet row index
    * (`_metadata.row_index`, a scan-time constant of the immutable
    * file). This (rel, pos) pair is the key deletion vectors mask;
    * [[graft.plans.DvMaskFilter]] derives the same rel in the scan. */
  private def withRowId(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    // `(.+)` not `([^/]+/[^/]+)`: a hive-partitioned dir's files sit
    // one level deeper (<dirId>/<col>=<v>/<file>) — the greedy tail
    // yields `<dirId>/<file>` for plain dirs and the full nested path
    // for partitioned ones. The greedy `^.*` prefix anchors to the
    // LAST '/data/' occurrence: a table rooted under a path that
    // itself contains '/data/' (e.g. /warehouse/data/t) must not
    // bleed the prefix into the rel key
    // (partition values percent-escape '/', so no later '/data/'
    // segment can appear inside the rel path itself).
    df.select(col("*"),
      regexp_extract(col("_metadata.file_path"),
        "^.*/data/(.+)$", 1).as("__dv_rel"),
      col("_metadata.row_index").as("__dv_pos"))
  }

  /** A deletion-vector mask dir as the manifest records it: its id,
    * its row count and the distinct data files (`rel`) it names
    * positions in. */
  private final case class Mask(id: String, rows: Long, rels: Seq[String])

  /** The one mask writer behind every DV DML: stage the `(__dv_rel,
    * __dv_pos)` ids of `hits` as a fresh mask dir. Count and file set
    * ride the write as an Observation (a fresh one per OCC attempt),
    * so no job re-reads the mask, and they cannot drift from it under
    * a nondeterministic predicate. None when nothing matched (the
    * empty dir is dropped); a lost race is the caller's to drop. */
  private def stageMask(path: String, hits: DataFrame): Option[Mask] = {
    import org.apache.spark.sql.functions.{col, collect_set, count, lit}
    val id = java.util.UUID.randomUUID().toString
    val obs = org.apache.spark.sql.Observation()
    hits.select(col("__dv_rel").as("rel"), col("__dv_pos").as("pos"))
      .observe(obs, count(lit(1)).as("rows"),
        collect_set(col("rel")).as("rels"))
      .write.mode("errorifexists").parquet(s"$path/dv/$id")
    val got = obs.get
    val rows = got("rows").asInstanceOf[Long]
    if (rows == 0L) { dropDirRec(Paths.get(path, "dv", id)); None }
    else Some(Mask(id, rows, got("rels").asInstanceOf[Seq[String]]))
  }

  /** Deletion-vector dir ids referenced by `v`'s manifest
    * (observability / spec hook — the merge-on-read ledger half of
    * [[dataDirIds]]). */
  def dvDirIds(path: String, v: Int): Seq[String] =
    readManifest(path, v).dvDirs

  /** The shared index-pruned snapshot read behind
    * [[readRangeClustered]] (min/max bounds) and
    * [[readEqualityClustered]] (bloom): resolve `version`'s manifest,
    * pick each data dir's surviving files ([[indexPicks]]), read
    * them through [[readSnapshot]], re-apply the exact predicate
    * row-level and apply the deletion-vector masks in the scan (masks
    * of pruned files are never loaded). Skipping
    * therefore composes with schema evolution AND time travel — each
    * version prunes on the index it was committed with, and a table
    * that mixes partitioned history with indexed appends keeps file
    * skipping on its indexed dirs. Returns (frame, filesRead,
    * filesTotal). */
  private def indexPrunedRead(spark: SparkSession, path: String,
      version: Option[Int], pruneDir: DirPrune,
      predLogical: Column): (DataFrame, Int, Int) = {
    val m = pinManifest(path, version)
    val (picks, read, total, _) = indexPicks(path, m, pruneDir)
    (liveRows(spark, path, m, picks).filter(predLogical), read, total)
  }

  /** A per-dir index prune: given the dir path, its `_files.json` and
    * the manifest, the files it keeps — None when the dir carries no
    * index for the asked column. */
  private type DirPrune = (String, DirFacts, Manifest) => Option[Seq[FileFacts]]

  /** Per data dir of `m`, the files an index prune keeps: `pruneDir`
    * answers the survivors, or None when the dir carries no usable
    * index for the asked column — then EVERY file stays (unknown
    * never justifies a skip) and the dir reads whole. Hive-partitioned
    * dirs carry no index and read whole too. Returns (picks,
    * filesRead, filesTotal, whether any dir pruned on an index). */
  private def indexPicks(path: String, m: Manifest, pruneDir: DirPrune)
      : (Seq[DirPick], Int, Int, Boolean) = {
    var read = 0
    var total = 0
    var indexed = false
    val picks = m.dataDirs.map { d =>
      val dir = s"$path/data/$d"
      val facts = dirFacts(path, d)
      total += facts.files.size
      pruneDir(dir, facts, m) match {
        case Some(kept) =>
          indexed = true
          read += kept.size
          d -> Some(kept.map(f => s"$dir/${f.path}"))
        case None =>
          read += facts.files.size
          d -> None
      }
    }
    (picks, read, total, indexed)
  }

  /** A bloom read must never fail a read that can proceed un-indexed:
    * a sidecar mid-rebuild ([[buildBloomIndex]] overwrites it in
    * place), truncated, or otherwise unreadable degrades to
    * "un-indexed — keep every file" (always sound; pruning is an
    * optimization). */
  private def pruneOrKeepAll[A](f: => Option[A]): Option[A] =
    try f catch { case scala.util.control.NonFatal(_) => None }

  /** Snapshot read WITH file skipping: per data dir prune on the
    * per-file min/max its `_files.json` records for `c` — interval
    * arithmetic on the driver, no Spark job — and keep every file of
    * dirs not indexed on `c` (plain appends after a clustered commit
    * stay readable). An infinite bound is open: `hi` = +Infinity keeps
    * NaN rows, which Spark orders above every number; so is a numeric
    * column's unknown file bound ([[DirFacts.rangeKeep]]). Bounds and
    * file bytes carry PHYSICAL names — the manifest's column mapping
    * translates. Returns (frame, filesRead, filesTotal). */
  def readRangeClustered(spark: SparkSession, path: String, c: String,
      lo: Double, hi: Double,
      version: Option[Int] = None): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.{col, lit}
    def numeric(m: Manifest) = m.schemaDdl.exists(ddl =>
      org.apache.spark.sql.types.StructType.fromDDL(ddl).fields
        .find(f => foldName(f.name) == foldName(c))
        .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]))
    indexPrunedRead(spark, path, version,
      (_, facts, m) => Some(m.physOf(c)).filter(facts.stats.contains)
        .map(facts.rangeKeep(_, lo, hi, numeric(m))),
      (if (lo == Double.NegativeInfinity) lit(true) else col(c) >= lo) &&
        (if (hi == Double.PositiveInfinity) lit(true) else col(c) <= hi))
  }

  /** Snapshot read with BLOOM file skipping — the equality sibling of
    * [[readRangeClustered]]: per data dir probe its per-file bloom
    * sidecar for `c` when its `_files.json` names one
    * ([[Clustered.pruneEquality]] — "definitely not here" drops the
    * file before IO; false positives cost one extra read and the exact
    * predicate removes their rows), keep every file of un-indexed
    * dirs. The point-lookup layout min/max ranges cannot prune
    * (high-cardinality keys hash-spread across files) is exactly where
    * this wins. Returns (frame, filesRead, filesTotal). */
  def readEqualityClustered(spark: SparkSession, path: String,
      c: String, value: Any,
      version: Option[Int] = None): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.{col, lit}
    indexPrunedRead(spark, path, version, bloomPruneDir(spark, c, value),
      col(c) === lit(value))
  }

  /** Per-dir bloom prune on logical column `c`: the dir's survivors
    * for `value` when it carries a bloom for `c`, probed with the type
    * the bloom hashed; None (un-indexed) otherwise. */
  private def bloomPruneDir(spark: SparkSession, c: String, value: Any)
      : DirPrune =
    (dir, facts, m) => {
      val cPhys = m.physOf(c)
      facts.blooms.get(cPhys).flatMap(b => pruneOrKeepAll {
        val keep = Clustered.pruneEquality(spark, dir, cPhys, value,
          b.dataType).toSet
        Some(facts.files.filter(f => keep(f.path)))
      })
    }

  /** File accounting of the most recent bloom-pruned DML mask scan
    * in this JVM: (table path, filesRead, filesTotal). Observability
    * hook (the [[GraftCatalog.lastVersionedScan]] convention) so
    * specs can gate `filesRead < filesTotal` — the GDPR-delete scan
    * really skipped IO, not just planned differently. */
  val lastDmlScan =
    new java.util.concurrent.atomic.AtomicReference[(String, Int, Int)](
      ("", -1, -1))

  /** The LIVE row set a row-level DML derives its mask from — with
    * bloom file skipping when the predicate allows it: a top-level
    * `k = literal` conjunct over a bloom-indexed column reads ONLY
    * the files that might contain the key (no false negatives by
    * construction — [[graft.ops.Bloom.hash64]] — so the mask provably
    * covers every matching row; a missed file here would be a missed
    * delete, which is exactly what the bloom's one-sided error makes
    * impossible). The point-lookup DELETE/UPDATE — the GDPR erasure
    * shape — stops scanning the whole table. Un-prunable predicates,
    * hive-partitioned manifests, and un-indexed dirs fall back to the
    * full [[readSnapshot]] scan. The existing DV masks apply in the
    * scan either way. */
  private def dmlLiveRows(spark: SparkSession, path: String,
      m: Manifest, predicate: Column): DataFrame = {
    val bloomPicks: Option[Seq[DirPick]] =
      org.apache.spark.sql.GraftBridge.topLevelEquality(predicate)
        .flatMap { case (rawName, v) =>
          // resolve the predicate's name against the schema (folded —
          // Spark resolves case-insensitively) before the physical map
          val logical = m.schemaDdl.flatMap(ddl =>
            org.apache.spark.sql.types.StructType.fromDDL(ddl).fieldNames
              .find(n => foldName(n) == foldName(rawName)))
            .getOrElse(rawName)
          val (picks, read, total, indexed) =
            indexPicks(path, m, bloomPruneDir(spark, logical, v))
          if (!indexed) None
          else { lastDmlScan.set((path, read, total)); Some(picks) }
        }
    readSnapshot(spark, path, m, bloomPicks.getOrElse(whole(m.dataDirs)),
      withIds = true, masks = m.masks)
  }

  /** Whether `v`'s snapshot carries a file-skipping index for logical
    * column `c` — the SQL scan's PLANNING gate ([[GraftCatalog]]
    * consults it before routing a pushed filter through the index
    * read paths). `kind` is "stats" or "bloom". Cheap on purpose:
    * memoized `_files.json` reads ([[dirFacts]]), no data IO. ONE
    * indexed dir is enough to route the skipping path —
    * [[indexPicks]] reads the other dirs whole. */
  def hasSkippingIndex(path: String, v: Int, c: String,
      kind: String): Boolean = {
    val m = readManifest(path, v)
    val cPhys = m.physOf(c)
    m.dataDirs.exists { d =>
      val f = dirFacts(path, d)
      if (kind == "bloom") f.blooms.contains(cPhys)
      else f.stats.contains(cPhys)
    }
  }

  /** THE reader of data-dir file manifests: `dirId`'s `_files.json`
    * ([[DirFacts]]), memoized per file and VALUED with the file's
    * identity (inode, mtime, size) — a data dir's files never change,
    * but [[buildStatsIndex]] / [[buildBloomIndex]] rewrite its
    * `_files.json` by rename, so a rebuild is never served stale and
    * stale generations never accumulate. Entries for dropped tables
    * still linger, so a size backstop clears the whole memo past a
    * bound no healthy session reaches (a clear costs one re-read per
    * live dir, never a wrong answer). A dir without a readable
    * `_files.json` fails loudly, naming it — like a corrupt manifest. */
  private[sources] def dirFacts(path: String, dirId: String): DirFacts = {
    val f = Paths.get(path, "data", dirId, DirFacts.FileName)
    val attrs = try Files.readAttributes(f,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      catch { case _: java.nio.file.NoSuchFileException =>
        sys.error(s"versioned table at $path: data dir $dirId has no " +
          s"${DirFacts.FileName} (written before per-dir file " +
          "manifests — see MIGRATION.md)") }
    val stamp = (attrs.fileKey, attrs.lastModifiedTime, attrs.size)
    factsMemo.get(f.toString) match {
      case (`stamp`, facts) => facts
      case _ =>
        val facts =
          try DirFacts.parse(new String(Files.readAllBytes(f), "UTF-8"))
          catch { case scala.util.control.NonFatal(e) =>
            throw new IllegalStateException(
              s"versioned table at $path: unreadable $f: ${e.getMessage}", e) }
        if (factsMemo.size > FactsMemoCap) factsMemo.clear()
        factsMemo.put(f.toString, (stamp, facts))
        facts
    }
  }
  private val factsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Any, DirFacts)]()
  private val FactsMemoCap = 1 << 16

  /** Rewrite `dirId`'s `_files.json` as `f` of the current one — the
    * retrofit verbs' read-modify-write, one at a time in this JVM. */
  private def updateFacts(path: String, dirId: String)(
      f: DirFacts => DirFacts): Unit = factsMemo.synchronized {
    DirFacts.write(Paths.get(path, "data", dirId), f(dirFacts(path, dirId)))
  }

  /** The PHYSICAL schema of `m` — what its data files carry. */
  private def physSchema(m: Manifest)
      : Option[org.apache.spark.sql.types.StructType] =
    m.schemaDdl.map(d => physStruct(m,
      org.apache.spark.sql.types.StructType.fromDDL(d)))

  /** The files of data dir `dirId` as a frame under `m`'s physical
    * schema — no schema inference. */
  private def scanDir(spark: SparkSession, path: String, m: Manifest,
      dirId: String): DataFrame =
    physSchema(m).fold(spark.read)(spark.read.schema(_))
      .parquet(s"$path/data/$dirId")

  /** `files` of flat dir `dirId` with their bounds on `cols`: ONE
    * aggregate over the dir, collected at one row per file, each bound
    * TRY-cast to double (a non-numeric column's bounds null out and
    * keep their file). NaN and ±Infinity bounds are unknown too —
    * JSON cannot carry them; a numeric column's unknown bound prunes
    * as open ([[DirFacts.rangeKeep]]), so a NaN `hi` (Spark orders NaN
    * above every number) never lets a range above the min skip the
    * file. */
  private def withBounds(spark: SparkSession, path: String, m: Manifest,
      dirId: String, files: Seq[FileFacts], cols: Seq[String])
      : Seq[FileFacts] = {
    import org.apache.spark.sql.functions.{col, max, min}
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
    if (cols.isEmpty) return files.map(_.copy(bounds = Map.empty))
    def tryDouble(cl: Column): Column =
      org.apache.spark.sql.GraftBridge.column(Cast(
        org.apache.spark.sql.GraftBridge.expression(cl),
        org.apache.spark.sql.types.DoubleType, None, EvalMode.TRY))
    val aggs = cols.flatMap(c =>
      Seq(tryDouble(min(col(c))), tryDouble(max(col(c)))))
    def bound(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None
      else Some(r.getDouble(i)).filterNot(d => d.isNaN || d.isInfinite)
    val byName = scanDir(spark, path, m, dirId)
      .groupBy(col("_metadata.file_name")).agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getString(0) -> cols.indices.map(i =>
        cols(i) -> (bound(r, 1 + 2 * i), bound(r, 2 + 2 * i))).toMap).toMap
    files.map(f => f.copy(bounds = cols.map(_ -> (None, None)).toMap ++
      byName.getOrElse(f.path, Map.empty)))
  }

  /** Build flat dir `dirId`'s bloom sidecar on PHYSICAL column `c`,
    * hashing the column under `m`'s type. */
  private def writeBloom(spark: SparkSession, path: String, m: Manifest,
      dirId: String, c: String, expectedPerFile: Long): BloomFacts = {
    val files = scanDir(spark, path, m, dirId)
    Clustered.writeBloomIndex(files, s"$path/data/$dirId", c, expectedPerFile)
    BloomFacts(expectedPerFile, files.schema(c).dataType)
  }

  /** The index set a new dir inherits when its writer asks for none:
    * the union of what the head's dirs carry (a bloom sized as the
    * last dir naming it), so pruning does not DECAY as data arrives,
    * and an overwrite (compact, INSERT OVERWRITE) keeps the replaced
    * snapshot's index policy the way constraints and props survive. */
  private def inheritedIndex(path: String,
      parent: Option[Manifest]): IndexSet =
    parent.toSeq.flatMap(_.dataDirs).map(d => indexOf(dirFacts(path, d)))
      .foldLeft(IndexSet())((a, b) =>
        IndexSet((a.stats ++ b.stats).distinct, a.blooms ++ b.blooms))

  private def indexOf(f: DirFacts): IndexSet =
    IndexSet(f.stats, f.blooms.map { case (c, b) => c -> b.expectedPerFile })

  /** Write new data dir `dirId`'s `_files.json` before `m` publishes:
    * one listing, plus — for the indexes `want` names on columns `m`
    * carries — one bounds aggregate and one bloom sidecar per bloom
    * column. Hive-partitioned dirs carry no index (partition pruning
    * covers them). A retry whose dir already records the same index
    * set writes nothing. */
  private def stageFacts(spark: SparkSession, path: String, m: Manifest,
      dirId: String, want: IndexSet): Unit = {
    val dir = Paths.get(path, "data", dirId)
    val byFold = physSchema(m).toSeq.flatMap(_.fieldNames)
      .map(n => foldName(n) -> n).toMap
    def known(c: String) = byFold.get(foldName(c))
    val idx = if (m.partSpecs.contains(dirId)) IndexSet()
      else IndexSet(want.stats.flatMap(known).distinct,
        want.blooms.flatMap { case (c, n) => known(c).map(_ -> n) })
    if (!Files.exists(dir.resolve(DirFacts.FileName)) ||
        indexOf(dirFacts(path, dirId)) != idx) DirFacts.write(dir, DirFacts(
      withBounds(spark, path, m, dirId, DirFacts.list(dir), idx.stats),
      idx.stats, idx.blooms.map { case (c, n) =>
        c -> writeBloom(spark, path, m, dirId, c, n) }))
  }

  /** Compaction: rewrite the head snapshot as ONE overwrite commit of
    * `targetFiles` files — an append-heavy table accumulates one data
    * dir per commit (the small-file problem in ledger form), and a
    * long dataDirs list slows every snapshot read. History is
    * untouched: pre-compaction versions still time-travel until
    * [[vacuum]] reclaims them. Returns the compacted version.
    *
    * Concurrency: a compaction is a read-modify-write (it republishes
    * the snapshot it READ), so each attempt of [[commitLoop]] restages
    * the head it derived from: a concurrent INSERT landing between the
    * read and the publish makes the publish lose, and the compaction
    * drops its staged dir, re-reads the NEW head and re-compacts,
    * instead of silently dropping the append from the republished
    * snapshot (the lost-update every naive OPTIMIZE implementation
    * ships with). */
  def compact(spark: SparkSession, path: String, targetFiles: Int): Int =
    commitCore(head => read(spark, path, Some(head)).coalesce(targetFiles),
      path, overwrite = true, txn = None, what = "compact",
      modeOverride = Some("compact"), overwriteFeed = Feed.Unchanged)

  /** OPTIMIZE ZORDER as a head rewrite — [[commitClustered]] of the
    * CURRENT snapshot under the same derive-from-head optimistic
    * precondition as [[compact]]: a concurrent append landing inside
    * the read→publish window re-derives instead of being dropped.
    * (The raw [[commitClustered]] stays precondition-free on purpose:
    * its `df` is caller-supplied NEW content, where last-writer-wins
    * overwrite is the intended semantics.) Returns the clustered
    * version; the `CALL <cat>.system.cluster` verb routes here. */
  def clusterRewrite(spark: SparkSession, path: String, c1: String,
      c2: String, files: Int): Int =
    commitCore(head => read(spark, path, Some(head)), path,
      overwrite = true, txn = None, what = "clusterRewrite",
      stage = clusteredStage(c1, c2, files),
      index = Some(IndexSet(Seq(c1, c2))), modeOverride = Some("cluster"),
      // THIS rewrite stages the masked head snapshot — zero logical
      // row changes — so its feed is the committed EMPTY dir, like
      // compact (commitClustered with caller-supplied content rightly
      // stays feed-less — ITS rows did change)
      overwriteFeed = Feed.Unchanged)

  /** Result of a scoped [[compactWhere]]: the committed version plus
    * the dir accounting — how many dirs merged into the compacted
    * one, how many carried by reference, and the file counts before/
    * after inside the rewritten scope (the small-files proof). A
    * version of -1 means the scope was already compact: no-op, no
    * commit. */
  final case class CompactResult(version: Int, rewrittenDirs: Int,
      carriedDirs: Int, filesBefore: Int, filesAfter: Int)

  /** PARTITION-SCOPED compaction — OPTIMIZE one partition, not the
    * table: merges exactly the data dirs PROVABLY covered by the
    * `partEqs` scope (the [[replaceWhere]] dir proof: recorded spec +
    * the dir's `_files.json` paths, metadata IO only) into one dir of
    * `targetFiles` files, applying — and thereby materializing away —
    * the deletion-vector masks of the rewritten scope; every other
    * dir carries BY REFERENCE. At 100 TB the nightly OPTIMIZE runs
    * per-partition behind the ingest watermark; a whole-table
    * [[compact]] there would rewrite 99 untouched regions. An empty
    * scope selects every dir (the full compact, scoped mechanics).
    *
    * Physical-only: content is byte-for-byte the masked snapshot of
    * the scope, so dirs PARTIALLY matching the scope are simply left
    * alone (correct, merely unmerged — the proof never over-selects).
    * The compacted dir keeps the scope's hive layout when every
    * selected dir shares one spec whose clock matches this session
    * (pruning survives); otherwise it stages plain (readers handle
    * mixed layouts). Mode `compact`: the change feed records zero
    * rows, exactly like the full rewrite. Already-compact scopes
    * (one dir, ≤ targetFiles files, no mask to absorb) no-op without
    * a commit. Same optimistic read→rewrite→publish-if-base loop as
    * [[compact]]. */
  def compactWhere(spark: SparkSession, path: String,
      partEqs: Seq[(String, Set[String])],
      targetFiles: Int = 1): CompactResult = {
    require(targetFiles >= 1,
      s"versioned compactWhere: targetFiles must be >= 1, got $targetFiles")
    rewriteScope(spark, path, partEqs, "compactWhere", "compact",
      skipWhenTidy = Some(targetFiles),
      stage = (m, scopeDf, dataDir, keepSpec) => {
        val pdf = toPhysical(m, scopeDf).coalesce(targetFiles)
        keepSpec match {
          // partSpecs hold PHYSICAL names — the translator is identity
          case Some(sp) => stageHiveSpec(dataDir, pdf, identity, sp)
          case None => pdf.write.mode("errorifexists").parquet(dataDir)
        }
        keepSpec.isDefined
      })
  }

  /** PARTITION-SCOPED clustering — OPTIMIZE ZORDER one partition:
    * the covered dirs rewrite z-ordered on `(c1, c2)` with per-file
    * min/max of both (range filters skip the scope's files
    * immediately), the scope's DV masks materialize away, everything
    * else carries by reference — [[compactWhere]]'s scope mechanics
    * with [[Clustered]]'s layout. The clustered dir stages FLAT (the
    * z-order curve replaces the hive layout as this scope's skipping
    * structure; readers handle mixed layouts). An empty scope
    * clusters every dir — then prefer [[clusterRewrite]], whose
    * overwrite resets the mask chain too. */
  def clusterWhere(spark: SparkSession, path: String,
      partEqs: Seq[(String, Set[String])], c1: String, c2: String,
      targetFiles: Int): CompactResult =
    rewriteScope(spark, path, partEqs, "clusterWhere", "cluster",
      skipWhenTidy = None,
      index = m => Some(IndexSet(Seq(c1, c2).map(m.physOf))),
      stage = (m, scopeDf, dataDir, _) => {
        val pdf = toPhysical(m, scopeDf)
        Clustered.clusteredFrame(pdf, m.physOf(c1), m.physOf(c2),
          targetFiles).write.mode("errorifexists").parquet(dataDir)
        false // flat + min/max: no hive spec recorded
      })

  /** The shared scope-selection → masked-read → stage → publish loop
    * behind [[compactWhere]] and [[clusterWhere]]: `stage` writes the
    * scope's masked snapshot (PHYSICAL names) at `dataDir` — given
    * the shared hive spec when one exists clock-compatibly — and
    * answers whether the new dir RECORDS that spec; the new dir asks
    * for `index` of the head (default: inherit). Physical-only
    * rewrites: content is byte-identical, the feed is the committed
    * empty dir, kept dirs' masks stay live (rewritten files' mask
    * rows dangle harmlessly). */
  private def rewriteScope(spark: SparkSession, path: String,
      partEqs: Seq[(String, Set[String])], what: String, mode: String,
      skipWhenTidy: Option[Int],
      stage: (Manifest, DataFrame, String, Option[Seq[PartField]]) => Boolean,
      index: Manifest => Option[IndexSet] = _ => None): CompactResult = {
    commitLoop[CompactResult](path, what) { (_, parent) =>
      val m = headOf(parent, what, path)
      val zone = spark.sessionState.conf.sessionLocalTimeZone
      val selected = m.dataDirs.filter { d =>
        partEqs.isEmpty || (m.partSpecs.get(d).map(parsePartSpec) match {
          case None => false
          case Some(spec) => partEqs.forall { case (cLog, vals) =>
            val cPhys = m.physOf(cLog)
            val idx = spec.indexWhere(f => f.unit.isEmpty &&
              foldName(f.col) == foldName(cPhys))
            idx >= 0 && hiveSubtreesCovered(dirFacts(path, d), spec, idx,
              vals)
          }
        })
      }
      val carried = m.dataDirs.filterNot(selected.toSet)
      val filesBefore = selected.map(dirFacts(path, _).files.size).sum
      // per mask, the data dirs its rows reference — read off the
      // manifest's mask record, no job: feeds the SCOPE-AWARE tidy
      // gate and the mask retirement below
      val maskDirs = m.masks.map(k =>
        k -> k.rels.map(_.takeWhile(_ != '/')).toSet)
      // a mask chain on OTHER partitions must not force this scope to
      // re-rewrite (the nightly-maintenance churn bug: one DV row
      // anywhere made every already-compact partition rewrite forever)
      def maskTouchesScope = maskDirs.exists(_._2.exists(selected.toSet))
      // nothing in scope, or already tidy AND no mask row targets the
      // scope: no-op, no commit
      if (selected.isEmpty || skipWhenTidy.exists(t =>
          selected.sizeIs == 1 && filesBefore <= t) && !maskTouchesScope)
        Left(CompactResult(-1, 0, carried.size, filesBefore, filesBefore))
      else {
        // DV RETIREMENT: a mask whose every row references only dirs
        // absent from the NEXT manifest (rewritten away now, or
        // dangling from an earlier rewrite) can never mask anything
        // again — drop it from the chain so maintenance loops converge
        // instead of re-absorbing an eternally-nonempty mask list; the
        // orphaned dv dir itself is the vacuum sweep's to reclaim
        val carriedSet = carried.toSet
        val retainedDv = maskDirs.collect {
          case (k, ds) if ds.exists(carriedSet) => k
        }
        // the scope's masked snapshot — DV rows for the rewritten files
        // materialize away; kept dirs' mask entries stay live
        val scopeDf = liveRows(spark, path, m, whole(selected))
        // offer the hive layout iff every selected dir shares ONE spec
        // whose transform clock (if any) matches this session — a
        // re-render under another clock would move rows across dirs
        // the recorded spec string then lies about
        val keepSpec: Option[Seq[PartField]] =
          selected.map(m.partSpecs.get).distinct match {
            case Seq(Some(one)) =>
              val parsed = parsePartSpec(one)
              if (parsed.forall(f => f.unit.isEmpty ||
                  f.zone.forall(_ == zone))) Some(parsed) else None
            case _ => None
          }
        val dataId = java.util.UUID.randomUUID().toString
        val dataDir = Paths.get(path, "data", dataId)
        val recordedSpec = stage(m, scopeDf, dataDir.toString, keepSpec)
        Right(Attempt(m.copy(mode = mode, dataDirs = carried :+ dataId,
            masks = retainedDv,
            partSpecs = m.specsFor(carried) ++ (if (recordedSpec)
              keepSpec.map(sp => dataId -> renderPartSpec(sp)) else None)),
          v => CompactResult(v.version, selected.size, carried.size,
            filesBefore, dirFacts(path, dataId).files.size),
          staged = Seq(dataDir),
          // physical rewrites change no logical rows: the feed is the
          // committed EMPTY dir (the default, like the full compact)
          newDir = Some(NewDir(spark, dataId, index(m)))))
      }
    }
  }

  /** RESTORE — rollback-as-a-commit (Delta RESTORE semantics): the
    * head becomes version `v`'s content again by publishing a NEW
    * manifest that re-references `v`'s data dirs. Zero bytes moved
    * or rewritten — O(1) metadata regardless of table size (the only
    * rollback that works at 100 TB) — and the rolled-back commits
    * stay readable for audit/time-travel: history is never
    * rewritten, so a restore of a restore, or a diff across the bad
    * commits, all keep working. The restored manifest re-carries
    * `v`'s schema baseline and the CURRENT head's constraints
    * (quality gates survive rollbacks the way they survive
    * overwrites), and [[vacuum]] composes: a retained restore
    * manifest keeps the old data dirs it references alive. Like a
    * plain overwrite, a restore is not representable as a row-change
    * feed — feed readers crossing it fail loudly; land surgical
    * corrections through [[mergeDV]] instead. Concurrency: the same
    * create-exclusive manifest race as every commit — a racer
    * landing head+1 first wins and the restore retries against the
    * new head (restoring to `v` is idempotent against racers: the
    * re-read manifest of `v` is immutable). Returns the new head. */
  def restore(path: String, v: Int): Int = {
    val src = readManifest(path, v) // immutable once published
    commitLoop[Int](path, "restore") { (_, parent) =>
      val head = headOf(parent, "restore", path)
      Right(Attempt(src.copy(mode = "restore",
        constraints = head.constraints, props = head.props),
        _.version, feed = Feed.Absent))
    }
  }

  /** AGE-BASED retention — the operational vacuum form every
    * lakehouse user reaches for first: reclaim history older than
    * `cutoffMillis` (epoch wall-clock), keep every version stamped at
    * or after it readable. Resolution rule:
    *
    *  - `retainFrom` = the LOWEST version whose commit timestamp is
    *    ≥ cutoff — every version from there to head keeps
    *    time-traveling; manifests below it are reclaimed and time
    *    travel to them fails loudly (the [[read]] no-such-version
    *    error);
    *  - versions predating timestamp tracking count as older than any
    *    cutoff (their position in time is unknowable — the
    *    conservative direction for a RECLAIM is to be explicit, and
    *    they are only reclaimed, never silently kept as readable
    *    history);
    *  - a cutoff newer than every commit CANNOT break the head chain:
    *    retainFrom clamps to head — the live table always survives
    *    its own retention policy.
    *
    * Data dirs follow reference liveness exactly like [[vacuum]]
    * (a dir referenced by any retained manifest stays — an append
    * chain keeps its whole lineage readable); the change feed trims
    * consistently (cv dirs below retainFrom drop with their
    * manifests, and [[feedEpoch]]'s compare loses the same prefix on
    * both sides, documented there). Returns `retainFrom` — the oldest
    * still-readable version.
    *
    * RETENTION GUARD + the pinned-reader contract: every reader pins
    * its version at RESOLUTION time ([[read]] resolves the manifest
    * before opening data; the SQL catalog's `loadTable` pins at
    * analysis), and a reader that outlives retention fails LOUDLY
    * mid-scan with a FileNotFound-class error — never silently wrong
    * data — because vacuum removes the files its pinned manifest
    * references. To keep that failure mode away from live queries, a
    * cutoff younger than [[minRetentionMillis]] (default 7 days, the
    * convention every lakehouse ships) is REFUSED unless
    * `force = true`: reclaiming history a running query may still be
    * reading is an operator decision, not a default. */
  def vacuumOlderThan(path: String, cutoffMillis: Long,
      force: Boolean = false): Int = {
    val head = latestVersion(path)
    require(head >= 0, s"versioned vacuum: no committed version at $path")
    if (!force) {
      val floor = System.currentTimeMillis() - minRetentionMillis
      require(cutoffMillis <= floor,
        s"versioned vacuum: cutoff $cutoffMillis is inside the " +
          s"${minRetentionMillis / 3600000L}h retention safety window " +
          "— readers pin their version at resolution time, and a " +
          "pinned reader outliving retention fails with FileNotFound " +
          "mid-scan; pass force = true only after confirming no " +
          "reader outlives the cutoff")
    }
    val retainFrom = (0 to head).find { v =>
      Files.exists(manifestPath(path, v)) &&
        readManifest(path, v).ts.exists(_ >= cutoffMillis)
    }.getOrElse(head)
    vacuum(path, retainFrom)
    // the stream-stage sweep cutoff CLAMPS to the retention floor even
    // under force: force overrides the HISTORY guard (the operator
    // owns pinned readers), but a near-now cutoff must never reach the
    // stage sweep — a live streaming query's staged epoch sits there
    // between executor staging and the driver's commit re-read, and
    // deleting it fails the in-flight epoch with FileNotFound
    sweepStreamStage(path, math.min(cutoffMillis,
      System.currentTimeMillis() - minRetentionMillis))
    retainFrom
  }

  /** Reclaim ORPHANED streaming stage dirs (`.stream_stage/<queryId>`
    * — see [[graft.streaming.StreamTableSink]]): a crashed query's
    * last staged epoch is cleaned by its own next successful epoch,
    * but a query that never restarts leaks one. Age-guarded by the
    * NEWEST mtime under the query dir — a LIVE query's stage turns
    * over within seconds, so a vacuum cutoff (days-scale, behind the
    * retention guard) can never race an in-flight epoch. */
  private def sweepStreamStage(path: String, cutoffMillis: Long): Unit = {
    val root = Paths.get(path, ".stream_stage")
    if (!Files.isDirectory(root)) return
    eachEntry(root) { q =>
      var newest = 0L
      val w = Files.walk(q)
      try w.forEach(p => newest = math.max(newest,
        Files.getLastModifiedTime(p).toMillis))
      finally w.close()
      if (newest < cutoffMillis) dropDirRec(q)
    }
  }

  /** What a [[vacuumOlderThan]] at `cutoffMillis` WOULD reclaim —
    * the operator's pre-flight check, nothing deleted. */
  final case class VacuumPreview(retainFrom: Int, nManifests: Int,
      nDataDirs: Int, nDvDirs: Int, nFeedDirs: Int, bytes: Long)

  /** DRY-RUN of [[vacuumOlderThan]]: resolve `retainFrom` under the
    * same rule, then report — without deleting anything — the
    * manifests below it, the data/DV dirs no retained manifest
    * references, the change-feed `cv=` dirs below the cut (on a
    * CDC-heavy table the feed can dominate the reclaim), and their
    * total bytes. The retention guard does not apply (a read-only
    * preview endangers no pinned reader — that is the point: check
    * BEFORE forcing). Driver-side directory walk over only the
    * RECLAIMABLE dirs (normally a small suffix of history, not the
    * live table). */
  def vacuumPreview(path: String, cutoffMillis: Long): VacuumPreview = {
    val head = latestVersion(path)
    require(head >= 0, s"versioned vacuum: no committed version at $path")
    val retainFrom = (0 to head).find { v =>
      Files.exists(manifestPath(path, v)) &&
        readManifest(path, v).ts.exists(_ >= cutoffMillis)
    }.getOrElse(head)
    val nManifests = (0 until retainFrom)
      .count(v => Files.exists(manifestPath(path, v)))
    val retained = (retainFrom to head)
      .map(readManifest(path, _).dataDirs.toSet)
      .foldLeft(Set.empty[String])(_ ++ _)
    val retainedDv = (retainFrom to head)
      .map(readManifest(path, _).dvDirs.toSet)
      .foldLeft(Set.empty[String])(_ ++ _)
    var nData = 0
    var nDv = 0
    var bytes = 0L
    def sizeOf(p: java.nio.file.Path): Long = {
      val w = Files.walk(p)
      try w.iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }
    if (Files.isDirectory(Paths.get(path, "data")))
      eachEntry(Paths.get(path, "data")) { p =>
        if (!retained(p.getFileName.toString)) {
          nData += 1; bytes += sizeOf(p)
        }
      }
    if (Files.isDirectory(dvRoot(path)))
      eachEntry(dvRoot(path)) { p =>
        if (!retainedDv(p.getFileName.toString)) {
          nDv += 1; bytes += sizeOf(p)
        }
      }
    var nFeed = 0
    if (Files.isDirectory(changesRoot(path)))
      eachEntry(changesRoot(path)) { p =>
        val n = p.getFileName.toString
        if (n.startsWith("cv=") &&
            n.drop(3).toIntOption.exists(_ < retainFrom)) {
          nFeed += 1; bytes += sizeOf(p)
        }
      }
    VacuumPreview(retainFrom, nManifests, nData, nDv, nFeed, bytes)
  }

  /** Drop data dirs unreferenced by any manifest ≥ `retainFrom`
    * and the manifests below it — the storage-reclaim half of the
    * contract (time travel works back to `retainFrom` afterwards). */
  def vacuum(path: String, retainFrom: Int): Unit = {
    val head = latestVersion(path)
    require(retainFrom <= head, s"retainFrom $retainFrom > head $head")
    val retained = (retainFrom to head)
      .map(readManifest(path, _).dataDirs.toSet)
      .foldLeft(Set.empty[String])(_ ++ _)
    val dataRoot = Paths.get(path, "data")
    if (Files.isDirectory(dataRoot)) {
      eachEntry(dataRoot) { p =>
        if (!retained(p.getFileName.toString)) dropDirRec(p)
      }
    }
    // deletion-vector sidecars follow the same liveness rule as data
    // dirs: a mask dir referenced by any retained manifest stays
    // (time travel through a DV delete keeps working); unreferenced
    // masks — vacuumed history or lost-race orphans — are reclaimed
    val retainedDv = (retainFrom to head)
      .map(readManifest(path, _).dvDirs.toSet)
      .foldLeft(Set.empty[String])(_ ++ _)
    if (Files.isDirectory(dvRoot(path))) {
      eachEntry(dvRoot(path)) { p =>
        if (!retainedDv(p.getFileName.toString)) dropDirRec(p)
      }
    }
    (0 until retainFrom).foreach(v =>
      Files.deleteIfExists(manifestPath(path, v)): Unit)
    // trim the change-data feed with the history: cv dirs below the
    // retention point and orphaned .stage dirs (same in-flight-writer
    // caveat as the data sweep above — don't vacuum under a live
    // committer)
    if (Files.isDirectory(changesRoot(path))) {
      eachEntry(changesRoot(path)) { p =>
        val n = p.getFileName.toString
        val drop = n.startsWith(".stage-") ||
          (n.startsWith("cv=") && n.stripPrefix("cv=").toInt < retainFrom)
        if (drop) dropDirRec(p)
      }
    }
  }

  // ------------------------------------------------- change-data feed

  /** STORED change-data feed (the Delta-CDF pattern): every commit
    * publishes its row-level changes under
    * `<table>/_changes/cv=<version>/ct=<insert|update|delete>/` so
    * incremental consumers — batch ([[readChanges]]) or streaming
    * ([[readChangeStream]]) — read exactly the changed rows without
    * ever diffing snapshots. The two write paths have the right cost
    * model at scale:
    *
    *  - APPEND commits HARDLINK their new data files into the feed
    *    (`ct=insert`) — zero copied bytes, O(files) metadata ops; the
    *    `cv`/`ct` values ride the directory names as partition
    *    columns, so the linked files need no extra column. On
    *    HDFS/object stores the link becomes a copy of a manifest
    *    entry or a server-side copy — the layout contract is
    *    unchanged.
    *  - MERGE commits WRITE their change rows (batch-sized — the
    *    write amplification is proportional to what changed, never to
    *    the table). Update rows carry the post-image values, delete
    *    rows the key with null non-keys. No-op updates (key matched,
    *    values identical) are recorded as updates — classification is
    *    by key existence, the one extra key-join merge already pays.
    *  - COMPACTION commits publish an EMPTY feed dir (a rewrite
    *    changes no logical rows). Plain overwrite commits publish
    *    nothing and the readers fail loudly on them — a row-change
    *    feed cannot represent "the table is now something else";
    *    land replacements through [[mergeDV]].
    *
    * Feed dirs are staged under `_changes/.stage-*` and published by
    * one atomic rename AFTER the manifest lands, so a feed dir is
    * only ever seen complete. A crash between manifest publish and
    * feed rename leaves a feed gap; [[repairChangeFeed]] backfills
    * gaps deterministically from the manifests/snapshots. This is that
    * stage-then-rename step for version `v`: `fill` writes the staged
    * dir, and a feed already published for `v` wins. */
  private def publishFeed(path: String, v: Int)(
      fill: java.nio.file.Path => Unit): Unit = {
    val dst = changeDirPath(path, v)
    if (Files.exists(dst)) return // idempotent (repair/replay)
    val stage = changesRoot(path)
      .resolve(s".stage-${java.util.UUID.randomUUID()}")
    fill(stage)
    try { Files.move(stage, dst): Unit }
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      // a concurrent repair published the same feed first — ours is
      // equivalent (same immutable files or rows); drop it
      dropDirRec(stage)
    }
  }

  /** THE insert-feed writer: `ct=insert` rows of `v` = every row of
    * `m`'s data dirs `dirs` (an append's new dir, a clone's whole
    * snapshot). Flat dirs publish ZERO-COPY: each data file is
    * hardlinked in, prefixed by its dir id so same-named parts of
    * different dirs cannot collide. A hive-partitioned dir's files
    * LACK the partition column, so a link feed would silently lose it:
    * when any dir is partitioned the rows are read back through
    * [[readSnapshot]] (discovery restores the column, parsed under the
    * declared type) and WRITTEN — cost ∝ the fed dirs' rows, the same
    * bound every written feed pays. */
  private def insertFeed(spark: => SparkSession, path: String, v: Int,
      m: Manifest, dirs: Seq[String]): Unit =
    if (dirs.exists(m.partSpecs.contains)) {
      import org.apache.spark.sql.functions.lit
      publishWrittenFeed(readSnapshot(spark, path, m, whole(dirs))
        .withColumn("ct", lit("insert")), path, v)
    } else publishFeed(path, v) { stage =>
      val ins = stage.resolve("ct=insert")
      Files.createDirectories(ins)
      dirs.foreach(d => dirFacts(path, d).files.foreach { f =>
        val p = Paths.get(path, "data", d, f.path)
        Files.createLink(ins.resolve(s"$d-${p.getFileName}"), p): Unit
      })
    }

  /** Write a commit's classified change rows as the feed of `v`.
    * `feed` arrives with LOGICAL table columns + `ct` (every caller
    * passes frames read through the logical API); the write renames
    * to PHYSICAL names so feed files and data files share the one
    * era-free physical schema — linked and written feed dirs mix
    * freely under [[feedSchema]]. Partitioned by `ct` so the type
    * rides the directory name like the append path. */
  private def publishWrittenFeed(feed: DataFrame, path: String,
      v: Int): Unit = publishFeed(path, v) { stage =>
    val m = readManifest(path, v) // published before any feed write
    toPhysical(m, feed, extra = Seq("ct"))
      .write.partitionBy("ct").mode("errorifexists")
      .parquet(stage.toString)
  }

  /** The feed's read schema — PHYSICAL table names (what the linked/
    * written feed files carry) plus the two directory-derived
    * partition columns; [[logicalizeFeed]] restores the head's
    * logical names after the scan. */
  private def feedSchema(path: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val head = latestVersion(path)
    require(head >= 0, s"change feed: no committed version at $path")
    val m = readManifest(path, head)
    val ddl = m.schemaDdl.getOrElse(
      sys.error(s"change feed: table at $path predates schema tracking"))
    StructType(physStruct(m, StructType.fromDDL(ddl)).fields ++
      Seq(StructField("cv", IntegerType), StructField("ct", StringType)))
  }

  /** Physical→logical rename for feed reads (head's names). */
  private def logicalizeFeed(path: String, df: DataFrame): DataFrame = {
    val m = readManifest(path, latestVersion(path))
    val st = org.apache.spark.sql.types.StructType.fromDDL(
      m.schemaDdl.get)
    toLogical(m, st, df, extra = Seq("cv", "ct"))
  }

  private def renameFeedCols(df: DataFrame): DataFrame = df
    .withColumnRenamed("cv", "_commit_version")
    .withColumnRenamed("ct", "_change_type")

  /** Fails unless every version in `vFrom..vTo` has a published feed
    * dir: a gap names the repair hook, a plain overwrite or restore
    * names the contract. `fn` is the reader named in the error. */
  private def requireFeed(fn: String, path: String, vFrom: Int,
      vTo: Int): Unit =
    (vFrom to vTo).foreach { v =>
      if (!Files.isDirectory(changeDirPath(path, v))) {
        val mode = readManifest(path, v).mode
        if (mode == "overwrite" || mode == "restore") sys.error(
          s"$fn: v$v at $path is a $mode commit — " +
            "no stored row changes; land replacements via merge() " +
            "(or compact() for rewrites), or backfill a key-diff " +
            "feed with repairChangeFeed(keys)")
        else sys.error(
          s"$fn: v$v at $path has no published feed (crash " +
            "between manifest publish and feed rename?) — run " +
            "repairChangeFeed() to backfill")
      }
    }

  /** Batch read of the stored feed for versions `vFrom..vTo`
    * (inclusive): table columns + `_commit_version` + `_change_type`.
    * Validates every version in the range has a published feed
    * (compactions contribute zero rows); a gap names the repair
    * hook, a plain overwrite names the contract. The read lists only
    * the asked `cv=` dirs ([[readChangesPruned]]), so it costs the
    * asked range however long the feed's history is. */
  def readChanges(spark: SparkSession, path: String, vFrom: Int,
      vTo: Int): DataFrame = {
    require(vFrom >= 0 && vFrom <= vTo, s"readChanges: bad range $vFrom..$vTo")
    readChangesPruned(spark, path, vFrom, vTo, None)._1
  }

  /** Directory-level accounting for the pruned feed read: ct-level
    * feed dirs (`_changes/cv=N/ct=type/`) present in `vFrom..vTo` —
    * the denominator of the "did the pushdown actually skip IO"
    * proof (missing cv dirs count zero here; [[readChangesPruned]]
    * owns the gap validation). Driver-side listing, O(versions),
    * like every ledger walk. */
  def changeFeedDirCount(path: String, vFrom: Int, vTo: Int): Int =
    (math.max(0, vFrom) to vTo).map { v =>
      val d = changeDirPath(path, v)
      if (!Files.isDirectory(d)) 0
      else {
        val ls = Files.list(d)
        try ls.iterator().asScala.count(p =>
          Files.isDirectory(p) && p.getFileName.toString.startsWith("ct="))
        finally ls.close()
      }
    }.sum

  /** [[readChanges]] with DIRECTORY pruning — the batch CDC read the
    * SQL pushdown lands on: the feed layout `_changes/cv=N/ct=type/`
    * IS the index, so a version-range or change-type predicate
    * becomes a directory-list filter BEFORE any file IO. Reads only
    * the `cv=` dirs in `vFrom..vTo` and, inside each, only the `ct=`
    * subdirs in `ct` (None = all); "changes since version N" over a
    * long-retained feed costs O(asked range), not O(retained feed).
    * Gap validation matches [[readChanges]] but over the NARROWED
    * range only (versions the caller pruned away are not read, so
    * their gaps cannot mislead it). An over-narrowed range
    * (vFrom > vTo) is a valid empty read. Returns
    * (frame, ctDirsRead) — the numerator of the skipping proof. */
  def readChangesPruned(spark: SparkSession, path: String, vFrom: Int,
      vTo: Int, ct: Option[Set[String]] = None): (DataFrame, Int) = {
    import org.apache.spark.sql.functions.col
    val lo = math.max(0, vFrom)
    def emptyFrame(): DataFrame = {
      val head = latestVersion(path)
      require(head >= 0, s"change feed: no committed version at $path")
      val m = readManifest(path, head)
      val logical = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl
          .getOrElse(sys.error(
            s"change feed: table at $path predates schema tracking")))
          .fields.map(_.copy(nullable = true)) ++ Seq(
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType)))
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        logical)
    }
    if (lo > vTo) return (emptyFrame(), 0)
    // same loud contract as readChanges, narrowed range only
    requireFeed("readChangesPruned", path, lo, vTo)
    val ctWant = ct.map(_.map(foldName))
    val paths = (lo to vTo).flatMap { v =>
      val d = changeDirPath(path, v)
      val ls = Files.list(d)
      try ls.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("ct="))
        .filter(p => ctWant.forall(_.contains(
          foldName(p.getFileName.toString.drop(3)))))
        .map(_.toString).toList.sorted
      finally ls.close()
    }
    if (paths.isEmpty) return (emptyFrame(), 0)
    val df = renameFeedCols(logicalizeFeed(path,
      spark.read.schema(feedSchema(path))
        .option("basePath", changesRoot(path).toString)
        .parquet(paths: _*)))
      // the directory prune is exact for cv (whole versions) and ct
      // (whole types); this residual filter only re-asserts the range
      // so a caller passing a narrower lo than the dir list (never
      // happens today) still reads exactly the asked rows
      .filter(col("_commit_version").between(lo, vTo))
    (df, paths.size)
  }

  /** STREAMING read of the stored feed: Spark's file-stream source
    * over `_changes` — new feed dirs land as new files, the source's
    * checkpoint gives exactly-once per file, and the `cv`/`ct`
    * partition columns arrive via directory-name discovery. This is
    * the composition the brief's preference order asks for: the
    * built-in source already provides discovery, checkpointing and
    * backpressure (`maxFilesPerTrigger`), so no custom MicroBatchStream
    * is needed — the stored layout IS the source contract. Feed dirs
    * publish by atomic rename, so a discovered dir is complete. */
  def readChangeStream(spark: SparkSession, path: String): DataFrame = {
    Files.createDirectories(changesRoot(path))
    renameFeedCols(logicalizeFeed(path,
      spark.readStream.schema(feedSchema(path))
        .option("basePath", changesRoot(path).toString)
        .parquet(changesRoot(path).toString)))
  }

  /** Backfill feed gaps (crash between manifest publish and feed
    * rename, or a table created before the feed existed): appends
    * re-link their data files, compactions publish the empty dir,
    * overwrites at v0 are whole-table inserts, later overwrites
    * recompute the snapshot diff (needs `keys`; excludes no-op
    * updates — the one divergence from a merge-written feed, which
    * records them). Idempotent; returns the versions repaired. */
  def repairChangeFeed(spark: SparkSession, path: String,
      keys: Seq[String]): Seq[Int] = {
    import org.apache.spark.sql.functions.{col, lit}
    val head = latestVersion(path)
    (0 to head).filterNot(v => Files.isDirectory(changeDirPath(path, v)))
      .map { v =>
        val m = readManifest(path, v)
        m.mode match {
          case "append" =>
            insertFeed(spark, path, v, m, Seq(m.dataDirs.last))
          case "compact" | "meta" =>
            Files.createDirectories(changeDirPath(path, v)): Unit
          case "clone" if m.dvDirs.nonEmpty =>
            // a clone born with an active deletion-vector mask: the
            // link feed would resurrect masked rows, so the birth
            // feed is the MASKED snapshot written as rows
            // (batch-sized — exactly the logical v0 content)
            val cols = read(spark, path, Some(v)).columns.toIndexedSeq
            publishWrittenFeed(
              read(spark, path, Some(v)).withColumn("ct", lit("insert"))
                .select((cols.map(col) :+ col("ct")): _*),
              path, v)
          case "clone" =>
            // a clone's v0 is a whole-table insert across ALL its
            // dirs (the birth feed [[cloneTable]] writes; this is the
            // crash-window backfill)
            insertFeed(spark, path, v, m, m.dataDirs)
          case _ if v == 0 =>
            insertFeed(spark, path, 0, m, Seq(m.dataDirs.last))
          case _ =>
            val cols = read(spark, path, Some(v)).columns.toIndexedSeq
            val feed = changeFeed(spark, path, v - 1, v, keys)
              .withColumnRenamed("change_type", "ct")
              .select((cols.map(col) :+ col("ct")): _*)
            publishWrittenFeed(feed, path, v)
        }
        v
      }
  }

  /** FEED EPOCH of version `v`: the number of commits ≤ v that are
    * NOT representable as row changes — overwrite-family manifests
    * (restore / plain overwrite) WITHOUT a published feed; the feed
    * dir's presence is the discriminator.
    * Derived from the ledger alone — no extra storage, no marker
    * files to crash between; manifests vacuumed below the retention
    * point no longer count, which is harmless because both sides of
    * an epoch compare lose the same prefix. A merge that crashed in
    * its manifest→feed window counts as a bump until repaired —
    * reseeding is a SAFE answer to an unrepaired gap. A subscriber
    * whose consumed range crosses a bump cannot apply a row diff and
    * must reseed. */
  def feedEpoch(path: String, v: Int): Int =
    (0 to v).count(w => epochBump(path, w))

  /** A version is an epoch bump iff its manifest exists and it has
    * NO published feed dir — mode-independent on purpose: restores
    * and plain overwrites never publish one (permanent bumps, unless
    * an operator backfills a key-diff feed via [[repairChangeFeed]],
    * which legitimately un-bumps them), while a commit of ANY mode
    * that crashed in its manifest→feed window is a bump exactly
    * until repaired — so [[readChangesOrReseed]] reseeds (correct,
    * merely heavier than a repair) instead of throwing. */
  private def epochBump(path: String, w: Int): Boolean =
    Files.exists(manifestPath(path, w)) &&
      !Files.isDirectory(changeDirPath(path, w))

  /** One epoch-aware change batch: `reseeded=false` means `df` is the
    * usual incremental row-change feed; `reseeded=true` means the
    * consumed range crossed a feed-epoch boundary and `df` is the
    * target-version SNAPSHOT as `ct=insert` rows — the consumer must
    * REPLACE its derived state, not apply a diff. `epoch` is the feed
    * epoch at `vTo`, for consumers that checkpoint it. */
  final case class ChangeBatch(df: DataFrame, reseeded: Boolean,
      epoch: Int)

  /** Incremental-consumer front door that SURVIVES restores and
    * overwrites mechanically: for a consumer current through
    * `vFrom - 1` asking for `vFrom..vTo`,
    *
    *  - same epoch across the range → the normal [[readChanges]] rows
    *    (restore/overwrite absent, so the loud failure cannot fire);
    *  - epoch bump inside the range → the `vTo` snapshot as
    *    whole-table `ct=insert` rows with `reseeded=true`, which a
    *    keyed mirror applies by truncate-and-load. Snapshot-sized,
    *    but an epoch bump IS a logical table replacement — there is
    *    no cheaper correct answer, and the subscriber converges
    *    WITHOUT manual intervention (VERDICT r9 gap #5).
    *
    * The epoch compare is `feedEpoch(vFrom-1) == feedEpoch(vTo)`
    * (−1 ⇒ 0): any restore/overwrite in [vFrom, vTo] breaks diff
    * applicability, including one AT vFrom. */
  def readChangesOrReseed(spark: SparkSession, path: String,
      vFrom: Int, vTo: Int): ChangeBatch = {
    import org.apache.spark.sql.functions.{col, lit}
    require(vFrom >= 0 && vFrom <= vTo,
      s"readChangesOrReseed: bad range $vFrom..$vTo")
    // ONE ledger walk: the bump test only needs (a) whether any bump
    // sits inside [vFrom, vTo] and (b) the epoch at vTo for the
    // consumer's checkpoint — counting 0..vTo once gives both
    // (feedEpoch(vFrom-1) == feedEpoch(vTo) ⇔ zero bumps in range)
    var after = 0
    var bumpsInRange = 0
    (0 to vTo).foreach { w =>
      if (epochBump(path, w)) {
        after += 1
        if (w >= vFrom) bumpsInRange += 1
      }
    }
    if (bumpsInRange == 0)
      ChangeBatch(readChanges(spark, path, vFrom, vTo),
        reseeded = false, epoch = after)
    else {
      val snap = read(spark, path, Some(vTo))
      val cols = snap.columns.toIndexedSeq
      ChangeBatch(
        snap.select((cols.map(col) :+
          lit(vTo).as("_commit_version") :+
          lit("insert").as("_change_type")): _*),
        reseeded = true, epoch = after)
    }
  }

  // ------------------------------------- metadata commits & time travel

  /** Commit timestamp (epoch millis) of `v`'s manifest; None for
    * manifests written before timestamps existed. */
  def commitTimestamp(path: String, v: Int): Option[Long] =
    readManifest(path, v).ts

  /** Whether version `v`'s manifest is still retained (false below
    * the vacuum point) — the SQL catalog's `VERSION AS OF` existence
    * probe. */
  def versionExists(path: String, v: Int): Boolean =
    v >= 0 && Files.exists(manifestPath(path, v))

  /** The oldest still-retained version (0 until the first vacuum) —
    * the lower bound of time travel and of the batch `.changes`
    * range. */
  def oldestRetainedVersion(path: String): Int = {
    val head = latestVersion(path)
    require(head >= 0, s"versioned: no committed version at $path")
    (0 to head).find(v => Files.exists(manifestPath(path, v))).get
  }

  /** Time travel BY TIMESTAMP: the snapshot a reader at wall-clock
    * `tsMillis` would have seen — the highest version whose commit
    * timestamp is ≤ `tsMillis`. Versions predating timestamp
    * tracking are skipped (their position in time is unknowable);
    * asking for a time before the first stamped commit fails loudly.
    * Driver-side O(versions) manifest scan, like every ledger walk
    * here. */
  def readAsOf(spark: SparkSession, path: String,
      tsMillis: Long): DataFrame =
    read(spark, path, Some(versionAt(path, tsMillis)))

  /** The latest version committed at or before `tsMillis` — the
    * TIMESTAMP AS OF resolution rule, shared by [[readAsOf]] and the
    * SQL catalog ([[GraftCatalog]]). */
  def versionAt(path: String, tsMillis: Long): Int = {
    val head = latestVersion(path)
    require(head >= 0, s"versioned readAsOf: no committed version at $path")
    (0 to head).flatMap { w =>
      if (!Files.exists(manifestPath(path, w))) None // vacuumed tail
      else readManifest(path, w).ts.filter(_ <= tsMillis).map(_ => w)
    }.lastOption.getOrElse(sys.error(
      s"versioned readAsOf: no commit at or before ts=$tsMillis at $path"))
  }

  /** The manifest's authoritative schema at `version` — metadata-only
    * (no file opens) when the ledger carries a DDL; pre-schema-
    * tracking manifests fall back to the snapshot read's inference.
    * The SQL catalog resolves analysis-time schemas through this. */
  def schemaAt(spark: SparkSession, path: String, version: Int)
      : org.apache.spark.sql.types.StructType =
    readManifest(path, version).schemaDdl
      .map(org.apache.spark.sql.types.StructType.fromDDL)
      .getOrElse(read(spark, path, Some(version)).schema)

  /** Add a CHECK constraint (Spark SQL boolean expression over the
    * table's columns; SQL semantics — NULL passes) as a METADATA
    * commit: the current head snapshot is validated first (a
    * constraint the existing data violates must not land), then a
    * manifest with the same data dirs and the extended constraint
    * list publishes under the usual create-exclusive race loop —
    * losers revalidate against the new head. Every later commit
    * (append, merge, compact) enforces the ledger's constraints on
    * its content before publishing and carries them forward,
    * including across overwrites. Returns the metadata version. */
  def addConstraint(spark: SparkSession, path: String,
      constraintSql: String): Int = {
    import org.apache.spark.sql.functions.{expr, not}
    commitLoop[Int](path, "addConstraint") { (head, parent) =>
      val m = headOf(parent, "addConstraint", path)
      val bad = read(spark, path, Some(head))
        .filter(not(expr(constraintSql))).limit(1).collect().headOption
      require(bad.isEmpty, s"versioned addConstraint: existing data at " +
        s"$path v$head violates '$constraintSql'; example row: " +
        bad.map(_.toString).getOrElse(""))
      // a metadata commit changes no logical rows: empty feed dir
      Right(Attempt(m.copy(mode = "meta",
        constraints = m.constraints :+ constraintSql), _.version))
    }
  }

  /** The constraint ledger at the head (or `version`). */
  def constraints(path: String, version: Option[Int] = None): Seq[String] =
    readManifest(path,
      version.getOrElse(latestVersion(path))).constraints

  /** DROP CONSTRAINT — the inverse of [[addConstraint]]: a METADATA
    * commit whose manifest carries the ledger minus the one
    * constraint matching `constraintSql` by exact (trimmed)
    * expression text. Loud when absent — a typo'd drop must not
    * silently leave the gate in place — and the error names the live
    * ledger so the caller can copy the exact text. Same
    * create-exclusive race loop as every metadata commit; history
    * below the drop still ENFORCED what it recorded (each version's
    * commits validated against its own ledger), this only stops
    * FUTURE commits from checking it. Returns the metadata version. */
  def dropConstraint(path: String, constraintSql: String): Int = {
    val want = constraintSql.trim
    commitLoop[Int](path, "dropConstraint") { (head, parent) =>
      val m = headOf(parent, "dropConstraint", path)
      require(m.constraints.exists(_.trim == want),
        s"versioned dropConstraint: no constraint '$want' at $path " +
          s"v$head (ledger: ${m.constraints.map(c => s"'$c'")
            .mkString(", ")})")
      Right(Attempt(m.copy(mode = "meta",
        constraints = m.constraints.filterNot(_.trim == want)), _.version))
    }
  }

  /** One schema-evolution operation for [[alterColumns]] — the ALTER
    * TABLE verb set (ADD / RENAME / DROP COLUMN), each a pure
    * metadata transformation with its own guards. */
  sealed trait ColumnOp
  object ColumnOp {
    /** ADD COLUMN `name` of DDL type `ddlType` (always nullable —
      * existing files null-fill it; see [[addColumn]]). */
    final case class Add(name: String, ddlType: String) extends ColumnOp
    /** RENAME COLUMN (logical only — physical names are immutable;
      * see [[renameColumn]]). */
    final case class Rename(oldName: String, newName: String)
        extends ColumnOp
    /** DROP COLUMN (tombstones the physical name; see
      * [[dropColumn]]). */
    final case class Drop(name: String) extends ColumnOp
    /** ALTER COLUMN `name` TYPE `ddlType` — a METADATA commit that
      * adopts a WIDER type along the lossless ladder ([[widens]]:
      * byte→short→int→long, float→double). Zero data files move:
      * every read already projects through the manifest's explicit
      * schema, and Spark's parquet readers upcast narrower file bytes
      * under the wider read schema — the same mechanism commit-time
      * implicit widening rides. The SQL surface reaches here through
      * `ALTER TABLE … ALTER COLUMN … TYPE` and through `MERGE … WITH
      * SCHEMA EVOLUTION` (the analyzer emits UpdateColumnType when
      * the source column is wider). Off-ladder changes fail loudly. */
    final case class Widen(name: String, ddlType: String) extends ColumnOp
  }

  /** DROP COLUMN as a METADATA commit — zero data files move: the new
    * manifest's schema simply omits the column, and every read (plain,
    * per-dir, feed) already projects through the manifest's explicit
    * schema, so the bytes still sitting in old files become invisible
    * at the head while TIME TRAVEL at older versions still shows them
    * (each version reads under its own schema). The PHYSICAL name is
    * tombstoned as a RESERVATION: re-adding the logical name is
    * allowed — column mapping ([[Manifest.colMap]]) hands the reborn
    * column a fresh physical name, so old files null-fill it instead
    * of resurrecting their bytes (the ghost-column bug field-id/name
    * mapping solves; see also [[renameColumn]]).
    * Guards: cannot drop the last column, a LIVE dir's hive partition
    * column ([[readPartitionPruned]] would break and discovery could
    * not restore prunability), or a column referenced by a CHECK
    * constraint (conservative word-boundary match — drop the
    * constraint first). Publishes mode `meta` with an empty feed dir
    * (no logical rows changed), like [[addConstraint]]. */
  def dropColumn(path: String, colName: String): Int =
    alterColumns(path, Seq(ColumnOp.Drop(colName)))

  /** ADD COLUMN as a METADATA commit — zero data files move: the new
    * manifest's schema gains a nullable field that every existing
    * file null-fills under the explicit read schema (the same
    * mechanism appends-with-adds rely on); later data commits
    * populate it. The physical name follows the commit-time rule
    * ([[commitCore]]'s assignPhys): the logical name itself unless a
    * live physical or a dropColumn tombstone already owns it — then a
    * fresh `<name>_p<version>`, recorded in [[Manifest.colMap]], so
    * ADD after DROP can never resurrect old bytes. Guards: reserved
    * names, existing columns (folded compare). Mode `meta`, empty
    * feed dir. */
  def addColumn(path: String, colName: String, ddlType: String): Int =
    alterColumns(path, Seq(ColumnOp.Add(colName, ddlType)))

  /** RENAME COLUMN as a METADATA commit — zero data files move, the
    * rename unlocked by name-mode column mapping ([[Manifest.colMap]]):
    * a column's PHYSICAL name (what every file ever written carries)
    * is fixed at its first commit; the rename swaps only the LOGICAL
    * name in the manifest's schema and repoints the mapping. Old
    * files read under the new name immediately (one physical schema
    * covers every era), TIME TRAVEL below the rename still shows the
    * old name (each version reads under its own manifest), and the
    * change feed follows the head's names ([[logicalizeFeed]]) so a
    * checkpointed subscriber crosses the rename exactly-once — feed
    * FILES are physical-named and era-free.
    *
    * Guards: `oldName` must exist; `newName` must not collide with a
    * live column (folded — Spark resolves case-insensitively) or a
    * reserved feed/DV name; a CHECK constraint referencing `oldName`
    * blocks the rename (its expression text would silently break —
    * drop the constraint, rename, re-add under the new name).
    * Partition columns rename fine: directory layouts carry the
    * immutable physical name. Publishes mode `meta` with an empty
    * feed dir, like [[dropColumn]]. */
  def renameColumn(path: String, oldName: String, newName: String): Int =
    alterColumns(path, Seq(ColumnOp.Rename(oldName, newName)))

  /** Apply a SEQUENCE of column operations as ONE atomic metadata
    * commit — the engine under `ALTER TABLE … ADD COLUMNS (a INT,
    * b STRING)` and every single-op wrapper above. All guards for all
    * ops are checked against the evolving schema BEFORE anything
    * publishes, so a failing op mid-list leaves the table exactly as
    * it was (no partially applied ALTER — the failure the per-op
    * commit shape could not avoid); one manifest carries the combined
    * result. Ops apply in order (ADD then RENAME of the added name is
    * legal). Same optimistic race loop as every metadata commit:
    * losers re-derive against the new head. */
  def alterColumns(path: String, ops: Seq[ColumnOp]): Int = {
    import org.apache.spark.sql.types.{DataType, StructField, StructType}
    require(ops.nonEmpty, s"versioned alterColumns: empty op list at $path")
    // one loud prefix per op kind, matching the single-op entry
    // points' historical messages
    def pfx(op: ColumnOp): String = op match {
      case _: ColumnOp.Add => "versioned addColumn"
      case _: ColumnOp.Rename => "versioned renameColumn"
      case _: ColumnOp.Drop => "versioned dropColumn"
      case _: ColumnOp.Widen => "versioned widenColumn"
    }
    val what = if (ops.sizeIs == 1) pfx(ops.head).stripPrefix("versioned ")
      else "alterColumns"
    val loopPfx = s"versioned $what"
    // reserved-name + type-parse guards need no ledger state: fail
    // them before the loop (folded — Spark resolves names
    // case-insensitively, so 'Cv' shadows the feed partition column
    // exactly as 'cv' does)
    ops.foreach {
      case op @ ColumnOp.Add(n, ddlType) =>
        require(!Seq("cv", "ct", "__dv_rel", "__dv_pos")
            .contains(foldName(n)),
          s"${pfx(op)}: '$n' is reserved")
        DataType.fromDDL(ddlType): Unit // parse error is the message
      case op @ ColumnOp.Rename(_, nn) =>
        require(!Seq("cv", "ct", "__dv_rel", "__dv_pos")
            .contains(foldName(nn)),
          s"${pfx(op)}: '$nn' is reserved")
      case ColumnOp.Widen(_, ddlType) =>
        DataType.fromDDL(ddlType): Unit // parse error is the message
      case _: ColumnOp.Drop => ()
    }
    commitLoop[Int](path, what) { (head, pm) =>
      val parent = headOf(pm, what, path)
      val ddl = parent.schemaDdl.getOrElse(sys.error(
        s"$loopPfx: table at $path predates schema tracking"))
      // the evolving state every op transforms under guard; nothing
      // below publishes until EVERY op validated
      var ps = StructType.fromDDL(ddl)
      var droppedCols = parent.droppedCols
      var colMap = parent.colMap
      var props = parent.props
      def physOf(l: String): String = {
        val f = foldName(l)
        colMap.collectFirst {
          case (k, p) if foldName(k) == f => p
        }.getOrElse(l)
      }
      def constraintGuard(p: String, name: String): Unit = {
        val word = ("(?i).*\\b" +
          java.util.regex.Pattern.quote(name) + "\\b.*").r
        parent.constraints.find(c => word.matches(c)).foreach(c =>
          sys.error(s"$p: '$name' appears in CHECK constraint '$c' " +
            s"at $path — remove the constraint first"))
      }
      // ---- NESTED (dotted-path) machinery: `meta.flag` names struct
      // field `flag` inside top-level column `meta`, at any depth;
      // paths through arrays/maps are rejected loudly. LOGICAL dotted
      // paths key nested colMap entries; PHYSICAL dotted paths (every
      // level under its immutable physical name) key nested
      // droppedCols tombstones — the same two ledgers top-level
      // evolution uses, extended one axis.
      def splitPath(n: String): Seq[String] = {
        val segs = n.split("\\.").toIndexedSeq.map(_.trim)
        require(segs.forall(_.nonEmpty),
          s"$loopPfx: malformed nested path '$n' at $path")
        segs
      }
      // canonical (schema-spelled) path — validates every level
      // exists and every intermediate level is a struct
      def canonPath(p: Seq[String], what: String): Seq[String] = {
        var dt: DataType = ps
        p.map { seg =>
          dt match {
            case st: StructType =>
              val f = st.fields.find(x =>
                  foldName(x.name) == foldName(seg))
                .getOrElse(sys.error(
                  s"$what: no field '$seg' in nested path at $path " +
                    s"(have: ${st.fieldNames.mkString(", ")})"))
              dt = f.dataType
              f.name
            case other => sys.error(
              s"$what: nested path segment '$seg' traverses " +
                s"non-struct type ${other.sql} at $path — nested " +
                "ALTER supports struct fields only")
          }
        }
      }
      def physLeafLocal(p: Seq[String]): String = {
        val key = foldName(p.mkString("."))
        colMap.collectFirst { case (k, v) if foldName(k) == key => v }
          .getOrElse(p.last)
      }
      def physDotted(p: Seq[String]): String =
        p.indices.map(i => physLeafLocal(p.take(i + 1))).mkString(".")
      def structAt(p: Seq[String], what: String): StructType = {
        var dt: DataType = ps
        p.foreach { seg =>
          dt = dt.asInstanceOf[StructType].fields
            .find(x => foldName(x.name) == foldName(seg)).get.dataType
        }
        dt match {
          case st: StructType => st
          case other => sys.error(
            s"$what: '${p.mkString(".")}' is ${other.sql}, not a " +
              s"struct at $path")
        }
      }
      // rebuild the evolving schema with the struct at CANONICAL path
      // `p` transformed by `f`
      def rebuildAt(p: Seq[String], what: String)(
          f: StructType => StructType): Unit = {
        def go(dt: DataType, rest: Seq[String]): DataType =
          if (rest.isEmpty) f(dt.asInstanceOf[StructType])
          else {
            val st = dt.asInstanceOf[StructType]
            StructType(st.fields.map(x =>
              if (foldName(x.name) == foldName(rest.head))
                x.copy(dataType = go(x.dataType, rest.tail))
              else x))
          }
        structAt(p, what): Unit // validates the path lands on a struct
        ps = go(ps, p).asInstanceOf[StructType]
      }
      ops.foreach {
        // ---------------------------------------- nested struct ops
        case op @ ColumnOp.Drop(colName) if colName.contains(".") =>
          val full = canonPath(splitPath(colName), pfx(op))
          val st = structAt(full.init, pfx(op))
          require(st.fields.length > 1,
            s"${pfx(op)}: cannot drop the last field of struct " +
              s"'${full.init.mkString(".")}' at $path — drop the " +
              "column itself instead")
          constraintGuard(pfx(op), full.last)
          val dotted = physDotted(full)
          rebuildAt(full.init, pfx(op))(s => StructType(
            s.fields.filterNot(x =>
              foldName(x.name) == foldName(full.last))))
          droppedCols = droppedCols :+ dotted
          val fullFold = foldName(full.mkString("."))
          colMap = colMap.filterNot { case (k, _) =>
            foldName(k) == fullFold ||
              foldName(k).startsWith(fullFold + ".") }
        case op @ ColumnOp.Add(colName, ddlType)
            if colName.contains(".") =>
          val dt = DataType.fromDDL(ddlType)
          val segs = splitPath(colName)
          val parentPath = canonPath(segs.init, pfx(op))
          val leaf = segs.last
          val st = structAt(parentPath, pfx(op))
          require(!st.fields.exists(x =>
              foldName(x.name) == foldName(leaf)),
            s"${pfx(op)}: field '$colName' already exists at $path")
          // physical naming mirrors top-level ADD: the leaf name
          // itself unless a sibling's physical name or a nested
          // tombstone under this physical parent owns it — then a
          // fresh `<leaf>_p<version>` recorded in the nested colMap,
          // so drop-then-re-add can never resurrect old bytes (data
          // OR feed eras)
          val physParent = foldName(physDotted(parentPath))
          val sibUsed = st.fields.map(x =>
            foldName(physLeafLocal(parentPath :+ x.name))).toSet
          val tombUsed = droppedCols.iterator.map(foldName)
            .filter(_.startsWith(physParent + "."))
            .map(_.drop(physParent.length + 1))
            .filterNot(_.contains(".")).toSet
          var phys = leaf
          var i = 0
          while (sibUsed(foldName(phys)) || tombUsed(foldName(phys))) {
            i += 1
            phys = if (i == 1) s"${leaf}_p${head + 1}"
              else s"${leaf}_p${head + 1}_$i"
          }
          rebuildAt(parentPath, pfx(op))(s => StructType(
            s.fields :+ StructField(leaf, asNullable(dt),
              nullable = true)))
          if (foldName(phys) != foldName(leaf))
            colMap = colMap +
              ((parentPath :+ leaf).mkString(".") -> phys)
        case op @ ColumnOp.Widen(colName, ddlType)
            if colName.contains(".") =>
          val want = DataType.fromDDL(ddlType)
          val full = canonPath(splitPath(colName), pfx(op))
          val st = structAt(full.init, pfx(op))
          val field = st.fields.find(x =>
            foldName(x.name) == foldName(full.last)).get
          if (field.dataType != want) {
            require(widens(field.dataType, want),
              s"${pfx(op)}: cannot change '$colName' from " +
                s"${field.dataType.sql} to ${want.sql} at $path — " +
                "only lossless widenings (byte→short→int→long, " +
                "float→double) are metadata-only; anything else " +
                "would reinterpret committed bytes")
            rebuildAt(full.init, pfx(op))(s => StructType(
              s.fields.map(x =>
                if (foldName(x.name) == foldName(full.last))
                  x.copy(dataType = want)
                else x)))
          }
        case op @ ColumnOp.Rename(oldName, newName)
            if oldName.contains(".") =>
          require(!newName.contains("."),
            s"${pfx(op)}: the new name must be a bare field name, " +
              s"got '$newName'")
          val full = canonPath(splitPath(oldName), pfx(op))
          val st = structAt(full.init, pfx(op))
          require(!st.fields.exists(x =>
              foldName(x.name) == foldName(newName)),
            s"${pfx(op)}: field '$newName' already exists in " +
              s"'${full.init.mkString(".")}' at $path")
          constraintGuard(pfx(op), full.last)
          val physical = physLeafLocal(full)
          rebuildAt(full.init, pfx(op))(s => StructType(
            s.fields.map(x =>
              if (foldName(x.name) == foldName(full.last))
                x.copy(name = newName)
              else x)))
          val oldDotted = full.mkString(".")
          val newDotted = (full.init :+ newName).mkString(".")
          // re-key this path's entry and every DEEPER entry under it
          // (folded prefix compare is length-preserving for ASCII)
          colMap = colMap.flatMap { case (k, p) =>
            if (foldName(k) == foldName(oldDotted)) None
            else if (foldName(k).startsWith(foldName(oldDotted) + "."))
              Some((newDotted + k.drop(oldDotted.length), p))
            else Some((k, p))
          }
          if (foldName(newName) != foldName(physical))
            colMap = colMap + (newDotted -> physical)
        // ----------------------------------------- top-level ops
        case op @ ColumnOp.Drop(colName) =>
          val logical = ps.fields.find(f =>
              foldName(f.name) == foldName(colName))
            .map(_.name).getOrElse(sys.error(
              s"${pfx(op)}: no column '$colName' at $path " +
                s"(have: ${ps.fieldNames.mkString(", ")})"))
          val physical = physOf(logical)
          require(ps.fields.length > 1,
            s"${pfx(op)}: cannot drop the last column at $path")
          require(!parent.partSpecs.values.flatMap(parsePartSpec)
              .map(f => foldName(f.col)).toSet
              .contains(foldName(physical)),
            s"${pfx(op)}: '$colName' is a live dir's partition " +
              s"column at $path — compact() first to flatten the layout")
          // the partition POLICY (props, logical names) guards too —
          // a full compact flattens the per-dir specs, but dropping
          // the policy column would break every LATER insert (the
          // rename path follows the policy; the drop path refuses)
          require(!props.get("partCol").toSeq.flatMap(parsePartSpec)
              .exists(f => foldName(f.col) == foldName(logical)),
            s"${pfx(op)}: '$colName' is the table's PARTITIONED BY " +
              s"policy column at $path — every future INSERT would " +
              "fail to lay out; change the policy first (re-CREATE " +
              "or clear partCol) before dropping the column")
          constraintGuard(pfx(op), colName)
          ps = StructType(ps.fields.filterNot(f =>
            foldName(f.name) == foldName(colName)))
          droppedCols = droppedCols :+ physical
          // the column's own entry AND any nested (dotted) entries
          // under it go — the logical namespace vanished with it
          colMap = colMap.filterNot { case (l, _) =>
            foldName(l) == foldName(logical) ||
              foldName(l).startsWith(foldName(logical) + ".") }
        case op @ ColumnOp.Add(colName, ddlType) =>
          val dt = DataType.fromDDL(ddlType)
          require(!ps.fields.exists(f =>
              foldName(f.name) == foldName(colName)),
            s"${pfx(op)}: column '$colName' already exists at $path")
          val used = (ps.fields.toSeq.map(f => foldName(physOf(f.name)))
            ++ droppedCols.map(foldName)).toSet
          var phys = colName
          var i = 0
          while (used(foldName(phys))) {
            i += 1
            phys = if (i == 1) s"${colName}_p${head + 1}"
              else s"${colName}_p${head + 1}_$i"
          }
          ps = StructType(
            ps.fields :+ StructField(colName, dt, nullable = true))
          if (foldName(phys) != foldName(colName))
            colMap = colMap + (colName -> phys)
        case op @ ColumnOp.Widen(colName, ddlType) =>
          val want = DataType.fromDDL(ddlType)
          val field = ps.fields.find(f =>
              foldName(f.name) == foldName(colName))
            .getOrElse(sys.error(
              s"${pfx(op)}: no column '$colName' at $path " +
                s"(have: ${ps.fieldNames.mkString(", ")})"))
          // equal type = idempotent no-op within the statement; a
          // NARROWING or off-ladder change is loud — the files' bytes
          // cannot be reinterpreted losslessly
          if (field.dataType != want) {
            require(widens(field.dataType, want),
              s"${pfx(op)}: cannot change '$colName' from " +
                s"${field.dataType.sql} to ${want.sql} at $path — " +
                "only lossless widenings (byte→short→int→long, " +
                "float→double) are metadata-only; anything else " +
                "would reinterpret committed bytes")
            ps = StructType(ps.fields.map(f =>
              if (foldName(f.name) == foldName(colName))
                f.copy(dataType = want)
              else f))
          }
        case op @ ColumnOp.Rename(oldName, newName) =>
          val field = ps.fields.find(f =>
              foldName(f.name) == foldName(oldName))
            .getOrElse(sys.error(
              s"${pfx(op)}: no column '$oldName' at $path " +
                s"(have: ${ps.fieldNames.mkString(", ")})"))
          require(!ps.fields.exists(f =>
              foldName(f.name) == foldName(newName)),
            s"${pfx(op)}: column '$newName' already exists at $path")
          constraintGuard(pfx(op), oldName)
          val physical = physOf(field.name)
          ps = StructType(ps.fields.map(f =>
            if (foldName(f.name) == foldName(oldName))
              f.copy(name = newName)
            else f))
          colMap = colMap.flatMap { case (l, p) =>
            if (foldName(l) == foldName(oldName)) None
            // nested (dotted) entries under the renamed column re-key
            // to the new top-level logical name — their physical leaf
            // names are untouched
            else if (foldName(l).startsWith(foldName(oldName) + "."))
              Some((newName + l.drop(oldName.length), p))
            else Some((l, p))
          } ++
            // identity entries stay OUT of the map — a rename back to
            // the physical name fully dissolves the divergence
            (if (foldName(newName) == foldName(physical))
              Map.empty[String, String]
            else Map(newName -> physical))
          // the partition POLICY names columns LOGICALLY (props,
          // unlike the per-dir specs' physical names) — renaming a
          // policy column must follow, or every later INSERT /
          // replaceDynamic fails "no column to partition by"
          props.get("partCol").foreach { s =>
            val followed = parsePartSpec(s).map(f =>
              if (foldName(f.col) == foldName(oldName))
                f.copy(col = newName)
              else f)
            props = props + ("partCol" -> renderPartSpec(followed))
          }
      }
      Right(Attempt(parent.copy(mode = "meta", schemaDdl = Some(ps.toDDL),
        droppedCols = droppedCols, colMap = colMap, props = props),
        _.version))
    }
  }
  /** Snapshot CDC: classify every key between two versions of the
    * table as insert / delete / update / unchanged — the change feed
    * an incremental consumer reads instead of re-scanning snapshots.
    * Non-key columns compare through a null-safe canonical row hash
    * (md5 of the JSON struct; engine-internal — it never crosses to
    * another engine). One full-outer equi-join on the key: both
    * snapshots shuffle once, no broadcast assumption, AQE picks the
    * physical join. Returns the key columns + `change_type`.
    *
    * PRECONDITION: `keys` must be unique within each snapshot (the
    * normal CDC contract for a keyed table) — duplicate keys would
    * fan out through the full-outer join, one verdict row per
    * cross-pair. Deduplicate upstream (e.g. [[graft.dedup.Dedup]])
    * before committing if the source can repeat keys. */
  def changes(spark: SparkSession, path: String, vFrom: Int, vTo: Int,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = read(spark, path, Some(vFrom))
    val b = read(spark, path, Some(vTo))
    require(a.columns.sorted.sameElements(b.columns.sorted),
      s"changes: schema drift between v$vFrom and v$vTo at $path")
    val nonKey = a.columns.filterNot(keys.contains).sorted.toIndexedSeq
    def sig(df: DataFrame, tag: String) = df.select(
      (keys.map(col) :+
        md5(to_json(struct(nonKey.map(col): _*))).as(s"__h_$tag")): _*)
    sig(a, "a").join(sig(b, "b"), keys, "full_outer")
      .withColumn("change_type",
        when(col("__h_a").isNull, "insert")
          .when(col("__h_b").isNull, "delete")
          .when(col("__h_a") =!= col("__h_b"), "update")
          .otherwise("unchanged"))
      .drop("__h_a", "__h_b")
  }

  /** The classified change feed of a [[mergeDV]]: each batch row
    * against the base snapshot's KEYS — existing key → update
    * (post-image), new key → insert, deleteWhen + existing → delete
    * (null non-keys), deleteWhen + absent → no-op. Batch-sized, one
    * key-join, derived from the immutable base snapshot AFTER the
    * publish (a lost race never writes a stale feed). */
  private def publishMergeFeed(path: String, v: Int, target: DataFrame,
      updates: DataFrame, keys: Seq[String],
      deleteWhen: Option[org.apache.spark.sql.Column]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val cols = target.columns.toIndexedSeq
    val nonKey = cols.filterNot(keys.contains)
    val existed = coalesce(col("__existed"), lit(false))
    // classification MUST mirror the data path exactly: upserts keep
    // rows where `!deleteWhen` is TRUE, so a NULL predicate row is
    // NOT upserted (its key still leaves via the touched set) — it
    // is a delete. coalesce(d, true), not coalesce(d, false):
    // the false default silently published ct=update for a row the
    // merge just removed, and a mirror applying the feed diverged.
    val isDel = deleteWhen.map(d => coalesce(d, lit(true)))
      .getOrElse(lit(false))
    val classified = updates.join(
      target.select(keys.map(col): _*)
        .withColumn("__existed", lit(true)),
      keys.toIndexedSeq, "left")
    val delRows = classified.filter(isDel && existed)
      .select((keys.map(col) ++ nonKey.map(c =>
        lit(null).cast(target.schema(c).dataType).as(c)) :+
        lit("delete").as("ct")): _*)
      .select((cols.map(col) :+ col("ct")): _*)
    val upRows = classified.filter(!isDel)
      .withColumn("ct",
        when(existed, lit("update")).otherwise(lit("insert")))
      .select((cols.map(col) :+ col("ct")): _*)
    publishWrittenFeed(upRows.unionByName(delRows), path, v)
  }

  /** MERGE INTO the versioned table with BATCH-PROPORTIONAL write
    * amplification: matched target rows are MASKED via a
    * deletion-vector sidecar and the surviving batch rows APPEND as
    * one new data dir, published together in ONE atomic manifest
    * (mode `merge-dv`), so readers flip from the pre-merge snapshot to
    * the post-merge one and history still time-travels. Bytes WRITTEN
    * ∝ |batch| + |matched row ids| — a 1000-row CDC batch into a
    * 100 TB table stages kilobytes of mask plus the batch itself.
    * (The read side still scans the table once to FIND the matched
    * positions — the unavoidable cost every merge pays — and later
    * scans load the mask's positions for the files it touches until
    * [[compact]] materializes it away.)
    *
    * Semantics: rows of the head snapshot whose key appears in
    * `updates` are replaced, unmatched update rows are inserted,
    * untouched rows persist; `deleteWhen` (evaluated against
    * `updates`) marks rows whose key is REMOVED instead of upserted —
    * what a CDC delete needs; the non-key values of such rows are
    * ignored. Same key-uniqueness precondition as [[changes]]. CHECK
    * constraints enforce on the INCOMING rows only — carried rows
    * proved themselves at their own commit, the same argument plain
    * appends rely on. The batch's columns must match the table schema
    * (column ADDS go through append commits).
    *
    * Concurrency: a merge is a read-modify-write, so it derives from
    * the head, attempts to publish at head+1, and if ANY other commit
    * landed meanwhile, drops its staged dirs and re-derives from the
    * new head — a concurrent append can never be silently lost. `txn`
    * makes the merge idempotent under replay (a streaming CDC apply
    * rides this — the manifest ledger is the sink's transaction log).
    * The classified change feed is written after the publish;
    * [[feedEpoch]] does not bump (the feed fully represents the
    * change). */
  def mergeDV(spark: SparkSession, path: String, updates: DataFrame,
      keys: Seq[String], txn: Option[String] = None,
      deleteWhen: Option[org.apache.spark.sql.Column] = None): Int = {
    import org.apache.spark.sql.functions.col
    commitLoop[Int](path, "mergeDV", txn, replay = identity) {
        (head, parent) =>
      val m = headOf(parent, "mergeDV", path)
      val target = read(spark, path, Some(head))
      // a NULL deleteWhen row is dropped from the upserts (its key
      // still deletes via the touched set) — [[publishMergeFeed]]
      // classifies it as a delete to match
      val upserts = deleteWhen
        .map(d => updates.filter(!d))
        .getOrElse(updates)
        .select(target.columns.map(col).toIndexedSeq: _*)
      // type-drift gate (commitCore's ledger check, inlined): the
      // staged parquet must carry the table's exact column types
      m.schemaDdl.foreach { ddl =>
        val ts = org.apache.spark.sql.types.StructType.fromDDL(ddl)
        upserts.schema.fields.foreach { f =>
          val want = ts.fields.find(_.name == f.name).map(_.dataType)
          require(want.forall(_ == f.dataType),
            s"versioned mergeDV: column ${f.name} type drift " +
              s"(${want.get} -> ${f.dataType}) at $path")
        }
      }
      // constraint gate on the incoming rows BEFORE any staging
      requireConstraints("mergeDV", path, m.constraints, upserts)
      // mask every LIVE target row whose key appears in the batch —
      // ONE semi-join against the (small) distinct key set, staged
      // by [[stageMask]]: batch-matched-sized, never table-sized; a
      // batch of all-new keys adds no mask dir
      val touched = updates.select(keys.map(col): _*).distinct()
      val live = readSnapshot(spark, path, m, whole(m.dataDirs),
        withIds = true, masks = m.masks)
      val mask = stageMask(path,
        live.join(touched, keys.toIndexedSeq, "left_semi"))
      val dataId = java.util.UUID.randomUUID().toString
      toPhysical(m, upserts)
        .write.mode("errorifexists").parquet(s"$path/data/$dataId")
      Right(Attempt(m.copy(mode = "merge-dv", dataDirs = m.dataDirs :+ dataId,
          masks = m.masks ++ mask),
        _.version,
        // both staged dirs derive from this head: a lost race drops them
        staged = mask.map(k => Paths.get(path, "dv", k.id)).toSeq :+
          Paths.get(path, "data", dataId),
        feed = Feed.Rows(next => publishMergeFeed(path, next.version,
          target, updates, keys, deleteWhen)),
        // the merge's upsert dir inherits the head's indexes, so
        // point-lookup pruning does not decay under CDC traffic
        newDir = Some(NewDir(spark, dataId))))
    }
  }

  /** Result of a [[replaceWhere]]: the committed version plus the
    * scope accounting — how many data dirs the predicate DROPPED
    * whole (metadata-only, the daily re-land), how many carried by
    * reference, and how many rows the residual deletion-vector mask
    * covers. droppedDirs > 0 && maskedRows == 0 is the proof a
    * partition replace moved zero existing bytes. */
  final case class ReplaceResult(version: Int, droppedDirs: Int,
      carriedDirs: Int, maskedRows: Long)

  /** Predicate-scoped atomic OVERWRITE — the `replaceWhere` /
    * `INSERT OVERWRITE … PARTITION (…)` lake idiom: ONE commit that
    * removes every live row matching `predicate` and lands `data` in
    * its place, leaving everything outside the scope untouched. The
    * daily re-land on a 100 TB table replaces one day, not the table
    * (the plain overwrite commit truncates everything).
    *
    * Scale shape, two tiers:
    *  - **Dir drop (metadata-only)**: when `partEqs` is supplied — a
    *    structured rendering of the predicate as a conjunction of
    *    `col IN values` over identity-partitioned columns — every
    *    data dir whose hive subtrees PROVABLY all match (its
    *    `_files.json` paths, no data IO) is dropped from the manifest's dir
    *    chain. Replacing a whole region/day that landed as its own
    *    commit moves zero existing bytes.
    *  - **DV mask (merge-on-read)**: matching rows in the remaining
    *    dirs are masked via a deletion-vector sidecar — mask rows ∝
    *    matches, zero files rewritten — so the predicate stays
    *    row-EXACT whatever the layout (mixed specs, unaligned
    *    boundaries, extra conjuncts).
    *
    * CALLER CONTRACT on `partEqs`: when non-empty it must be EXACTLY
    * equivalent to `predicate` (every conjunct present — the SQL
    * bridge derives both from the same filter set). A dir is dropped
    * only when EVERY conjunct is proven dir-wide from its recorded
    * spec and listed subtree values; anything unproven falls to the
    * mask tier — unknown never justifies a drop.
    *
    * SCOPE GATE (the replaceWhere contract every lakehouse enforces):
    * all incoming rows must satisfy `predicate` — a batch row outside
    * the replaced scope fails loudly BEFORE any staging, because it
    * would silently survive the next replace of its own scope.
    *
    * The new batch stages under the table's declared partition
    * POLICY (`partCol` props — CREATE TABLE … PARTITIONED BY), so a
    * re-landed day keeps the layout and its pruning. Constraints,
    * type-drift gate, txn dedup, and the optimistic-concurrency
    * retry loop all apply as in [[mergeDV]]; the change feed
    * publishes classified rows (`ct=delete` pre-images for dropped
    * dirs' live rows and masked rows, `ct=insert` for the staged
    * batch read BACK from its committed bytes), so `.changes`
    * streams a partition replace exactly like any other row DML. */
  def replaceWhere(spark: SparkSession, path: String, data: DataFrame,
      predicate: org.apache.spark.sql.Column,
      partEqs: Seq[(String, Set[String])] = Seq.empty,
      txn: Option[String] = None): ReplaceResult =
    replaceCore(spark, path, data, predicate,
      partEqs.map { case (c, vs) => (PartField(c, None), vs) }, txn)

  /** DYNAMIC partition overwrite — `INSERT OVERWRITE` replacing
    * exactly the partitions the batch TOUCHES (Spark's
    * partitionOverwriteMode=dynamic semantics, atomic here): the
    * batch's distinct partition renderings (identity values / time-
    * transform unit renderings under the table's declared policy)
    * become the replace scope, dirs wholly inside it drop metadata-
    * only, the residue masks row-exactly, and the batch lands — one
    * [[replaceWhere]]-shaped commit. Partition-tuple membership is
    * the scope (rendering equality — dir granularity is WHAT dynamic
    * overwrite replaces), so multi-field policies are tuple-exact
    * (never the per-column cross product); NULL partition values
    * match the hive default-partition rendering. Bounded by
    * [[MaxDynamicPartitions]] distinct touched partitions per batch
    * (the scope tuples drive the predicate; a batch touching more is
    * almost certainly missing its partition column — loud). */
  def replaceDynamic(spark: SparkSession, path: String,
      data: DataFrame, txn: Option[String] = None): ReplaceResult = {
    import org.apache.spark.sql.functions.{col, date_format, lit}
    val head = latestVersion(path)
    require(head >= 0,
      s"versioned replaceDynamic: no committed version at $path")
    val m = readManifest(path, head)
    val policy = m.props.get("partCol").map(parsePartSpec).getOrElse(
      sys.error(s"versioned replaceDynamic: table at $path declares " +
        "no partitioning — dynamic overwrite replaces the partitions " +
        "the batch touches; for an unpartitioned table use a plain " +
        "overwrite (truncate) or replaceWhere with an explicit scope"))
    val zoned = zonedPartSpec(data, policy)
    // each field's DIRECTORY rendering as an expression — what the
    // staged hive layout will name its dirs, so scope == layout
    val exprs = zoned.map { f =>
      f.unit match {
        case None => col(f.col).cast("string")
        case Some(u) => bucketModulus(u) match {
          case Some(n) => org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.hash(col(f.col)),
            lit(n)).cast("string")
          case None => date_format(col(f.col), PartUnits(u))
        }
      }
    }
    val tuples = data.select(exprs.zipWithIndex.map { case (e, i) =>
      e.as(s"p$i") }: _*).distinct()
      .limit(MaxDynamicPartitions + 1).collect()
    require(tuples.length <= MaxDynamicPartitions,
      s"versioned replaceDynamic at $path: the batch touches more " +
        s"than $MaxDynamicPartitions distinct partitions — almost " +
        "certainly a missing/mis-typed partition column; land it as " +
        "a plain overwrite or split the load")
    val predicate =
      if (tuples.isEmpty) lit(false) // empty batch: replace nothing
      else tuples.toIndexedSeq.map { row =>
        exprs.zipWithIndex.map { case (e, i) =>
          if (row.isNullAt(i)) e.isNull else e === lit(row.getString(i))
        }.reduce(_ && _)
      }.reduce(_ || _)
    // single-field policies prove dir drops (a value-set rendering is
    // exactly the predicate); multi-field tuple scopes have no
    // conjunctive rendering — they stay on the row-exact mask tier
    val proof =
      if (zoned.sizeIs != 1 || tuples.isEmpty) Seq.empty
      else Seq(zoned.head -> tuples.toIndexedSeq.map(r =>
        if (r.isNullAt(0)) "__HIVE_DEFAULT_PARTITION__"
        else r.getString(0)).toSet)
    replaceCore(spark, path, data, predicate, proof, txn)
  }

  /** Distinct-touched-partitions bound per [[replaceDynamic]] batch. */
  private val MaxDynamicPartitions = 10000

  private def replaceCore(spark: SparkSession, path: String,
      data: DataFrame, predicate: org.apache.spark.sql.Column,
      partEqs: Seq[(PartField, Set[String])],
      txn: Option[String]): ReplaceResult = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    import org.apache.spark.sql.types.StructType
    commitLoop[ReplaceResult](path, "replaceWhere", txn,
        replay = ReplaceResult(_, -1, -1, -1L)) { (_, parent) =>
      val m = headOf(parent, "replaceWhere", path)
      val st = StructType.fromDDL(m.schemaDdl.getOrElse(sys.error(
        s"versioned replaceWhere: table at $path predates schema tracking")))
      // align the batch to the table schema by (folded) name; exact
      // types only — replace batches carry the table's own shape
      val byFold = data.columns.map(c => foldName(c) -> c).toMap
      val batch = data.select(st.fields.toIndexedSeq.map { f =>
        val src = byFold.getOrElse(foldName(f.name), sys.error(
          s"versioned replaceWhere: batch lacks column '${f.name}' " +
            s"(have: ${data.columns.mkString(", ")})"))
        col(src).as(f.name)
      }: _*)
      st.fields.foreach { f =>
        val got = batch.schema(f.name).dataType
        require(got == f.dataType,
          s"versioned replaceWhere: column ${f.name} type drift " +
            s"(${f.dataType} -> $got) at $path")
      }
      requireConstraints("replaceWhere", path, m.constraints, batch)
      // scope gate: every incoming row must be IN the replaced scope
      // (NULL predicate = outside — it would not be deleted by the
      // next replace of this scope)
      val outside = batch.filter(!coalesce(predicate, lit(false)))
        .limit(1).collect().headOption
      require(outside.isEmpty, s"versioned replaceWhere at $path: " +
        "the batch contains rows NOT matching the replace predicate " +
        "— such rows would silently escape the next replace of " +
        "their own scope; widen the predicate or filter the batch. " +
        s"Example row: ${outside.map(_.toString).getOrElse("")}")
      // tier 1 — dir drop: every conjunct proven dir-wide from the
      // recorded spec + listed subtree values (metadata IO only)
      val droppedSet: Set[String] =
        if (partEqs.isEmpty) Set.empty
        else m.dataDirs.filter { d =>
          m.partSpecs.get(d).map(parsePartSpec) match {
            case None => false
            case Some(spec) => partEqs.forall { case (pf, vals) =>
              val cPhys = m.physOf(pf.col)
              // a transform entry proves only under the SAME clock it
              // was rendered with (the PartField zone contract — a
              // mismatched dir stays on the mask tier, never wrong)
              val zone = spark.sessionState.conf.sessionLocalTimeZone
              val idx = spec.indexWhere(f => f.unit == pf.unit &&
                foldName(f.col) == foldName(cPhys) &&
                (f.unit.isEmpty || f.zone.forall(_ == zone)))
              idx >= 0 && hiveSubtreesCovered(dirFacts(path, d), spec, idx,
                vals)
            }
          }
        }.toSet
      val dropped = m.dataDirs.filter(droppedSet)
      val kept = m.dataDirs.filterNot(droppedSet)
      // tier 2 — DV mask over the KEPT dirs only (row-exact residue);
      // bloom-pruned to candidate files when the predicate carries an
      // indexed point lookup, like every DML mask scan
      val mask = if (kept.isEmpty) None else stageMask(path,
        dmlLiveRows(spark, path, m.copy(dataDirs = kept), predicate)
          .filter(coalesce(predicate, lit(false))))
      // stage the batch under the table's partition POLICY, so the
      // re-landed scope keeps its layout (and its pruning)
      val dataId = java.util.UUID.randomUUID().toString
      val dataDir = s"$path/data/$dataId"
      val policy = m.props.get("partCol").map(parsePartSpec)
      val zoned = policy.map(sp => zonedPartSpec(batch, sp))
      zoned match {
        case Some(_) => stageHiveSpec(dataDir, toPhysical(m, batch),
          c => m.physOf(c), policy.get)
        case None => toPhysical(m, batch)
          .write.mode("errorifexists").parquet(dataDir)
      }
      Right(Attempt(m.copy(mode = "replace", dataDirs = kept :+ dataId,
          masks = m.masks ++ mask,
          partSpecs = m.specsFor(kept) ++ zoned.map(sp =>
            dataId -> renderPartSpec(sp.map(f =>
              f.copy(col = m.physOf(f.col)))))),
        next => ReplaceResult(next.version, dropped.size, kept.size,
          mask.fold(0L)(_.rows)),
        // both staged dirs derive from this head: a lost race drops them
        staged = mask.map(k => Paths.get(path, "dv", k.id)).toSeq :+
          Paths.get(dataDir),
        // classified feed: pre-image deletes (dropped dirs' LIVE rows
        // + the staged mask's rows) and the batch as inserts, read
        // BACK from the committed bytes so feed == committed content
        feed = Feed.Rows { next =>
          val cols = st.fields.toIndexedSeq.map(_.name)
          val delDropped = if (dropped.isEmpty) None else Some(
            liveRows(spark, path, m, whole(dropped)).select(cols.map(col): _*))
          val delMasked = mask.map(
            stagedMaskRows(spark, path, m, _).select(cols.map(col): _*))
          val insBack = readSnapshot(spark, path, next, whole(Seq(dataId)))
          publishWrittenFeed(((delDropped.toSeq ++ delMasked.toSeq)
            .map(_.withColumn("ct", lit("delete")))
            :+ insBack.select(cols.map(col): _*)
              .withColumn("ct", lit("insert")))
            .reduce(_.unionByName(_)), path, next.version)
        },
        // the new dir inherits the head's indexes (a hive-partitioned
        // one carries none: pruning covers it)
        newDir = Some(NewDir(spark, dataId))))
    }
  }

  /** Does EVERY data file of `facts` sit inside a depth-`idx` hive
    * subtree whose (unescaped) value is in `vals`? Metadata only —
    * the dir-drop proof of [[replaceWhere]] and [[compactWhere]]. A
    * stray data file above the entry depth, a non-matching subtree, or
    * an empty dir all answer false: unknown never justifies a drop. */
  private def hiveSubtreesCovered(facts: DirFacts, spec: Seq[PartField],
      idx: Int, vals: Set[String]): Boolean =
    facts.files.nonEmpty && facts.files.forall(f =>
      hiveValueAt(f.path.split('/'), spec(idx), idx).exists(vals))

  /** Result of a row-level DML commit ([[deleteWhereDV]],
    * [[updateWhereDV]]): the committed version
    * and the rows the committed mask covers (-1 on a txn replay, whose
    * work was done by the original commit). */
  final case class DeleteResult(version: Int, deletedRows: Long)

  /** TEST-ONLY race-injection point: invoked by [[publishManifest]]
    * immediately before EVERY publish attempt of [[commitLoop]] — so
    * of every writer — letting a spec deterministically land a
    * competing manifest inside any derive→publish window and prove
    * the loop re-derives from the new head ([[VersionedLostRaceSpec]]
    * runs one racer per writer). A hook that itself commits must
    * self-disarm on first fire (the racer's own publish re-enters
    * it). No-op in production. */
  private[graft] var prePublishHook: () => Unit = () => ()

  /** Row-level DELETE WHERE as MERGE-ON-READ deletion vectors: the
    * matching rows' physical identities — (file path relative to the
    * table, parquet row index) pairs — are written as a tiny mask
    * sidecar under `<table>/dv/<uuid>/`, the new manifest carries the
    * SAME data dirs plus the grown mask chain (each mask recorded with
    * the files it touches), and every read drops the masked positions
    * inside the scan ([[graft.plans.DvMaskFilter]]). ZERO data files
    * are rewritten: deleting one hot row from a 100 TB table costs one
    * mask row plus one manifest, even when a matching row sits in
    * every dir. The read-side overhead grows with the accumulated
    * mask; [[compact]] materializes it away (it stages the MASKED
    * snapshot and retires the masks of the dirs it rewrote).
    *
    * SQL DELETE semantics: rows where the predicate is NULL are KEPT
    * (only TRUE deletes). Concurrency: derive from head, publish at
    * head+1 via the create-exclusive link; any commit landing first
    * fails the link and the delete re-derives against the new head
    * (new appends may contain matching rows; they must not survive).
    * `txn` dedupes replays through the manifest ledger. Change feed:
    * the deleted rows publish as `ct=delete` with their full
    * PRE-IMAGE values — a predicate delete has no key to carry, so
    * the pre-image IS the identity of what left the table. */
  def deleteWhereDV(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column,
      txn: Option[String] = None): DeleteResult = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    deleteWhereDVCore(spark, path, txn, predicate,
      _.filter(coalesce(predicate, lit(false)))) // NULL keeps the row
  }

  /** The shared mask-stage → publish → feed loop behind
    * [[deleteWhereDV]] and SQL `DELETE` ([[GraftSqlDml]]): `scope`
    * receives the LIVE rows ([[dmlLiveRows]], bloom-pruned by the
    * `prune` predicate's top-level point lookup) and returns the
    * rows to delete, still carrying their `__dv_rel`/`__dv_pos`
    * identities — the existing mask is already applied, so masked
    * rows are never double-counted. */
  private[sources] def deleteWhereDVCore(spark: SparkSession, path: String,
      txn: Option[String], prune: org.apache.spark.sql.Column,
      scope: DataFrame => DataFrame): DeleteResult = {
    import org.apache.spark.sql.functions.lit
    commitLoop[DeleteResult](path, "deleteWhereDV", txn,
        replay = DeleteResult(_, -1L)) { (head, parent) =>
      val m = headOf(parent, "deleteWhereDV", path)
      // ONE distributed job stages the mask: the base snapshot with
      // the EXISTING mask applied (already-deleted rows must not be
      // re-masked and double-counted), filtered to matches, reduced
      // to (rel, pos) row ids — bloom-pruned to candidate files when
      // the predicate carries an indexed point lookup (dmlLiveRows);
      // the deleted-row count is observed on that same write
      stageMask(path, scope(dmlLiveRows(spark, path, m, prune))) match {
        case None => Left(DeleteResult(head, 0L)) // no commit
        case Some(mask) => Right(Attempt(
          m.copy(mode = "delete-dv", masks = m.masks :+ mask),
          next => DeleteResult(next.version, mask.rows),
          staged = Seq(Paths.get(path, "dv", mask.id)),
          // stored feed: pre-image delete rows derived from the STAGED
          // MASK, not a re-run of the predicate — (a) one bounded read
          // of only the files the mask touches instead of a second
          // whole-table scan, and (b) the feed provably matches the
          // committed mask even under a nondeterministic predicate.
          // Published AFTER the manifest (lost races never write a
          // stale feed); batch-sized like the deleted set.
          feed = Feed.Rows(next => publishWrittenFeed(
            stagedMaskRows(spark, path, m, mask)
              .withColumn("ct", lit("delete")), path, next.version))))
      }
    }
  }

  /** The LIVE pre-image rows a staged `mask` names, under the
    * manifest's LOGICAL column names: one bounded read of ONLY the
    * files in its `rels` (per-dir basePath for hive-partitioned dirs
    * so the partition column re-derives from the path), keeping in
    * the scan only the positions the mask names. Deriving from the
    * staged mask instead of re-running the predicate makes the result
    * provably consistent with the committed mask even under a
    * nondeterministic predicate — the one sound row source for
    * delete feeds ([[deleteWhereDV]]) and update post-images
    * ([[updateWhereDV]]). Cost ∝ files-with-matches, never the
    * table. */
  private def stagedMaskRows(spark: SparkSession, path: String,
      m: Manifest, mask: Mask): DataFrame = {
    val picks = mask.rels.sorted.groupBy(_.takeWhile(_ != '/')).toSeq
      .sortBy(_._1).map { case (d, rels) =>
        d -> Some(rels.map(f => s"$path/data/$f")) }
    readSnapshot(spark, path, m, picks, masks = Seq(mask), keep = true)
  }

  /** Row-level UPDATE … SET … WHERE as ONE merge-on-read commit — the
    * update twin of [[deleteWhereDV]]: matching live rows are MASKED
    * via a deletion-vector sidecar and their POST-IMAGE rows
    * (assignments applied, every other column carried) APPEND as one
    * new data dir, both published in ONE atomic manifest (mode
    * `update-dv`). Bytes written ∝ matched rows — updating one
    * tenant's rows in a 100 TB table stages the mask plus the
    * rewritten rows, never the table. ZERO existing files rewritten;
    * deletedRows counts the rows updated.
    *
    * SQL UPDATE semantics: rows where the predicate is NULL are
    * untouched (only TRUE updates); assignment values cast to the
    * column's declared type. The post-image is derived from the
    * STAGED mask ([[stagedMaskRows]]) so mask and appended rows agree
    * even under a nondeterministic predicate, then staged and read
    * back so the committed bytes — not a recomputation — feed both
    * the CHECK-constraint gate and the `ct=update` post-image change
    * feed. Same optimistic-concurrency loop and txn dedup as
    * [[mergeDV]]; a failed constraint gate leaves the staged dirs
    * orphaned for [[vacuum]], head unmoved. */
  def updateWhereDV(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column,
      set: Seq[(String, org.apache.spark.sql.Column)],
      txn: Option[String] = None): DeleteResult = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val setFold = set.map { case (n, c) => foldName(n) -> c }.toMap
    updateWhereDVCore(spark, path, set.map(_._1), txn, predicate,
      _.filter(coalesce(predicate, lit(false))), // NULL keeps the row
      (staged, st) => staged.select(st.fields.toIndexedSeq.map { f =>
        setFold.get(foldName(f.name))
          .map(_.cast(f.dataType)).getOrElse(col(f.name)).as(f.name)
      }: _*))
  }

  /** The shared mask + post-image + publish loop behind
    * [[updateWhereDV]] and SQL `UPDATE` ([[GraftSqlDml]]): `scope`
    * selects the rows to update from the LIVE rows exactly as in
    * [[deleteWhereDVCore]], and `postImage` maps the staged
    * pre-images (logical columns) to the post-images under the
    * table schema, assigning the `set` columns — all of them, every
    * other column carried. */
  private[sources] def updateWhereDVCore(spark: SparkSession, path: String,
      set: Seq[String], txn: Option[String],
      prune: org.apache.spark.sql.Column, scope: DataFrame => DataFrame,
      postImage: (DataFrame, org.apache.spark.sql.types.StructType) =>
        DataFrame): DeleteResult = {
    import org.apache.spark.sql.functions.lit
    require(set.nonEmpty, "versioned updateWhereDV: empty SET list")
    // each column once: the SET list folds into a per-column map, so a
    // duplicate assignment (SET v = 1, v = 2) would silently last-win
    // where SQL requires an error — and the SQL front door forwards
    // assignments verbatim, so the silent path was reachable
    set.map(foldName).groupBy(identity)
      .collectFirst { case (n, g) if g.size > 1 => n }.foreach(d =>
        sys.error(s"versioned updateWhereDV: duplicate assignment to " +
          s"column '$d' in SET — SQL forbids assigning the same column " +
          "twice in one UPDATE; keep one assignment per column"))
    commitLoop[DeleteResult](path, "updateWhereDV", txn,
        replay = DeleteResult(_, -1L)) { (head, parent) =>
      val m = headOf(parent, "updateWhereDV", path)
      val st = org.apache.spark.sql.types.StructType.fromDDL(
        m.schemaDdl.getOrElse(sys.error(
          s"versioned updateWhereDV: table at $path predates schema tracking")))
      // every SET key must name a live column (folded — Spark
      // resolves case-insensitively); unknown names fail before any IO
      val byFold = st.fields.map(f => foldName(f.name) -> f).toMap
      set.foreach(n => require(byFold.contains(foldName(n)),
        s"versioned updateWhereDV: no column '$n' at $path " +
          s"(have: ${st.fieldNames.mkString(", ")})"))
      // stage the mask: live matching rows reduced to (rel, pos) —
      // identical first job to [[deleteWhereDV]], bloom-pruned the
      // same way, the updated-row count observed on the write
      stageMask(path, scope(dmlLiveRows(spark, path, m, prune))) match {
        case None => Left(DeleteResult(head, 0L)) // no commit
        case Some(mask) =>
          // post-image from the staged mask: assignments applied, casts
          // to the declared column types (SQL UPDATE semantics), staged
          // as this commit's data dir under PHYSICAL names
          val post = postImage(stagedMaskRows(spark, path, m, mask), st)
          val dataId = java.util.UUID.randomUUID().toString
          toPhysical(m, post)
            .write.mode("errorifexists").parquet(s"$path/data/$dataId")
          val next = m.copy(mode = "update-dv",
            dataDirs = m.dataDirs :+ dataId, masks = m.masks :+ mask)
          // gate + feed read the immutable STAGED bytes back, so what
          // was checked and what was fed is exactly what the manifest
          // commits
          val stagedBack = readSnapshot(spark, path, next, whole(Seq(dataId)))
          requireConstraints("updateWhereDV", path, m.constraints, stagedBack)
          Right(Attempt(next, v => DeleteResult(v.version, mask.rows),
            // both staged dirs derive from this head: a lost race
            // drops them
            staged = Seq(Paths.get(path, "dv", mask.id),
              Paths.get(path, "data", dataId)),
            feed = Feed.Rows(v => publishWrittenFeed(
              stagedBack.withColumn("ct", lit("update")), path, v.version)),
            // the post-image dir inherits the head's indexes
            newDir = Some(NewDir(spark, dataId))))
      }
    }
  }

  /** The ledger as a DataFrame — DESCRIBE HISTORY for the versioned
    * table: one row per retained manifest with version, commit
    * timestamp (millis; null for pre-stamp manifests), mode, txn
    * token, data/DV dir counts, constraint count, and the schema DDL
    * — the operational audit surface every lakehouse ships. Exposed
    * through SQL as the `<table>.history` metadata table
    * ([[GraftCatalog]]). Driver-side O(versions) manifest walk like
    * every ledger read here — manifest COUNT grows with commits,
    * never with data, so the walk costs the same at 100 TB as at
    * 100 MB; vacuumed versions are simply absent. */
  def history(spark: SparkSession, path: String): DataFrame = {
    val head = latestVersion(path)
    require(head >= 0, s"versioned history: no committed version at $path")
    val rows = (0 to head).flatMap { v =>
      if (!Files.exists(manifestPath(path, v))) None
      else {
        val m = readManifest(path, v)
        Some((v, m.ts, m.mode, m.txn, m.dataDirs.size, m.dvDirs.size,
          m.constraints.size, m.schemaDdl))
      }
    }
    import spark.implicits._
    rows.toDF("version", "ts_millis", "mode", "txn", "n_data_dirs",
      "n_dv_dirs", "n_constraints", "schema_ddl")
  }

  /** Data-dir ids referenced by `v`'s manifest (observability /
    * spec hook — lets a caller PROVE a commit carried dirs by
    * reference instead of rewriting them). */
  def dataDirIds(path: String, v: Int): Seq[String] =
    readManifest(path, v).dataDirs

  /** Total data-file bytes of version `v`'s snapshot — the size the
    * SQL scan reports to Catalyst's join planner
    * ([[GraftCatalog.frameScan]] SupportsReportStatistics), so
    * small versioned tables BROADCAST instead of defaulting to
    * Long.MaxValue and shuffling every dim⨝fact join. The sum of the
    * dirs' `_files.json` entries ([[dirFacts]], memoized) — exactly
    * the bytes `<table>.files` lists, no filesystem walk. */
  def versionBytes(path: String, v: Int): Long =
    readManifest(path, v).dataDirs
      .map(d => dirFacts(path, d).files.map(_.bytes).sum).sum

  /** `<table>.files` — one row per physical data FILE of the head
    * snapshot (dir id, dir-relative file path, size, the dir's
    * partition spec if any), read from each dir's `_files.json`:
    * sidecars and hidden files are not data, hive-partitioned dirs
    * list their nested files. */
  def filesDetail(spark: SparkSession, path: String): DataFrame =
    filesDetailPruned(spark, path, (_, _) => true)._1

  /** [[filesDetail]] with DIRECTORY pruning: `dirPred(dirId,
    * partSpec)` decides which manifest dirs are listed at all — the
    * `<t>.files` SQL pushdown surface routes `dir_id` / `part_spec`
    * filters here so `SELECT sum(size_bytes) FROM t.files WHERE
    * part_spec LIKE 'days%'` opens ONLY matching dirs' `_files.json`.
    * Returns (frame, dirsListed, dirsTotal) — the accounting the spec
    * gates on. */
  def filesDetailPruned(spark: SparkSession, path: String,
      dirPred: (String, String) => Boolean): (DataFrame, Int, Int) = {
    val m = pinManifest(path, None)
    import spark.implicits._
    val dirs = m.dataDirs.map(d => d -> m.partSpecs.getOrElse(d, ""))
      .filter { case (d, spec) => dirPred(d, spec) }
    val rows = dirs.flatMap { case (d, spec) =>
      dirFacts(path, d).files.map(f => (d, f.path, f.bytes, spec)) }
    (rows.toDF("dir_id", "file", "size_bytes", "part_spec"), dirs.size,
      m.dataDirs.size)
  }

  /** SHALLOW CLONE (zero-copy table fork): materialize `srcPath`'s
    * head snapshot as a brand-new independent table at `dstPath` —
    * every data file arrives as a HARDLINK (O(files) metadata ops,
    * zero copied bytes; `_files.json` and bloom sidecars ride along so
    * skipping reads keep working on the clone), and the clone's v0 manifest
    * re-carries the source's schema baseline and constraint ledger.
    * From then on the tables evolve independently: commits to either
    * never touch the other, and because links pin inodes, vacuuming
    * the SOURCE can never corrupt the clone (the classic shallow-
    * clone hazard on path-referencing formats is structurally absent
    * here). The clone's v0 publishes a whole-table `ct=insert` feed
    * — also links, file names prefixed by their dir id so same-named
    * part files from different dirs can't collide in the flat feed
    * dir — so change-feed consumers can start from birth. On
    * HDFS/object stores the link becomes a server-side copy or a
    * manifest-entry copy; the layout contract is unchanged.
    *
    * The dominant use at scale: fork a 100 TB table for an
    * experiment/backfill in milliseconds-per-thousand-files, mutate
    * the fork, throw it away — no copy, no risk to production. */
  def cloneTable(srcPath: String, dstPath: String): Int = {
    val head = latestVersion(srcPath)
    require(head >= 0, s"versioned clone: no committed version at $srcPath")
    require(latestVersion(dstPath) < 0,
      s"versioned clone: $dstPath already has commits")
    val m = readManifest(srcPath, head)
    def linkDir(srcRoot: String, sub: String, d: String): Unit = {
      val src = Paths.get(srcRoot, sub, d)
      val dst = Paths.get(dstPath, sub, d)
      Files.createDirectories(dst)
      // link every regular file, recursively (parquet parts, the
      // dir's _files.json and any _graft_bloom sidecar tables)
      Files.walk(src).filter(Files.isRegularFile(_)).forEach { p =>
        val rel = src.relativize(p)
        val out = dst.resolve(rel)
        Files.createDirectories(out.getParent)
        try Files.createLink(out, p)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
      }
    }
    m.dataDirs.foreach(linkDir(srcPath, "data", _))
    // deletion-vector masks ride the clone the same zero-copy way —
    // their (rel, pos) keys are table-root-relative, so the linked
    // mask stays valid against the linked data files
    m.dvDirs.foreach(linkDir(srcPath, "dv", _))
    commitLoop[Int](dstPath, "clone") { (_, dst) =>
      require(dst.isEmpty,
        s"versioned clone: $dstPath v0 already exists (racing clone?)")
      Right(Attempt(m.copy(mode = "clone"), _.version,
        // birth feed: the clone's v0 IS a whole-table insert. With an
        // active deletion-vector mask the raw files contain rows that
        // are logically deleted, so the zero-copy link feed would lie
        // — leave the feed dir absent (a loud, documented gap) and let
        // [[repairChangeFeed]] write the MASKED snapshot as the birth
        // feed (it needs a SparkSession this metadata-only call
        // lacks). The same for hive-partitioned dirs, whose feed must
        // be written from a layout-aware read ([[insertFeed]]).
        feed = if (m.dvDirs.isEmpty && m.partSpecs.isEmpty)
          Feed.Rows(v0 => insertFeed(SparkSession.active, dstPath, 0, v0,
            m.dataDirs))
        else Feed.Absent))
    }
  }

  /** Apply one batch of an APPLYABLE change feed ([[changeFeed]]
    * rows: keys + new non-key values + `change_type`) as one
    * [[mergeDV]] commit — insert/update rows upsert, delete rows
    * remove their key. Each batch lands as a mask plus one batch-sized
    * dir, so frequent micro-batches into a large mirror write
    * megabytes, not the table; [[compact]] the mirror periodically to
    * fold the accumulated masks and dirs. With a txn token this is
    * the exactly-once streaming CDC apply: the mirror IS a versioned
    * table, every micro-batch one atomic snapshot, replays
    * deduplicated by the manifest ledger. */
  def applyChangeFeed(spark: SparkSession, path: String, feed: DataFrame,
      keys: Seq[String], txn: Option[String] = None): Int = {
    import org.apache.spark.sql.functions.col
    mergeDV(spark, path, feed, keys, txn,
      deleteWhen = Some(col("change_type") === "delete"))
  }

  /** APPLYABLE change feed: like [[changes]] but each insert/update
    * row carries the NEW (vTo-side) non-key values — what a
    * downstream MERGE actually consumes — and `unchanged` rows are
    * omitted (a feed that re-ships the whole table defeats CDC).
    * Delete rows carry null non-key values; the key plus
    * `change_type` is all a delete needs. Same single full-outer
    * key join as [[changes]]; the vTo values ride the join, so the
    * new snapshot is still read exactly once. Same key-uniqueness
    * precondition as [[changes]]. */
  def changeFeed(spark: SparkSession, path: String, vFrom: Int, vTo: Int,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = read(spark, path, Some(vFrom))
    val b = read(spark, path, Some(vTo))
    require(a.columns.sorted.sameElements(b.columns.sorted),
      s"changeFeed: schema drift between v$vFrom and v$vTo at $path")
    val nonKey = a.columns.filterNot(keys.contains).sorted.toIndexedSeq
    def rowHash(cols: Seq[String]): org.apache.spark.sql.Column =
      md5(to_json(struct(cols.map(col): _*)))
    val sa = a.select((keys.map(col) :+ rowHash(nonKey).as("__h_a")): _*)
    val sb = b.select((keys.map(col) ++ nonKey.map(col) :+
      rowHash(nonKey).as("__h_b")): _*)
    sa.join(sb, keys, "full_outer")
      .withColumn("change_type",
        when(col("__h_a").isNull, "insert")
          .when(col("__h_b").isNull, "delete")
          .when(col("__h_a") =!= col("__h_b"), "update")
          .otherwise("unchanged"))
      .filter(col("change_type") =!= "unchanged")
      .select((keys.map(col) ++ nonKey.map(col) :+ col("change_type")): _*)
  }
}
