package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL maintenance verbs for [[GraftCatalog]] — Spark 4's stored-
  * procedure surface (`ProcedureCatalog`), the Iceberg-shaped
  * `CALL` convention every lakehouse operator knows:
  *
  * {{{
  *   CALL g.system.compact(`table` => 't', target_files => 4)
  *   CALL g.system.vacuum(`table` => 't', retain_hours => 720.0)
  *   CALL g.system.restore(`table` => 't', version => 3)
  *   CALL g.system.clone(source => 't', target => 'fork')
  *   CALL g.system.repair_feed(`table` => 't', keys => 'k')
  *   CALL g.system.add_constraint(`table` => 't', expr => 'v >= 0')
  *   CALL g.system.drop_constraint(`table` => 't', expr => 'v >= 0')
  *   CALL g.system.cluster(`table` => 't', c1 => 'a', c2 => 'b',
  *                         files => 8)
  *   CALL g.system.index(`table` => 't', cols => 'ts,amount')
  *   CALL g.system.bloom_index(`table` => 't', column => 'k')
  * }}}
  *
  * Each verb maps 1:1 onto the engine entry point the Scala API uses
  * (compact / vacuumOlderThan / restore / cloneTable /
  * repairChangeFeed / addConstraint / dropConstraint /
  * commitClustered) — same guards, same ledger, no
  * parallel code path — and returns its result (new version / oldest
  * retained / repaired count) as one row, so operators can script
  * maintenance in pure SQL. `vacuum` keeps the retention guard:
  * `retain_hours` younger than the safety window needs
  * `force => true`, exactly like the Scala call. Table names resolve
  * against the catalog's warehouse (`'ns.t'` → `<warehouse>/ns/t`).
  */
object GraftProcedures {

  private val NS = Array("system")

  private def outRow(schema: StructType,
      values: Seq[Any]): java.util.Iterator[Scan] = {
    val row = new GenericInternalRow(values.toArray)
    val scan: Scan = new LocalScan {
      override def rows(): Array[InternalRow] = Array(row)
      override def readSchema(): StructType = schema
    }
    java.util.List.of(scan).iterator()
  }

  private def versionOut = StructType(Seq(StructField("version", IntegerType)))

  /** One procedure definition: parameters + the engine call. */
  private final case class Proc(name: String, describe: String,
      params: Seq[ProcedureParameter],
      run: (SparkSession, String => String, InternalRow) =>
        java.util.Iterator[Scan])

  private def in(n: String, dt: DataType) =
    ProcedureParameter.in(n, dt).build()
  private def inDefault(n: String, dt: DataType, d: String) =
    ProcedureParameter.in(n, dt).defaultValue(d).build()

  private val procs: Seq[Proc] = Seq(
    Proc("compact",
      "rewrite the head snapshot as one commit of target_files " +
        "files; scope => \"col=v1|v2,col2=w\" compacts ONLY the data " +
        "dirs provably covered by those partition values (OPTIMIZE " +
        "one partition, not the table — dirs outside the scope carry " +
        "by reference; an already-compact scope no-ops)",
      Seq(in("table", StringType),
        inDefault("target_files", IntegerType, "1"),
        inDefault("scope", StringType, "''")),
      (spark, path, input) => {
        val scope = if (input.isNullAt(2)) "" else str(input, 2)
        if (scope.isEmpty) {
          val v = Versioned.compact(spark, path(str(input, 0)),
            input.getInt(1))
          outRow(versionOut, Seq(v))
        } else {
          val r = Versioned.compactWhere(spark, path(str(input, 0)),
            parseScope(scope), input.getInt(1))
          outRow(StructType(Seq(
            StructField("version", IntegerType),
            StructField("rewritten_dirs", IntegerType),
            StructField("carried_dirs", IntegerType),
            StructField("files_before", IntegerType),
            StructField("files_after", IntegerType))),
            Seq[Any](r.version, r.rewrittenDirs, r.carriedDirs,
              r.filesBefore, r.filesAfter))
        }
      }),
    Proc("vacuum",
      "reclaim history older than retain_hours (guarded below the " +
        "safety window unless force); dry_run => true previews the " +
        "reclaimable manifests/dirs/bytes without deleting anything",
      Seq(in("table", StringType), in("retain_hours", DoubleType),
        inDefault("force", BooleanType, "false"),
        inDefault("dry_run", BooleanType, "false")),
      (spark, path, input) => {
        val cutoff = System.currentTimeMillis() -
          (input.getDouble(1) * 3600 * 1000).toLong
        if (input.getBoolean(3)) {
          // the operator's pre-flight check: read-only, guard-free
          val p = Versioned.vacuumPreview(path(str(input, 0)), cutoff)
          outRow(StructType(Seq(
            StructField("oldest_retained", IntegerType),
            StructField("n_manifests", IntegerType),
            StructField("n_data_dirs", IntegerType),
            StructField("n_dv_dirs", IntegerType),
            StructField("n_feed_dirs", IntegerType),
            StructField("reclaim_bytes", LongType))),
            // Seq[Any], not Seq(...): Scala's numeric widening would
            // silently promote the Int fields to Long beside p.bytes
            // and the Int readers downstream would ClassCastException
            Seq[Any](p.retainFrom, p.nManifests, p.nDataDirs,
              p.nDvDirs, p.nFeedDirs, p.bytes))
        } else {
          val oldest = Versioned.vacuumOlderThan(path(str(input, 0)),
            cutoff, force = input.getBoolean(2))
          outRow(StructType(Seq(
            StructField("oldest_retained", IntegerType))), Seq(oldest))
        }
      }),
    Proc("restore",
      "roll the head back to an earlier version as a new commit " +
        "(zero bytes moved; history stays readable)",
      Seq(in("table", StringType), in("version", IntegerType)),
      (spark, path, input) => {
        val v = Versioned.restore(path(str(input, 0)), input.getInt(1))
        outRow(versionOut, Seq(v))
      }),
    Proc("clone",
      "zero-copy shallow fork of the source head into a new table",
      Seq(in("source", StringType), in("target", StringType)),
      (spark, path, input) => {
        val v = Versioned.cloneTable(path(str(input, 0)),
          path(str(input, 1)))
        outRow(versionOut, Seq(v))
      }),
    Proc("repair_feed",
      "backfill missing change-feed dirs (crash-window gaps; " +
        "overwrite diffs need keys)",
      Seq(in("table", StringType),
        inDefault("keys", StringType, "''")),
      (spark, path, input) => {
        val keys = str(input, 1).split(",").toIndexedSeq
          .map(_.trim).filter(_.nonEmpty)
        val repaired = Versioned.repairChangeFeed(spark,
          path(str(input, 0)), keys)
        outRow(StructType(Seq(
          StructField("n_repaired", IntegerType))), Seq(repaired.size))
      }),
    Proc("add_constraint",
      "add a CHECK constraint (validates existing data first) as a " +
        "metadata commit",
      Seq(in("table", StringType), in("expr", StringType)),
      (spark, path, input) => {
        val v = Versioned.addConstraint(spark, path(str(input, 0)),
          str(input, 1))
        outRow(versionOut, Seq(v))
      }),
    Proc("drop_constraint",
      "remove a CHECK constraint by exact expression text as a " +
        "metadata commit (loud when the ledger has no such text)",
      Seq(in("table", StringType), in("expr", StringType)),
      (spark, path, input) => {
        val v = Versioned.dropConstraint(path(str(input, 0)),
          str(input, 1))
        outRow(versionOut, Seq(v))
      }),
    Proc("index",
      "record per-file min/max for cols (comma-" +
        "separated) over the head's data dirs IN PLACE — no rewrite, " +
        "no new version; range filters start skipping immediately",
      Seq(in("table", StringType), in("cols", StringType)),
      (spark, path, input) => {
        val cols = str(input, 1).split(",").toIndexedSeq
          .map(_.trim).filter(_.nonEmpty)
        require(cols.nonEmpty,
          "CALL index: cols must name at least one column")
        val n = Versioned.buildStatsIndex(spark, path(str(input, 0)),
          cols)
        outRow(StructType(Seq(
          StructField("n_dirs_indexed", IntegerType))), Seq(n))
      }),
    Proc("detail",
      "DESCRIBE DETAIL for the format: one row of head-snapshot " +
        "accounting — version, data/dv dir counts, file count and " +
        "bytes (the dirs' file manifests), constraints, the PARTITIONED " +
        "BY policy, and the per-dir partition spec count — the " +
        "operator's is-it-fragmented / is-it-masked / what-layout " +
        "view in one CALL",
      Seq(in("table", StringType)),
      (spark, path, input) => {
        val p = path(str(input, 0))
        val head = Versioned.latestVersion(p)
        require(head >= 0, s"CALL detail: no committed version at $p")
        val files = Versioned.filesDetail(spark, p)
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)),
            org.apache.spark.sql.functions.sum("size_bytes"))
          .collect()(0) // 1-row aggregate of the file manifests
        outRow(StructType(Seq(
          StructField("version", IntegerType),
          StructField("n_data_dirs", IntegerType),
          StructField("n_dv_dirs", IntegerType),
          StructField("n_files", LongType),
          StructField("size_bytes", LongType),
          StructField("n_constraints", IntegerType),
          StructField("partitioning", StringType),
          StructField("n_spec_dirs", IntegerType))),
          Seq[Any](head,
            Versioned.dataDirIds(p, head).size,
            Versioned.dvDirIds(p, head).size,
            files.getLong(0),
            if (files.isNullAt(1)) 0L else files.getLong(1),
            Versioned.constraints(p).size,
            UTF8String.fromString(
              Versioned.tableProps(p).getOrElse("partCol", "")),
            Versioned.partSpecIds(p, head).size))
      }),
    Proc("bloom_index",
      "build the per-file bloom sidecar for an equality key over the " +
        "head's data dirs IN PLACE — point lookups skip files that " +
        "provably lack the key, no rewrite, no new version",
      Seq(in("table", StringType), in("column", StringType),
        inDefault("expected_per_file", LongType, "100000")),
      (spark, path, input) => {
        val n = Versioned.buildBloomIndex(spark, path(str(input, 0)),
          str(input, 1), input.getLong(2))
        outRow(StructType(Seq(
          StructField("n_dirs_indexed", IntegerType))), Seq(n))
      }),
    Proc("cluster",
      "rewrite the head snapshot z-ordered on two numeric columns " +
        "(OPTIMIZE ZORDER): one overwrite commit whose files carry " +
        "tight (c1, c2) bounding boxes and records their min/max, so " +
        "later SQL range filters on either column skip files; " +
        "scope => \"col=v1|v2\" z-orders ONLY the covered partition " +
        "dirs (dirs outside the scope carry by reference)",
      Seq(in("table", StringType), in("c1", StringType),
        in("c2", StringType), inDefault("files", IntegerType, "4"),
        inDefault("scope", StringType, "''")),
      (spark, path, input) => {
        val scope = if (input.isNullAt(4)) "" else str(input, 4)
        if (scope.isEmpty) {
          // clusterRewrite, not a bare read+commitClustered: the
          // rewrite republishes the snapshot it READ, so it must
          // carry the derive-from-head precondition — a concurrent
          // INSERT landing between the read and the publish
          // re-derives instead of being silently dropped
          val v = Versioned.clusterRewrite(spark, path(str(input, 0)),
            str(input, 1), str(input, 2), input.getInt(3))
          outRow(versionOut, Seq(v))
        } else {
          val r = Versioned.clusterWhere(spark, path(str(input, 0)),
            parseScope(scope), str(input, 1), str(input, 2),
            input.getInt(3))
          outRow(StructType(Seq(
            StructField("version", IntegerType),
            StructField("rewritten_dirs", IntegerType),
            StructField("carried_dirs", IntegerType),
            StructField("files_before", IntegerType),
            StructField("files_after", IntegerType))),
            Seq[Any](r.version, r.rewrittenDirs, r.carriedDirs,
              r.filesBefore, r.filesAfter))
        }
      }))

  /** `col=v1|v2[,col2=w]` → the partEqs scope [[Versioned
    * .compactWhere]]/[[Versioned.clusterWhere]] consume.
    *
    * GRAMMAR LIMIT (documented, not silent): ',' and '|' are the
    * separators and carry no escaping, so a partition VALUE that
    * itself contains a comma or pipe cannot be expressed through the
    * CALL string — it mis-splits and fails the conjunct check below.
    * Such values are rare in partition keys by design; when one
    * exists, call the Scala DSL (`Versioned.compactWhere` /
    * `clusterWhere` / `replaceWhere`), whose structured
    * `Seq[(col, Set[value])]` scope carries any string exactly. */
  private def parseScope(scope: String): Seq[(String, Set[String])] =
    scope.split(",").toIndexedSeq.map(_.trim).filter(_.nonEmpty)
      .map { c =>
        c.split("=", 2) match {
          case Array(k, vs) if k.trim.nonEmpty =>
            k.trim -> vs.split("\\|").map(_.trim).toSet
          case _ => sys.error(s"CALL scope: bad scope conjunct '$c' " +
            "— want col=v1|v2[,col2=w]; values containing ',' or '|' " +
            "cannot be expressed in this grammar (use the Scala " +
            "compactWhere/clusterWhere APIs, whose structured scope " +
            "carries any string)")
        }
      }

  private def str(input: InternalRow, i: Int): String = {
    require(!input.isNullAt(i), s"procedure argument $i must not be NULL")
    input.getUTF8String(i).toString
  }

  private val byName = procs.map(p =>
    p.name.toLowerCase(java.util.Locale.ROOT) -> p).toMap

  /** [[org.apache.spark.sql.connector.catalog.ProcedureCatalog]]
    * loadProcedure: the returned BoundProcedure executes through
    * [[call]] with the catalog's warehouse closed over. */
  private[sources] def load(warehouse: String,
      ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(NS),
      s"GraftCatalog: procedures live under the `system` namespace " +
        s"(CALL <cat>.system.<name>), got ${ident.toString}")
    val p = byName.getOrElse(
      ident.name().toLowerCase(java.util.Locale.ROOT),
      sys.error(s"GraftCatalog: no procedure '${ident.name()}' " +
        s"(have: ${procs.map(_.name).sorted.mkString(", ")})"))
    new UnboundProcedure {
      override def name(): String = p.name
      override def description(): String = p.describe
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = p.name
          override def description(): String = p.describe
          override def isDeterministic: Boolean = false
          override def parameters(): Array[ProcedureParameter] =
            p.params.toArray
          override def call(input: InternalRow)
              : java.util.Iterator[Scan] = {
            val spark = SparkSession.active
            // table-name args compose into filesystem paths (clone
            // CREATES the target, vacuum DELETES under it) — every
            // dot-separated segment passes the same containment gate
            // as catalog identifiers, so a '../x' argument can never
            // escape the warehouse (split limit -1: a trailing dot
            // yields an empty segment and is rejected, not dropped)
            def path(tbl: String): String = (warehouse +:
              tbl.split("\\.", -1).toIndexedSeq
                .map(GraftCatalog.checkSegment)).mkString("/")
            p.run(spark, path, input)
          }
        }
    }
  }

  private[sources] def list(namespace: Array[String]): Array[Identifier] =
    if (!namespace.sameElements(NS)) Array.empty
    else procs.map(p => Identifier.of(NS, p.name)).toArray
}
