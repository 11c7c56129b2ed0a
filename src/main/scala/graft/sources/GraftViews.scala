package graft.sources

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchViewException, UnresolvedIdentifier}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{Command, CreateView, DropView, LeafNode, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability, ViewInfo}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.types.StructType

/** PERSISTENT SQL VIEWS over [[GraftCatalog]] — `CREATE [OR REPLACE]
  * VIEW g.v AS …` / `DROP VIEW g.v` as plain query text, stored in
  * warehouse metadata and readable from any later session.
  *
  * Why a custom rule: Spark 4.1 ships the [[org.apache.spark.sql
  * .connector.catalog.ViewCatalog]] SPI but its own analyzer
  * (ResolveSessionCatalog) BLANKET-REJECTS view DDL against any
  * non-session catalog ("MISSING_CATALOG_ABILITY.VIEWS") — the SPI is
  * for engines that bring their own resolution. So [[GraftViewRules]]
  * intercepts `CreateView` / `DropView` in the HINT-resolution batch
  * (which runs BEFORE the main resolution batch where the rejection
  * lives) whenever the target identifier names a [[GraftCatalog]],
  * and rewrites them onto [[GraftViewDdl]] commands the
  * [[GraftSqlDml.Strategy]] executes through the catalog's
  * [[GraftCatalog.createView]]/[[GraftCatalog.dropView]]. Non-graft
  * targets pass through untouched.
  *
  * Reads need no rule: [[GraftCatalog.loadTable]] serves a stored
  * view as a read-only table ([[ViewSqlTable]]) whose scan re-runs
  * the stored SQL text per query — a view over a versioned table
  * therefore sees the table's CURRENT head each query (snapshot-
  * consistent like any read), and a view whose text carries `VERSION
  * AS OF` stays pinned forever (time-travel-safe). Schema binding is
  * AT CREATION: the stored schema is the contract, and a drifted
  * underlying query (changed arity or types) fails loudly instead of
  * silently re-shaping results — CREATE OR REPLACE re-binds.
  *
  * Requires build-time extensions (`spark.sql.extensions=
  * graft.plans.GraftExtensions`) for the DDL verbs, like streaming
  * table reads; stored views READ fine from any session that can
  * loadTable. */
class GraftViewRules(spark: SparkSession) extends Rule[LogicalPlan] {

  /** The (GraftCatalog, view identifier) a multi-part name addresses,
    * None when the name targets any other catalog (pass through). */
  private def graftTarget(nameParts: Seq[String])
      : Option[(GraftCatalog, Identifier)] = {
    val cm = spark.sessionState.catalogManager
    def asGraft(name: String): Option[GraftCatalog] =
      try cm.catalog(name) match {
        case g: GraftCatalog => Some(g)
        case _ => None
      } catch { case _: Exception => None }
    if (nameParts.sizeIs >= 2)
      asGraft(nameParts.head).map(g => (g, Identifier.of(
        nameParts.tail.init.toArray, nameParts.last)))
    else if (nameParts.sizeIs == 1) cm.currentCatalog match {
      case g: GraftCatalog =>
        Some((g, Identifier.of(cm.currentNamespace, nameParts.head)))
      case _ => None
    } else None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case cv @ CreateView(UnresolvedIdentifier(nameParts, _), cols,
          _, _, props, originalText, query, allowExisting, replace,
          _) =>
        graftTarget(nameParts) match {
          case None => cv
          case Some((cat, ident)) =>
            GraftViewDdl(s"GraftCreateView ${nameParts.mkString(".")}",
              sp => {
                val text = originalText.getOrElse(sys.error(
                  "GraftCatalog CREATE VIEW: no SQL text available " +
                    "for the view body"))
                // analyze the body NOW — the stored schema is the
                // view's contract (schema binding at creation)
                val analyzed = GraftBridge.ofRows(sp, query)
                val qNames = analyzed.schema.fieldNames
                require(cols.isEmpty || cols.sizeIs == qNames.length,
                  s"GraftCatalog CREATE VIEW: ${cols.size} column " +
                    s"aliases for ${qNames.length} query columns")
                val names =
                  if (cols.isEmpty) qNames else cols.map(_._1).toArray
                val schema = StructType(
                  analyzed.schema.fields.zip(names).map {
                    case (f, n) => f.copy(name = n) })
                val cm = sp.sessionState.catalogManager
                val info = new ViewInfo(ident, text,
                  cm.currentCatalog.name, cm.currentNamespace, schema,
                  qNames,
                  if (cols.isEmpty) Array.empty[String] else names,
                  Array.empty[String], new java.util.HashMap[String,
                    String](scala.jdk.CollectionConverters
                      .MapHasAsJava(props).asJava))
                if (replace) cat.replaceView(info, orCreate = true): Unit
                else if (allowExisting && cat.viewExists(ident)) ()
                else cat.createView(info): Unit
              })
        }
      case dv @ DropView(UnresolvedIdentifier(nameParts, _),
          ifExists) =>
        graftTarget(nameParts) match {
          case None => dv
          case Some((cat, ident)) =>
            GraftViewDdl(s"GraftDropView ${nameParts.mkString(".")}",
              _ => {
                if (!cat.dropView(ident) && !ifExists)
                  throw new NoSuchViewException(ident)
              })
        }
      // ALTER VIEW g.v AS <query> — re-bind in place (the analyzer's
      // session-catalog AlterViewAsCommand never fires for v2
      // targets; same blanket rejection as CreateView)
      case av @ org.apache.spark.sql.catalyst.plans.logical
          .AlterViewAs(org.apache.spark.sql.catalyst.analysis
            .UnresolvedView(nameParts, _, _, _), originalText, query) =>
        graftTarget(nameParts) match {
          case None => av
          case Some((cat, ident)) =>
            GraftViewDdl(s"GraftAlterViewAs ${nameParts.mkString(".")}",
              sp => {
                if (!cat.viewExists(ident))
                  throw new NoSuchViewException(ident)
                val analyzed = GraftBridge.ofRows(sp, query)
                val cm = sp.sessionState.catalogManager
                cat.replaceView(new ViewInfo(ident, originalText,
                  cm.currentCatalog.name, cm.currentNamespace,
                  analyzed.schema, analyzed.schema.fieldNames,
                  Array.empty[String], Array.empty[String],
                  java.util.Collections.emptyMap[String, String]()),
                  orCreate = false): Unit
              })
        }
      // SHOW VIEWS [IN g[.ns]] [LIKE 'pattern'] — listed straight
      // from the warehouse metadata at ANALYSIS time (a dir listing,
      // metadata-cheap) into a LocalRelation carrying the statement's
      // own output attributes
      case sv @ org.apache.spark.sql.catalyst.plans.logical.ShowViews(
          ns, pattern, output) =>
        val target: Option[(GraftCatalog, Array[String])] = ns match {
          case org.apache.spark.sql.catalyst.analysis
              .UnresolvedNamespace(nameParts, _) if nameParts.nonEmpty =>
            val cm = spark.sessionState.catalogManager
            (try cm.catalog(nameParts.head) match {
              case g: GraftCatalog => Some(g)
              case _ => None
            } catch { case _: Exception => None })
              .map(g => (g, nameParts.tail.toArray))
          case org.apache.spark.sql.catalyst.analysis
                .CurrentNamespace |
              org.apache.spark.sql.catalyst.analysis
                .UnresolvedNamespace(Seq(), _) =>
            val cm = spark.sessionState.catalogManager
            cm.currentCatalog match {
              case g: GraftCatalog => Some((g, cm.currentNamespace))
              case _ => None
            }
          case _ => None
        }
        target match {
          case None => sv
          case Some((cat, ns2)) =>
            val names = cat.listViews(ns2.toIndexedSeq: _*)
              .map(_.name()).toIndexedSeq
            val kept = pattern match {
              case Some(p) => org.apache.spark.sql.catalyst.util
                .StringUtils.filterPattern(names, p)
              case None => names
            }
            val nsStr = ns2.mkString(".")
            org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
              output.map(_.asInstanceOf[org.apache.spark.sql.catalyst
                .expressions.AttributeReference]),
              kept.map(n => org.apache.spark.sql.catalyst.InternalRow(
                org.apache.spark.unsafe.types.UTF8String
                  .fromString(nsStr),
                org.apache.spark.unsafe.types.UTF8String.fromString(n),
                false)))
        }
    }
}

/** Driver-side view-DDL command — executed by
  * [[GraftSqlDml.Strategy]] through [[GraftDmlExec]]. */
private[sources] case class GraftViewDdl(label: String,
    run: SparkSession => Unit) extends LeafNode with Command {
  override def output: Seq[Attribute] = Nil
}

/** A stored view served as a read-only table: the scan re-runs the
  * stored SQL text against the live session, renames positionally to
  * the stored schema (aliases were baked in at creation), and
  * REFUSES drifted shapes loudly (arity or off-nullability type
  * changes under the view — re-bind with CREATE OR REPLACE). Pushed
  * filters and top-level column pruning replay onto the inner frame,
  * where Catalyst pushes them into the underlying scans. */
private[sources] final class ViewSqlTable(ident: String,
    view: org.apache.spark.sql.connector.catalog.View)
    extends Table with SupportsRead {
  override def name(): String = ident
  override def schema(): StructType = view.schema()
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder =
    GraftCatalog.frameScan(view.schema(), s"graft-view $ident",
      GraftCatalog.translateFilter(_).isDefined) { (spark, _) =>
      val viewSchema = view.schema()
      // Replay the DEFINING session's name-resolution context:
      // the stored text may carry unqualified relation names,
      // which must resolve against the catalog/namespace current
      // at CREATE VIEW time, not whatever the READING session has
      // current (a same-named table there would be a silent
      // wrong-table read). Restored in the finally. If the stored
      // catalog name is not registered in this session the switch
      // is skipped — the pre-fix behavior, where only fully
      // qualified view text can resolve.
      val cm = spark.sessionState.catalogManager
      val (prevCat, prevNs) = (cm.currentCatalog.name,
        cm.currentNamespace)
      // Track the switch as "any mutating call attempted" BEFORE
      // the calls, not as their joint success: if setCurrentCatalog
      // succeeds but setCurrentNamespace throws (the view's
      // namespace may not exist in the reading session), the
      // finally below must still restore the catalog — a partial
      // switch left in place is exactly the silent-wrong-table
      // read this replay exists to prevent.
      var switched = false
      try {
        if (prevCat != view.currentCatalog) {
          switched = true
          cm.setCurrentCatalog(view.currentCatalog)
        }
        if (view.currentNamespace.nonEmpty &&
            !java.util.Arrays.equals(
              prevNs.asInstanceOf[Array[AnyRef]],
              view.currentNamespace.asInstanceOf[Array[AnyRef]])) {
          switched = true
          cm.setCurrentNamespace(view.currentNamespace)
        }
      } catch { case _: Exception => () }
      try {
        // the stored text resolves (is analyzed) here, under the
        // defining context
        val df = spark.sql(view.query())
        require(df.columns.length == viewSchema.fields.length,
          s"GraftCatalog: view $ident no longer matches its " +
            s"stored schema (${viewSchema.fields.length} columns " +
            s"at creation, ${df.columns.length} now) — " +
            "CREATE OR REPLACE to re-bind")
        val renamed = df.toDF(viewSchema.fieldNames.toIndexedSeq: _*)
        viewSchema.fields.zip(renamed.schema.fields).foreach {
          case (want, got) =>
            require(Versioned.asNullable(want.dataType) ==
                Versioned.asNullable(got.dataType),
              s"GraftCatalog: view $ident column ${want.name} " +
                s"drifted from ${want.dataType.sql} to " +
                s"${got.dataType.sql} — CREATE OR REPLACE to " +
                "re-bind")
        }
        renamed
      } finally {
        if (switched) {
          // setCurrentCatalog resets the current namespace to the
          // catalog's default, so a previously-empty prevNs is
          // restored by the catalog reset alone; a non-empty one
          // is re-applied explicitly (best-effort — it existed a
          // moment ago in this session).
          cm.setCurrentCatalog(prevCat)
          if (prevNs.nonEmpty)
            try cm.setCurrentNamespace(prevNs)
            catch { case _: Exception => () }
        }
      }
    }
}
