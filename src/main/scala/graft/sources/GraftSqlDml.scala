package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, AttributeSet, CaseWhen, Cast, Coalesce, EqualTo, Expression, GetStructField, GreaterThanOrEqual, In, Literal, NamedExpression, PredicateHelper, ScalarSubquery, UpdateFields, WithField}
import org.apache.spark.sql.catalyst.optimizer.{PullupCorrelatedPredicates, RewriteCorrelatedScalarSubquery}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** SQL row-level DML for [[GraftCatalog]] tables — `DELETE FROM`,
  * `UPDATE`, and `MERGE INTO` as plain query text, each mapped onto
  * the engine's existing MERGE-ON-READ primitives (batch-proportional
  * write amplification — a 10-row UPDATE against a 100 TB table
  * stages a kilobyte mask plus ten rows, never the table):
  *
  *  - `DELETE FROM g.t WHERE p`  → the [[Versioned.deleteWhereDV]] core
  *  - `UPDATE g.t SET … WHERE p` → the [[Versioned.updateWhereDV]] core
  *  - `MERGE INTO g.t USING s …` → [[Versioned.mergeDV]]
  *
  * Mechanism: Spark 4 analyzes these statements into fully-resolved
  * `DeleteFromTable` / `UpdateTable` / `MergeIntoTable` commands (star
  * actions expanded, assignment casts inserted) and only rejects them
  * at PLANNING time when the table lacks row-level support — so one
  * injected planner [[Strategy]] (via `spark.experimental
  * .extraStrategies`, self-registered by [[GraftCatalog.register]]
  * and by every `loadTable`, or build-time via
  * [[graft.plans.GraftExtensions]]) intercepts the commands first and
  * executes them through the engine, so every guard the Scala API
  * enforces — CHECK constraints, type drift, column mapping, txn
  * ledger, change feed — applies identically to SQL DML.
  *
  * ONE binding rule carries the statement into the engine: the frame
  * a primitive evaluates on (the live rows for DELETE/UPDATE scope,
  * the staged pre-images for UPDATE post-images, the snapshot for
  * MERGE) is wrapped in a Project that re-aliases its logical columns
  * to the TARGET attributes' exprIds ([[bound]]; the `__dv_rel` /
  * `__dv_pos` row ids pass through). The command's resolved
  * expressions — condition, assignment values, clause conditions,
  * and every subquery inside them with its OuterReferences — then
  * bind unchanged, and Catalyst plans the subqueries as it would in
  * any query: IN / NOT IN (three-valued), correlated EXISTS over any
  * mix of equalities and ranges, correlated aggregates with the
  * count bug handled, multi-column IN — as distributed joins, with
  * nothing collected first. The scope is `Filter(condition, frame)`:
  * only TRUE rows are hit, NULL keeps the row. The whole condition is
  * also the live-rows prune hint, so a top-level `k = literal` still
  * bloom-prunes the mask scan.
  *
  * `MERGE … WITH SCHEMA EVOLUTION` is supported end-to-end: the
  * table declares `AUTOMATIC_SCHEMA_EVOLUTION`, so the analyzer's
  * ResolveMergeIntoSchemaEvolution diffs source vs target and lands
  * source-only columns / lossless type widenings through
  * [[GraftCatalog.alterTable]] → [[Versioned.alterColumns]] (ONE
  * guarded metadata commit — null-filled history, fresh physical
  * names, off-ladder drift loud) before the merge resolves.
  *
  * UPDATE and MERGE SET clauses assign NESTED struct fields
  * (`SET meta.flag = …`, any depth): [[composeSet]] rebuilds the top
  * column via UpdateFields, so the merge-on-read primitives see a plain
  * whole-column update — masks, feed, and constraints unchanged.
  *
  * Loud, documented limits (each throws with the workaround named):
  * correlated scalar subqueries without an aggregate, MERGE ON
  * conditions that are not (target-column = source-expression)
  * equalities plus source-only prefilters, MERGE clauses that
  * reassign an ON key column (or a field of one), more than one
  * source row matching a target row when a WHEN MATCHED clause
  * exists, duplicate SET targets, and assignment targets inside
  * arrays/maps.
  */
object GraftSqlDml extends PredicateHelper {

  /** Unwrap down to a [[VersionedSqlTable]] relation, returning its
    * output attributes. By PLANNING time the optimizer has usually
    * (a) eliminated SubqueryAlias and (b) converted the V2 relation
    * into a `DataSourceV2ScanRelation` (V2ScanRelationPushDown runs
    * on the command's child even though a DML command never executes
    * that scan) — match all three shapes so the strategy is
    * phase-independent. */
  private object VersionedRel {
    def unapply(plan: LogicalPlan)
        : Option[(Seq[Attribute], VersionedSqlTable)] = plan match {
      case r: DataSourceV2Relation => r.table match {
        case t: VersionedSqlTable => Some((r.output, t))
        case _ => None
      }
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.relation.table match {
        case t: VersionedSqlTable => Some((r.output, t))
        case _ => None
      }
      case SubqueryAlias(_, child) => unapply(child)
      case _ => None
    }
  }

  private def unsupported(what: String, fix: String): Nothing =
    throw new UnsupportedOperationException(
      s"GraftCatalog DML: $what is not supported — $fix")

  private def fold(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  /** `plan`'s columns named like `out`'s attributes (folded), aliased
    * to those attributes' exprIds — the re-aliasing half of the
    * binding rule, shared with [[GraftStreamRewrite]]. */
  private[sources] def aliasTo(plan: LogicalPlan,
      out: Seq[Attribute]): Seq[NamedExpression] = {
    val byFold = plan.output.map(a => fold(a.name) -> a).toMap
    out.map(o => Alias(byFold(fold(o.name)), o.name)(exprId = o.exprId))
  }

  /** The binding rule: `frame` with its logical columns carrying the
    * target attributes' exprIds; the `__dv_*` row ids pass through. */
  private def bound(frame: DataFrame, out: Seq[Attribute]): LogicalPlan = {
    val plan = frame.queryExecution.analyzed
    Project(aliasTo(plan, out) ++
      plan.output.filter(_.name.startsWith("__dv_")), plan)
  }

  /** A frame over a plan built from the command's resolved
    * expressions. The optimizer has already run on the command, so a
    * correlated scalar subquery arrives with its correlation pulled up
    * into the subquery's grouping — a form analysis rejects — and
    * Catalyst's own rewrite turns it into a join first; every other
    * subquery analyzes as it is. */
  private def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    GraftBridge.ofRows(spark, RewriteCorrelatedScalarSubquery(
      PullupCorrelatedPredicates(plan)))

  /** The DELETE/UPDATE scope over the live rows: the rows where the
    * resolved condition is TRUE (Catalyst plans its subqueries). */
  private def hits(spark: SparkSession, out: Seq[Attribute],
      cond: Expression)(live: DataFrame): DataFrame =
    frame(spark, Filter(cond, bound(live, out)))

  /** `e` cast to the column type `dt`, named `name`. */
  private def typed(e: Expression, dt: DataType,
      name: String): NamedExpression = Alias(Cast(e, dt), name)()

  /** Correlated scalar subqueries must aggregate: Catalyst would plan
    * a non-aggregate one as a single join that fails only when a row
    * meets two matches, a feature kept out of graft's DML. */
  private def requireAggregatedScalars(es: Seq[Expression]): Unit = {
    def aggregated(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case Project(_, c) => aggregated(c)
      case Filter(_, c) => aggregated(c)
      case SubqueryAlias(_, c) => aggregated(c)
      case _ => false
    }
    es.foreach(_.foreach {
      case s: ScalarSubquery if (s.outerAttrs.nonEmpty ||
          s.joinCond.nonEmpty) && !aggregated(s.plan) => unsupported(
        "a correlated scalar subquery without an aggregate",
        "aggregate it (max, min, first, …) so each row gets one value, " +
          "or MERGE against the subquery as a keyed source")
      case _ => ()
    })
  }

  /** Assignment target as a column path: `SET v = …` → [v],
    * `SET meta.flag = …` → [meta, flag] (any struct depth). Anything
    * else (array elements, map keys) is loud. */
  private def assignPath(a: Assignment): Seq[String] = {
    def go(e: Expression): Seq[String] = e match {
      case ar: AttributeReference => Seq(ar.name)
      case g: GetStructField =>
        go(g.child) :+ g.extractFieldName
      case other => unsupported(s"assignment to $other",
        "assign a top-level column or a struct field (t.meta.flag)")
    }
    go(a.key)
  }

  private def assignName(a: Assignment): String = assignPath(a) match {
    case Seq(n) => n
    case p => unsupported(
      s"INSERT assignment to nested field ${p.mkString(".")}",
      "INSERT clauses assign whole columns")
  }

  /** Group SET assignments by top-level column, composing nested
    * field assignments (`SET meta.flag = …`) into ONE struct rebuild
    * over the column's current value (UpdateFields, any depth): the
    * merge-on-read primitives then see a plain whole-column update,
    * so masks/feed/constraints need no new machinery. Assigning a
    * column AND one of its own fields in one statement is ambiguous
    * and loud. `target` supplies the current value of a top-level
    * name. */
  private def composeSet(assigns: Seq[Assignment], what: String,
      target: String => Expression): Seq[(String, Expression)] = {
    def withField(acc: Expression, path: Seq[String],
        v: Expression): Expression = UpdateFields(acc, Seq(WithField(
      path.head,
      if (path.sizeIs == 1) v
      else withField(GetStructField(acc, acc.dataType
        .asInstanceOf[StructType].fieldIndex(path.head)), path.tail, v))))
    val paths = assigns.map(a => (assignPath(a), a.value))
    paths.groupBy(p => fold(p._1.head)).toSeq.map { case (_, group) =>
      val top = group.head._1.head
      if (group.exists(_._1.sizeIs == 1)) {
        if (group.sizeIs > 1) unsupported(
          s"$what assigning column `$top` and one of its nested " +
            "fields in the same statement",
          "assign either the whole column or its fields, not both")
        top -> group.head._2
      } else top -> group.foldLeft(target(top)) {
        case (acc, (p, v)) => withField(acc, p.tail, v)
      }
    }
  }

  /** The target attribute of a column name (folded). */
  private def targetAttr(out: Seq[Attribute])(name: String): Expression =
    out.find(a => fold(a.name) == fold(name)).get

  /** The planner strategy. Only commands whose target is a
    * [[VersionedSqlTable]] match; everything else falls through to
    * Spark's own strategies. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      // every check and the engine call run INSIDE the exec (execution
      // time), so planning/explain stays side-effect-free
      case DeleteFromTable(VersionedRel(out, t), cond) =>
        GraftDmlExec(s"GraftDelete ${t.name()}", sp => {
          requireAggregatedScalars(Seq(cond))
          Versioned.deleteWhereDVCore(sp, t.path, None,
            GraftBridge.column(cond), hits(sp, out, cond)): Unit
        }) :: Nil

      case UpdateTable(VersionedRel(out, t), assignments, cond) =>
        GraftDmlExec(s"GraftUpdate ${t.name()}",
          updateRun(out, t, assignments,
            cond.getOrElse(Literal.TrueLiteral))) :: Nil

      case m @ MergeIntoTable(VersionedRel(tOut, t), source, mergeCond,
          matched, notMatched, notMatchedBySource, _) =>
        // `WITH SCHEMA EVOLUTION` needs no handling HERE: the table
        // declares AUTOMATIC_SCHEMA_EVOLUTION, so the analyzer's
        // ResolveMergeIntoSchemaEvolution already diffed source vs
        // target and landed source-only columns / type widenings
        // through [[GraftCatalog.alterTable]] (one guarded
        // alterColumns metadata commit — null-filled history, fresh
        // physical names, off-ladder drift loud) BEFORE this plan
        // arrived; tOut is the EVOLVED schema and mergeRun reads the
        // post-alter head.
        GraftDmlExec(s"GraftMerge ${t.name()}", sp => {
          requireAggregatedScalars(m.expressions)
          mergeRun(tOut, t, source, mergeCond, matched, notMatched,
            notMatchedBySource)(sp)
        }) :: Nil

      // view DDL rewritten by [[GraftViewRules]] (CREATE/DROP VIEW
      // against a GraftCatalog — Spark's own analyzer blanket-rejects
      // v2-catalog view DDL, so the rewrite runs in the hint batch)
      case GraftViewDdl(label, run) => GraftDmlExec(label, run) :: Nil

      case _ => Nil
    }
  }

  /** One UPDATE: the scope as for DELETE, the post-image each
    * column's assigned value (or its current one) over the staged
    * pre-images, bound the same way. */
  private def updateRun(out: Seq[Attribute], t: VersionedSqlTable,
      assignments: Seq[Assignment], where: Expression)
      : SparkSession => Unit = { spark =>
    requireAggregatedScalars(assignments.map(_.value) :+ where)
    val set = composeSet(assignments, "UPDATE SET", targetAttr(out))
    val setFold = set.map { case (n, e) => fold(n) -> e }.toMap
    def postImage(staged: DataFrame, st: StructType): DataFrame =
      frame(spark, Project(st.fields.toIndexedSeq.map { f =>
        typed(setFold.getOrElse(fold(f.name), targetAttr(out)(f.name)),
          f.dataType, f.name)
      }, bound(staged, out)))
    Versioned.updateWhereDVCore(spark, t.path, set.map(_._1), None,
      GraftBridge.column(where), hits(spark, out, where), postImage): Unit
  }

  /** Translate one MERGE INTO onto [[Versioned.mergeDV]]: split the
    * ON condition into key equalities + source-only prefilters, build
    * the batch-sized updates frame (matched post-images via one
    * target ⨝ source key join, first-matching-clause-wins; unmatched
    * insert rows via one anti-join; `WHEN NOT MATCHED BY SOURCE`
    * post-images/deletes via the REVERSE anti-join — target keys
    * absent from the source, the full-sync mirror scope), and hand it
    * to the engine with `deleteWhen` carrying the DELETE clauses'
    * verdicts. The target snapshot is bound to the command's target
    * attributes ([[bound]]) and the source is the command's own
    * resolved plan, so the ON keys, clause conditions and assignment
    * values — subqueries included — bind unchanged. Target rows
    * matched by NO applicable clause are left out of the batch — they
    * persist untouched (and produce no change-feed noise). Write
    * amplification stays ∝ (batch + affected target rows): an
    * unconditioned NOT MATCHED BY SOURCE DELETE touches every
    * unmatched target row because that IS its semantics, never the
    * untouched rest. The standard MERGE cardinality rule (≤1 source
    * row per target row, only when a matched clause exists) is
    * enforced with one batch-sized aggregate before any write. */
  private def mergeRun(targetOut: Seq[Attribute], t: VersionedSqlTable,
      source: LogicalPlan, mergeCond: Expression,
      matched: Seq[MergeAction], notMatched: Seq[MergeAction],
      notMatchedBySource: Seq[MergeAction])
      : SparkSession => Unit = { spark =>
    val tOut = AttributeSet(targetOut)
    val sOut = AttributeSet(source.output)
    // ---- ON condition: key equalities + source-only prefilters
    val keys = scala.collection.mutable.ArrayBuffer
      .empty[(Attribute, Expression)]
    val srcOnly = scala.collection.mutable.ArrayBuffer.empty[Expression]
    splitConjunctivePredicates(mergeCond).foreach {
      case EqualTo(l: AttributeReference, rr)
          if tOut.contains(l) && rr.references.subsetOf(sOut) =>
        keys += l -> rr
      case EqualTo(ll, rr: AttributeReference)
          if tOut.contains(rr) && ll.references.subsetOf(sOut) =>
        keys += rr -> ll
      case p if p.references.subsetOf(sOut) => srcOnly += p
      case p => unsupported(s"MERGE ON conjunct `${p.sql}`",
        "supported conjuncts are target-column = source-expression " +
          "equalities and source-only prefilters")
    }
    if (keys.isEmpty)
      unsupported("MERGE ON without a target-key equality",
        "join target and source on at least one target column")
    if (keys.map(k => fold(k._1.name)).distinct.sizeIs < keys.size)
      unsupported("MERGE ON with the same target column in two equalities",
        "fold the duplicate into a source-only predicate")
    // ---- ON-key reassignment guard: [[Versioned.mergeDV]] masks the
    // matched target rows by the BATCH's key values (post-images), so
    // a clause that gives a row a key DIFFERENT from the value the ON
    // equality matched would (a) leave the pre-image row unmasked — a
    // silent duplicate — or (b) mask an UNRELATED existing row that
    // happens to carry the new key. Both are valid SQL with no loud
    // failure point downstream, so the guard lives here: a key-column
    // assignment must provably equal the row's matched key — the
    // target column itself (identity / SET k = t.k) or the ON
    // clause's source expression for that key (what `UPDATE SET *` /
    // the canonical INSERT expand to) — anything else throws with the
    // workaround named. Casts strip before the compare (Spark aligns
    // assignment types by inserting them).
    val keyExprByFold: Map[String, Expression] =
      keys.map(k => fold(k._1.name) -> k._2).toMap
    def stripCasts(e: Expression): Expression = e match {
      case c: Cast => stripCasts(c.child)
      case a: Alias => stripCasts(a.child)
      case other => other
    }
    def guardKeyAssigns(assigns: Seq[Assignment], clause: String,
        sourceSideOk: Boolean): Unit = assigns.foreach { a =>
      val path = assignPath(a)
      val n = fold(path.head)
      keyExprByFold.get(n).foreach { keyExpr =>
        // a nested assignment INTO a key column changes the value the
        // ON equality matched — the same mask hazard as reassigning
        // the whole key, with no provably-safe form
        if (path.sizeIs > 1) unsupported(
          s"MERGE $clause assigning nested field `${path.mkString(".")}` " +
            s"of ON key column `${path.head}`",
          "the merge masks target rows by the batch's key values; " +
            "mutating a field of the matched key would strand the " +
            "pre-image row — MERGE on a stable key instead")
        val v = stripCasts(a.value)
        val identity = v match {
          case ar: AttributeReference =>
            tOut.contains(ar) && fold(ar.name) == n
          case _ => false
        }
        val matchedKey =
          sourceSideOk && stripCasts(keyExpr).semanticEquals(v)
        if (!identity && !matchedKey) unsupported(
          s"MERGE $clause assigning ON key column `${path.head}` " +
            "a value other than the matched key itself",
          "the merge masks target rows by the batch's key values, so " +
            "a reassigned key would duplicate the pre-image row or " +
            "replace an unrelated one; to change keys, DELETE the old " +
            "row and INSERT the new one (or MERGE on a stable key)")
      }
    }
    // ---- the pair: the bound target snapshot and the prefiltered
    // source, joined on the ON key equalities
    val tdf = Versioned.read(spark, t.path)
    val schema = tdf.schema
    val tgt = bound(tdf, targetOut)
    val src = srcOnly.reduceOption(And).fold(source)(Filter(_, source))
    val keyCond = keys.map { case (ta, se) => EqualTo(ta, se) }.reduce(And)
    // ---- cardinality check: a duplicate source key is only an error
    // if it actually matches a target row AND a WHEN MATCHED clause
    // exists to apply twice (SQL MERGE contract — an insert-only
    // merge anti-joins, so duplicate matching keys are harmless)
    if (matched.nonEmpty) {
      val gk = keys.indices.map(i => s"__graft_k$i")
      val dupKeys = frame(spark, Project(
          keys.zip(gk).map { case ((_, se), g) => Alias(se, g)() }.toSeq,
          src))
        .groupBy(gk.map(col): _*).count().filter(col("count") > 1)
      if (frame(spark, tgt).join(dupKeys,
            keys.zip(gk).map { case ((ta, _), g) =>
              GraftBridge.column(ta) === dupKeys(g) }.reduce(_ && _),
            "left_semi").limit(1).count() > 0)
        throw new IllegalStateException(
          "GraftCatalog DML: MERGE cardinality violation — more than " +
            "one source row matched the same target row; deduplicate " +
            "the source on the ON keys first")
    }
    def actionCond(a: MergeAction): Option[Expression] = a match {
      case UpdateAction(c, _, _) => c
      case DeleteAction(c) => c
      case InsertAction(c, _) => c
      case other => unsupported(s"MERGE action $other",
        "UPDATE / DELETE / INSERT actions only")
    }
    // one clause family's rows: the first-match-wins verdict over the
    // clause conditions, then each clause's image (None = DELETE,
    // values unused) with `keep` for the columns it does not assign
    def clauseRows(rows: LogicalPlan, actions: Seq[MergeAction],
        images: Seq[Option[Map[String, Expression]]],
        keep: StructField => Expression): LogicalPlan = {
      val verdict = Alias(CaseWhen(actions.zipWithIndex.map {
        case (a, i) => actionCond(a).fold[Expression](Literal.TrueLiteral)(
          e => Coalesce(Seq(e, Literal.FalseLiteral))) -> Literal(i)
      }, Literal(-1)), "__graft_v")()
      val v = verdict.toAttribute
      val dels = images.zipWithIndex.collect {
        case (None, i) => Literal(i): Expression }
      Project(schema.fields.toIndexedSeq.map { f =>
          typed(CaseWhen(images.zipWithIndex.map { case (img, i) =>
            EqualTo(v, Literal(i)) ->
              img.flatMap(_.get(fold(f.name))).getOrElse(keep(f))
          }, keep(f)), f.dataType, f.name)
        } :+ Alias(if (dels.isEmpty) Literal.FalseLiteral else In(v, dels),
          "__graft_del")(),
        Filter(GreaterThanOrEqual(v, Literal(0)),
          Project(rows.output :+ verdict, rows)))
    }
    def setImages(actions: Seq[MergeAction], clause: String,
        sourceSideOk: Boolean): Seq[Option[Map[String, Expression]]] =
      actions.map {
        case UpdateAction(_, assigns, _) =>
          guardKeyAssigns(assigns, s"$clause UPDATE", sourceSideOk)
          Some(composeSet(assigns, s"MERGE $clause SET",
            targetAttr(targetOut))
            .map { case (k, v) => fold(k) -> v }.toMap)
        case DeleteAction(_) => None
        case other => unsupported(s"MERGE $clause action $other",
          s"$clause supports UPDATE and DELETE")
      }
    def join(l: LogicalPlan, r: LogicalPlan, jt: JoinType): LogicalPlan =
      Join(l, r, jt, Some(keyCond), JoinHint.NONE)
    val keepTarget: StructField => Expression = f => targetAttr(targetOut)(f.name)
    // ---- matched rows: first-match-wins verdict over the pair join
    val matchedOut = clauseRows(join(tgt, src, Inner), matched,
      setImages(matched, "WHEN MATCHED", sourceSideOk = true), keepTarget)
    // ---- unmatched source rows: first applicable INSERT clause;
    // rows with no applicable clause do nothing (standard MERGE)
    val insertOut =
      if (notMatched.isEmpty) None
      else Some(clauseRows(join(src, tgt, LeftAnti), notMatched,
        notMatched.map {
          case InsertAction(_, assigns) =>
            // an INSERT key must be the ON clause's source key
            // expression: the anti-join proved THAT value absent from
            // the target, so only that value is a safe plain insert (a
            // divergent key can collide with — and mask-replace — an
            // unrelated existing row)
            guardKeyAssigns(assigns, "WHEN NOT MATCHED INSERT",
              sourceSideOk = true)
            Some(assigns.map(a => fold(assignName(a)) -> a.value).toMap)
          case other => unsupported(s"MERGE not-matched action $other",
            "WHEN NOT MATCHED supports INSERT")
        }, f => Literal(null, f.dataType)))
    // ---- target rows matched by NO source row (WHEN NOT MATCHED BY
    // SOURCE): one anti-join scopes them, then the same first-match-
    // wins verdict / post-image machinery as WHEN MATCHED. Conditions
    // and assignments are target-only (analyzer-enforced), keys ride
    // unchanged (guard above, sourceSideOk = false — there IS no
    // source row to equal), so mergeDV's mask covers exactly the
    // affected rows.
    val nmbsOut =
      if (notMatchedBySource.isEmpty) None
      else Some(clauseRows(join(tgt, src, LeftAnti), notMatchedBySource,
        setImages(notMatchedBySource, "WHEN NOT MATCHED BY SOURCE",
          sourceSideOk = false), keepTarget))
    val updates = (Seq(matchedOut) ++ insertOut ++ nmbsOut)
      .map(frame(spark, _)).reduce(_.unionByName(_))
    Versioned.mergeDV(spark, t.path, updates, keys.map(_._1.name).toSeq,
      txn = None, deleteWhen = Some(col("__graft_del"))): Unit
  }
}

/** Driver-side command node for the DML strategy: runs the engine
  * call once (Spark's eager command execution path calls
  * `executeCollect`) and yields no rows — exactly the shape of
  * Spark's own row-level command execs. The heavy lifting (scans,
  * joins, mask/data staging) happens in the DISTRIBUTED jobs the
  * engine primitive launches, not on this node. */
private[sources] case class GraftDmlExec(label: String,
    run: SparkSession => Unit) extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  override def nodeName: String = label
  private lazy val done: Unit = run(SparkSession.active)
  override def executeCollect(): Array[InternalRow] = { done; Array.empty }
  override protected def doExecute(): RDD[InternalRow] = {
    done
    sparkContext.emptyRDD[InternalRow]
  }
}

/** Analyzer rule (build-time injection via
  * [[graft.plans.GraftExtensions]] — set
  * `spark.sql.extensions=graft.plans.GraftExtensions`): routes
  * STREAMING reads of catalog tables onto the stored change-feed's
  * file-stream source plan ([[Versioned.readChangeStream]] — the
  * built-in source supplies discovery, checkpointing, exactly-once
  * per feed file, and backpressure; the stored `_changes` layout IS
  * the source contract, so no custom MicroBatchStream is needed):
  *
  *  - `spark.readStream.table("g.t.changes")` → the full CDC stream
  *    (table columns + `_commit_version` + `_change_type`);
  *  - `spark.readStream.table("g.t")` with option
  *    `skipChangeCommits=true` → insert-only rows projected to the
  *    table schema (the Delta-shaped append stream);
  *  - `spark.readStream.table("g.t")` WITHOUT the option → a loud
  *    analysis error: silently dropping update/delete rows from a
  *    table stream is exactly the silent-wrong-data failure this
  *    engine refuses, so the skip must be explicit (or stream
  *    `.changes` and handle the change types).
  *
  * The rewrite keeps the relation's resolved attribute ids (aliases
  * pinned to the original exprIds), so downstream operators resolve
  * unchanged. */
class GraftStreamRewrite(spark: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {

  private def align(plan: LogicalPlan,
      out: Seq[AttributeReference]): LogicalPlan =
    Project(GraftSqlDml.aliasTo(plan, out), plan)

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case StreamingRelationV2(_, _, tbl: ChangesSqlTable, _, out,
          _, _, _) =>
        align(Versioned.readChangeStream(spark, tbl.path)
          .queryExecution.analyzed, out)
      case StreamingRelationV2(_, _, tbl: VersionedSqlTable, opts, out,
          _, _, _) =>
        if (!opts.getBoolean("skipChangeCommits", false))
          throw new UnsupportedOperationException(
            s"GraftCatalog: streaming ${tbl.name()} emits only " +
              "ct=insert feed rows; pass option " +
              "skipChangeCommits=true to acknowledge that update/" +
              s"delete commits are skipped, or stream ${tbl.name()}" +
              ".changes for the full change feed")
        val feed = Versioned.readChangeStream(spark, tbl.path)
          .filter(col("_change_type") === "insert")
          .drop("_commit_version", "_change_type")
        align(feed.queryExecution.analyzed, out)
    }
}
