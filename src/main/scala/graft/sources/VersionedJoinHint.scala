package graft.sources

import org.apache.spark.sql.catalyst.plans.logical.{Filter, HintInfo,
  Join, JoinHint, LogicalPlan, Project, SubqueryAlias, BROADCAST}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{
  DataSourceV2Relation, DataSourceV2ScanRelation}

/** Join-size planning for versioned SQL tables: a join side that is a
  * pure narrowing subtree (Project/Filter/alias) over ONE versioned
  * scan whose pinned snapshot is ≤ autoBroadcastJoinThreshold gets a
  * BROADCAST hint, so the dim⨝fact star join PLANS as a broadcast
  * instead of shuffling both sides.
  *
  * Why a rule and not scan statistics: the read bridge is a V1Scan,
  * and Spark's V2ScanRelationPushDown wraps V1 scans in a
  * V1ScanWrapper that implements ONLY `Scan` — the scan's
  * SupportsReportStatistics ([[GraftCatalog.frameScan]]) is
  * invisible to `DataSourceV2ScanRelation.computeStats`, which then
  * answers defaultSizeInBytes = Long.MaxValue and join selection can
  * never pick broadcast on its own. The size check is the pinned
  * version's data-file bytes as its dirs' file manifests record them
  * ([[Versioned.versionBytes]]), the exact evidence a file-source
  * relation would have offered; existing hints are never overridden,
  * a disabled
  * threshold (≤ 0) disables the rule, and an unhonorable hint (wrong
  * join side for the type) is simply ignored by join selection —
  * never wrong, merely unhinted. Runs from
  * `spark.experimental.extraOptimizations` (live sessions — wired by
  * [[GraftCatalog.register]]/loadTable) and as an injected optimizer
  * rule (build-time extensions). */
object VersionedJoinHint extends Rule[LogicalPlan] {

  /** Bytes of the single versioned scan under a narrowing subtree,
    * None when the subtree is anything else — or when the listing
    * throws (a vacuumed pinned version, a racing drop): a SIZE HINT
    * must never be the thing that fails query planning, so any
    * listing error simply declines to hint and the scan itself
    * surfaces the real problem. */
  private def versionedLeafBytes(p: LogicalPlan): Option[Long] = {
    def bytesOf(t: VersionedSqlTable): Option[Long] =
      try Some(Versioned.versionBytes(t.path, t.pinned))
      catch { case _: Exception => None }
    p match {
      case Project(_, c) => versionedLeafBytes(c)
      case Filter(_, c) => versionedLeafBytes(c)
      case SubqueryAlias(_, c) => versionedLeafBytes(c)
      case r: DataSourceV2ScanRelation => r.relation.table match {
        case t: VersionedSqlTable => bytesOf(t)
        case _ => None
      }
      case r: DataSourceV2Relation => r.table match {
        case t: VersionedSqlTable => bytesOf(t)
        case _ => None
      }
      case _ => None
    }
  }

  /** Whether ANY versioned scan exists in the tree — the cheap
    * pre-check that keeps this rule ~free on the 99% of plans with no
    * versioned relation (it runs from extraOptimizations on EVERY
    * query of a session that ever touched the catalog, so the full
    * transform+leaf-walk must not tax unrelated pipelines). */
  private def hasVersionedScan(plan: LogicalPlan): Boolean =
    // children only, matching transform's reach (neither descends
    // into subquery expressions — those optimize as their own plans)
    plan.exists {
      case r: DataSourceV2ScanRelation =>
        r.relation.table.isInstanceOf[VersionedSqlTable]
      case r: DataSourceV2Relation =>
        r.table.isInstanceOf[VersionedSqlTable]
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val threshold = conf.autoBroadcastJoinThreshold
    if (threshold <= 0) return plan
    if (!hasVersionedScan(plan)) return plan
    plan.transform {
      case j: Join if j.hint == JoinHint.NONE =>
        def small(side: LogicalPlan): Boolean =
          versionedLeafBytes(side).exists(b => b <= threshold)
        val (lh, rh) = (small(j.left), small(j.right))
        if (!lh && !rh) j
        else j.copy(hint = JoinHint(
          if (lh) Some(HintInfo(Some(BROADCAST))) else None,
          if (rh) Some(HintInfo(Some(BROADCAST))) else None))
    }
  }
}
