package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** Generates PLANAUDIT.md: one row of physical-plan metrics per
  * driver query — static shape (shuffles, broadcasts, scans, nested
  * loops from the compiled plan) plus MEASURED shuffle volume (bytes /
  * rows actually written to shuffle files, from `SparkPlan.metrics`
  * after running the query) — so §4 scale claims like "one exchange
  * feeds four window families" are auditable in bytes, not just node
  * counts. Reused exchanges (AQE stage reuse) are counted once: a
  * query whose static plan shows two identical subtrees but whose
  * executed shuffle count is lower reused the stage.
  *
  * Run: `sbt "runMain graft.PlanAudit /root/testdata/sf0.01 PLANAUDIT.md"`
  */
object PlanAudit {

  /** All executed-plan nodes, unwrapping adaptive wrappers and query
    * stages, visiting each physical node once (AQE reuses stage
    * objects; identity-dedup keeps reused exchanges from double
    * counting their metrics). */
  private[graft] def allNodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[SparkPlan] =
      if (!seen.add(p)) Nil
      else p match {
        case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
        case q: QueryStageExec => p +: walk(q.plan)
        case r: ReusedExchangeExec => Seq(p) // child already counted
        case other => other +: other.children.flatMap(walk)
      }
    walk(root)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outPath) = args
    val spark = GraftSession(GraftSession.cores(8))
    spark.sparkContext.setLogLevel("ERROR")
    def count(p: String, needle: String): Int =
      needle.r.findAllIn(p).length
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = fn(spark, sfDir)
      val p = df.queryExecution.executedPlan.toString
      val exchanges = count(p, "Exchange hashpartitioning") +
        count(p, "Exchange rangepartitioning")
      val bcast = count(p, "BroadcastExchange")
      val scans = count(p, "FileScan parquet")
      val bnlj = count(p, "BroadcastNestedLoopJoin")
      val cart = count(p, "CartesianProduct")
      val pushed = count(p, "PushedFilters: \\[[^\\]]")
      // run the SAME QueryExecution so its plan nodes carry metrics
      // (a df.write would compile a fresh plan for the write command)
      try df.queryExecution.toRdd.foreach(_ => ())
      catch { case e: Throwable =>
        System.err.println(s"[planaudit] $name failed: ${e.getMessage}")
      }
      val nodes = allNodes(df.queryExecution.executedPlan)
      val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
      def metric(pl: SparkPlan, key: String): Long =
        pl.metrics.get(key).map(_.value).filter(_ > 0).getOrElse(0L)
      val shBytes = shuffles.map(metric(_, "shuffleBytesWritten")).sum
      val shRows = shuffles.map(metric(_, "shuffleRecordsWritten")).sum
      val bcBytes = nodes.collect { case b: BroadcastExchangeLike => b }
        .map(metric(_, "dataSize")).sum
      GraftSession.isolate(spark)
      val mb = f"${shBytes / 1e6}%.1f"
      val bmb = f"${bcBytes / 1e6}%.1f"
      s"| $name | $exchanges | ${shuffles.size} | $mb | $shRows | $bcast | $bmb | $scans | $pushed | " +
        (if (cart > 0) "CARTESIAN" else if (bnlj > 0) s"$bnlj (intended)" else "0") + " |"
    }
    val header =
      s"""# Plan audit (generated by graft.PlanAudit at $sfDir)
         |
         |Physical-plan shape AND measured shuffle volume per driver
         |query. "exch" counts hash+range exchanges in the compiled
         |plan; "run exch" is how many distinct shuffles actually
         |executed (AQE stage reuse collapses duplicates); "sh MB" /
         |"sh rows" are bytes/records written to shuffle files
         |(SQLMetrics, summed over executed exchanges, reused stages
         |counted once); "bc MB" is broadcast dataSize; "scans" parquet
         |scans, "pushed" scans with non-empty PushedFilters, "nested
         |loop" flags BroadcastNestedLoopJoin / CartesianProduct (only
         |the fenced ANN queries may carry one). Regenerate after
         |plan-shape changes; diffs here are plan regressions.
         |
         |""".stripMargin
    val doc = header +
      "| query | exch | run exch | sh MB | sh rows | bcast | bc MB | scans | pushed | nested loop |\n" +
      "| --- | --- | --- | --- | --- | --- | --- | --- | --- | --- |\n" +
      rows.mkString("\n") + "\n"
    Files.writeString(Paths.get(outPath), doc)
    println(s"wrote $outPath (${rows.length} queries)")
    spark.stop()
  }
}
