package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Staging._

/** Distributed exact rank — the scale-safe replacement for
  * `row_number().over(Window.orderBy(...))` (a single-task global
  * sort) and its per-group cousin when groups are huge.
  *
  * Shape: range-repartition on (group, order) so partition i holds a
  * contiguous slice of the total order → row_number WITHIN each
  * (partition, group) slice (parallel, each task sorts only its
  * slice) → per-slice counts (one tiny frame: #partitions × #groups
  * rows) → cumulative offsets over that tiny frame → broadcast the
  * offsets back. Global rank = slice offset + local row_number.
  * No row ever passes through a single task; the only unpartitioned
  * work is the offsets window over the #partitions-row count frame.
  *
  * Contract: `order` must be a TOTAL order within each group
  * (include a unique tiebreaker column) — the tiebreaker both makes
  * the rank deterministic AND keeps a pathologically hot order value
  * splittable: since the tiebreaker participates in the RANGE key,
  * slice boundaries can fall inside an equal-value run, so a
  * dominant (group, v) key spreads across slices instead of
  * serializing into one task (RankingSpec's hot-key test pins this).
  */
object Ranking {

  /** 32 KB/slice: rank slices are CPU-dense per byte (range-sample,
    * checkpoint serialization, per-slice sort), so width pays for
    * itself far below the columnar-agg slot — 1 MB/slice measured
    * q_spearman 3.48s vs 2.53s at 32 KB (Profile, r18). Any real
    * input saturates the clamp; only sub-32 KB frames narrow. */
  private val rankSlotBytes: Long = 32L << 10

  /** Range-slice count derived from INPUT SIZE, not the session
    * constant (guide §2: scale-adaptive partitioning): one slice per
    * [[rankSlotBytes]] of estimated input,
    * clamped to [2, spark.sql.shuffle.partitions]. An explicit
    * repartitionByRange is never AQE-coalesced, so the old
    * session-constant width ran a full complement of near-empty
    * slice tasks (plus their checkpoint blocks and window/count
    * stages) on small inputs; at cluster scale the estimate
    * saturates the clamp and the width is exactly the configured
    * parallelism, as before. */
  private def sizedParts(df: DataFrame): Int = {
    val confParts = math.max(
      df.sparkSession.sessionState.conf.numShufflePartitions, 2)
    val slot = BigInt(rankSlotBytes)
    // analyzed-plan stats: forcing optimizedPlan here would run the
    // optimizer a second time per call on an arbitrarily deep input
    // (measured +0.8s on the double-rank q_spearman); the analyzed
    // estimate is cruder (no pruning) but only feeds a clamp.
    val bytes = df.queryExecution.analyzed.stats.sizeInBytes
    ((bytes + slot - 1) / slot).min(BigInt(confParts)).max(BigInt(2)).toInt
  }

  /** Adds a 1-based exact rank column (`rankName`, LONG) ordered by
    * `order` within `groupCols` (empty = global rank), plus the
    * group's total row count as `nName` when non-empty. All other
    * columns pass through. */
  def withRank(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
      rankName: String, nName: String = ""): DataFrame = {
    val pid = "_rk_pid"
    val grp = groupCols.map(col)
    val parts = sizedParts(df)
    // STAGED, not merely shuffled: repartitionByRange draws its slice
    // boundaries from reservoir SAMPLES whose selection depends on
    // shuffle-fetch arrival order — nondeterministic across jobs. The
    // local-rank branch and the offsets branch below both consume the
    // ranged frame; if each re-executed the exchange they could
    // disagree about which slice a boundary-adjacent row landed in,
    // silently corrupting every downstream offset (caught live: a
    // distinct-value prefix sum drifted by a constant from one slice
    // boundary on, and changed between executions of the SAME plan).
    // Staging materializes the slice assignment ONCE; both branches
    // read the same frozen pids. ReuseExchange is NOT a substitute —
    // column pruning can specialize the two subtrees apart.
    val ranged = df.repartitionByRange(parts, grp ++ order: _*)
      .withColumn(pid, spark_partition_id())
      .staged
    val local = ranged.withColumn("_rk_loc", row_number()
      .over(Window.partitionBy(col(pid) +: grp: _*).orderBy(order: _*)))
    // tiny frame: #partitions × #groups rows; its unpartitioned-per-
    // group window is the point (bounded by parallelism, not by data)
    val counts = ranged.groupBy(col(pid) +: grp: _*)
      .agg(count(lit(1)).as("_rk_cnt"))
    val wg = Window.partitionBy(grp: _*).orderBy(col(pid))
    val offs = counts
      .withColumn("_rk_off", coalesce(sum("_rk_cnt").over(
        wg.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_rk_n", sum("_rk_cnt").over(wg.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .drop("_rk_cnt")
    val joined = local
      .join(broadcast(offs), pid +: groupCols)
      .withColumn(rankName, col("_rk_off") + col("_rk_loc"))
    val out = if (nName.nonEmpty) joined.withColumn(nName, col("_rk_n"))
              else joined
    out.drop(pid, "_rk_loc", "_rk_off", "_rk_n")
  }

  /** Adds exact running (cumulative, inclusive) long sums of
    * `sumCols` ordered by `order` within `groupCols` (empty = global)
    * as `<name>_cum` — the prefix-sum sibling of [[withRank]], same
    * shape: each range slice cumsums locally in parallel; the only
    * unpartitioned window runs over the per-slice totals frame
    * (#partitions × #groups rows), whose offsets broadcast back.
    * Deterministic row-level prefixes need `order` to be a total
    * order within each group (aggregate to distinct keys first —
    * then equal-key ambiguity cannot arise). */
  def withPrefixSums(df: DataFrame, groupCols: Seq[String],
      order: Seq[Column], sumCols: Seq[String]): DataFrame = {
    val pid = "_ps_pid"
    val grp = groupCols.map(col)
    val parts = sizedParts(df)
    // staged for the same reason as withRank: freeze the sampled
    // range-slice assignment once for both consuming branches
    val ranged = df.repartitionByRange(parts, grp ++ order: _*)
      .withColumn(pid, spark_partition_id())
      .staged
    val wLoc = Window.partitionBy(col(pid) +: grp: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = sumCols.foldLeft(ranged) { (d, c) =>
      d.withColumn(s"_ps_loc_$c", sum(col(c)).over(wLoc))
    }
    val aggs = sumCols.map(c => sum(col(c)).as(s"_ps_tot_$c"))
    val totals = ranged.groupBy(col(pid) +: grp: _*)
      .agg(aggs.head, aggs.tail: _*)
    val wg = Window.partitionBy(grp: _*).orderBy(col(pid))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = sumCols.foldLeft(totals) { (d, c) =>
      d.withColumn(s"_ps_off_$c",
        coalesce(sum(col(s"_ps_tot_$c")).over(wg), lit(0L)))
    }.drop(sumCols.map(c => s"_ps_tot_$c"): _*)
    val joined = local.join(broadcast(offs), pid +: groupCols)
    sumCols.foldLeft(joined) { (d, c) =>
      d.withColumn(s"${c}_cum", col(s"_ps_off_$c") + col(s"_ps_loc_$c"))
    }.drop(pid +: sumCols.flatMap(c =>
      Seq(s"_ps_loc_$c", s"_ps_off_$c")): _*)
  }

  /** Exact `ntile(k)` bucket (INT) from a 1-based rank and the group
    * size — the SQL-standard fill (first n%k buckets get one extra
    * row), identical to Spark's and DuckDB's NTILE over the same
    * total order. Lets ntile ride [[withRank]] instead of a global
    * sort window. Integer-exact: q/r via pmod, divisions operate on
    * multiples of their divisor (when rank > cut, q ≥ 1 — the q = 0
    * branch never evaluates its division; CaseWhen is lazy). */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    // `/` on longs is double division in Spark; every quotient here
    // divides an exact multiple of its divisor (pmod subtracted
    // first) with all values far below 2^53, so the double result is
    // the exact integer — cast back to long immediately.
    def idiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    val kL = lit(k.toLong)
    val q = idiv(n, kL)
    val r = pmod(n, kL)
    val cut = r * (q + lit(1L))
    val inHead = idiv(rank - 1L, q + lit(1L)) + 1L
    val inTail = r + idiv(rank - cut - 1L, q) + 1L
    when(rank <= cut, inHead).otherwise(inTail).cast("int")
  }
}
