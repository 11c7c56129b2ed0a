package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM-wide counters that need no listener. */
object Jvm {
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble
  private val jit = ManagementFactory.getCompilationMXBean
  def jitMs: Double =
    if (jit != null && jit.isCompilationTimeMonitoringSupported)
      jit.getTotalCompilationTime.toDouble else 0.0
  /** Peak resident set (VmHWM) of this process in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Layer accounting for one op at a time: a SparkListener for the
  * `engine`, `Tables` and `staging` figures, a QueryExecutionListener
  * for the `catalyst` phases, and deltas of the codegen, GC and JIT
  * counters. Jobs are tied to the op that submitted them through a
  * local property, so a task that ends after its op has returned is
  * counted as late instead of being charged to the next op. */
final class Trace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val OpKey = "perfbench.op"
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  @volatile private var current = -1L
  private val acc = mutable.LinkedHashMap.empty[String, Double]
  private val busy = mutable.ArrayBuffer.empty[(Long, Long)]
  private var late = 0L
  private var base: Map[String, Double] = Map.empty
  private var t0Ms = 0L

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    BusAccess.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Tasks seen after their op returned since the last call. */
  def takeLate(): Long = synchronized { val n = late; late = 0; n }

  private def add(k: String, v: Double): Unit =
    acc.update(k, acc.getOrElse(k, 0.0) + v)

  private def counters: Map[String, Double] = Map(
    "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
    "codegen.compiles" ->
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "jvm.gc_ms" -> Jvm.gcMs,
    "jvm.jit_ms" -> Jvm.jitMs)

  def begin(op: Long): Unit = {
    synchronized { acc.clear(); busy.clear(); current = op }
    base = counters
    sc.setLocalProperty(OpKey, op.toString)
    t0Ms = System.currentTimeMillis()
  }

  /** Close the op opened by [[begin]] and return its layer figures. */
  def end(): Map[String, Double] = {
    val t1Ms = System.currentTimeMillis()
    sc.setLocalProperty(OpKey, null)
    BusAccess.drain(sc)
    val now = counters
    synchronized {
      current = -1L
      val covered = union(busy.toSeq, t0Ms, t1Ms)
      add("engine.busy_ms", covered.toDouble)
      add("engine.sched_gap_ms", (t1Ms - t0Ms - covered).toDouble)
      now.foreach { case (k, v) => add(k, v - base(k)) }
      acc.toMap
    }
  }

  /** Milliseconds of [lo, hi] covered by at least one interval. */
  private def union(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
      .map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(stageOp.put(_, op))
    synchronized { if (op >= 0 && op == current) add("engine.jobs", 1) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      if (stageOp.getOrDefault(e.stageInfo.stageId, -1L) == current &&
          current >= 0) add("engine.stages", 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val op = stageOp.getOrDefault(e.stageId, -1L)
    if (op < 0) ()
    else if (op != current) late += 1
    else {
      add("engine.tasks", 1)
      busy += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        add("engine.executor_run_ms", m.executorRunTime.toDouble)
        add("engine.executor_cpu_ms", m.executorCpuTime / 1e6)
        add("engine.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("engine.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("engine.spill_bytes",
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("Tables.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("Tables.input_rows", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (current >= 0 && info.blockId.isRDD && info.storageLevel.isValid) {
        add("staging.blocks", 1)
        add("staging.bytes", (info.memSize + info.diskSize).toDouble)
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = phases(qe)

  private def phases(qe: QueryExecution): Unit = synchronized {
    if (current >= 0) qe.tracker.phases.foreach { case (phase, s) =>
      if (Set("analysis", "optimization", "planning")(phase))
        add(s"catalyst.${phase}_ms", s.durationMs.toDouble)
    }
  }
}
