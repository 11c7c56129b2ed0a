package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Raw measurements, one JSON object a line. `run.py` turns them into
  * the benchmark's metrics; this side only times and counts. */
final class RawLog(path: String) {
  private val w = Files.newBufferedWriter(Paths.get(path))
  private def enc(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => enc(k.toString) + ":" + enc(x) }
      .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(enc).mkString("[", ",", "]")
    case null => "null"
    case other => enc(other.toString)
  }
  def apply(kind: String, fields: (String, Any)*): Unit = synchronized {
    w.write(enc(Map("type" -> kind) ++ fields)); w.newLine(); w.flush()
  }
  def close(): Unit = w.close()
}

/** One timed operation of a workload. `run` returns the op's result
  * rows (or None for ops without a result) and the time spent before
  * the op's action, when there is one; `after` records what the op
  * left behind (with `detail`, also its file layout), outside the op's
  * and the pass's time. */
trait Op {
  def name: String
  def family: String
  def kind: String
  def run(spark: SparkSession): OpResult
  def after(spark: SparkSession, detail: Boolean): Map[String, Any] = Map.empty
}
final case class OpResult(rows: Option[(StructType, Array[Row])],
    buildSec: Double)

/** Benchmark harness: builds the session, warms up, then issues the
  * workload's ops closed loop (one client thread, the next
  * op only after the previous returns and the scheduler is idle) until
  * the time is up. Arguments are `key=value` pairs; see `run.py`. */
object Main {
  /** Times the set-up runs the warm-up ops before the clock starts. */
  val WarmupRounds = 2

  /** `System.nanoTime()` at the moment the JVM started. */
  private val jvmStart = System.nanoTime() - 1000000L *
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }
      .toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val minPasses = opt("min_passes").toInt
    val work = opt("work")
    val out = opt("out")
    val log = new RawLog(s"$out/raw.jsonl")
    val plan: Plan =
      if (workload == "lake_ingest") new LakePlan(opt("plan"), work)
      else new QueryPlan(opt("plan"), opt("data"))

    // Set-up, timed from JVM start to the first timed op: the session,
    // what the plan registers, then the warm-up ops `WarmupRounds` times
    // over, so codegen cache and JIT are warm when the clock starts.
    val spark = session(cores, s"$work/local")
    spark.sparkContext.setLogLevel("ERROR")
    plan.prepare(spark)
    val ready = (System.nanoTime() - jvmStart) / 1e9
    (0 until WarmupRounds).foreach { r =>
      plan.warmup(r).foreach { op =>
        op.run(spark); op.after(spark, detail = false); isolate(spark)
      }
    }

    val trace = new Trace(spark)
    val last = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
    awaitIdle(spark)
    val start = System.nanoTime()
    log("setup", "sec" -> (start - jvmStart) / 1e9, "session_sec" -> ready)
    def elapsed = (System.nanoTime() - start) / 1e9
    var pass = 0
    var opId = 0L
    while (pass < minPasses || elapsed < seconds) {
      // the traced run alternates plain and traced passes, so the
      // tracer's own overhead is measured in the same run
      val tracedPass = traced && pass % 2 == 1
      val ops = plan.pass(pass, seed)
      if (tracedPass) trace.attach()
      val p0 = System.nanoTime()
      var untimed = 0L
      val (gc0, jit0) = (Jvm.gcMs, Jvm.jitMs)
      ops.foreach { op =>
        awaitIdle(spark)
        if (tracedPass) trace.begin(opId)
        val t0 = System.nanoTime()
        val res = try Right(op.run(spark)) catch { case e: Throwable => Left(e) }
        val sec = (System.nanoTime() - t0) / 1e9
        val layers = if (tracedPass) trace.end() else Map.empty[String, Double]
        opId += 1
        res match {
          case Right(r) =>
            r.rows.foreach(rs => last(op.name) = rs)
            val a0 = System.nanoTime()
            log("op", Seq("pass" -> pass, "traced" -> tracedPass,
              "name" -> op.name, "family" -> op.family, "kind" -> op.kind,
              "sec" -> sec, "ok" -> true,
              "rows" -> r.rows.map(_._2.length.toLong).getOrElse(-1L),
              "layers" -> (layers ++ (if (tracedPass)
                Map("SparkEntry.build_ms" -> r.buildSec * 1000) else Map())))
              ++ op.after(spark, detail = tracedPass): _*)
            untimed += System.nanoTime() - a0
          case Left(e) =>
            System.err.println(s"[perfbench] ${op.name} failed: $e")
            e.printStackTrace()
            log("op", "pass" -> pass, "traced" -> tracedPass,
              "name" -> op.name, "family" -> op.family, "kind" -> op.kind,
              "sec" -> sec, "ok" -> false, "error" -> e.toString)
        }
        isolate(spark)
      }
      val passSec = (System.nanoTime() - p0 - untimed) / 1e9
      if (tracedPass) trace.detach()
      log("pass", "pass" -> pass, "traced" -> tracedPass, "sec" -> passSec,
        "late_tasks" -> (if (tracedPass) trace.takeLate() else 0L),
        "gc_ms" -> (Jvm.gcMs - gc0), "jit_ms" -> (Jvm.jitMs - jit0))
      pass += 1
    }
    val timedSec = elapsed

    // outputs of the last pass, for the check against the oracle
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    Await.result(Future.traverse(last.toSeq) { case (name, (schema, rows)) =>
      Future(spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/results/$name"))
    }, Duration.Inf)
    pool.shutdown()
    plan.finish(spark, out)
    log("meta", "spark_version" -> spark.version,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "cores" -> cores, "passes" -> pass, "timed_sec" -> timedSec,
      "peak_rss_mb" -> Jvm.peakRssMb)
    log.close()
    spark.stop()
  }

  /** graft's own session configuration (as in `graft.Bench`), sized to
    * the box: `local[cores]` and one shuffle partition per core. */
  def session(cores: Int, localDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", localDir)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Drop what an op left cached (catalog cache and `localCheckpoint`
    * blocks), as `graft.Bench` does between queries. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** Start an op only when no job of an earlier op is still running. */
  def awaitIdle(spark: SparkSession): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 10_000_000_000L
    while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(1)
  }
}

/** What a workload runs: its set-up, its warm-up ops per round, the
  * op list of one pass, and the outputs it leaves for the check. */
trait Plan {
  def prepare(spark: SparkSession): Unit = ()
  def warmup(round: Int): Seq[Op]
  def pass(n: Int, seed: Long): Seq[Op]
  def finish(spark: SparkSession, out: String): Unit = ()
}

/** Registry rows of `graft.SparkEntry.queries`, each run to a
  * `collect()` the way an interactive client reads a result. The plan
  * file lists one `name<TAB>family` a line; the seed sets the issue
  * order of every pass. */
final class QueryPlan(planFile: String, data: String) extends Plan {
  private val entries: Seq[(String, String)] =
    Files.readAllLines(Paths.get(planFile)).asScala.toSeq
      .filter(_.nonEmpty).map { l => val f = l.split("\t"); f(0) -> f(1) }
  private val fns = graft.SparkEntry.queries

  private final case class Query(name: String, family: String) extends Op {
    val kind = "query"
    def run(spark: SparkSession): OpResult = {
      val t0 = System.nanoTime()
      val df = fns(name)(spark, data)
      val build = (System.nanoTime() - t0) / 1e9
      OpResult(Some(df.schema -> df.collect()), build)
    }
  }
  private val ops = entries.map { case (n, f) => Query(n, f) }

  def warmup(round: Int): Seq[Op] = ops
  def pass(n: Int, seed: Long): Seq[Op] =
    new scala.util.Random(seed * 1000003L + n).shuffle(ops)

  override def finish(spark: SparkSession, out: String): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val log = new RawLog(s"$out/oracle.jsonl")
    entries.foreach { case (n, _) => log("oracle", "name" -> n, "sql" -> oracle(n)) }
    log.close()
  }
}
