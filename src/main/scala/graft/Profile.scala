package graft

import org.apache.spark.sql.SparkSession

/** Per-query profiler: runs each named query `n` times in one session
  * (noop-write action, cache cleared between runs) and prints every
  * timing, so first-run vs steady-state and scan-floor splits are
  * measurable instead of guessed. The pseudo-queries `__scan_<table>`
  * time a bare full scan of a table — the floor any query touching
  * that table pays.
  *
  * Run: `sbt "runMain graft.Profile <sfDir> <n> <query|__scan_table> ..."`
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val n = args(1).toInt
    // `__all__` profiles the complete contract (sorted for stable
    // artifact diffs) — the per-round steady-state evidence must
    // carry every row, not just the hand-picked suspects
    val names =
      if (args.drop(2).toSeq == Seq("__all__"))
        SparkEntry.queries.keys.toSeq.sorted
      else args.drop(2).toSeq
    val spark = GraftSession(GraftSession.cores(32))
    spark.sparkContext.setLogLevel("ERROR")
    // entry warm-up only: the first of the `n` runs is the measured
    // cold run, so no shape warm-up precedes it
    GraftSession.warm(spark, shapes = false)
    // ambient-load + JVM-churn accounting per run, so a drifted
    // steady state is ADJUDICABLE: "load was high" is a recorded
    // loadavg, JIT warm-up is recorded compile ms, GC pressure is
    // recorded collection ms — measured, not asserted
    def loadavg(): Double =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case _: Exception => -1.0 }
    val results = names.map { name =>
      val fn: (SparkSession, String) => org.apache.spark.sql.DataFrame =
        if (name.startsWith("__scan_"))
          (s, d) => Tables(s, d, name.stripPrefix("__scan_"))
        else SparkEntry.queries(name)
      val times = (1 to n).map { _ =>
        val (load0, gc0, jit0) =
          (loadavg(), GraftSession.gcMillis(), GraftSession.jitMillis())
        val t0 = System.nanoTime()
        GraftSession.drain(fn(spark, sfDir))
        val t = (System.nanoTime() - t0) / 1e9
        val timing = (t, load0, GraftSession.gcMillis() - gc0,
          GraftSession.jitMillis() - jit0)
        GraftSession.isolate(spark)
        timing
      }
      println(f"[profile] $name%-24s " +
        times.map(t => f"${t._1}%.2f").mkString(" ") +
        f"  min=${times.map(_._1).min}%.2f" +
        f"  load=${times.map(_._2).max}%.2f" +
        s"  gc_ms=${times.map(_._3).sum}" +
        s"  jit_ms=${times.map(_._4).sum}")
      name -> times
    }
    // optional committed artifact (isolated steady-state evidence for
    // bench outliers): PROFILE_JSON=<path> writes one JSON object
    sys.env.get("PROFILE_JSON").foreach { path =>
      val body = results.map { case (name, ts) =>
        s"""\"$name\":{"runs":[${ts.map(t => f"${t._1}%.3f").mkString(",")}],""" +
          f""""min":${ts.map(_._1).min}%.3f,""" +
          s""""loadavg":[${ts.map(t => f"${t._2}%.2f").mkString(",")}],""" +
          s""""gc_ms":[${ts.map(_._3).mkString(",")}],""" +
          s""""jit_ms":[${ts.map(_._4).mkString(",")}]}"""
      }.mkString("{", ",", s""","sf":"$sfDir","runs_per_query":$n}""")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
      println(s"[profile] wrote $path")
    }
    spark.stop()
  }
}
