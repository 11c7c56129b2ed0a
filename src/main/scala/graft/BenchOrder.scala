package graft

/** Randomized-order bench: separates suite-POSITION effects (GC
  * debris, JIT recompilation, page-cache pressure from neighboring
  * queries) from genuine per-query plan cost.
  *
  * Motivation: the r7 driver bench showed q_asof_native 0.92→5.55s
  * and q_distinct_approx 0.97→4.94s round-over-round with UNCHANGED
  * plans (PLANAUDIT byte-identical shuffle volumes) and flat isolated
  * steady states (PROFILE) — the classic signature of interference
  * from whatever ran before them in the suite, but VERDICT r7
  * (correctly) refused to accept that without an artifact.
  *
  * Protocol: run the FULL contract `SPARK_GRAFT_ORDERS` times (default
  * 4) in one JVM — pass 0 in the declared contract order (mirroring
  * Bench), passes 1..K-1 in seeded Fisher–Yates shuffles — after the
  * same sf0.001 shape-warmup Bench uses. For every (query, pass) we
  * record wall seconds, the query's position in that pass, and the
  * JVM-wide GC-time delta across the run (ManagementFactory GC beans:
  * attributes time to collection directly instead of guessing).
  *
  * Interpretation contract (written into BENCH_ORDER.json):
  *  - min-across-passes ≈ the query's steady cost (compare PROFILE);
  *  - spread = max/min. A query whose spread is high while its min is
  *    at par and whose position varies is POSITION-sensitive, not
  *    regressed — the worst run's gc_ms shows how much of the excess
  *    was collection stalls;
  *  - a genuine plan regression shows a HIGH MIN across all orders,
  *    which no amount of reordering hides.
  */
object BenchOrder {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nOrders = sys.env.getOrElse("SPARK_GRAFT_ORDERS", "4").toInt
    val spark = GraftSession(GraftSession.cores(32))
    spark.sparkContext.setLogLevel("WARN")
    val declared = SparkEntry.queries.keys.toVector
    val byName = SparkEntry.queries
    GraftSession.warm(spark, shapes = true)
    // runs(name) = list of (pass, position, sec, gcDeltaMs)
    val runs = scala.collection.mutable.Map
      .empty[String, List[(Int, Int, Double, Long)]].withDefaultValue(Nil)
    var failed = List.empty[String]
    for (pass <- 0 until nOrders) {
      val order =
        if (pass == 0) declared
        else new scala.util.Random(pass.toLong).shuffle(declared)
      order.zipWithIndex.foreach { case (name, pos) =>
        val g0 = GraftSession.gcMillis()
        val t0 = System.nanoTime()
        try GraftSession.drain(byName(name)(spark, sfDir))
        catch { case e: Throwable =>
          failed ::= s"$name@$pass"
          System.err.println(s"[benchorder] $name pass=$pass failed: ${e.getMessage}")
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val gms = GraftSession.gcMillis() - g0
        GraftSession.isolate(spark)
        runs(name) = (pass, pos, sec, gms) :: runs(name)
      }
      System.err.println(s"[benchorder] pass $pass done")
    }
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val perQuery = declared.map { name =>
      val rs = runs(name).reverse
      val secs = rs.map(_._3)
      val mn = secs.min; val mx = secs.max
      val spread = if (mn > 0) mx / mn else 0.0
      val worst = rs.maxBy(_._3)
      val entries = rs.map { case (p, pos, s, g) =>
        s"""{"pass":$p,"pos":$pos,"sec":${f3(s)},"gc_ms":$g}"""
      }.mkString("[", ",", "]")
      name -> s"""{"min":${f3(mn)},"max":${f3(mx)},"spread":${f3(spread)},"worst_pos":${worst._2},"worst_gc_ms":${worst._4},"runs":$entries}"""
    }
    // Queries whose spread breaches the judge's ×2 bar — the set the
    // artifact exists to explain. Sorted by spread, worst first.
    val highSpread = perQuery
      .map { case (n, _) =>
        val secs = runs(n).map(_._3); (n, secs.max / math.max(secs.min, 1e-9)) }
      .filter(_._2 >= 2.0).sortBy(-_._2)
      .map { case (n, s) => s"""{"q":"$n","spread":${f3(s)}}""" }
      .mkString("[", ",", "]")
    val body = perQuery.map { case (n, j) => s"\"$n\":$j" }.mkString(",")
    val json =
      s"""{"n_orders":$nOrders,"sf":"$sfDir","n_queries":${declared.size},"n_failed":${failed.size},"high_spread":$highSpread,"queries":{$body}}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_ORDER_OUT", "BENCH_ORDER.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    println(json)
    spark.stop()
    require(failed.isEmpty,
      s"benchorder had failing runs: ${failed.mkString(", ")}")
  }
}
