package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-probe staging: writes a `factor`× replica of the driver
  * tables with per-replica key offsets, so the bench suite can be run
  * at 10× rows (a synthetic "sf1") and per-query scaling factors
  * measured. Perf probe ONLY — correctness stays gated on the
  * driver-generated tables.
  *
  * Replica r adds r·10^7 to every entity key (all key domains are far
  * below 10^7 at sf0.1), keeping join fan-outs and per-entity
  * densities identical to the source. Document text is vowel-rotated
  * per replica: replicating text verbatim would hand every near-dup
  * detector C(factor,2) artificial pairs per document — a replication
  * artifact real corpora don't have — while rotation preserves
  * length/token structure.
  *
  * Run: `sbt "runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/sf1synth 10"`
  */
object ScaleUp {

  private val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Nil, "nation" -> Nil,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private def vowelPerm(rep: Int): String = {
    val v = "aeiou"
    (0 until 5).map(i => v((i + rep) % 5)).mkString
  }

  def main(args: Array[String]): Unit = {
    val Array(srcDir, destDir, factorS) = args
    val factor = factorS.toInt
    val spark = GraftSession(GraftSession.cores(32))
    spark.sparkContext.setLogLevel("WARN")
    Tables.all.foreach { name =>
      val df = Tables(spark, srcDir, name)
      val keys = keyCols(name)
      val out: DataFrame =
        if (keys.isEmpty) df
        else (0 until factor).map { rep =>
          df.select(df.columns.map { c =>
            if (keys.contains(c))
              (col(c) + lit(rep.toLong * 10000000L))
                .cast(df.schema(c).dataType).as(c)
            else if (name == "documents" && c == "text" && rep > 0)
              translate(col(c), "aeiou", vowelPerm(rep)).as(c)
            else col(c)
          }.toIndexedSeq: _*)
        }.reduce(_ unionAll _)
      out.write.mode("overwrite").parquet(s"$destDir/$name.parquet")
      println(s"[scaleup] $name x$factor -> $destDir")
    }
    spark.stop()
  }
}
