package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val sfDir = args(0); val outDir = args(1)
    // optional trailing names: dump only those queries (iteration aid;
    // the driver always calls with two args → full contract)
    val only = args.drop(2).toSet
    val spark = GraftSession(GraftSession.cores(32))
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }, sfDir, outDir)
    finally spark.stop()
  }

  /** Dumps each row of `queries` to `<outDir>/<name>`, writes
    * oracle_sql.json, then fails naming every row that failed. A row's
    * earlier dump is deleted before the row runs, so a failing row
    * leaves nothing for the oracle compare to grade as current. */
  def run(spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame],
      sfDir: String, outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    val failed = queries.toSeq.flatMap { case (name, fn) =>
      SparkEntry.deleteRec(new java.io.File(outDir, name))
      val ok =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          true
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          false
        }
      GraftSession.isolate(spark)
      if (ok) None else Some(name)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    require(failed.isEmpty,
      s"verify had ${failed.size} failing queries: ${failed.sorted.mkString(", ")}")
  }
}
