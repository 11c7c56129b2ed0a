package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

class VerifySpec extends SparkSpec {

  test("a failing row leaves no stale dump and fails the run by name") {
    val out = Files.createTempDirectory("verify_spec").toString
    val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok_row" -> ((s, _) => s.range(3).toDF("id")),
      "bad_row" -> ((_, _) => sys.error("boom")))
    // dumps left by an earlier run of both rows
    registry.keys.foreach(n =>
      spark.range(7).coalesce(1).write.parquet(s"$out/$n"))
    val e = intercept[IllegalArgumentException](
      Verify.run(spark, registry, "/unused", out))
    assert(e.getMessage.contains("bad_row") &&
      !e.getMessage.contains("ok_row"), e.getMessage)
    assert(!Files.exists(Paths.get(out, "bad_row")),
      "the failing row's earlier dump must be gone")
    assert(spark.read.parquet(s"$out/ok_row").count() == 3)
    assert(Files.exists(Paths.get(out, "oracle_sql.json")),
      "oracle_sql.json is written before the run fails")
    SparkEntry.deleteRec(new java.io.File(out))
  }
}
