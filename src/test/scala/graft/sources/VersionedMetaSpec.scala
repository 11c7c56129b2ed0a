package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Metadata surface of the versioned table: commit timestamps with
  * AS-OF time travel, and CHECK constraints enforced at every commit
  * and carried across overwrites/compactions as manifest metadata. */
class VersionedMetaSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String = java.nio.file.Files
    .createTempDirectory("graft_vmeta").toString

  test("readAsOf returns the snapshot a reader at that wall-clock would have seen") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), path, overwrite = false)
    Thread.sleep(5)
    Versioned.commit(Seq((2L, "b")).toDF("k", "v"), path, overwrite = false)
    Thread.sleep(5)
    Versioned.commit(Seq((9L, "z")).toDF("k", "v"), path, overwrite = true)
    val Seq(t0, t1, t2) = (0 to 2).map(v =>
      Versioned.commitTimestamp(path, v).get)
    assert(t0 <= t1 && t1 <= t2)
    def asOf(ts: Long) = Versioned.readAsOf(spark, path, ts)
      .as[(Long, String)].collect().toSet
    assert(asOf(t0) == Set((1L, "a")) || t0 == t1) // same-millis tie goes later
    assert(asOf(t1) == Set((1L, "a"), (2L, "b")) || t1 == t2)
    assert(asOf(t2) == Set((9L, "z")))
    assert(asOf(System.currentTimeMillis() + 10000) == Set((9L, "z")))
    val err = intercept[RuntimeException](asOf(t0 - 10000))
    assert(err.getMessage.contains("no commit at or before"))
  }

  test("constraints gate every commit and survive merge overwrites and compaction") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("k", "name", "amt"), path, overwrite = false)
    val vMeta = Versioned.addConstraint(spark, path, "amt >= 0")
    assert(vMeta == 1)
    assert(Versioned.constraints(path) == Seq("amt >= 0"))
    // the metadata commit keeps the data readable and feeds nothing
    assert(Versioned.read(spark, path).count() == 2)
    assert(Versioned.readChanges(spark, path, 1, 1).count() == 0)
    // a violating append is rejected and the head does not move
    val err = intercept[IllegalArgumentException](
      Versioned.commit(Seq((3L, "c", -5L)).toDF("k", "name", "amt"),
        path, overwrite = false))
    assert(err.getMessage.contains("amt >= 0"))
    assert(Versioned.latestVersion(path) == 1)
    // a clean append passes
    Versioned.commit(Seq((3L, "c", 30L)).toDF("k", "name", "amt"),
      path, overwrite = false)
    // a violating merge is rejected too — the merge gates its
    // incoming rows on the ledger's constraints
    val mErr = intercept[IllegalArgumentException](
      Versioned.mergeDV(spark, path,
        Seq((2L, "b", -1L)).toDF("k", "name", "amt"), Seq("k")))
    assert(mErr.getMessage.contains("amt >= 0"))
    // a clean merge carries the ledger forward
    Versioned.mergeDV(spark, path,
      Seq((2L, "b", 25L)).toDF("k", "name", "amt"), Seq("k"))
    assert(Versioned.constraints(path) == Seq("amt >= 0"))
    Versioned.compact(spark, path, targetFiles = 1)
    assert(Versioned.constraints(path) == Seq("amt >= 0"))
    // NULL passes (SQL CHECK semantics)
    Versioned.commit(Seq((4L, "d", Option.empty[Long]))
      .toDF("k", "name", "amt"), path, overwrite = false)
    assert(Versioned.read(spark, path).count() == 4)
  }

  test("a constraint the existing data violates cannot land") {
    val path = tmpTable()
    Versioned.commit(Seq((1L, "a", -10L)).toDF("k", "name", "amt"),
      path, overwrite = false)
    val err = intercept[IllegalArgumentException](
      Versioned.addConstraint(spark, path, "amt >= 0"))
    assert(err.getMessage.contains("existing data"))
    assert(Versioned.latestVersion(path) == 0)
  }
}
