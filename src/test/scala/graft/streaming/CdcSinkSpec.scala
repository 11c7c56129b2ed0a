package graft.streaming

import graft.SparkSpec
import graft.sources.Versioned

class CdcSinkSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("merge-on-read streamed apply: versioned mirror converges with batch-proportional commits") {
    // end-to-end: versioned commits → applyable feed staged as a log
    // dir → file-source readStream → CdcSink → versioned mirror == v1
    // exactly. Every micro-batch lands through mergeDV: one new data
    // dir + (maybe) one mask dir per batch, the seed dir NEVER
    // rewritten — and a checkpoint replay adds nothing (txn ledger
    // exactly-once)
    val table = tmp("graft_cdcdv_table")
    Versioned.commit((0L until 40L).map(k => (k, k % 5, s"r$k"))
      .toDF("k", "grp", "v"), table, overwrite = false)
    val v1 = (0L until 40L).filter(_ % 5 != 0)
      .map(k => (k, k % 5, if (k % 5 == 1) s"R$k" else s"r$k")) ++
      (100L until 105L).map(k => (k, 9L, s"new$k"))
    Versioned.commit(v1.toDF("k", "grp", "v"), table, overwrite = true)

    val feedDir = tmp("graft_cdcdv_feed")
    Versioned.changeFeed(spark, table, 0, 1, Seq("k"))
      .write.mode("overwrite").parquet(feedDir)
    val mirror = tmp("graft_cdcdv_m") + "/mirror"
    Versioned.commit(Versioned.read(spark, table, Some(0)), mirror,
      overwrite = false) // seeded versioned mirror (v0)
    val seedDir = Versioned.dataDirIds(mirror, 0).head

    val schema = spark.read.parquet(feedDir).schema
    val ckpt = tmp("graft_cdcdv_ckpt")
    def run(): Unit = {
      val q = CdcSink.startVersioned(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(feedDir),
        Seq("k"), mirror, appId = "cdcdv", checkpointDir = ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val head = Versioned.latestVersion(mirror)
    val got = Versioned.read(spark, mirror)
      .as[(Long, Long, String)].collect().toSet
    val want = Versioned.read(spark, table, Some(1))
      .as[(Long, Long, String)].collect().toSet
    assert(got == want, "mirror after merge-on-read CDC apply must BE v1")
    // cost model: the seed dir is carried by reference into EVERY
    // version (never rewritten), each batch added exactly one dir
    (1 to head).foreach { v =>
      assert(Versioned.dataDirIds(mirror, v).contains(seedDir))
      assert(Versioned.dataDirIds(mirror, v).size == v + 1)
    }
    assert(Versioned.dvDirIds(mirror, head).nonEmpty,
      "updates/deletes must have staged a mask")
    // replay over the same checkpoint: exactly-once, nothing added
    run()
    assert(Versioned.latestVersion(mirror) == head)
    // compact folds masks and dirs back down; content unchanged
    val vc = Versioned.compact(spark, mirror, 1)
    assert(Versioned.dvDirIds(mirror, vc).isEmpty &&
      Versioned.dataDirIds(mirror, vc).size == 1)
    assert(Versioned.read(spark, mirror)
      .as[(Long, Long, String)].collect().toSet == want)
  }
}
