package graft.sources

import graft.{JobCounter, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Job budgets for the versioned writers the lake benchmark times
  * (append, token append, compaction; delete and merge have theirs in
  * [[VersionedDvSpec]] and [[VersionedMergeDvSpec]]), and a pinned
  * `history` ledger for one fixed sequence that runs every writer —
  * what each commit records (mode, txn, dir counts, constraint count,
  * schema) must not move when the commit machinery underneath it
  * does. */
class VersionedCommitBudgetSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String = java.nio.file.Files
    .createTempDirectory("graft_budget").toString

  private def rows(region: String, lo: Long, hi: Long): DataFrame =
    (lo to hi).map(k => (k, region, k * 10)).toDF("k", "region", "v")

  test("job budget: append, token append and compact on a small table; no reader job") {
    val path = tmpTable()
    Versioned.commit(rows("EU", 1, 100), path, overwrite = false)
    val (_, appendJobs) = JobCounter(spark) {
      Versioned.commit(rows("US", 101, 200), path, overwrite = false)
    }
    val (_, txnJobs) = JobCounter(spark) {
      Versioned.commitTxn(rows("AP", 201, 300), path, overwrite = false,
        txn = Some("app:1"))
    }
    val (v, compactJobs) = JobCounter(spark) {
      Versioned.compact(spark, path, 1)
    }
    assert(Versioned.read(spark, path, Some(v)).count() == 300L)
    // measured: each append is its data write; compact is the one
    // rewrite of the snapshot
    assert(appendJobs.size <= 1, appendJobs.mkString("\n"))
    assert(txnJobs.size <= 1, txnJobs.mkString("\n"))
    assert(compactJobs.size <= 1, compactJobs.mkString("\n"))
    val inferring = (appendJobs ++ txnJobs ++ compactJobs)
      .filter(_.isReaderJob)
    assert(inferring.isEmpty, inferring.mkString("\n"))
  }

  test("history records the same ledger for a fixed sequence of every writer") {
    val path = tmpTable()
    val spec = Seq(Versioned.PartField("region", None))
    Versioned.commitWithProps(rows("EU", 1, 10), path, overwrite = false,
      props = Map("partCol" -> "region"))
    Versioned.commitPartitionedSpec(rows("EU", 11, 20), path, spec)
    Versioned.commitPartitionedSpec(rows("US", 21, 30), path, spec)
    Versioned.commitTxn(rows("AP", 31, 40), path, overwrite = false,
      txn = Some("app:1"))
    Versioned.commitIndexed(rows("AP", 41, 50), path, Seq("k"),
      overwrite = false)
    Versioned.addConstraint(spark, path, "v >= 0")
    Versioned.mergeDV(spark, path, rows("EU", 5, 6), Seq("k"),
      txn = Some("app:2"))
    Versioned.deleteWhereDV(spark, path, col("k") === 7L)
    Versioned.updateWhereDV(spark, path, col("k") === 8L,
      Seq("v" -> lit(1L)))
    Versioned.replaceDynamic(spark, path, rows("US", 201, 202))
    Versioned.compactWhere(spark, path, Seq("region" -> Set("EU")))
    Versioned.dropConstraint(path, "v >= 0")
    Versioned.alterColumns(path, Seq(Versioned.ColumnOp.Add("note",
      "STRING"), Versioned.ColumnOp.Rename("v", "amt")))
    Versioned.restore(path, 4)
    Versioned.commitClustered(rows("EU", 301, 340), path, "k", "v",
      files = 2, overwrite = false)
    Versioned.clusterRewrite(spark, path, "k", "v", 2)
    Versioned.compact(spark, path, 1)
    Versioned.commit(rows("US", 401, 410), path, overwrite = true)
    val got = Versioned.history(spark, path)
      .select("version", "mode", "txn", "n_data_dirs", "n_dv_dirs",
        "n_constraints", "schema_ddl").orderBy("version")
      .as[(Int, String, Option[String], Int, Int, Int, String)]
      .collect().toSeq
    val base = "k BIGINT NOT NULL,region STRING,v BIGINT NOT NULL"
    val renamed = "k BIGINT NOT NULL,region STRING,amt BIGINT NOT NULL," +
      "note STRING"
    val rewritten = "k BIGINT,region STRING,v BIGINT"
    // (version, mode, txn, data dirs, dv dirs, constraints, schema)
    assert(got == Seq(
      (0, "append", None, 1, 0, 0, base),
      (1, "append", None, 2, 0, 0, base),
      (2, "append", None, 3, 0, 0, base),
      (3, "append", Some("app:1"), 4, 0, 0, base),
      (4, "append", None, 5, 0, 0, base),
      (5, "meta", None, 5, 0, 1, base),
      (6, "merge-dv", Some("app:2"), 6, 1, 1, base),
      (7, "delete-dv", None, 6, 2, 1, base),
      (8, "update-dv", None, 7, 3, 1, base),
      (9, "replace", None, 7, 3, 1, base),
      (10, "compact", None, 7, 3, 1, base),
      (11, "meta", None, 7, 3, 0, base),
      (12, "meta", None, 7, 3, 0, renamed),
      (13, "restore", None, 5, 0, 0, base),
      (14, "append", None, 6, 0, 0, base),
      (15, "cluster", None, 1, 0, 0, rewritten),
      (16, "compact", None, 1, 0, 0, rewritten),
      (17, "overwrite", None, 1, 0, 0, base)))
  }
}
