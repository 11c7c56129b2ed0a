package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lost-race fence over the versioned writers: one row per writer. A
  * racing commit lands through [[Versioned.prePublishHook]] inside the
  * writer's derive→publish window, so its first publish loses. Every
  * row then proves the same three things:
  *
  *  - the writer re-derived: it published at the racer's version + 1
  *    and the racer's rows are in its snapshot (or, for a same-token
  *    racer, it returned the racer's version as a replay);
  *  - the ledger is contiguous (no version slot skipped);
  *  - no `data/` or `dv/` dir is left that no manifest references —
  *    a lost attempt drops what it staged;
  *  - every data dir the head names is published with a complete
  *    `_files.json`: exactly the dir's parquet data files. */
class VersionedLostRaceSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String = java.nio.file.Files
    .createTempDirectory("graft_lostrace").toString

  private def rows(region: String, lo: Long, hi: Long): DataFrame =
    (lo to hi).map(k => (k, region, k * 10)).toDF("k", "region", "v")

  private val regionSpec = Seq(Versioned.PartField("region", None))

  private def plain(path: String): Unit = {
    Versioned.commit(rows("EU", 1, 10), path, overwrite = false)
    Versioned.commit(rows("US", 11, 20), path, overwrite = false): Unit
  }

  private def partitioned(path: String): Unit = {
    Versioned.commitPartitionedSpec(rows("EU", 1, 10), path, regionSpec)
    Versioned.commitPartitionedSpec(rows("EU", 11, 20), path, regionSpec)
    Versioned.commitPartitionedSpec(rows("US", 21, 30), path,
      regionSpec): Unit
  }

  /** A writer under test: `setup` builds the table, `op` runs the
    * writer and returns its version, `racer` is the commit that lands
    * first. `replay` marks a racer that commits the writer's own txn
    * token; `keepsRacer` is false where the writer by design replaces
    * the racer's rows (a restore). */
  private case class Row(name: String, setup: String => Unit,
      op: String => Int, racer: String => Int = p =>
        Versioned.commit(rows("AP", 99, 99), p, overwrite = false),
      replay: Boolean = false, keepsRacer: Boolean = true)

  private val table: Seq[Row] = Seq(
    Row("restore", plain, p => Versioned.restore(p, 0),
      keepsRacer = false),
    Row("addConstraint", plain,
      p => Versioned.addConstraint(spark, p, "v >= 0")),
    Row("dropConstraint",
      p => { plain(p); Versioned.addConstraint(spark, p, "v >= 0"): Unit },
      p => Versioned.dropConstraint(p, "v >= 0")),
    Row("alterColumns ADD", plain,
      p => Versioned.alterColumns(p,
        Seq(Versioned.ColumnOp.Add("note", "STRING")))),
    Row("compactWhere", partitioned,
      p => Versioned.compactWhere(spark, p, Seq("region" -> Set("EU")))
        .version),
    Row("clusterWhere", partitioned,
      p => Versioned.clusterWhere(spark, p, Seq("region" -> Set("EU")),
        "k", "v", 1).version),
    Row("updateWhereDV", plain,
      p => Versioned.updateWhereDV(spark, p, col("k") === 3L,
        Seq("v" -> lit(0L))).version),
    Row("replaceDynamic",
      p => {
        Versioned.commitWithProps(rows("EU", 1, 1).limit(0), p,
          overwrite = false, props = Map("partCol" -> "region"))
        partitioned(p)
      },
      p => Versioned.replaceDynamic(spark, p, rows("EU", 101, 103))
        .version),
    Row("commitTxn, same-token racer", plain,
      p => Versioned.commitTxn(rows("AP", 50, 51), p, overwrite = false,
        txn = Some("app:7")),
      racer = p => Versioned.commitTxn(rows("AP", 99, 99), p,
        overwrite = false, txn = Some("app:7")),
      replay = true),
    Row("commitIndexed", plain,
      p => Versioned.commitIndexed(rows("AP", 50, 53).repartition(2), p,
        Seq("k"), overwrite = false)),
    Row("compact", plain, p => Versioned.compact(spark, p, 1)),
    Row("clusterRewrite", plain,
      p => Versioned.clusterRewrite(spark, p, "k", "v", 1)))

  /** Every dir under `<path>/<sub>` that no retained manifest names. */
  private def orphans(path: String, sub: String,
      referenced: Int => Seq[String]): Set[String] = {
    val root = java.nio.file.Paths.get(path, sub)
    if (!java.nio.file.Files.isDirectory(root)) Set.empty
    else {
      val ls = java.nio.file.Files.list(root)
      val onDisk = try ls.toArray.map(_.asInstanceOf[java.nio.file.Path]
        .getFileName.toString).toSet finally ls.close()
      val head = Versioned.latestVersion(path)
      onDisk -- (0 to head).flatMap(referenced)
    }
  }

  /** The dir-relative parquet data files under `dir`, hidden
    * components (sidecars, `_files.json`) excluded. */
  private def parquetFiles(dir: java.nio.file.Path): Set[String] = {
    import scala.jdk.CollectionConverters._
    val w = java.nio.file.Files.walk(dir)
    try w.iterator().asScala.map(dir.relativize(_).toString)
      .filter(r => r.endsWith(".parquet") &&
        !r.split('/').exists(c => c.startsWith("_") || c.startsWith(".")))
      .toSet
    finally w.close()
  }

  table.foreach { row =>
    test(s"lost race: ${row.name} re-derives, keeps the ledger contiguous, leaves no orphaned dir") {
      val path = tmpTable()
      row.setup(path)
      var racerV = -1
      Versioned.prePublishHook = () => {
        if (racerV < 0) {
          racerV = Int.MaxValue // disarm before the racer's own publish
          racerV = row.racer(path)
        }
      }
      val v = try row.op(path) finally Versioned.prePublishHook = () => ()
      assert(racerV >= 0 && racerV != Int.MaxValue, "race hook never fired")
      val head = Versioned.latestVersion(path)
      if (row.replay) {
        assert(v == racerV, s"a same-token racer makes the op a replay")
        assert(head == racerV, "the replay must not publish")
        assert(Versioned.read(spark, path).filter(col("k") === 50L)
          .count() == 0L, "the replayed batch must not land twice")
      } else {
        assert(v == racerV + 1, s"op at v$v, racer at v$racerV")
        assert(head == v)
      }
      val racerRows = Versioned.read(spark, path, Some(racerV))
        .filter(col("k") === 99L).count()
      assert(racerRows == 1L)
      if (row.keepsRacer)
        assert(Versioned.read(spark, path).filter(col("k") === 99L)
          .count() == 1L, "the racer's row must survive the op")
      assert((0 to head).forall(Versioned.versionExists(path, _)),
        "ledger has a gap")
      assert(orphans(path, "data", Versioned.dataDirIds(path, _)).isEmpty,
        "a staged data dir was left behind")
      assert(orphans(path, "dv", Versioned.dvDirIds(path, _)).isEmpty,
        "a staged mask dir was left behind")
      Versioned.dataDirIds(path, head).foreach { d =>
        val files = Versioned.dirFacts(path, d).files
        assert(files.map(_.path).toSet ==
          parquetFiles(java.nio.file.Paths.get(path, "data", d)),
          s"dir $d: incomplete ${DirFacts.FileName}")
      }
      if (row.name == "commitIndexed") {
        val facts = Versioned.dirFacts(path, Versioned.dataDirIds(path, v).last)
        assert(facts.stats == Seq("k") &&
          facts.files.forall(_.bounds("k")._1.isDefined),
          s"the winning dir's bounds: $facts")
      }
    }
  }

  test("deleteWhereDV rejects a txn token outside [A-Za-z0-9:_-] before any work") {
    val path = tmpTable()
    plain(path)
    val head = Versioned.latestVersion(path)
    val err = intercept[IllegalArgumentException] {
      Versioned.deleteWhereDV(spark, path, col("k") === 1L,
        txn = Some("a\"b"))
    }
    assert(err.getMessage.contains("txn token"))
    assert(Versioned.latestVersion(path) == head)
    assert(orphans(path, "dv", Versioned.dvDirIds(path, _)).isEmpty)
  }
}
