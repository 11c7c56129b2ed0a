package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StructType

import graft.sources.{GraftCatalog, Versioned}
import graft.streaming.VersionedSink

/** `lake_ingest`: one versioned table driven by a seeded op log. Each
  * pass is one episode: the whole log replayed on a fresh table. The
  * plan file holds a `#warm<TAB>n` header (the log prefix each warm-up
  * round runs on a fresh table) and then one op a line,
  * `kind<TAB>key=value...`, with batch files beside it. An op that reads an older version names it
  * by the index of the write op that made it. */
final class LakePlan(planFile: String, work: String) extends Plan {
  private val dir = Paths.get(planFile).getParent
  private val lines = Files.readAllLines(Paths.get(planFile)).asScala.toSeq
    .filter(_.nonEmpty)
  private val warmCount = lines.head.split("\t")(1).toInt
  private val specs: IndexedSeq[(String, Map[String, String])] =
    lines.tail.map { l =>
      val f = l.split("\t")
      f(0) -> f.tail.map { kv =>
        val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
      }.toMap
    }.toIndexedSeq
  private val root = s"$work/lake"
  private val catalog = "benchlake"
  private val schema = StructType.fromDDL(
    "id BIGINT, grp INT, amount BIGINT, note STRING")
  private val reads = Set("read_latest", "read_asof", "read_changes", "read_sql")

  // the episode being run
  private var table = ""
  private def path = s"$root/$table"
  private var versionOf = Map.empty[Int, Int]
  private var seen = Map.empty[String, Long]

  override def prepare(spark: SparkSession): Unit =
    GraftCatalog.register(spark, catalog, root)

  private def reset(name: String): Unit = {
    if (table.nonEmpty) deleteTree(Paths.get(path))
    table = name
    versionOf = Map.empty
    seen = Map.empty
  }

  /** The warm-up prefix of the log on a fresh table. */
  def warmup(round: Int): Seq[Op] = {
    reset(s"warm$round")
    (0 until warmCount).map(LakeOp)
  }

  def pass(n: Int, seed: Long): Seq[Op] = {
    reset(s"ep$n")
    specs.indices.map(LakeOp)
  }

  /** The last episode's final snapshot, for the check. */
  override def finish(spark: SparkSession, out: String): Unit =
    Versioned.read(spark, path).coalesce(1).write.mode("overwrite")
      .parquet(s"$out/results/final")

  private final case class LakeOp(i: Int) extends Op {
    private val (k, a) = specs(i)
    val name = f"$i%03d_$k"
    val family = "lake"
    val kind = k

    private def batch(spark: SparkSession) =
      spark.read.schema(schema).parquet(dir.resolve(a("batch")).toString)
    private def ver(key: String) = versionOf.getOrElse(a(key).toInt,
      sys.error(s"op $i reads the version of op ${a(key)}, not run"))
    private def collect(spark: SparkSession,
        df: org.apache.spark.sql.DataFrame) =
      OpResult(Some(df.schema -> df.collect()), 0.0)
    private def commit(v: => Any): OpResult = { v; OpResult(None, 0.0) }

    def run(spark: SparkSession): OpResult = k match {
      case "append" =>
        commit(Versioned.commit(batch(spark), path, overwrite = false))
      case "sink" => commit(VersionedSink.commitBatch(batch(spark), path,
        "perfbench", a("batch_id").toLong))
      case "merge" =>
        commit(Versioned.mergeDV(spark, path, batch(spark), Seq("id")))
      case "delete" =>
        commit(Versioned.deleteWhereDV(spark, path, expr(a("where"))))
      case "compact" =>
        commit(Versioned.compact(spark, path, a("files").toInt))
      case "vacuum" =>
        commit(Versioned.vacuum(path, Versioned.latestVersion(path)))
      case "read_latest" =>
        collect(spark, Versioned.read(spark, path).filter(expr(a("where"))))
      case "read_asof" => collect(spark,
        Versioned.read(spark, path, Some(ver("at"))).filter(expr(a("where"))))
      case "read_changes" =>
        collect(spark, Versioned.readChanges(spark, path, ver("from"), ver("to")))
      case "read_sql" =>
        collect(spark, spark.sql(a("sql").replace("{table}", s"$catalog.$table")))
    }

    /** The version a write made (the check needs it) and, with
      * `detail`, filesystem accounting: bytes and files a write added
      * under the table directory, and the layout a read had to open. */
    override def after(spark: SparkSession,
        detail: Boolean): Map[String, Any] = {
      val head = Versioned.latestVersion(path)
      if (!reads(k)) versionOf += i -> head
      if (!detail) {
        if (reads(k)) Map.empty else Map("version" -> head)
      } else if (reads(k)) {
        val v = if (k == "read_asof") ver("at") else head
        val dataFiles = Versioned.dataDirIds(path, v).map(d =>
          files(Paths.get(path, "data", d)).count(_._1.endsWith(".parquet")))
          .sum
        Map("version" -> v, "files_per_read" -> dataFiles,
          "dv_files" -> Versioned.dvDirIds(path, v).size)
      } else {
        val now = files(Paths.get(path))
        val fresh = now.filter { case (f, size) => !seen.get(f).contains(size) }
        seen = now
        Map("version" -> head, "bytes_written" -> fresh.values.sum,
          "files_written" -> fresh.size, "disk_bytes" -> now.values.sum,
          "live_files" -> Versioned.dataDirIds(path, head).map(d =>
            files(Paths.get(path, "data", d)).count(_._1.endsWith(".parquet")))
            .sum)
      }
    }
  }

  private def files(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally w.close()
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f): Unit)
      finally w.close()
    }
}
