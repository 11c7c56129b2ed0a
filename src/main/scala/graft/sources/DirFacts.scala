package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** One data file of a versioned data dir: its dir-relative path, its
  * bytes, and per stats-indexed column its (lo, hi) bounds as doubles
  * — None where the bound is unknown (all-null chunk, a value that
  * does not cast to double, NaN or ±Infinity), which prunes as an open
  * bound. */
private[sources] final case class FileFacts(path: String, bytes: Long,
    bounds: Map[String, (Option[Double], Option[Double])] = Map.empty)

/** A bloom sidecar a data dir carries: the items per file it was sized
  * for and the column type its probe must hash with. */
private[sources] final case class BloomFacts(expectedPerFile: Long,
    dataType: org.apache.spark.sql.types.DataType)

/** The file manifest of one data dir, `data/<dir>/_files.json` (the
  * Iceberg manifest-file / Delta `add.stats` shape): every data file
  * with its bytes, per-file bounds for the dir's stats-indexed
  * columns, and the dir's bloom-indexed columns. Written once when
  * the dir is staged, before its manifest publishes, and rewritten
  * atomically only by the retrofit index verbs. Column names are
  * PHYSICAL (the names the files carry). */
private[sources] final case class DirFacts(files: Seq[FileFacts],
    stats: Seq[String] = Nil, blooms: Map[String, BloomFacts] = Map.empty) {

  /** Driver-side range prune on stats column `c`: the files whose
    * [lo, hi] may hold a value in [qlo, qhi], under Spark's ordering
    * (NaN above every number, so a NaN query bound never wrongly
    * drops a file). On a `numeric` column an unknown bound is open:
    * `lo` reads as -Infinity and `hi` as +Infinity — a NaN max
    * (stored unknown) thus keeps every range above the file's min, as
    * Spark's ordering requires. On any other column (lexical min/max
    * that may not cast) a file with an unknown bound is kept, as is a
    * file without the column's bounds. */
  def rangeKeep(c: String, qlo: Double, qhi: Double,
      numeric: Boolean = false): Seq[FileFacts] = {
    def le(a: Double, b: Double) = b.isNaN || (!a.isNaN && a <= b)
    files.filter(_.bounds.get(c) match {
      case Some((Some(lo), Some(hi))) => le(qlo, hi) && le(lo, qhi)
      case Some((lo, hi)) if numeric =>
        le(qlo, hi.getOrElse(Double.PositiveInfinity)) &&
          le(lo.getOrElse(Double.NegativeInfinity), qhi)
      case _ => true
    })
  }
}

private[sources] object DirFacts {
  val FileName = "_files.json"

  /** The data files of a freshly staged dir, hive subdirs included —
    * the one listing a commit makes: parquet parts none of whose path
    * components is `_`- or `.`-prefixed (sidecar tables, `_files.json`
    * and hidden files are not data). */
  def list(dir: Path): Seq[FileFacts] = {
    val w = Files.walk(dir)
    try w.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p))
      .filter(rel => rel.toString.endsWith(".parquet") &&
        rel.iterator().asScala.forall { c =>
          !c.toString.startsWith("_") && !c.toString.startsWith(".") })
      .map(rel => FileFacts(rel.toString,
        Files.size(dir.resolve(rel))))
      .toVector.sortBy(_.path)
    finally w.close()
  }

  /** Publish `facts` as `dir`'s `_files.json` atomically: a hidden
    * temp file, then one rename over the old one — a concurrent reader
    * sees the old file or the new one, never a torn one. */
  def write(dir: Path, facts: DirFacts): Unit = {
    val tmp = dir.resolve(s".${FileName}.${java.util.UUID.randomUUID()}")
    Files.write(tmp, render(facts).getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(FileName),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def num(d: Option[Double]): String = d.fold("null")(_.toString)

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${ManifestJson.quote(k)}:$v" }
      .mkString("{", ",", "}")

  def render(f: DirFacts): String = {
    val files = f.files.map { e =>
      s"""{"path":${ManifestJson.quote(e.path)},"bytes":${e.bytes}""" +
        (if (e.bounds.isEmpty) ""
         else s""","lo":${obj(e.bounds.toSeq.sortBy(_._1).map {
           case (c, (lo, _)) => c -> num(lo) })}""" +
           s""","hi":${obj(e.bounds.toSeq.sortBy(_._1).map {
           case (c, (_, hi)) => c -> num(hi) })}""") + "}"
    }
    s"""{"files":[${files.mkString(",")}],""" +
      s""""stats":[${f.stats.map(ManifestJson.quote).mkString(",")}],""" +
      s""""blooms":${obj(f.blooms.toSeq.sortBy(_._1).map { case (c, b) =>
        c -> (s"""{"expectedPerFile":${b.expectedPerFile},""" +
          s""""type":${ManifestJson.quote(b.dataType.sql)}}""") })}}"""
  }

  def parse(s: String): DirFacts = {
    val m = ManifestJson.parseObject(s)
    def map(v: Any): Map[String, Any] = v.asInstanceOf[Map[String, Any]]
    def dbl(v: Any): Option[Double] =
      Option(v).map(_.asInstanceOf[Number].doubleValue)
    DirFacts(
      files = m("files").asInstanceOf[List[Any]].map { e0 =>
        val e = map(e0)
        val lo = e.get("lo").map(map).getOrElse(Map.empty)
        val hi = e.get("hi").map(map).getOrElse(Map.empty)
        FileFacts(e("path").asInstanceOf[String],
          e("bytes").asInstanceOf[Long],
          (lo.keySet ++ hi.keySet).map(c =>
            c -> (lo.get(c).flatMap(dbl), hi.get(c).flatMap(dbl))).toMap)
      },
      stats = m("stats").asInstanceOf[List[Any]].map(_.asInstanceOf[String]),
      blooms = map(m("blooms")).map { case (c, b) =>
        c -> BloomFacts(map(b)("expectedPerFile").asInstanceOf[Long],
          org.apache.spark.sql.types.DataType.fromDDL(
            map(b)("type").asInstanceOf[String]))
      })
  }
}
