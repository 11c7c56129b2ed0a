package graft.plans

import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.{ColumnIOFactory, LocalInputFile}
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap
import scala.jdk.CollectionConverters._

/** Deletion vectors applied INSIDE the parquet scan — Delta's
  * deletion-vector protocol shape: a row's identity is its file and
  * its physical row index (`_metadata.file_path`,
  * `_metadata.row_index`), and each file's deleted positions load
  * when the scan reaches that file, so a masked read runs no mask
  * scan, no broadcast and no join.
  *
  * `masks` maps a data file, relative to the table root `root` (the
  * path after its LAST `/data/`, so a table rooted under a path that
  * itself contains `/data/` keys the same way), to the mask dirs
  * (`<root>/dv/<id>`, parquet of `rel STRING, pos BIGINT`) that name
  * positions in it. When the scan reaches a file, its positions load
  * from exactly those dirs into a bitmap — the row-group statistics
  * and a record filter on `rel` skip other files' rows — and stay
  * until the next file starts; nothing survives the task. Files no
  * mask touches load nothing.
  *
  * `keep = false` keeps the LIVE rows (masked positions dropped);
  * `keep = true` keeps ONLY the masked positions — the pre-images a
  * just-staged mask names. Deterministic: the answer is a function
  * of (file, position), so Catalyst may combine and reorder it with
  * other filters like any predicate.
  */
case class DvMaskFilter(filePath: Expression, rowIndex: Expression,
    root: String, masks: Map[String, Seq[String]], keep: Boolean)
    extends BinaryExpression with Predicate {

  override def left: Expression = filePath
  override def right: Expression = rowIndex
  override def prettyName: String = "graft_dv_mask"
  override def toString: String =
    s"$prettyName($filePath, $rowIndex, ${masks.valuesIterator.flatten
      .toSet.size} masks over ${masks.size} files, keep=$keep)"

  /** This task's per-file cursor (interpreted evaluation). */
  @transient private lazy val cursor = newCursor()

  def newCursor(): DvMaskCursor = new DvMaskCursor(root, masks, keep)

  override protected def nullSafeEval(p: Any, i: Any): Any =
    cursor.test(p.asInstanceOf[UTF8String], i.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("dvMask", this)
    val c = ctx.addMutableState(classOf[DvMaskCursor].getName, "dvCursor",
      v => s"$v = $self.newCursor();", forceInline = true)
    nullSafeCodeGen(ctx, ev, (p, i) => s"${ev.value} = $c.test($p, $i);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DvMaskFilter =
    copy(filePath = newLeft, rowIndex = newRight)
}

/** One partition's walk over its files: the masked positions of the
  * file in hand, reloaded when the file changes. */
final class DvMaskCursor(root: String, masks: Map[String, Seq[String]],
    keep: Boolean) {
  private var file: UTF8String = _
  private var positions: Roaring64Bitmap = _ // null: no mask touches it

  def test(path: UTF8String, pos: Long): Boolean = {
    if (!(path eq file) && !path.equals(file)) {
      file = path.clone()
      val s = path.toString
      val rel = s.substring(s.lastIndexOf("/data/") + "/data/".length)
      positions = masks.get(rel)
        .map(DvMaskCursor.load(root, _, rel)).orNull
    }
    if (positions == null) !keep else positions.contains(pos) == keep
  }
}

object DvMaskCursor {
  // one read-only conf per JVM: parquet's convenience readers build
  // and parse a fresh Hadoop conf per file, ~15 ms each
  private lazy val conf = new Configuration()

  /** The positions mask dirs `ids` name in file `rel`. Mask dirs are
    * local, like the rest of the versioned layout: read through
    * java.nio, not Hadoop's checksummed, vectored file system. */
  def load(root: String, ids: Seq[String], rel: String): Roaring64Bitmap = {
    val out = new Roaring64Bitmap
    val onRel = FilterCompat.get(FilterApi.eq(
      FilterApi.binaryColumn("rel"), Binary.fromString(rel)))
    val opts = HadoopReadOptions.builder(conf).withRecordFilter(onRel)
      .build()
    ids.foreach { id =>
      val ls = Files.list(Paths.get(root, "dv", id))
      val parts = try ls.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }.toVector finally ls.close()
      parts.foreach { part =>
        val r = ParquetFileReader.open(new LocalInputFile(part), opts)
        try {
          val schema = r.getFooter.getFileMetaData.getSchema
          val io = new ColumnIOFactory().getColumnIO(schema)
          // row groups whose statistics exclude `rel` never load
          var rows = r.readNextFilteredRowGroup()
          while (rows != null) {
            val rr = io.getRecordReader(rows,
              new GroupRecordConverter(schema), onRel)
            var i = 0L
            while (i < rows.getRowCount) {
              val g = rr.read()
              if (g != null && !rr.shouldSkipCurrentRecord)
                out.addLong(g.getLong("pos", 0))
              i += 1
            }
            rows = r.readNextFilteredRowGroup()
          }
        } finally r.close()
      }
    }
    out
  }
}
