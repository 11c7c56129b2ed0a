package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps the session setup in one place: a main that builds its own
  * SparkSession would drift from the config every other artifact is
  * produced under. */
class GraftSessionSpec extends AnyFunSuite {

  test("SparkSession.builder appears in src/main only inside GraftSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val walk = Files.walk(root)
    val hits =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          Files.readString(p).contains("SparkSession.builder"))
        .map(p => root.relativize(p).toString).toSeq.sorted
      finally walk.close()
    assert(hits == Seq("graft/GraftSession.scala"),
      s"SparkSession.builder outside GraftSession: $hits")
  }
}
