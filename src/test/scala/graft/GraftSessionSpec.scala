package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Pins the single session factory: a second `SparkSession.builder`
  * in main code is how the mains' configs drifted apart before.
  */
class GraftSessionSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("only GraftSession.scala builds a SparkSession in src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def builds(p: Path) = Files.readString(p).contains("SparkSession.builder")
    assert(sources.filter(builds).map(_.getFileName.toString) == Seq("GraftSession.scala"))
  }
}
