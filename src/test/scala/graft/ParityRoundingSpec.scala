package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Pins the single home of the fixed-point parity rounding: the
  * floor(x·s + 0.5) formula at the cent, 4-decimal and micro-unit
  * scales is spelled out only in TextFns (`units`/`duckUnits`, which
  * `round4`/`round6` and their DuckDB mirrors build on). A pasted copy
  * is how one engine's side of a parity rule drifts from the other's.
  */
class ParityRoundingSpec extends org.scalatest.funsuite.AnyFunSuite {
  private val sources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  private def files(hit: String => Boolean): Seq[String] =
    sources.filter(p => hit(Files.readString(p))).map(_.getFileName.toString).sorted

  test("only TextFns.scala spells out floor(x * s + 0.5) in src/main/scala") {
    // whitespace and stripMargin bars removed, so a copy split across
    // lines (Scala or SQL) is found too
    val formula = """\*(100|10000|1000000)(\.0)?\+0\.5""".r
    def copies(src: String) =
      formula.findFirstIn(src.replaceAll("""\n\s*\|""", "").replaceAll("""\s""", "")).nonEmpty
    assert(files(copies).filterNot(_ == "TextFns.scala").isEmpty)
  }

  test("no src/main/scala file aliases a TextFns rounding function") {
    val alias = """TextFns\.(round4|duckRound4|round6|duckRound6|units|duckUnits) _""".r
    assert(files(src => alias.findFirstIn(src).nonEmpty).isEmpty)
  }
}
