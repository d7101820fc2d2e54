package graft.tables

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** File skipping has one evaluator: [[FileSkipping]] decides whether
  * a file's recorded min/max/null count may satisfy a filter, for
  * Delta, Iceberg and Hudi alike, on the driver and in the distributed
  * planners' tasks. The formats only decode their stats into
  * [[FileSkipping.Bounds]]; no other main source may compare a filter
  * literal against min/max stats itself, so they cannot drift apart
  * again.
  */
class FileSkippingSeamSpec extends AnyFunSuite {

  private val owner = "FileSkipping.scala"
  // a branch on a comparison operator of the filter algebra ...
  private val opBranch = """FilterOp\.(Eq|Neq|Lt|Le|Gt|Ge|In|NotIn)\b""".r
  // ... that reads a recorded min/max bound on its line or the next two
  private val boundRef = """(?i)\b(min|max|lower|upper)\w*""".r
  private val statsMatcher = """def\s+\w*(stats|Stats|range|Range)MayMatch\b""".r

  private def sources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  private def lines(p: Path): IndexedSeq[String] = Files.readAllLines(p).asScala.toIndexedSeq

  private def boundComparisons(p: Path): Seq[String] = {
    val ls = lines(p)
    ls.indices.collect {
      case i if opBranch.findFirstIn(ls(i)).isDefined &&
          boundRef.findFirstIn(ls.slice(i, i + 3).mkString(" ")).isDefined =>
        s"$p:${i + 1}: ${ls(i).trim}"
    }
  }

  test("only FileSkipping compares filter literals against min/max stats") {
    val (own, others) = sources.partition(_.getFileName.toString == owner)
    val offenders = others.flatMap(boundComparisons)
    assert(offenders.isEmpty,
      s"min/max comparisons outside FileSkipping:\n${offenders.mkString("\n")}")
    // the check still recognizes the comparisons it guards
    assert(own.flatMap(boundComparisons).nonEmpty)
  }

  test("the main code defines exactly one stats may-match function") {
    val defs = sources.flatMap(p => lines(p).zipWithIndex.collect {
      case (l, i) if statsMatcher.findFirstIn(l).isDefined => s"$p:${i + 1}: ${l.trim}"
    })
    assert(defs.size == 1 && defs.head.contains(owner), defs.mkString("\n"))
  }
}
