package graft.tables

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The fold of dying rows' positions into per-file deletion bitmaps,
  * and their union with a file's existing DV, has one home:
  * [[DeletionVectors.foldPositions]]. No other main source may build
  * a bitmap from positions itself, so Delta DELETE/UPDATE/MERGE and
  * the Iceberg v3 DELETE cannot grow copies of it again.
  */
class DvFoldSeamSpec extends AnyFunSuite {

  private val owners = Set("DeletionVectors.scala", "DvBitmapAggregate.scala")
  private val calls = Seq("DvBitmapAgg.bitmap(", "RoaringBitmapArray.fromSorted(")

  test("only DeletionVectors folds positions into deletion bitmaps") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = sources.filterNot(p => owners(p.getFileName.toString))
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
          calls.filter(line.contains).map(c => s"$p:${i + 1}: $c")
        }
      }
    assert(offenders.isEmpty,
      s"deletion-bitmap folds outside DeletionVectors:\n${offenders.mkString("\n")}")
    assert(sources.exists(_.getFileName.toString == "DeletionVectors.scala"))
  }
}
