package graft.tables

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The Delta action encoding has one home, [[DeltaActions]]: no other
  * main source may spell out a Delta log action line. Tests are free
  * to hand-author foreign logs.
  */
class DeltaActionSeamSpec extends AnyFunSuite {

  private val actionLines: Seq[String] =
    Seq("add", "remove", "cdc", "metaData", "protocol", "commitInfo", "txn", "domainMetadata")
      .flatMap(k => Seq(s"""{"$k":""", s"""{\\"$k\\":"""))

  test("only DeltaActions holds a Delta action line literal") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = sources.filterNot(_.getFileName.toString == "DeltaActions.scala")
      .flatMap { p: Path =>
        val text = Files.readString(p)
        actionLines.filter(text.contains).map(l => s"$p: $l")
      }
    assert(offenders.isEmpty,
      s"Delta action lines outside DeltaActions:\n${offenders.mkString("\n")}")
    assert(sources.exists(_.getFileName.toString == "DeltaActions.scala"))
  }
}
