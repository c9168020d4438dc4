package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `spark.graft.*` key the library reads has a row in the
  * RUNBOOK's "Configuration keys" table, and every row names a key the
  * library still reads — so a knob is documented in the change that
  * adds it and its row goes with the change that removes it. Pure file
  * scan (no Spark); paths are relative to the project root, the forked
  * test JVM's working directory. */
class KnobInventorySpec extends AnyFunSuite {

  private val keyInLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]*[A-Za-z0-9_])".r
  private val keyInRow = "^\\| `(spark\\.graft\\.[A-Za-z0-9_.]+)` \\|".r

  private def sourceKeys(root: Path): Set[String] = {
    val files = Files.walk(root)
    try files.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(f => keyInLiteral.findAllMatchIn(Files.readString(f))
        .map(_.group(1)))
      .toSet
    finally files.close()
  }

  private def runbookKeys(runbook: Path): Set[String] = {
    val section = Files.readAllLines(runbook).asScala
      .dropWhile(_ != "## Configuration keys").drop(1)
      .takeWhile(!_.startsWith("## "))
    section.flatMap(l => keyInRow.findFirstMatchIn(l).map(_.group(1)))
      .toSet
  }

  test("spark.graft.* keys in src/main/scala ≡ the RUNBOOK " +
    "Configuration keys table") {
    val src = Paths.get("src/main/scala")
    val runbook = Paths.get("docs/RUNBOOK.md")
    assert(Files.isDirectory(src), s"no $src under ${Paths.get("").toAbsolutePath}")
    assert(Files.isRegularFile(runbook), s"no $runbook")
    val inSource = sourceKeys(src)
    val inTable = runbookKeys(runbook)
    assert(inSource.nonEmpty && inTable.nonEmpty)
    assert((inSource -- inTable).isEmpty,
      s"keys read by the library but missing from $runbook: " +
        (inSource -- inTable).toSeq.sorted.mkString(", "))
    assert((inTable -- inSource).isEmpty,
      s"$runbook rows for keys the library no longer reads: " +
        (inTable -- inSource).toSeq.sorted.mkString(", "))
  }
}
