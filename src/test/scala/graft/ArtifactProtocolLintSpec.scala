package graft

import org.scalatest.funsuite.AnyFunSuite

/** The artifact mutation protocol — atomic frontier writes, the
  * move-aside swap, the ingest frontier and the ingestion-order guard —
  * lives in `graft.ops.BucketSwap` alone, so one file carries its
  * crash-ordering argument and its crash points. A copy anywhere else in
  * the main sources fails here.
  */
class ArtifactProtocolLintSpec extends AnyFunSuite {

  private val markers =
    Seq("ATOMIC_MOVE", ".aside", "_ingest_frontier", "ingestion-order contract broken")

  /** `file:line: marker` for every line of a main source file other than
    * `owner` that contains one of `patterns`. */
  private def hitsOutside(owner: String, patterns: Seq[String]): List[String] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the project root: $root")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != owner)
      .flatMap(f => java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.flatMap {
        case (line, i) => patterns.filter(line.contains).map(m => s"$f:${i + 1}: $m")
      })
      .toList
  }

  test("protocol markers appear in src/main/scala only inside BucketSwap.scala") {
    val hits = hitsOutside("BucketSwap.scala", markers)
    assert(hits.isEmpty, s"artifact protocol copied outside BucketSwap:\n${hits.mkString("\n")}")
  }

  /** The keyed last-write-wins rule is written once, as
    * `ChangelogApply.lastByPos`, so every state store shares one kernel. */
  test("the LWW max_by aggregate appears in src/main/scala only inside ChangelogApply.scala") {
    val hits = hitsOutside("ChangelogApply.scala", Seq("max_by(struct("))
    assert(hits.isEmpty, s"LWW kernel copied outside ChangelogApply:\n${hits.mkString("\n")}")
  }
}
