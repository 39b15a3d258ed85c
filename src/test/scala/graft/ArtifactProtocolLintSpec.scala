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

  test("protocol markers appear in src/main/scala only inside BucketSwap.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the project root: $root")
    import scala.jdk.CollectionConverters._
    val hits = java.nio.file.Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "BucketSwap.scala")
      .flatMap(f => java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.flatMap {
        case (line, i) => markers.filter(line.contains).map(m => s"$f:${i + 1}: $m")
      })
      .toList
    assert(hits.isEmpty, s"artifact protocol copied outside BucketSwap:\n${hits.mkString("\n")}")
  }
}
