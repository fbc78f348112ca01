package graft

import org.scalatest.funsuite.AnyFunSuite

/** Inventory of the `spark.graft.*` session-conf gates in the main
  * sources. Every gate keeps a second execution path alive, so adding one
  * means editing the expected set below, next to the gate's retirement
  * plan in ROADMAP.md.
  */
class GateInventorySpec extends AnyFunSuite {

  test("the main sources read exactly the three retained spark.graft gates") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"run from the repository root: ${root.toAbsolutePath} is not a directory")
    val key = "\"spark\\.graft\\.([A-Za-z0-9_.]+)\"".r
    val walk = java.nio.file.Files.walk(root)
    val found =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(_.toString.endsWith(".scala"))
          .flatMap(p => key.findAllMatchIn(java.nio.file.Files.readString(p)).map(_.group(1)))
          .toSet
      } finally walk.close()
    assert(found == Set("lpVoteRepartition", "nestedMorCopy", "parallelismFloor"),
      s"spark.graft gates in src/main/scala: ${found.toSeq.sorted.mkString(", ")}")
  }
}
