package graft

import org.scalatest.funsuite.AnyFunSuite

/** Inventory of the `spark.graft.*` session-conf gates, of the
  * entry-point mains, of the fixture-memo idiom and of the manifest
  * entry readers in the main sources. Every gate keeps a second
  * execution path alive, so adding one means editing the expected set
  * below, next to the gate's retirement plan in ROADMAP.md; a new `main`,
  * a hand-rolled pay-once fixture beside `QueryCache.fixture`, or a
  * second entry parser or planner selection beside `parseEntry` and
  * `select` is likewise a visible edit here.
  */
class GateInventorySpec extends AnyFunSuite {

  /** (path relative to src/main/scala, content) of every main source. */
  private def mainSources: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"run from the repository root: ${root.toAbsolutePath} is not a directory")
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString -> java.nio.file.Files.readString(p))
        .toList
    } finally walk.close()
  }

  test("the main sources read exactly the three retained spark.graft gates") {
    val key = "\"spark\\.graft\\.([A-Za-z0-9_.]+)\"".r
    val found = mainSources
      .flatMap { case (_, src) => key.findAllMatchIn(src).map(_.group(1)) }
      .toSet
    assert(found == Set("lpVoteRepartition", "nestedMorCopy", "parallelismFloor"),
      s"spark.graft gates in src/main/scala: ${found.toSeq.sorted.mkString(", ")}")
  }

  test("the main sources declare exactly the six entry-point mains") {
    val pkg = """(?m)^package\s+([\w.]+)""".r
    val obj = """(?m)^(?:private\[\w+\]\s+)?object\s+(\w+)""".r
    val found = mainSources.flatMap { case (path, src) =>
      val prefix = pkg.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
      val objects = obj.findAllMatchIn(src).map(m => m.start -> m.group(1)).toList
      "def main\\(".r.findAllMatchIn(src).map { m =>
        val owner = objects.takeWhile(_._1 < m.start).lastOption
        assert(owner.nonEmpty, s"$path: def main( outside a top-level object")
        prefix + owner.get._2
      }
    }.toSet
    assert(found == Set("graft.Bench", "graft.Verify", "graft.PlanAudit",
      "graft.etl.TradePipeline", "graft.tools.CcScale", "graft.tools.MakeScaleDocs"),
      s"mains in src/main/scala: ${found.toSeq.sorted.mkString(", ")}")
  }

  /** path → occurrences of `token` in that main source, where any. */
  private def uses(token: String): Map[String, Int] = mainSources
    .map { case (path, src) =>
      path -> java.util.regex.Pattern.quote(token).r.findAllMatchIn(src).size
    }
    .filter(_._2 > 0).toMap

  test("pay-once fixtures have one owner: QueryCache") {
    Seq("createTempDirectory", "addShutdownHook").foreach { token =>
      assert(uses(token) == Map("graft/ops/QueryCache.scala" -> 1), s"$token in src/main/scala")
    }
    Seq("ConcurrentHashMap", "AtomicLong", "inputFiles.sorted", "computeIfAbsent")
      .foreach { token =>
        val found = uses(token).keySet &
          Set("graft/ops/Incremental.scala", "graft/ops/Relational.scala")
        assert(found.isEmpty, s"$token in ${found.mkString(", ")}")
      }
  }

  test("manifest entries have one parser and the planner one selection") {
    assert(uses("entryBody(e).split(\"#\", -1)") ==
      Map("graft/sources/VersionedTable.scala" -> 1),
      "the entry segment split belongs to VersionedTable.parseEntry alone")
    val selective = "def (selective\\w*)".r
    val found = mainSources
      .flatMap { case (_, src) => selective.findAllMatchIn(src).map(_.group(1)) }
      .toSet
    assert(found == Set("selectiveRawEntries"),
      s"selective readers in src/main/scala: ${found.toSeq.sorted.mkString(", ")}")
  }
}
