package graft

import org.scalatest.funsuite.AnyFunSuite

/** Inventory of the `spark.graft.*` session-conf gates, of the
  * entry-point mains, of the fixture-memo idiom, of the manifest entry
  * readers and of the reachable units in the main sources. Every gate
  * keeps a second execution path alive, so adding one means editing the
  * expected set below, next to the gate's retirement plan in ROADMAP.md;
  * a new `main`, a hand-rolled pay-once fixture beside
  * `QueryCache.fixture`, a second entry parser or planner selection
  * beside `parseEntry` and `select`, a second versioned-table data-file
  * scan or metadata-file write primitive, or a unit or object member that
  * only its own spec calls is likewise a visible edit here.
  */
class GateInventorySpec extends AnyFunSuite {

  /** (path relative to `dir`, content) of every Scala source under `dir`. */
  private def scalaSources(dir: String): Seq[(String, String)] = {
    val root = java.nio.file.Paths.get(dir)
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

  /** (path relative to src/main/scala, content) of every main source. */
  private def mainSources: Seq[(String, String)] = scalaSources("src/main/scala")

  private val pkg = """(?m)^package\s+([\w.]+)""".r

  private def packagePrefix(src: String): String =
    pkg.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")

  private val mains = Set("graft.Bench", "graft.Verify", "graft.PlanAudit",
    "graft.etl.TradePipeline", "graft.tools.CcScale", "graft.tools.MakeScaleDocs")

  private val charLiteral = """'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'""".r.pattern

  /** `src` without its comments: line comments and (nested) block
    * comments go; string and character literals are kept whole, so a
    * `//` inside a string is not read as a comment.
    */
  private def stripComments(src: String): String = {
    val out = new java.lang.StringBuilder
    val n = src.length
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    def keep(stop: Int): Unit = { out.append(src, i, stop); i = stop }
    while (i < n) {
      lazy val char = charLiteral.matcher(src).region(i, n)
      if (at("//")) {
        while (i < n && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        while ({
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
          depth > 0 && i < n
        }) ()
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        keep(if (end < 0) n else end + 3)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        keep(math.min(j + 1, n))
      } else if (src(i) == '\'' && char.lookingAt()) keep(char.end())
      else keep(i + 1)
    }
    out.toString
  }

  test("the main sources read exactly the retained spark.graft gates") {
    val key = "\"spark\\.graft\\.([A-Za-z0-9_.]+)\"".r
    val found = mainSources
      .flatMap { case (_, src) => key.findAllMatchIn(src).map(_.group(1)) }
      .toSet
    assert(found == Set("lpVoteRepartition", "parallelismFloor"),
      s"spark.graft gates in src/main/scala: ${found.toSeq.sorted.mkString(", ")}")
  }

  test("the main sources declare exactly the six entry-point mains") {
    val obj = """(?m)^(?:private\[\w+\]\s+)?object\s+(\w+)""".r
    val found = mainSources.flatMap { case (path, src) =>
      val prefix = packagePrefix(src)
      val objects = obj.findAllMatchIn(src).map(m => m.start -> m.group(1)).toList
      "def main\\(".r.findAllMatchIn(src).map { m =>
        val owner = objects.takeWhile(_._1 < m.start).lastOption
        assert(owner.nonEmpty, s"$path: def main( outside a top-level object")
        prefix + owner.get._2
      }
    }.toSet
    assert(found == mains, s"mains in src/main/scala: ${found.toSeq.sorted.mkString(", ")}")
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

  test("parquet's Group API reads only the tombstone key files") {
    // data files decode through the catalog's one columnar reader; a
    // second data-file decoder would be a visible edit here
    val path = "graft/sources/GraftCatalog.scala"
    assert(uses("new GroupReadSupport()") == Map(path -> 2))
    val src = strippedMain.toMap.apply(path)
    // the top-level unit each use sits in
    val unit = """(?m)^\S.*?\b(?:object|class|trait)\s+(\w+)""".r
    val owners = "new GroupReadSupport\\(\\)".r.findAllMatchIn(src).map { m =>
      unit.findAllMatchIn(src).takeWhile(_.start < m.start).toList.last.group(1)
    }.toSet
    assert(owners == Set("TombstoneKeys", "PositionKeys"), owners.toString)
  }

  test("each versioned-table read rule and atomic-write step has one owner") {
    val path = "graft/sources/VersionedTable.scala"
    val src = mainSources.toMap.apply(path)
    // the object member (two-space indent) each use of `token` sits in
    val member = """(?m)^  (?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r
    def owners(token: String): Seq[String] =
      java.util.regex.Pattern.quote(token).r.findAllMatchIn(src).map { m =>
        member.findAllMatchIn(src).takeWhile(_.start < m.start).toList.last.group(1)
      }.toSeq
    // the data-file scan: the dictionary-filter rule and the row tags
    for (token <- Seq("\"parquet.filter.dictionary.enabled\"", "_metadata.row_index")) {
      assert(uses(token) == Map(path -> 1), token)
      assert(owners(token) == Seq("scan"), token)
    }
    // create-once (link as compare-and-swap) and atomic replace
    assert(uses("Files.createLink(").keySet == Set(path))
    assert(owners("Files.createLink(").distinct == Seq("createOnce", "cloneTable"))
    assert(uses("StandardCopyOption.ATOMIC_MOVE") == Map(path -> 1))
    assert(owners("StandardCopyOption.ATOMIC_MOVE") == Seq("replaceFile"))
    // every staged commit publishes through publishStaged
    assert(uses("tryPublishStaged").isEmpty)
  }

  /** (path relative to src/main/scala, content) of every main source,
    * comments stripped.
    */
  private lazy val strippedMain: Seq[(String, String)] =
    mainSources.map { case (path, src) => path -> stripComments(src) }

  /** perfbench's sources, comments stripped, and the services file. */
  private lazy val strippedOutside: Seq[String] =
    scalaSources("perfbench/src").map(s => stripComments(s._2)) :+
      java.nio.file.Files.readString(java.nio.file.Paths.get(
        "src/main/resources/META-INF/services/org.apache.spark.sql.sources.DataSourceRegister"))

  /** Is `name` named in the main sources, perfbench or the services file
    * anywhere but in `[start, end)` of the main source at `path`?
    */
  private def namedOutside(name: String, path: String, src: String,
      start: Int, end: Int): Boolean = {
    val word = s"\\b$name\\b".r
    def names(text: String) = word.findFirstIn(text).isDefined
    names(src.substring(0, start)) || names(src.substring(end)) ||
      strippedMain.exists { case (p, other) => p != path && names(other) } ||
      strippedOutside.exists(names)
  }

  /** Top-level units that nothing outside their own declaration names,
    * kept anyway: fully qualified name → the reason. The mains need no
    * entry.
    */
  private val unnamedButKept: Map[String, String] = Map.empty

  test("every top-level unit in src/main is named outside its own declaration") {
    val decl = ("""(?m)^(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|""" +
      """abstract\s+|case\s+|implicit\s+)*(?:object|class|trait)\s+(\w+)""").r
    val unnamed = strippedMain.flatMap { case (path, src) =>
      val decls = decl.findAllMatchIn(src).toList
      decls.zip(decls.drop(1).map(_.start) :+ src.length).filterNot { case (m, end) =>
        namedOutside(m.group(1), path, src, m.start, end)
      }.map { case (m, _) => packagePrefix(src) + m.group(1) }
    }.toSet
    assert(unnamed -- mains -- unnamedButKept.keySet == Set.empty,
      "units only their specs can reach: delete them, or keep them in unnamedButKept " +
        "with the reason")
    assert(unnamedButKept.keySet.subsetOf(unnamed),
      s"unnamedButKept lists units that are named: ${unnamedButKept.keySet -- unnamed}")
  }

  /** Public members of top-level objects that nothing outside their own
    * declaration names, kept anyway: `Object.member` → the reason.
    */
  private val unnamedMembersKept: Map[String, String] = Map(
    "SparkEntry.entry" ->
      "the flagship star query COVERAGE names as the smoke query run by name",
    "Relational.approxAgg" ->
      "the user-facing sketch operator; the registry runs its deterministic audit form",
    "VersionedTable.pruneCount" ->
      "the caller-facing manifest-skip probe the catalog and table specs assert through",
    "JsonSink.writeJsonLines" ->
      "the JSON-lines sink README offers beside the array sink",
    "Multimodal.resize" -> "the image resize operator README lists",
    "VersionedTable.commitIfAbsentGated" ->
      "the quality-gated foreachBatch ingest README lists")

  test("every public member of a top-level object in src/main is named outside its own declaration") {
    val obj = """(?m)^(?:private\[\w+\]\s+)?(?:case\s+)?object\s+(\w+)""".r
    val topLevel = """(?m)^\S""".r.pattern
    // members sit at two spaces of indent; a declaration runs to the next
    // line at two spaces or less
    val member = """(?m)^  (?:final\s+|lazy\s+)*(?:def|val)\s+([A-Za-z_]\w*)""".r.pattern
    val declEnd = """(?m)^ {0,2}\S""".r.pattern
    def find(p: java.util.regex.Pattern, src: String, from: Int, to: Int) = {
      val m = p.matcher(src).region(from, to).useAnchoringBounds(false)
      Iterator.continually(m).takeWhile(_.find()).map(_.toMatchResult)
    }
    val unnamed = strippedMain.flatMap { case (path, src) =>
      obj.findAllMatchIn(src).flatMap { o =>
        val end = find(topLevel, src, o.end, src.length).nextOption().fold(src.length)(_.start)
        find(member, src, o.end, end)
          .filterNot(m => Set("main", "apply", "unapply")(m.group(1)))
          .filterNot { m =>
            val stop = find(declEnd, src, m.end, src.length).nextOption().fold(src.length)(_.start)
            namedOutside(m.group(1), path, src, m.start, stop)
          }
          .map(m => s"${o.group(1)}.${m.group(1)}")
      }
    }.toSet
    assert(unnamed -- unnamedMembersKept.keySet == Set.empty,
      "members only their specs can reach: delete them, or keep them in " +
        s"unnamedMembersKept with the reason: ${(unnamed -- unnamedMembersKept.keySet).toSeq.sorted}")
    assert(unnamedMembersKept.keySet.subsetOf(unnamed),
      s"unnamedMembersKept lists members that are named: ${unnamedMembersKept.keySet -- unnamed}")
  }
}
