package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins for the PERSISTED planning headers (`rollup=` / `schema=`
  * manifest lines): every commit writes them, cold selective planning
  * consumes them ([[VersionedTable.select]] parses only the
  * [[VersionedTable.survivingChunks]]; [[VersionedTable.snapshotSchema]] unions
  * header hints with zero footer I/O), and vacuum's materialization
  * carries the CHAIN's hints forward before deleting the manifests that
  * declared them.
  */
class PlanHeaderSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private lazy val root = SparkTestBase.tempDir("plan_header").toString

  private def manifestText(table: String, v: Long): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(table, "_manifest", s"$v.manifest")), "UTF-8")

  test("every commit persists rollup + schema header lines") {
    val s = spark; import s.implicits._
    val t = s"$root/hdr"
    VersionedTable.commit(
      (1L to 1000L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartitionByRange(2, col("k")),
      t, append = false, statsCols = Seq("k"))
    VersionedTable.commit(
      (1001L to 2000L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartitionByRange(2, col("k")),
      t, append = true, statsCols = Seq("k"))
    val m1 = manifestText(t, 1L)
    val m2 = manifestText(t, 2L)
    assert(m1.contains("rollup=c1_") && m1.contains("schema=c1_"),
      s"commit 1 must persist its hints:\n${m1.take(400)}")
    assert(m2.contains("rollup=c2_") && m2.contains("schema=c2_"),
      s"commit 2 must persist its hints:\n${m2.take(400)}")
    // the rollup carries the commit's true key span
    assert("rollup=c1_\\S+ k=1\\.\\.1000".r.findFirstIn(m1).isDefined,
      s"commit 1 rollup must span k=1..1000:\n${m1.take(400)}")
    // selective planning drops the dead commit without parsing it: the
    // chunks left to parse hold only commit 2's entries
    val prune = Prune(Map("k" -> (1500L, 1600L)), Map.empty, Nil)
    val live = VersionedTable.survivingChunks(t, None, prune)._1
    assert(live.map(_._2).distinct == Seq(2L),
      s"commit 1 must be dropped by its persisted rollup: ${live.map(_._2)}")
    val sel = VersionedTable.select(t, None, prune)
    assert(sel.nonEmpty && sel.forall(_.commit == 2L), s"${sel.map(_.commit)}")
    // schema hints serve snapshot resolution (values must match a read)
    assert(VersionedTable.read(spark, t).count() == 2000L)
  }

  test("indexed entry segment: self-contained manifests seek, chains resolve, values exact") {
    val s = spark; import s.implicits._
    val t = s"$root/idx"
    // self-contained overwrite: index= lines must appear, one per dir
    VersionedTable.commit(
      (1L to 600L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartitionByRange(3, org.apache.spark.sql.functions.col("k")),
      t, append = false, statsCols = Seq("k"))
    val m1 = manifestText(t, 1L)
    assert(m1.contains("index=c1_"),
      s"self-contained manifests must carry an index segment:\n${m1.take(400)}")
    // appends chain on top; a replace commit removes some base entries
    VersionedTable.commit(
      (601L to 900L).map(k => (k, s"v$k")).toDF("k", "v"), t,
      append = true, statsCols = Seq("k"))
    VersionedTable.deleteWhere(spark, t, col("k") % 100L === 7L, "k")
    // the selective fast path must agree with the resolved full read
    val sel = VersionedTable.select(
      t, None, Prune(Map("k" -> (1L, 1000000L)), Map.empty, Nil))
    val full = VersionedTable.read(spark, t)
      .collect().map(_.getLong(0)).toSet
    assert(full == (1L to 900L).filterNot(_ % 100 == 7).toSet)
    val selFiles = sel.map(_.path).toSet
    assert(selFiles.nonEmpty && selFiles.forall(_.startsWith("data/")))
    // a selective plan over a bounded range still drops dead commits,
    // through the seek path, before parsing them
    val bounds = Map("k" -> (700L, 750L))
    val hits = VersionedTable.selectiveSeekHits.get()
    val (live, dels) =
      VersionedTable.survivingChunks(t, None, Prune(bounds, Map.empty, Nil))
    assert(VersionedTable.selectiveSeekHits.get() > hits,
      "indexed base must serve the fast path")
    assert(live.nonEmpty && live.map(_._2).forall(_ >= 2L),
      s"commit 1 must drop on its rollup through the seek path: ${live.map(_._2)}")
    assert(dels.nonEmpty, "the replace commit's tombstones must be visible")
    // the seek path's selection equals the manifest chain read whole and
    // judged file by file (blocks + chain removes/adds = resolved), and
    // so does the unbounded streamed selection
    val files = graft.Reference.manifestFiles(t, VersionedTable.versions(t).last)
    val sel2 = VersionedTable.select(t, None, Prune(bounds, Map.empty, Nil))
    assert(sel2.map(_.path).toSet ==
      graft.Reference.prunedFiles(files, bounds, Map.empty, Nil).toSet,
      "seek-path and full-resolution selections must agree")
    val sel3 = VersionedTable.select(t, None, Prune.none)
    assert(sel3.map(_.path).toSet == files.map(_.path).toSet,
      "layout and full-resolution paths must agree")
  }

  test("CHUNKED index: selective plans skip inside one giant commit") {
    val s = spark; import s.implicits._
    val t = s"$root/chunk"
    val prev = VersionedTable.IndexChunkEntries
    VersionedTable.IndexChunkEntries = 50
    try {
      // ONE sorted commit of 8 files × ... actually 8 range files, but
      // chunking is per ENTRY, so 8 entries stay one block — use many
      // files: 300 single-row-group files via repartitionByRange(300)
      VersionedTable.commit(
        (1L to 3000L).map(k => (k, s"v$k")).toDF("k", "v")
          .repartitionByRange(300, col("k")),
        t, append = false, statsCols = Seq("k"))
      val m1 = manifestText(t, 1L)
      assert(m1.contains("%0 ") && m1.contains("%1 "),
        s"a 300-entry dir must chunk at 50:\n${m1.take(600)}")
      assert("index=c1_\\S+%0 \\d+ \\d+ k=".r.findFirstIn(m1).isDefined,
        s"chunk lines must carry rollup cells:\n${m1.take(600)}")
      // a selective plan must read ONLY the matching chunks' entries:
      // the seek path hands the selection exactly the entries it parses
      val prune = Prune(Map("k" -> (1500L, 1520L)), Map.empty, Nil)
      val parsed = VersionedTable.selectiveRawEntries(t, None, prune)
        .getOrElse(fail("chunk rollups must engage the seek path"))._1.flatMap(_._3)
      val selPaths = VersionedTable.select(t, None, prune).map(_.path)
      assert(selPaths.nonEmpty && parsed.size <= 120,
        s"chunk rollups must bound the parsed entries, got ${parsed.size}")
      // results stay exact through the catalog
      spark.conf.set("spark.sql.catalog.gchk", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.gchk.root",
        java.nio.file.Paths.get(root).getParent.toString)
      val got = spark.sql(
        s"SELECT k FROM gchk.${java.nio.file.Paths.get(root).getFileName}" +
          ".chunk WHERE k BETWEEN 1500 AND 1520")
        .collect().map(_.getLong(0)).toSet
      assert(got == (1500L to 1520L).toSet,
        "chunk skipping must be invisible to results")
      // unbounded plans still see every file (chunks merge back whole)
      val all = VersionedTable.select(t, None, Prune.none)
      assert(all.map(_.path).toSet.size >= 300,
        "an unbounded plan must keep every entry")
    } finally VersionedTable.IndexChunkEntries = prev
  }

  test("STRING chunk rollups: a string-bounded plan skips inside one giant commit") {
    val s = spark; import s.implicits._
    val t = s"$root/strchunk"
    val prev = VersionedTable.IndexChunkEntries
    VersionedTable.IndexChunkEntries = 50
    try {
      // one commit, 300 files sorted by a STRING key (k00001..k03000):
      // each chunk's `s~` cell bounds a tight lexicographic range
      VersionedTable.commit(
        (1L to 3000L).map(k => (f"k$k%05d", k)).toDF("sk", "n")
          .repartitionByRange(300, col("sk")),
        t, append = false, statsCols = Seq("sk"))
      val m1 = manifestText(t, 1L)
      assert("index=c1_\\S+%0 \\d+ \\d+ \\S*s~sk=".r.findFirstIn(m1).isDefined,
        s"chunk lines must carry STRING rollup cells:\n${m1.take(600)}")
      assert(m1.contains("rollup=c1_") && m1.contains("s~sk="),
        "the commit rollup must carry the string cell too")
      // a string-bounded selective plan parses only the matching chunks
      val b = "k01500".getBytes("UTF-8")
      val hi = "k01520".getBytes("UTF-8")
      val prune = Prune(Map.empty, Map("sk" -> (Some(b), Some(hi))), Nil)
      val parsed = VersionedTable.selectiveRawEntries(t, None, prune)
        .getOrElse(fail("string chunk rollups must engage the seek path"))._1.flatMap(_._3)
      val selPaths = VersionedTable.select(t, None, prune).map(_.path)
      assert(selPaths.nonEmpty && parsed.size <= 120,
        s"string chunk rollups must bound the parsed entries, got ${parsed.size}")
      // catalog read: a string range plans a small file share, exact rows
      spark.conf.set("spark.sql.catalog.gsck", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.gsck.root",
        java.nio.file.Paths.get(root).getParent.toString)
      val q = spark.sql(
        s"SELECT sk FROM gsck.${java.nio.file.Paths.get(root).getFileName}" +
          ".strchunk WHERE sk BETWEEN 'k01500' AND 'k01520'")
      val got = q.collect().map(_.getString(0)).toSet
      assert(got == (1500L to 1520L).map(k => f"k$k%05d").toSet,
        "string chunk skipping must be invisible to results")
      val m = "files=(\\d+)/(\\d+)".r
        .findFirstMatchIn(q.queryExecution.executedPlan.toString)
        .getOrElse(fail("no graft-catalog scan"))
      assert(m.group(1).toInt <= 10 && m.group(2).toInt >= 300,
        s"string bounds must prune files at planning: files=${m.group(1)}/${m.group(2)}")
      // WARM-path parity: with the full-layout memo materialized by an
      // unfiltered scan, the same string range must still prune to the
      // cold seek plan's file count (dead-chunk files drop via the
      // per-file serving functions' not-in-selection signal). sum() is
      // NOT manifest-answerable, so this scan really plans the layout.
      assert(spark.sql(
        s"SELECT sum(n) FROM gsck.${java.nio.file.Paths.get(root).getFileName}" +
          ".strchunk").collect()(0).getLong(0) === (1L to 3000L).sum)
      val warm = spark.sql(
        s"SELECT sk FROM gsck.${java.nio.file.Paths.get(root).getFileName}" +
          ".strchunk WHERE sk BETWEEN 'k01500' AND 'k01520'")
      val wm = "files=(\\d+)/(\\d+)".r
        .findFirstMatchIn(warm.queryExecution.executedPlan.toString)
        .getOrElse(fail("no graft-catalog scan"))
      assert(wm.group(1).toInt === m.group(1).toInt,
        s"warm plan must prune like cold: files=${wm.group(1)} vs ${m.group(1)}")
      assert(warm.collect().map(_.getString(0)).toSet ==
        (1500L to 1520L).map(k => f"k$k%05d").toSet)
    } finally VersionedTable.IndexChunkEntries = prev
  }

  test("DOUBLE chunk rollups: a double-bounded plan skips inside one giant commit") {
    val s = spark; import s.implicits._
    val t = s"$root/dblchunk"
    val prev = VersionedTable.IndexChunkEntries
    VersionedTable.IndexChunkEntries = 50
    try {
      // one commit, 300 files sorted by a DOUBLE key: the `~d` sortable-
      // bits cells must ride the chunk index lines exactly like commit
      // rollups (they share one zone parser, but nothing pinned it)
      VersionedTable.commit(
        (1L to 3000L).map(k => (k.toDouble / 2.0, k)).toDF("d", "n")
          .repartitionByRange(300, col("d")),
        t, append = false, statsCols = Seq("d"))
      val m1 = manifestText(t, 1L)
      assert("index=c1_\\S+%0 \\d+ \\d+ \\S*~d=".r.findFirstIn(m1).isDefined,
        s"chunk lines must carry the double's ~ rollup cells:\n${m1.take(600)}")
      assert("rollup=c1_\\S+ \\S*~d=".r.findFirstIn(m1).isDefined,
        "the commit rollup must carry the ~ cell too")
      // a double-bounded selective plan parses only the matching chunks
      val lo = VersionedTable.sortableBits(750.0)
      val hi = VersionedTable.sortableBits(760.0)
      val prune = Prune(Map("~d" -> (lo, hi)), Map.empty, Nil)
      val parsed = VersionedTable.selectiveRawEntries(t, None, prune)
        .getOrElse(fail("double chunk rollups must engage the seek path"))._1.flatMap(_._3)
      val selPaths = VersionedTable.select(t, None, prune).map(_.path)
      assert(selPaths.nonEmpty && parsed.size <= 120,
        s"double chunk rollups must bound the parsed entries, got ${parsed.size}")
      // catalog read: a double range plans a small file share, exact rows
      spark.conf.set("spark.sql.catalog.gdck", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.gdck.root",
        java.nio.file.Paths.get(root).getParent.toString)
      val q = spark.sql(
        s"SELECT n FROM gdck.${java.nio.file.Paths.get(root).getFileName}" +
          ".dblchunk WHERE d BETWEEN 750.0 AND 760.0")
      val got = q.collect().map(_.getLong(0)).toSet
      assert(got == (1500L to 1520L).toSet,
        "double chunk skipping must be invisible to results")
      val m = "files=(\\d+)/(\\d+)".r
        .findFirstMatchIn(q.queryExecution.executedPlan.toString)
        .getOrElse(fail("no graft-catalog scan"))
      assert(m.group(1).toInt <= 10 && m.group(2).toInt >= 300,
        s"double bounds must prune files at planning: files=${m.group(1)}/${m.group(2)}")
    } finally VersionedTable.IndexChunkEntries = prev
  }

  test("schema resolves from HEADERS alone: chainDataDirs covers the live " +
      "dirs, excludes tombstone dirs, and the fast union matches the entry walk") {
    val s = spark; import s.implicits._
    val t = s"$root/schdr"
    VersionedTable.commit(
      (1L to 200L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartitionByRange(2, col("k")),
      t, append = false, statsCols = Seq("k"))
    VersionedTable.commit(
      (201L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartitionByRange(2, col("k")),
      t, append = true, statsCols = Seq("k"))
    // a MOR delete adds a TOMBSTONE dir — data-dir enumeration must skip it
    VersionedTable.deleteWherePositional(spark, t, col("k") % 50L === 0L)
    val dirs = VersionedTable.chainDataDirs(t, None)
      .getOrElse(fail("indexed base must serve chainDataDirs"))
    assert(dirs.exists(_.startsWith("c1_")) && dirs.exists(_.startsWith("c2_")),
      s"both data commits must appear: $dirs")
    assert(!dirs.exists(_.startsWith("c3_")),
      s"the tombstone commit's dir must not join the schema union: $dirs")
    // the fast union IS the served schema (memoized), and it matches a
    // real read's columns and values
    val schema = VersionedTable.read(spark, t).schema
    assert(schema.fieldNames.toSeq == Seq("k", "v"), schema.treeString)
    assert(VersionedTable.read(spark, t).count() === 392L)
  }

  test("vacuum materialization carries the chain's hints forward") {
    val s = spark; import s.implicits._
    val t = s"$root/vac"
    VersionedTable.commit(
      (1L to 500L).map(k => (k, k * 2)).toDF("k", "x"), t,
      append = false, statsCols = Seq("k"))
    VersionedTable.commit(
      (501L to 1000L).map(k => (k, k * 2)).toDF("k", "x"), t,
      append = true, statsCols = Seq("k"))
    VersionedTable.commit(
      (1001L to 1500L).map(k => (k, k * 2)).toDF("k", "x"), t,
      append = true, statsCols = Seq("k"))
    VersionedTable.vacuum(t, retain = 1)
    val m3 = manifestText(t, 3L)
    // the materialized head must re-declare ALL THREE commits' hints —
    // the manifests that declared c1/c2 are gone
    Seq("c1_", "c2_", "c3_").foreach { dir =>
      assert(m3.contains(s"rollup=$dir") && m3.contains(s"schema=$dir"),
        s"materialized manifest must carry $dir hints:\n${m3.take(600)}")
    }
    assert(!m3.contains("carry="), "materialized manifests are self-contained")
    // and planning still drops dead commits cold (fresh memo key: the
    // rewritten manifest resolves identically)
    val prune = Prune(Map("k" -> (600L, 700L)), Map.empty, Nil)
    val live = VersionedTable.survivingChunks(t, None, prune)._1
    assert(live.map(_._2).distinct == Seq(2L), s"got ${live.map(_._2)}")
    val sel = VersionedTable.select(t, None, prune)
    assert(sel.nonEmpty && sel.forall(_.commit == 2L), s"got ${sel.map(_.commit)}")
    assert(VersionedTable.read(spark, t).count() == 1500L)
  }

  test("vacuum materialization keeps STRING and MEMBER rollup cells") {
    val s = spark
    // member blooms need table props — build through the catalog; the
    // string key gets s~ cells from the default stats set
    spark.conf.set("spark.sql.catalog.gvhm", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gvhm.root",
      java.nio.file.Paths.get(root).getParent.toString)
    val ns = java.nio.file.Paths.get(root).getFileName
    spark.sql(
      s"""CREATE TABLE gvhm.$ns.vacsm (
         |  sk STRING, tags ARRAY<STRING>)
         |TBLPROPERTIES ('graft.member-cols' = 'tags')""".stripMargin)
    Seq("aa" -> "en", "mm" -> "de", "zz" -> "fr").foreach { case (k, tag) =>
      spark.sql(
        s"""INSERT INTO gvhm.$ns.vacsm
           |SELECT concat('$k', CAST(id AS STRING)), array('$tag')
           |FROM range(0, 50, 1, 1) AS t(id)""".stripMargin)
    }
    val t = s"$root/vacsm"
    val before = manifestText(t, VersionedTable.versions(t).last)
    assert(before.contains("s~sk=") && before.contains("b~tags="),
      s"precondition: live chain carries s~ and b~ cells:\n${before.take(400)}")
    VersionedTable.vacuum(t, retain = 1)
    val after = manifestText(t, VersionedTable.versions(t).last)
    assert(!after.contains("carry="), "materialized head is self-contained")
    assert(after.contains("s~sk="),
      s"s~ cells must survive materialization:\n${after.take(600)}")
    assert(after.contains("b~tags="),
      s"b~ cells must survive materialization:\n${after.take(600)}")
    // and the surviving cells still prune: the 'de' probe keeps one
    // commit's file, the string bound drops the zz commit
    val q = spark.sql(
      s"SELECT sk FROM gvhm.$ns.vacsm WHERE array_contains(tags, 'de')")
    assert(q.count() === 50L)
    val m = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(q.queryExecution.executedPlan.toString)
      .getOrElse(fail("no graft-catalog scan"))
    assert(m.group(1).toInt === 1,
      s"member pruning must survive vacuum: files=${m.group(1)}/${m.group(2)}")
  }
}
