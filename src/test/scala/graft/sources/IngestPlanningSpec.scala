package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the INCREMENTAL planning memos behind the ingest steady
  * state (SCALING.md round 19, second wave): `persistedHeaders`,
  * `chainDataDirs`, `snapshotFileCountFast`, and the chain's own-entry
  * lists all fold value(v) = value(carry) ⊕ own(v) per version, and the
  * scan pins its snapshot once per build. The regression class this
  * guards: a fold that merges its own declarations wrongly (joint-claim
  * rule, schema overrides), a memo that survives a chain RESHAPE
  * (vacuum materialization), or a pinned scan that stops seeing new
  * commits. Everything is asserted through RESULTS — exact rows after
  * every append, across re-plans, vacuum, and post-vacuum appends.
  */
class IngestPlanningSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private lazy val root = SparkTestBase.tempDir("ingest_planning").toString

  test("ingest loop: every append is visible to the next plan, selective " +
      "plans stay commit-pruned, and counts/schema resolve incrementally") {
    val s = spark; import s.implicits._
    val t = s"$root/loop"
    VersionedTable.commit(
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v"),
      t, append = false, statsCols = Seq("k"))
    (1 to 8).foreach { i =>
      val lo = i.toLong * 1000L
      VersionedTable.commit(
        (lo until lo + 10L).map(k => (k, s"v$k")).toDF("k", "v"),
        t, append = true, statsCols = Seq("k"))
      // the NEW head plans correctly right away (the fold added exactly
      // one version's declarations)
      assert(VersionedTable.read(spark, t).count() == 100L + 10L * i,
        s"append $i invisible to the next plan")
      // the fast header count agrees at every step
      assert(VersionedTable.snapshotFileCountFast(t, None)
        .exists(_ >= 1L), s"fast count lost at append $i")
      // selective planning keeps pruning to exactly the matching commit,
      // before any entry is parsed
      val prune = Prune(Map("k" -> (lo, lo + 5L)), Map.empty, Nil)
      val live = VersionedTable.survivingChunks(t, None, prune)._1
      assert(live.map(_._2).distinct == Seq(i.toLong + 1L),
        s"append $i: selective plan kept commits ${live.map(_._2).distinct}")
      val sel = VersionedTable.select(t, None, prune)
      assert(sel.map(_.commit).distinct == Seq(i.toLong + 1L),
        s"append $i: selection kept commits ${sel.map(_.commit).distinct}")
      // and a re-plan of the same head is identical
      assert(VersionedTable.read(spark, t)
        .filter(col("k").between(lo, lo + 5L)).count() == 6L)
    }
  }

  test("vacuum materialization mid-ingest: fold memos reseed from the " +
      "reshaped chain and later appends keep planning exactly") {
    val s = spark; import s.implicits._
    val t = s"$root/vacloop"
    VersionedTable.commit(
      (1L to 200L).map(k => (k, k * 2)).toDF("k", "x"),
      t, append = false, statsCols = Seq("k"))
    (1 to 3).foreach { i =>
      val lo = i.toLong * 1000L
      VersionedTable.commit(
        (lo until lo + 50L).map(k => (k, k * 2)).toDF("k", "x"),
        t, append = true, statsCols = Seq("k"))
    }
    // plan BEFORE the vacuum so every fold memo is warm, then reshape
    assert(VersionedTable.read(spark, t).count() == 350L)
    VersionedTable.vacuum(t, retain = 1)
    // the materialized head serves schema, counts, and selective plans
    // from the REBUILT chain (stale base pointers would throw here)
    assert(VersionedTable.read(spark, t).count() == 350L)
    assert(VersionedTable.snapshotFileCountFast(t, None).isDefined)
    val prune = Prune(Map("k" -> (2000L, 2010L)), Map.empty, Nil)
    assert(VersionedTable.survivingChunks(t, None, prune)._1.exists(_._3.nonEmpty),
      "selective plan lost the vacuumed table's files")
    assert(VersionedTable.select(t, None, prune).nonEmpty,
      "selection lost the vacuumed table's files")
    // and the loop continues: post-vacuum appends fold onto the new base
    VersionedTable.commit(
      (9000L until 9050L).map(k => (k, k * 2)).toDF("k", "x"),
      t, append = true, statsCols = Seq("k"))
    assert(VersionedTable.read(spark, t).count() == 400L)
    assert(VersionedTable.read(spark, t)
      .filter(col("k").between(9000L, 9049L)).count() == 50L)
  }

  test("rollup re-declaration: the newest claim of a commit dir evicts " +
      "older families (joint-claim rule survives the incremental fold)") {
    val s = spark; import s.implicits._
    val t = s"$root/claims"
    VersionedTable.commit(
      (1L to 100L).map(k => (k, s"s$k")).toDF("k", "v"),
      t, append = false, statsCols = Seq("k", "v"))
    VersionedTable.commit(
      (1000L to 1100L).map(k => (k, s"s$k")).toDF("k", "v"),
      t, append = true, statsCols = Seq("k", "v"))
    // both commits' rollups serve pruning (long + string families),
    // before any entry is parsed. Commit 2 sits on the carry chain over a
    // base that survives whole, so the seek declines and the streamed
    // per-dir path drops commit 2 on its rollup
    val prune1 = Prune(Map("k" -> (1L, 50L)), Map.empty, Nil)
    val hits = VersionedTable.selectiveSeekHits.get()
    val live1 = VersionedTable.survivingChunks(t, None, prune1)._1
    assert(VersionedTable.selectiveSeekHits.get() == hits,
      "a whole surviving base must decline the seek")
    assert(live1.map(_._2).distinct == Seq(1L), s"got ${live1.map(_._2)}")
    val sel1 = VersionedTable.select(t, None, prune1)
    assert(sel1.map(_.commit).distinct == Seq(1L), s"got ${sel1.map(_.commit)}")
    val prune2 = Prune(Map("k" -> (1050L, 1100L)), Map.empty, Nil)
    val live2 = VersionedTable.survivingChunks(t, None, prune2)._1
    assert(live2.map(_._2).distinct == Seq(2L), s"got ${live2.map(_._2)}")
    val sel2 = VersionedTable.select(t, None, prune2)
    assert(sel2.map(_.commit).distinct == Seq(2L), s"got ${sel2.map(_.commit)}")
    // results stay exact through the same path
    assert(VersionedTable.read(spark, t).count() == 201L)
  }

  test("checkpoint: head materializes self-contained, results and time " +
      "travel exact, later appends carry from the checkpoint") {
    val s = spark; import s.implicits._
    val t = s"$root/ckpt"
    VersionedTable.commit(
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v"),
      t, append = false, statsCols = Seq("k"))
    (1 to 5).foreach { i =>
      VersionedTable.commit(
        ((i * 1000L) until (i * 1000L + 10L)).map(k => (k, s"v$k")).toDF("k", "v"),
        t, append = true, statsCols = Seq("k"))
    }
    val before = VersionedTable.read(spark, t).orderBy("k")
      .collect().map(_.toSeq).toSeq
    val head = VersionedTable.checkpoint(t)
    assert(head == 6L, s"head version changed: $head")
    // the head manifest is now self-contained and indexed
    val m = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, "_manifest", "6.manifest")), "UTF-8")
    assert(!m.contains("carry="), "checkpointed manifest must drop the carry")
    assert(m.contains("index=") && m.contains("total="),
      "checkpointed manifest must be indexed")
    assert(m.contains("rollup=") && m.contains("schema="),
      "chain hints must survive the checkpoint")
    // results identical; a second checkpoint is a no-op
    val after = VersionedTable.read(spark, t).orderBy("k")
      .collect().map(_.toSeq).toSeq
    assert(after == before, "checkpoint changed results")
    assert(VersionedTable.checkpoint(t) == 6L)
    // NOTHING expired: every pre-checkpoint version still reads
    assert(VersionedTable.read(spark, t, Some(1L)).count() == 100L)
    assert(VersionedTable.read(spark, t, Some(3L)).count() == 120L)
    // the loop continues on top of the checkpoint — and the new head's
    // chain is one hop, not six
    VersionedTable.commit(
      (9000L until 9010L).map(k => (k, s"v$k")).toDF("k", "v"),
      t, append = true, statsCols = Seq("k"))
    assert(VersionedTable.read(spark, t).count() == 160L)
    assert(VersionedTable.chainLength(t, 7L) == 1,
      "an append after checkpoint must carry from the checkpointed base")
    // selective planning keeps pruning through the rebuilt index
    val prune = Prune(Map("k" -> (3000L, 3005L)), Map.empty, Nil)
    val live = VersionedTable.survivingChunks(t, None, prune)._1
    assert(live.map(_._2).distinct == Seq(4L), s"got ${live.map(_._2)}")
    val sel = VersionedTable.select(t, None, prune)
    assert(sel.map(_.commit).distinct == Seq(4L), s"got ${sel.map(_.commit)}")
  }

  test("auto_maintain flags manifest-chain debt on a healthy layout and " +
      "the checkpoint clears it") {
    val s = spark; import s.implicits._
    val t = s"$root/chaindebt"
    // healthy files (big enough to dodge the small-file rule), chain of 4
    VersionedTable.commit(
      (1L to 2000L).map(k => (k, s"v$k")).toDF("k", "v").repartition(1),
      t, append = false, statsCols = Seq("k"))
    (1 to 4).foreach { i =>
      VersionedTable.commit(
        ((i * 100000L) until (i * 100000L + 2000L)).map(k => (k, s"v$k"))
          .toDF("k", "v").repartition(1),
        t, append = true, statsCols = Seq("k"))
    }
    val (action, v) = VersionedTable.autoMaintain(
      spark, t, chainThreshold = 3)
    assert(action == "checkpoint: manifest-chain debt", action)
    assert(v == 5L, s"checkpoint must keep the head version, got $v")
    assert(VersionedTable.chainLength(t, 5L) == 0, "chain must be reset")
    // second call: healthy (chain debt cleared without touching data)
    val (action2, _) = VersionedTable.autoMaintain(
      spark, t, chainThreshold = 3)
    assert(action2 == "healthy", action2)
    assert(VersionedTable.read(spark, t).count() == 10000L)
  }
}
