package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Differential properties for the incremental chain-fold planning
  * memos under RANDOM op sequences (seeded): appends with stats,
  * merge-on-read deletes, checkpoints, vacuums. Each fold is checked
  * against ground truth computed a DIFFERENT way — file counts against
  * the resolved layout, chain dirs against the live entry walk, rollup
  * soundness against per-file stats, and the planner's file selection
  * against [[graft.Reference.manifestFiles]] (the manifest chain read
  * whole, each entry judged on its own) — so a fold that merges a
  * version's declarations wrongly, survives a chain reshape it
  * shouldn't, or drops a live file cannot pass by construction.
  */
class ChainFoldPropertySpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private lazy val root = SparkTestBase.tempDir("chain_fold_prop").toString

  private type StrBounds = Map[String, (Option[Array[Byte]], Option[Array[Byte]])]

  /** The planner's file selection for one conjunction of bounds and
    * probes. */
  private def selection(t: String, v: Long, b: Map[String, (Long, Long)],
      sb: StrBounds, mp: Seq[(String, Seq[Long])]): Set[String] =
    VersionedTable.select(t, Some(v), Prune(b, sb, mp)).map(_.path).toSet

  private def tagHash(tag: String): Long = graft.functions.MemberBloom.hashUtf8(
    org.apache.spark.unsafe.types.UTF8String.fromString(tag))

  test("random append/delete/checkpoint/vacuum sequences: counts, dirs, " +
      "rollups, and reads stay consistent with ground truth at every step") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(20260817L)
    // two entries per index chunk: materialized manifests then split their
    // larger commit dirs, so the seek path also drops single chunks
    val prevChunk = VersionedTable.IndexChunkEntries
    VersionedTable.IndexChunkEntries = 2
    // plans seen by check (e): the seek path served it, the seek path
    // declined (nothing dead at commit/chunk level), and plans made
    // after an unfiltered selection of the same version
    var (seekServed, seekDeclined, warm, prunedSome) = (0, 0, 0, 0)
    try (0 until 3).foreach { run =>
      val t = s"$root/prop$run"
      VersionedTable.recordTableProps(t, Map("graft.member-cols" -> "tags"))
      // live model of table content: key -> value
      val model = scala.collection.mutable.Map.empty[Long, Long]
      // string key ordered like k; tags: one per commit step, one per run
      // of 8 keys. Range-partitioned files hold disjoint key runs, so
      // zones, string zones and blooms also differ between the files of
      // one commit, not only between commits
      def commitRows(lo: Long, n: Long, append: Boolean, step: Int): Unit = {
        val rows = (lo until lo + n).map(k =>
          (k, k * 3, f"k$k%06d", Seq(s"g${step % 4}", s"r${k / 8 % 4}")))
        if (!append) model.clear()
        rows.foreach { case (k, v, _, _) => model(k) = v }
        VersionedTable.commit(
          rows.toDF("k", "v", "s", "tags")
            .repartitionByRange(1 + rnd.nextInt(4), col("k")),
          t, append = append, statsCols = Seq("k", "s"))
      }
      // a random conjunction: an integral range on k, a string range on
      // s (either side may be open) and a member probe group on tags
      def randomPrune(keys: Seq[Long])
          : (Map[String, (Long, Long)], StrBounds, Seq[(String, Seq[Long])]) = {
        def key() = keys(rnd.nextInt(keys.size))
        def sk(k: Long) = Some(f"k$k%06d".getBytes("UTF-8"))
        val b = rnd.nextInt(3) match {
          case 0 => Map.empty[String, (Long, Long)]
          case 1 => val lo = key(); Map("k" -> (lo, lo + 500L))
          case _ =>
            val (x, y) = (key(), key()); Map("k" -> (math.min(x, y), math.max(x, y)))
        }
        val sb: StrBounds = rnd.nextInt(4) match {
          case 0 => Map.empty
          case 1 => Map("s" -> (sk(key()), None))
          case 2 => Map("s" -> (None, sk(key())))
          case _ =>
            val (x, y) = (key(), key())
            Map("s" -> (sk(math.min(x, y)), sk(math.max(x, y))))
        }
        val tags = Seq("g0", "g1", "g2", "g3", "r0", "r1", "r2", "r3", "absent")
        val mp =
          if (rnd.nextBoolean()) Nil
          else Seq("tags" ->
            Seq.fill(1 + rnd.nextInt(2))(tagHash(tags(rnd.nextInt(tags.size)))))
        (b, sb, mp)
      }
      def checkSelection(head: Long, step: Int, afterFull: Boolean): Unit = {
        val files = graft.Reference.manifestFiles(t, head)
        assert(files.forall(_.rows.exists(_ > 0L)),
          s"run $run step $step: every file of this table carries rows")
        val (b, sb, mp) = randomPrune(model.keys.toSeq.sorted)
        val hits = VersionedTable.selectiveSeekHits.get()
        val got = selection(t, head, b, sb, mp)
        if (afterFull) warm += 1
        else if (VersionedTable.selectiveSeekHits.get() > hits) seekServed += 1
        else seekDeclined += 1
        val want = graft.Reference.prunedFiles(files, b, sb, mp).toSet
        if (want.size < files.size) prunedSome += 1
        assert(got == want,
          s"run $run step $step (after a full plan: $afterFull): selection " +
            s"diverged for k $b, s ${sb.view.mapValues(x =>
              (x._1.map(new String(_)), x._2.map(new String(_)))).toMap}, " +
            s"tags $mp: selection-only ${got -- want}, reference-only ${want -- got}")
      }
      commitRows(0L, 50L, append = false, step = 0)
      (1 to 12).foreach { step =>
        rnd.nextInt(10) match {
          case d if d <= 5 => // append a fresh key range
            commitRows(step.toLong * 1000L, 20L + rnd.nextInt(30), append = true,
              step = step)
          case 6 | 7 => // MOR delete of a random modulus class
            val m = 3L + rnd.nextInt(5)
            val doomed = model.keys.filter(_ % 10L == m).toSeq
            if (doomed.nonEmpty) {
              VersionedTable.deleteWhere(spark, t, col("k") % 10L === m, "k")
              doomed.foreach(model.remove)
            }
          case 8 => VersionedTable.checkpoint(t)
          case 9 => VersionedTable.vacuum(t, retain = 1 + rnd.nextInt(3))
        }
        val head = VersionedTable.versions(t).last
        // (a) reads equal the model exactly
        val got = VersionedTable.read(spark, t).select("k", "v")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == model.toMap,
          s"run $run step $step: content diverged (${got.size} vs ${model.size})")
        // (e) the planner's selection equals the reference, before any
        // unfiltered plan of this version ...
        if (model.nonEmpty) checkSelection(head, step, afterFull = false)
        // (b) the fast header count equals the resolved layout's count
        val layout = VersionedTable.select(t, Some(head), Prune.none)
        VersionedTable.snapshotFileCountFast(t, Some(head)).foreach { fc =>
          assert(fc == layout.size,
            s"run $run step $step: fcount $fc != layout ${layout.size}")
        }
        // (c) chainDataDirs is a superset of live data dirs and excludes
        // tombstone-only dirs
        val liveDirs = layout.map(_.path.split('/')(1)).toSet
        VersionedTable.chainDataDirs(t, Some(head)).foreach { dirs =>
          assert(liveDirs.subsetOf(dirs.toSet),
            s"run $run step $step: live dirs missing: ${liveDirs -- dirs.toSet}")
        }
        // (d) rollup soundness: every live file's recorded zone sits
        // inside its commit dir's persisted rollup cell (the `rollup=`
        // header lines, read test-side along the carry chain)
        val rolls = graft.Reference.manifestRollups(t, head)
        layout.foreach { f =>
          val (path, dir) = (f.path, f.path.split('/')(1))
          f.zones.get("k").foreach { case (mn, mx) =>
            val (rlo, rhi) = rolls.get(dir).flatMap(_.get("k")).getOrElse(
              fail(s"run $run step $step: live dir $dir declares no k rollup"))
            assert(rlo <= mn && mx <= rhi,
              s"run $run step $step: $path zone [$mn,$mx] outside " +
                s"$dir rollup [$rlo,$rhi]")
          }
        }
        // ... and after it
        if (model.nonEmpty) checkSelection(head, step, afterFull = true)
      }
    } finally VersionedTable.IndexChunkEntries = prevChunk
    assert(seekServed > 0 && seekDeclined > 0 && warm > 0 && prunedSome > 0,
      s"check (e) must see every kind of plan: seek served $seekServed, " +
        s"seek declined $seekDeclined, after a full plan $warm, pruning $prunedSome")
  }
}
