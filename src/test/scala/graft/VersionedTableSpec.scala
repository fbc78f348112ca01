package graft

import graft.sources.VersionedTable
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Commit-protocol pins for the versioned-table layout: append is
  * metadata-only, overwrite keeps old snapshots readable (time travel),
  * reads pin one manifest (snapshot isolation), vacuum deletes exactly
  * the unreferenced files while retained versions stay exact, and no
  * partially-visible manifest can exist (staged + create-new publish).
  */
class VersionedTableSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def freshTable(): String = {
    s"${SparkTestBase.tempDir("graft_vt_test")}/t"
  }

  private def df(rows: (Long, String)*) = {
    val s = spark; import s.implicits._
    rows.toDF("k", "v")
  }
  private def slurp(table: String, version: Option[Long] = None): Set[(Long, String)] =
    VersionedTable.read(spark, table, version).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("commit/read round-trip; append unions; overwrite replaces the head") {
    val t = freshTable()
    assert(VersionedTable.versions(t).isEmpty)
    assert(VersionedTable.commit(df(1L -> "a", 2L -> "b"), t, append = false) == 1L)
    assert(VersionedTable.commit(df(3L -> "c"), t, append = true) == 2L)
    assert(VersionedTable.commit(df(9L -> "z"), t, append = false) == 3L)
    assert(VersionedTable.versions(t) == Seq(1L, 2L, 3L))
    assert(slurp(t) == Set(9L -> "z"))
  }

  test("time travel: old snapshots replay exactly after later overwrites") {
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a", 2L -> "b"), t, append = false)
    VersionedTable.commit(df(3L -> "c"), t, append = true)
    VersionedTable.commit(df(9L -> "z"), t, append = false)
    assert(slurp(t, Some(1L)) == Set(1L -> "a", 2L -> "b"))
    assert(slurp(t, Some(2L)) == Set(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(slurp(t, Some(3L)) == Set(9L -> "z"))
  }

  test("snapshot isolation: a plan built against version N ignores later commits") {
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a"), t, append = false)
    val pinned = VersionedTable.read(spark, t) // resolves to v1 now
    VersionedTable.commit(df(2L -> "b"), t, append = true)
    assert(pinned.collect().map(_.getLong(0)).toSet == Set(1L),
      "a pinned snapshot must not see the concurrent append")
  }

  test("append is metadata-only: no prior data file is rewritten") {
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a"), t, append = false)
    val before = Files.walk(Path.of(t, "data")).iterator()
    val filesBefore = new java.util.ArrayList[Path]()
    before.forEachRemaining(p => if (Files.isRegularFile(p)) filesBefore.add(p))
    val mtimes = filesBefore.toArray(Array.empty[Path])
      .map(p => p -> Files.getLastModifiedTime(p)).toMap
    VersionedTable.commit(df(2L -> "b"), t, append = true)
    mtimes.foreach { case (p, t0) =>
      assert(Files.getLastModifiedTime(p) == t0, s"append rewrote $p")
    }
  }

  test("vacuum deletes only unreferenced files; retained versions stay exact") {
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a"), t, append = false)
    VersionedTable.commit(df(2L -> "b"), t, append = true) // v2 references v1's files
    VersionedTable.commit(df(9L -> "z"), t, append = false) // v3 orphans them
    val deleted = VersionedTable.vacuum(t, retain = 2)
    assert(VersionedTable.versions(t) == Seq(2L, 3L))
    // v1's files are still referenced by the retained v2 → nothing deletable
    assert(deleted == 0)
    assert(slurp(t, Some(2L)) == Set(1L -> "a", 2L -> "b"))
    val deleted2 = VersionedTable.vacuum(t, retain = 1)
    assert(deleted2 > 0, "expiring v2 must free the now-unreferenced files")
    assert(VersionedTable.versions(t) == Seq(3L))
    assert(slurp(t) == Set(9L -> "z"))
    intercept[IllegalArgumentException](VersionedTable.read(spark, t, Some(2L)))
  }

  test("merge-on-read delete rewrites nothing; re-inserted keys escape the old tombstone") {
    val s = spark; import s.implicits._
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a", 2L -> "b", 3L -> "c"), t, append = false)
    val mtimes = java.nio.file.Files.walk(Path.of(t, "data")).iterator().asScala
      .filter(Files.isRegularFile(_)).map(p => p -> Files.getLastModifiedTime(p)).toMap
    VersionedTable.deleteWhere(spark, t, col("k") === 2L, "k")
    mtimes.foreach { case (p, t0) =>
      assert(Files.getLastModifiedTime(p) == t0, s"delete rewrote $p")
    }
    assert(slurp(t) == Set(1L -> "a", 3L -> "c"))
    assert(slurp(t, Some(1L)) == Set(1L -> "a", 2L -> "b", 3L -> "c"),
      "time travel must still see the pre-delete snapshot")
    // re-insert key 2 in a LATER commit: the bounded tombstone must not eat it
    VersionedTable.commit(df(2L -> "b2"), t, append = true)
    assert(slurp(t) == Set(1L -> "a", 2L -> "b2", 3L -> "c"))
    // compact applies tombstones once and drops them
    val v = VersionedTable.compact(spark, t)
    assert(slurp(t, Some(v)) == Set(1L -> "a", 2L -> "b2", 3L -> "c"))
    VersionedTable.vacuum(t, retain = 1)
    assert(slurp(t) == Set(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  test("deleteWhere above the key bound routes to a POSITIONAL vector: additive, layout-safe") {
    val t = freshTable()
    VersionedTable.commit(
      df(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"), t, append = false)
    val v = VersionedTable.deleteWhere(
      spark, t, col("k") <= 3L, "k", maxKeys = 2L)
    assert(v == 2L)
    assert(slurp(t) == Set(4L -> "d"))
    assert(slurp(t, Some(1L)) == Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"),
      "the routed delete must still be a versioned commit (time travel intact)")
    // the commit is a TOMBSTONE (deletion vector), never a rewrite:
    // fastCount declines (merge-on-read debt) and incremental consumers
    // survive the commit — the old COW reroute broke both
    assert(VersionedTable.fastCount(t).isEmpty,
      "the over-bound delete must stay additive (a positional tombstone)")
    val deleted = VersionedTable.deletesBetween(spark, t, 1L, 2L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(deleted == Set(1L -> "a", 2L -> "b", 3L -> "c"),
      s"a positional delete surfaces the FULL deleted rows in CDF: $deleted")
    // compaction applies the vector once and restores pure scans
    VersionedTable.compact(spark, t)
    assert(slurp(t) == Set(4L -> "d"))
    assert(VersionedTable.fastCount(t).contains(1L))
  }

  test("deleteWhere within the bound still commits merge-on-read") {
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a", 2L -> "b"), t, append = false)
    VersionedTable.deleteWhere(spark, t, col("k") === 1L, "k", maxKeys = 1L)
    assert(slurp(t) == Set(2L -> "b"))
    assert(VersionedTable.fastCount(t).isEmpty,
      "an in-bound delete must stay merge-on-read (tombstone present)")
  }

  test("over-bound deleteWhere on a bucketed table commits positionally, layout intact") {
    val t = freshTable()
    VersionedTable.commitBucketed(
      df(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"), t, "k", 2,
      append = false)
    val v = VersionedTable.deleteWhere(spark, t, col("k") <= 3L, "k", maxKeys = 2L)
    assert(v == 2L, "the big bucketed delete must now have a real path")
    assert(slurp(t) == Set(4L -> "d"))
    assert(VersionedTable.bucketSpec(t).contains(("k", 2)),
      "the positional delete must not disturb the bucket spec")
    // nothing was rewritten: every v1 data file is still live in v2
    val v1Files = VersionedTable.read(spark, t, Some(1L)).inputFiles.toSet
    val v2Files = VersionedTable.read(spark, t, Some(2L)).inputFiles.toSet
    assert(v1Files.subsetOf(v2Files),
      s"positional delete must rewrite nothing: $v1Files vs $v2Files")
  }

  test("deleteWherePositional: arbitrary predicate, appends unaffected, compaction clears") {
    val t = freshTable()
    VersionedTable.commit(df(1L -> "aa", 2L -> "b", 3L -> "ca"), t, append = false)
    VersionedTable.commit(df(4L -> "da", 5L -> "e"), t, append = true)
    // no key column: a predicate on the VALUE column (equality tombstones
    // would need a key; positions don't)
    val v = VersionedTable.deleteWherePositional(
      spark, t, col("v").endsWith("a"))
    assert(v == 3L)
    assert(slurp(t) == Set(2L -> "b", 5L -> "e"))
    // a later append re-adding a doomed-looking row is untouched (the
    // vector references files, not values)
    VersionedTable.commit(df(6L -> "fa"), t, append = true)
    assert(slurp(t) == Set(2L -> "b", 5L -> "e", 6L -> "fa"))
    // no-match delete is a no-op, no version burned
    assert(VersionedTable.deleteWherePositional(
      spark, t, col("v") === "zz") == 4L)
    assert(VersionedTable.versions(t) == Seq(1L, 2L, 3L, 4L))
    // time travel sees the pre-delete snapshot; compaction applies once
    assert(slurp(t, Some(2L)) ==
      Set(1L -> "aa", 2L -> "b", 3L -> "ca", 4L -> "da", 5L -> "e"))
    VersionedTable.compact(spark, t)
    assert(slurp(t) == Set(2L -> "b", 5L -> "e", 6L -> "fa"))
    assert(VersionedTable.fastCount(t).contains(3L))
  }

  /** One data file: 30 rows of x = -0.0, then 10 of 1.5 — one
    * dictionary-encoded row group whose dictionary holds -0.0, never 0.0.
    */
  private def signedZeros(): String = {
    val s = spark; import s.implicits._
    val t = freshTable()
    VersionedTable.commit(((1L to 30L).map(_ -> -0.0) ++ (31L to 40L).map(_ -> 1.5))
      .toDF("k", "x").coalesce(1), t, append = false)
    t
  }

  test("a positional delete of x = 0.0 dooms every -0.0 row") {
    val t = signedZeros()
    val v = VersionedTable.deleteWherePositional(spark, t, col("x") === 0.0)
    // (the committed version, the rows left)
    assert((v, VersionedTable.read(spark, t).count()) == (2L, 10L))
  }

  test("appendsBetween filtered on x = 0.0 returns every -0.0 row") {
    val t = signedZeros()
    assert(VersionedTable.appendsBetween(spark, t, 0L, 1L)
      .filter(col("x") === 0.0).count() == 30L)
  }

  test("tableChanges filtered on x = 0.0 returns every -0.0 row") {
    val t = signedZeros()
    assert(VersionedTable.tableChanges(spark, t, 0L, 1L)
      .filter(col("x") === 0.0).count() == 30L)
  }

  test("commitIfAbsent is idempotent under a transaction id") {
    val t = freshTable()
    assert(VersionedTable.commitIfAbsent(df(1L -> "a"), t, append = false,
      txnId = "batch-0").contains(1L))
    // a replayed writer re-offers the same batch: must be a no-op
    assert(VersionedTable.commitIfAbsent(df(1L -> "a"), t, append = false,
      txnId = "batch-0").isEmpty)
    assert(VersionedTable.commitIfAbsent(df(2L -> "b"), t, append = true,
      txnId = "batch-1").contains(2L))
    assert(VersionedTable.versions(t) == Seq(1L, 2L))
    assert(slurp(t) == Set(1L -> "a", 2L -> "b"))
    assert(VersionedTable.txnVersion(t, "batch-1").contains(2L))
  }

  test("fastCount answers from manifest arithmetic; tombstones disable it") {
    val s = spark; import s.implicits._
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a", 2L -> "b"), t, append = false)
    VersionedTable.commit(df(3L -> "c"), t, append = true)
    assert(VersionedTable.fastCount(t) == Some(3L))
    assert(VersionedTable.fastCount(t, Some(1L)) == Some(2L))
    assert(VersionedTable.fastCount(t).get ==
      VersionedTable.read(spark, t).count())
    VersionedTable.commit(df(9L -> "z"), t, append = false)
    assert(VersionedTable.fastCount(t) == Some(1L))
    // a merge-on-read tombstone makes the physical count an overcount →
    // the metadata answer must decline, not lie
    VersionedTable.deleteWhere(spark, t, col("k") === 9L, "k")
    assert(VersionedTable.fastCount(t).isEmpty)
    assert(VersionedTable.read(spark, t).count() == 0L)
  }

  test("incremental consumption: appends/deletes between versions; overwrite fails loudly") {
    val s = spark; import s.implicits._
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a", 2L -> "b"), t, append = false) // v1
    VersionedTable.commit(df(3L -> "c"), t, append = true) // v2
    VersionedTable.deleteWhere(spark, t, col("k") === 1L, "k") // v3
    VersionedTable.commit(df(4L -> "d"), t, append = true) // v4
    val app = VersionedTable.appendsBetween(spark, t, 1L, 4L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(app == Set((3L, "c", 2L), (4L, "d", 4L)),
      "appends = fresh rows of v2 and v4, stamped with their commit")
    val del = VersionedTable.deletesBetween(spark, t, 1L, 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(del == Set((1L, 3L)), "deletes = v3's tombstoned key")
    // a consumer whose cursor range crosses an overwrite must fail, not
    // silently re-emit the world
    VersionedTable.commit(df(9L -> "z"), t, append = false) // v5 overwrite
    intercept[IllegalArgumentException](
      VersionedTable.appendsBetween(spark, t, 4L, 5L))
  }

  test("additive schema evolution: mergeSchema read nulls the new column for old files") {
    val s = spark; import s.implicits._
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a"), t, append = false)
    VersionedTable.commit(
      Seq((2L, "b", 7L)).toDF("k", "v", "extra"), t, append = true)
    val evolved = VersionedTable.read(spark, t, None, mergeSchema = true)
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2))))
    assert(evolved.toSeq == Seq(
      (1L, "a", None),        // old file: evolved column reads as null
      (2L, "b", Some(7L))))
    // the default fixed-schema read keeps working on the original columns
    assert(slurp(t, Some(1L)) == Set(1L -> "a"))
  }

  test("type widening: INT -> BIGINT without rewriting a file; MOR deletes span both generations") {
    val s = spark; import s.implicits._
    val t = freshTable()
    // generation 1: INT key column (physically INT32 files)
    VersionedTable.commit(
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), t, append = false)
    val mtimes = java.nio.file.Files.walk(Path.of(t, "data")).iterator().asScala
      .filter(Files.isRegularFile(_)).map(p => p -> Files.getLastModifiedTime(p)).toMap
    VersionedTable.widenColumn(
      spark, t, "k", org.apache.spark.sql.types.LongType) // v2: carrier only
    mtimes.foreach { case (p, t0) =>
      assert(Files.getLastModifiedTime(p) == t0, s"widening rewrote $p")
    }
    // generation 2: BIGINT values beyond Int range land in INT64 files
    VersionedTable.commit(
      Seq((5_000_000_000L, "big"), (4L, "d")).toDF("k", "v"), t, append = true)
    val rd = VersionedTable.read(spark, t)
    assert(rd.schema("k").dataType == org.apache.spark.sql.types.LongType)
    assert(rd.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5000000000L -> "big"),
      "INT32 files must decode losslessly under the widened schema")
    // the pinned pre-widening snapshot keeps its narrow schema
    assert(VersionedTable.read(spark, t, Some(1L)).schema("k").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // a MOR delete keyed on the widened column dooms rows in BOTH
    // physical generations (INT32 data + INT64 data + INT64 tombstone)
    VersionedTable.deleteWhere(spark, t, col("k") === 2L || col("k") === 4L, "k")
    assert(VersionedTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set(1L -> "a", 3L -> "c", 5000000000L -> "big"))
    // narrowing (or any non-widening change) is refused loudly
    intercept[IllegalArgumentException](VersionedTable.widenColumn(
      spark, t, "k", org.apache.spark.sql.types.IntegerType))
    intercept[IllegalArgumentException](VersionedTable.widenColumn(
      spark, t, "v", org.apache.spark.sql.types.LongType))
  }

  test("no partially-visible manifest: only fully-written .manifest files are listed") {
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a"), t, append = false)
    // simulate a crashed commit: a stale temp manifest must be invisible
    Files.writeString(Path.of(t, "_manifest", "2.manifest.tmp"), "version=2")
    assert(VersionedTable.versions(t) == Seq(1L))
    assert(slurp(t) == Set(1L -> "a"))
  }

  test("two concurrent append committers both survive as distinct versions") {
    val t = freshTable()
    VersionedTable.commit(df(0L -> "base"), t, append = false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val rounds = 6
      // each round fires two appends at the same head simultaneously —
      // under rename-as-publish one of each pair was silently LOST
      (1 to rounds).foreach { r =>
        val gate = new java.util.concurrent.CountDownLatch(1)
        val fs = Seq(s"L$r", s"R$r").map { tag =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            override def call(): Long = {
              gate.await()
              VersionedTable.commit(df(r.toLong * 10 + tag.length -> tag), t, append = true)
            }
          })
        }
        gate.countDown()
        val got = fs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
        assert(got.toSet.size == 2, s"round $r: both writers claimed version ${got.head}")
      }
      val vs = VersionedTable.versions(t)
      assert(vs == (1L to (2L * rounds + 1L)), s"lost commit: versions $vs")
      val head = slurp(t)
      (1 to rounds).foreach { r =>
        assert(head.exists(_._2 == s"L$r") && head.exists(_._2 == s"R$r"),
          s"round $r: an append's rows are missing from the head snapshot — lost update")
      }
    } finally pool.shutdown()
  }

  test("concurrent commitIfAbsent with one txn id applies exactly once") {
    val t = freshTable()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val fs = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Option[Long]] {
          override def call(): Option[Long] = {
            gate.await()
            VersionedTable.commitIfAbsent(df(1L -> "once"), t, append = true,
              txnId = "replayed-batch-7")
          }
        })
      }
      gate.countDown()
      val got = fs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(got.flatten.size <= 1, s"txn applied twice: $got")
      assert(VersionedTable.versions(t).size == 1,
        s"duplicate txn commit: ${VersionedTable.versions(t)}")
      assert(slurp(t) == Set(1L -> "once"))
      assert(VersionedTable.txnVersion(t, "replayed-batch-7").isDefined)
    } finally pool.shutdown()
  }

  /** Commit directories under `data/` that no manifest of `table` names. */
  private def unreferencedDirs(table: String): Set[String] = {
    def names(dir: String): Seq[Path] = {
      val ls = Files.list(Path.of(table, dir))
      try ls.iterator.asScala.toList finally ls.close()
    }
    val named = names("_manifest").filter(_.toString.endsWith(".manifest"))
      .flatMap(m => "data/([^/]+)/".r.findAllMatchIn(Files.readString(m)).map(_.group(1)))
    names("data").map(_.getFileName.toString).toSet -- named
  }

  /** `op` reads version 1 of `t` (rows 1 and 2) as its basis and blocks on
    * [[VtConflictGate]] with its commit directory staged or staging; a
    * concurrent append then takes version 2. `op` must fail loudly, the
    * winner's rows must be intact, and no directory the lost commit
    * staged may outlive it.
    */
  private def loseRace(t: String, what: String)(op: => Long): Unit = {
    VtConflictGate.reset()
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val f = pool.submit(new java.util.concurrent.Callable[Long] {
        override def call(): Long = op
      })
      assert(VtConflictGate.entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        s"the gate never evaluated — $what did not reach its write")
      VersionedTable.commit(df(3L -> "c"), t, append = true) // steals version 2
      VtConflictGate.release.countDown()
      val err = intercept[java.util.concurrent.ExecutionException] {
        f.get(120, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(err.getCause.isInstanceOf[java.util.ConcurrentModificationException],
        s"$what: expected a loud conflict, got ${err.getCause}")
      // the winner's commit is intact and nothing of the loser applied
      assert(slurp(t) == Set(1L -> "a", 2L -> "b", 3L -> "c"), what)
      assert(unreferencedDirs(t).isEmpty,
        s"$what left staged directories behind: ${unreferencedDirs(t)}")
    } finally pool.shutdown()
  }

  test("deleteWhere whose basis is overtaken by a concurrent commit fails loudly") {
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a", 2L -> "b"), t, append = false)
    // the predicate blocks inside deleteWhere's tombstone write — after
    // it has read version 1 as its basis but before it publishes v2
    loseRace(t, "deleteWhere")(
      VersionedTable.deleteWhere(spark, t, VtConflictGate.slowTrue(col("k")), "k"))
  }

  test("deleteWhereCow whose basis is overtaken by a concurrent commit fails loudly") {
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a", 2L -> "b"), t, append = false)
    // the gated predicate blocks inside the touched-file probe — after
    // deleteWhereCow has read version 1 as its basis, before publish
    loseRace(t, "deleteWhereCow")(
      VersionedTable.deleteWhereCow(spark, t, VtConflictGate.slowTrue(col("k"))))
  }

  test("a staged commit that loses the race leaves nothing behind") {
    // the gate as a SQL function for CHECK constraints: it blocks on the
    // rows of the basis (k < 3) and passes the winner's row untouched
    spark.udf.register("vt_gate", (k: Long) => k >= 3L || VtConflictGate.pass())
    val cases = Seq[(String, String => Unit, String => Long)](
      // the predicate blocks inside the deletion-vector write
      ("deleteWherePositional", _ => (),
        t => VersionedTable.deleteWherePositional(spark, t, VtConflictGate.slowTrue(col("k")))),
      // the constraint blocks inside the rewrite's commit-check job,
      // after the rewritten files are staged
      ("optimizeWhere", t => {
        VtConflictGate.reset()
        VtConflictGate.release.countDown() // the DDL's own head check passes
        VersionedTable.addCheckConstraint(spark, t, "gate", "vt_gate(k)")
      }, t => VersionedTable.optimizeWhere(spark, t, "k", 0L, 10L)))
    for ((what, setup, op) <- cases) {
      val t = freshTable()
      VersionedTable.commit(df(1L -> "a", 2L -> "b"), t, append = false)
      setup(t)
      loseRace(t, what)(op(t))
    }
  }

  test("a reader pinned to a vacuumed snapshot fails loudly, never partially") {
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a", 2L -> "b"), t, append = false)
    VersionedTable.commit(df(9L -> "z"), t, append = false) // v2 orphans v1's files
    val pinned = VersionedTable.read(spark, t, Some(1L)) // plan built pre-vacuum
    assert(VersionedTable.vacuum(t, retain = 1) > 0)
    val res = scala.util.Try(pinned.collect())
    assert(res.isFailure, "pinned read of a vacuumed snapshot returned rows")
    assert(slurp(t) == Set(9L -> "z"), "retained head must stay exact after vacuum")
  }

  test("appendsBetween from 0 fails loudly when the predecessor manifest was vacuumed") {
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a"), t, append = false) // v1
    VersionedTable.commit(df(2L -> "b"), t, append = true) // v2
    VersionedTable.commit(df(3L -> "c"), t, append = true) // v3
    VersionedTable.vacuum(t, retain = 2) // drops manifest 1
    // v2's fresh entries are unknowable without manifest 1: re-emitting
    // its whole carried snapshot as "fresh" would be a silent dup
    intercept[IllegalArgumentException](
      VersionedTable.appendsBetween(spark, t, 0L, 3L))
    val ok = VersionedTable.appendsBetween(spark, t, 2L, 3L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(ok == Set((3L, "c", 3L)))
  }

  test("a commit runs one footer-count job for the whole directory, not one per file") {
    val s = spark; import s.implicits._
    val t = freshTable()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val many = (1L to 64L).map(k => (k, s"v$k")).toDF("k", "v").repartition(16)
    spark.sparkContext.addSparkListener(listener)
    try {
      VersionedTable.commit(many, t, append = false)
      Thread.sleep(500) // listener delivery is async
      // write + one count job (plus AQE bookkeeping) is a small constant;
      // the per-file loop this replaces ran 16+ count jobs here
      assert(jobs.get() <= 8,
        s"commit of a 16-file directory ran ${jobs.get()} jobs — per-file count loop?")
    } finally spark.sparkContext.removeSparkListener(listener)
    // and the counts it recorded are exact (manifest arithmetic replays them)
    assert(VersionedTable.fastCount(t).contains(64L))
  }

  test("zone-map stats prune a range read from the manifest alone") {
    val s = spark; import s.implicits._
    val t = freshTable()
    // range-clustered commit: 8 files, each a contiguous slice of 1..800
    val rows = (1L to 800L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(8, col("k"))
    VersionedTable.commit(rows, t, append = false, statsCols = Seq("k"))
    val (kept, total) = VersionedTable.pruneCount(t, None, "k", 100L, 150L)
    assert(total == 8 && kept < total,
      s"a 50-key range over 8 range-clustered files must prune, kept=$kept")
    val pruned = VersionedTable.readWhere(spark, t, None, "k", 100L, 150L)
    // the pruned scan touches exactly the kept files...
    assert(pruned.inputFiles.length == kept)
    // ...and equals the unpruned filter exactly
    val expect = VersionedTable.read(spark, t)
      .filter(col("k") >= 100L && col("k") <= 150L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(pruned.collect().map(r => (r.getLong(0), r.getString(1))).toSet == expect)
  }

  test("pruned reads stay exact under tombstones and stat-less files") {
    val s = spark; import s.implicits._
    val t = freshTable()
    VersionedTable.commit(
      (1L to 400L).map(k => (k, "lo")).toDF("k", "v").repartitionByRange(4, col("k")),
      t, append = false, statsCols = Seq("k"))
    // append WITHOUT stats: its files must never be pruned
    VersionedTable.commit(
      (401L to 500L).map(k => (k, "hi")).toDF("k", "v"), t, append = true)
    // MOR tombstone over part of the queried range
    VersionedTable.deleteWhere(spark, t, col("k") % 10L === 0L, "k")
    val got = VersionedTable.readWhere(spark, t, None, "k", 90L, 420L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val expect = VersionedTable.read(spark, t)
      .filter(col("k") >= 90L && col("k") <= 420L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == expect)
    assert(got.exists(_._2 == "hi") && !got.exists(_._1 % 10L == 0L))
    // a range fully outside every zone map still answers (empty) correctly
    assert(VersionedTable.readWhere(spark, t, None, "k", 5000L, 6000L).count() == 0L)
  }

  test("append manifests are O(fresh): a carry pointer, not a table-sized rewrite") {
    val s = spark; import s.implicits._
    val t = freshTable()
    VersionedTable.commit(
      (1L to 200L).map(k => (k, s"v$k")).toDF("k", "v").repartition(8),
      t, append = false)
    VersionedTable.commit(df(201L -> "x"), t, append = true)
    VersionedTable.commit(df(202L -> "y"), t, append = true)
    def manifestLineCount(v: Long): Int =
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(t, "_manifest", s"$v.manifest")).size
    // v1 lists its 8 files; v2/v3 are header (version/ts/carry/delta +
    // rollup/schema hints) + ONE fresh entry
    assert(manifestLineCount(1L) >= 9)
    assert(manifestLineCount(2L) <= 7 && manifestLineCount(3L) <= 7,
      s"append manifests must be O(fresh): v2=${manifestLineCount(2L)} " +
        s"v3=${manifestLineCount(3L)} lines")
    // the resolved snapshot is still the whole table
    assert(slurp(t).size == 202)
    assert(VersionedTable.fastCount(t).contains(202L))
  }

  test("vacuum materializes carry chains before deleting their predecessors") {
    val s = spark; import s.implicits._
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a"), t, append = false)
    VersionedTable.commit(df(2L -> "b"), t, append = true)
    VersionedTable.commit(df(3L -> "c"), t, append = true)
    VersionedTable.commit(df(4L -> "d"), t, append = true)
    assert(VersionedTable.vacuum(t, retain = 2) == 0,
      "carried entries are still referenced: no data file may be deleted")
    assert(VersionedTable.versions(t) == Seq(3L, 4L))
    // both retained snapshots replay exactly after their predecessors'
    // manifests are gone — the chains were materialized
    assert(slurp(t, Some(3L)) == Set(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(slurp(t, Some(4L)) == Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
    val v3 = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(t, "_manifest", "3.manifest")).asScala
    assert(!v3.exists(_.startsWith("carry=")),
      s"materialized manifest must be self-contained: $v3")
  }

  test("optimizeZorder: rectangle reads prune in BOTH dimensions") {
    val s = spark; import s.implicits._
    val t = freshTable()
    // a 64×64 grid: x and y independently uniform, so a 1-D sort on x
    // gives NO pruning power over y
    val grid = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y, x * 64 + y))
      .toDF("x", "y", "payload")
    VersionedTable.commit(grid, t, append = false)
    VersionedTable.optimizeZorder(spark, t, Seq("x", "y"), targetRowsPerFile = 256L)
    val bounds = Seq(("x", 10L, 20L), ("y", 30L, 40L))
    val (kept, total) = VersionedTable.pruneCountBounds(t, None, bounds)
    assert(total >= 8 && kept < total,
      s"rectangle must prune the z-ordered layout, kept=$kept/$total")
    // and the rectangle prune beats either single-dimension prune: the
    // z-cells bound BOTH coordinates
    val (keptX, _) = VersionedTable.pruneCountBounds(t, None, bounds.take(1))
    val (keptY, _) = VersionedTable.pruneCountBounds(t, None, bounds.drop(1))
    assert(kept <= keptX && kept <= keptY,
      s"2-D prune ($kept) must not exceed 1-D prunes ($keptX, $keptY)")
    val got = VersionedTable.readWhereBounds(spark, t, None, bounds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (for (x <- 10L to 20L; y <- 30L to 40L) yield (x, y)).toSet)
  }

  test("mergeInto commits the cdcApply state; history classifies every commit") {
    val s = spark; import s.implicits._
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a", 2L -> "b", 3L -> "c"), t, append = false)
    val changes = Seq(
      (2L, "U", 1L, "b2"), (3L, "D", 1L, null: String), (9L, "I", 1L, "z"))
      .toDF("k", "op", "seq", "v")
    val v = VersionedTable.mergeInto(spark, t, changes, "k")
    assert(v == 2L)
    assert(slurp(t) == Set(1L -> "a", 2L -> "b2", 9L -> "z"))
    // and the pre-merge snapshot still time-travels
    assert(slurp(t, Some(1L)) == Set(1L -> "a", 2L -> "b", 3L -> "c"))

    VersionedTable.commit(df(4L -> "d"), t, append = true)
    VersionedTable.deleteWhere(spark, t, col("k") === 9L, "k")
    val h = VersionedTable.history(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.get(4))).toSeq
    assert(h == Seq(
      (1L, "create", 3L), (2L, "overwrite", 3L),
      (3L, "append", 1L), (4L, "delete", 1L)))
  }

  test("CHECK constraints gate commits atomically; head-violating DDL is rejected") {
    val s = spark; import s.implicits._
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a", 2L -> "b"), t, append = false)
    VersionedTable.addCheckConstraint(spark, t, "pos_key", "k > 0")
    VersionedTable.addCheckConstraint(spark, t, "v_set", "v IS NOT NULL")

    // a violating append is rejected with NO version bump and NO orphan data
    val dirsBefore = java.nio.file.Files.list(java.nio.file.Paths.get(t, "data"))
      .iterator().asScala.size
    val ex = intercept[IllegalArgumentException] {
      VersionedTable.commit(df(-5L -> "x", 3L -> "c"), t, append = true)
    }
    assert(ex.getMessage.contains("pos_key") && ex.getMessage.contains("1 row"))
    assert(VersionedTable.versions(t) == Seq(1L), "rejected commit must not version")
    val dirsAfter = java.nio.file.Files.list(java.nio.file.Paths.get(t, "data"))
      .iterator().asScala.size
    assert(dirsAfter == dirsBefore, "rejected commit must leave no orphan files")

    // a NULL check result is a violation too (CHECK must be TRUE)
    val exNull = intercept[IllegalArgumentException] {
      VersionedTable.commit(
        Seq((4L, null: String)).toDF("k", "v"), t, append = true)
    }
    assert(exNull.getMessage.contains("v_set"))

    // a clean commit passes; so does a mergeInto whose result satisfies
    VersionedTable.commit(df(3L -> "c"), t, append = true)
    VersionedTable.mergeInto(spark, t,
      Seq((2L, "U", 1L, "b2")).toDF("k", "op", "seq", "v"), "k")
    assert(slurp(t) == Set(1L -> "a", 2L -> "b2", 3L -> "c"))
    // ...and a merge producing a violating state is rejected atomically
    val exMerge = intercept[IllegalArgumentException] {
      VersionedTable.mergeInto(spark, t,
        Seq((-9L, "I", 1L, "bad")).toDF("k", "op", "seq", "v"), "k")
    }
    assert(exMerge.getMessage.contains("pos_key"))
    assert(slurp(t) == Set(1L -> "a", 2L -> "b2", 3L -> "c"))

    // adding a constraint the standing head violates is refused
    val exDdl = intercept[IllegalArgumentException] {
      VersionedTable.addCheckConstraint(spark, t, "tiny", "k < 3")
    }
    assert(exDdl.getMessage.contains("current head violates"))
    // dropped constraint stops gating
    VersionedTable.dropConstraint(t, "pos_key")
    VersionedTable.commit(df(-7L -> "ok"), t, append = true)
    assert(slurp(t).contains(-7L -> "ok"))
  }

  test("optimize compacts small commits, applies tombstones, restores pruning") {
    val s = spark; import s.implicits._
    val t = freshTable()
    // 3 unclustered commits of interleaved keys + a tombstone
    (0L to 2L).foreach { m =>
      VersionedTable.commit(
        (1L to 300L).filter(_ % 3 == m).map(k => (k, s"v$k")).toDF("k", "v")
          .repartition(4),
        t, append = m > 0)
    }
    VersionedTable.deleteWhere(spark, t, col("k") % 10L === 0L, "k")
    val before = VersionedTable.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val filesBefore = VersionedTable.read(spark, t).inputFiles.length
    VersionedTable.optimize(spark, t, "k", targetRowsPerFile = 100L)
    val after = VersionedTable.read(spark, t)
    assert(after.collect().map(r => (r.getLong(0), r.getString(1))).toSet == before,
      "optimize must change layout, never content")
    assert(after.inputFiles.length < filesBefore,
      s"expected fewer files than $filesBefore after optimize")
    // tombstones were applied once and dropped: the head is data-only
    assert(VersionedTable.fastCount(t).contains(before.size.toLong),
      "fastCount must be defined again (no tombstones) and exact")
    // fresh zone maps: a narrow range prunes the clustered layout
    val (kept, total) = VersionedTable.pruneCount(t, None, "k", 10L, 40L)
    assert(total >= 2 && kept < total, s"kept=$kept of $total")
  }

  test("copy-on-write delete rewrites only touched files; manifest is O(touched)") {
    val s = spark; import s.implicits._
    val t = freshTable()
    // 8 range-clustered files with zone maps on k
    VersionedTable.commit(
      (1L to 800L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartitionByRange(8, col("k")),
      t, append = false, statsCols = Seq("k"))
    val filesBefore = VersionedTable.read(spark, t).inputFiles.sorted
    // delete a narrow range: bounds prune candidates to ~1 file of 8
    val v2 = VersionedTable.deleteWhereCow(
      spark, t, col("k") >= 100L && col("k") <= 150L,
      bounds = Seq(("k", 100L, 150L)), statsCols = Seq("k"))
    assert(v2 == 2L)
    val after = VersionedTable.read(spark, t)
    assert(after.collect().map(_.getLong(0)).toSet ==
      ((1L to 99L) ++ (151L to 800L)).toSet)
    // untouched files are carried byte-identically, not rewritten
    val filesAfter = after.inputFiles.sorted
    val carriedOver = filesAfter.toSet.intersect(filesBefore.toSet)
    assert(carriedOver.size >= 6,
      s"expected >=6 of 8 files carried, got ${carriedOver.size}")
    assert(filesBefore.toSet -- filesAfter.toSet != Set.empty,
      "the touched file(s) must be replaced")
    // history classifies it; time travel still replays the pre-delete head
    val ops = VersionedTable.history(spark, t)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops(2L) == "replace")
    assert(VersionedTable.read(spark, t, Some(1L)).count() == 800L)
    // fastCount stays manifest-answerable (no tombstones involved)
    assert(VersionedTable.fastCount(t).contains(800L - 51L))
    // a no-match delete is a no-op, not an empty commit
    assert(VersionedTable.deleteWhereCow(spark, t, col("k") > 10000L) == 2L)
    // NULL predicate rows are KEPT (SQL DELETE semantics)
    val t2 = freshTable()
    VersionedTable.commit(
      Seq((1L, "a"), (2L, null), (3L, "b")).toDF("k", "v"), t2, append = false)
    VersionedTable.deleteWhereCow(spark, t2, col("v") === "a")
    assert(VersionedTable.read(spark, t2).collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L), "rows whose predicate is NULL must survive a delete")
  }

  test("a version-offset stream fails loudly on a replace commit") {
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a", 2L -> "b"), t, append = false)
    VersionedTable.deleteWhereCow(spark, t, col("k") === 1L)
    val ex = intercept[Exception] {
      VersionedTable.appendsBetween(spark, t, 0L, 2L).collect()
    }
    assert(ex.getMessage.contains("non-additive"),
      s"replace must break incremental consumption loudly: ${ex.getMessage}")
  }

  test("vacuumOrphans reclaims crashed-writer debris, never published data") {
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a", 2L -> "b"), t, append = false)
    val dataRoot = java.nio.file.Paths.get(t, "data")
    // a crashed commit attempt and a dead streaming epoch, both stale
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600_000L)
    Seq("c99_deadbeef", "_stg_dead_e7").foreach { n =>
      val d = dataRoot.resolve(n)
      Files.createDirectories(d)
      Files.write(d.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
      Files.setLastModifiedTime(d.resolve("part-junk.parquet"), old)
      Files.setLastModifiedTime(d, old)
    }
    // a FRESH unreferenced dir (an in-flight writer) must survive
    Files.createDirectories(dataRoot.resolve("c98_inflight"))
    assert(VersionedTable.vacuumOrphans(t, olderThanMillis = 60_000L) == 2)
    assert(!Files.exists(dataRoot.resolve("c99_deadbeef")))
    assert(!Files.exists(dataRoot.resolve("_stg_dead_e7")))
    assert(Files.exists(dataRoot.resolve("c98_inflight")),
      "a dir inside the grace period must not be reclaimed")
    assert(slurp(t) == Set(1L -> "a", 2L -> "b"),
      "published data must be untouched")
    // idempotent: nothing left to reclaim
    assert(VersionedTable.vacuumOrphans(t, olderThanMillis = 60_000L) == 0)
  }

  test("dropTable invalidates the resolved-entry cache for the path") {
    val t = freshTable()
    VersionedTable.commit(df(1L -> "old"), t, append = false)
    assert(slurp(t) == Set(1L -> "old")) // populates the cache for (t, 1)
    VersionedTable.dropTable(t)
    assert(VersionedTable.versions(t).isEmpty, "dropped table has no versions")
    // recreate AT THE SAME PATH with different content — version 1 again;
    // a stale cache would silently replay the dropped table's entries
    VersionedTable.commit(df(2L -> "new"), t, append = false)
    assert(slurp(t) == Set(2L -> "new"),
      "a recreated table must never read the dropped table's cached entries")
  }

  test("COW delete over standing tombstones deletes under a shuffled anti-join") {
    val s = spark; import s.implicits._
    val t = freshTable()
    VersionedTable.commit(
      (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v"), t, append = false)
    // standing MOR tombstones: the COW probe's snapshot scan now carries
    // a left_anti join, and with broadcast disabled that join SHUFFLES —
    // input_file_name() evaluated above it returns "", which used to
    // silently turn the DELETE into a no-op
    VersionedTable.deleteWhere(spark, t, col("k") <= 10L, "k")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val v = VersionedTable.deleteWhereCow(spark, t, col("k") > 390L)
      assert(v == 3L,
        "COW delete must commit a new version, not silently no-op, when " +
          "the tombstone anti-join is not broadcast")
      assert(VersionedTable.read(spark, t).collect().map(_.getLong(0)).toSet ==
        (11L to 390L).toSet)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("append onto an empty first commit is an append, not an overwrite") {
    val s = spark; import s.implicits._
    val t = freshTable()
    VersionedTable.commit(Seq.empty[(Long, String)].toDF("k", "v"), t, append = false)
    VersionedTable.commit(df(1L -> "a"), t, append = true)
    // classification comes from the commit's own header (carry=), not
    // from whether the resolved predecessor entry list happens to be
    // empty — the latter branded this legitimate append an overwrite
    val ops = VersionedTable.history(spark, t)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops(2L) == "append", s"history labels: $ops")
    val app = VersionedTable.appendsBetween(spark, t, 1L, 2L)
    assert(app.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("optimizeWhere compacts only the intersecting range; carried files untouched") {
    val s = spark; import s.implicits._
    val t = freshTable()
    // 8 range-clustered files, then small-file debt appended in one range
    VersionedTable.commit(
      (1L to 800L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartitionByRange(8, col("k")),
      t, append = false, statsCols = Seq("k"))
    VersionedTable.commit(
      Seq((150L, "x1")).toDF("k", "v"), t, append = true, statsCols = Seq("k"))
    VersionedTable.commit(
      Seq((160L, "x2")).toDF("k", "v"), t, append = true, statsCols = Seq("k"))
    // a standing tombstone over the range: the rewrite must apply it
    VersionedTable.deleteWhere(spark, t, col("k") === 120L, "k")
    val before = VersionedTable.read(spark, t).inputFiles.toSet
    val v = VersionedTable.optimizeWhere(spark, t, "k", 100L, 200L,
      targetRowsPerFile = 1L << 20)
    assert(v == 5L)
    val after = VersionedTable.read(spark, t)
    val rows = after.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == ((1L to 800L).filter(_ != 120L).map(k => k -> s"v$k").toSet
      + (150L -> "x1") + (160L -> "x2")),
      "partial optimize must keep every surviving row exactly once")
    // files outside the range are carried byte-identically
    val carried = after.inputFiles.toSet.intersect(before)
    assert(carried.size >= 6, s"expected >=6 carried files, got ${carried.size}")
    // the rewritten range escaped its tombstone: 120 must NOT resurrect
    assert(!rows.exists(_._1 == 120L))
    // and the range now prunes as one freshly-mapped region
    val (kept, total) = VersionedTable.pruneCount(t, None, "k", 150L, 160L)
    assert(kept < total, s"kept=$kept of $total")
  }

  test("zorder on an empty table is a no-op; an all-null cluster column fails loudly") {
    val s = spark; import s.implicits._
    val t = freshTable()
    VersionedTable.commit(Seq.empty[(Long, String)].toDF("k", "v"), t, append = false)
    assert(VersionedTable.optimizeZorder(spark, t, Seq("k")) == 1L,
      "zorder on an empty table must return the basis version unchanged")
    val t2 = freshTable()
    VersionedTable.commit(
      Seq((Option.empty[Long], "a"), (Option.empty[Long], "b")).toDF("k", "v"),
      t2, append = false)
    val ex = intercept[IllegalArgumentException] {
      VersionedTable.optimizeZorder(spark, t2, Seq("k"))
    }
    assert(ex.getMessage.contains("long-castable"), ex.getMessage)
  }

  test("restore publishes an old snapshot as the new head, metadata-only") {
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a", 2L -> "b"), t, append = false)
    VersionedTable.commit(df(3L -> "c"), t, append = true)
    VersionedTable.deleteWhere(spark, t, col("k") === 1L, "k")
    VersionedTable.commit(df(9L -> "z"), t, append = false)
    assert(slurp(t) == Set(9L -> "z"))
    // no data file may be written, rewritten, or removed by restore
    val before = Files.walk(Path.of(t, "data")).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => p -> Files.getLastModifiedTime(p)).toMap
    val v = VersionedTable.restore(t, 2L)
    assert(v == 5L)
    val after = Files.walk(Path.of(t, "data")).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => p -> Files.getLastModifiedTime(p)).toMap
    assert(after == before, "restore must be metadata-only")
    assert(slurp(t) == Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // the rolled-back states stay time-travelable
    assert(slurp(t, Some(3L)) == Set(2L -> "b", 3L -> "c"))
    assert(slurp(t, Some(4L)) == Set(9L -> "z"))
    // restoring to a tombstone-bearing snapshot keeps its delete applied
    val v2 = VersionedTable.restore(t, 3L)
    assert(slurp(t, Some(v2)) == Set(2L -> "b", 3L -> "c"))
    // vacuum keeps everything the restored head references
    VersionedTable.vacuum(t, retain = 1)
    assert(slurp(t) == Set(2L -> "b", 3L -> "c"))
  }

  test("restore to a vacuumed or unknown version fails loudly") {
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a"), t, append = false)
    VersionedTable.commit(df(9L -> "z"), t, append = false)
    VersionedTable.vacuum(t, retain = 1)
    intercept[IllegalArgumentException](VersionedTable.restore(t, 1L))
    intercept[IllegalArgumentException](VersionedTable.restore(t, 42L))
  }

  test("clone is zero-decode and fully independent of the source") {
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a", 2L -> "b"), t, append = false)
    VersionedTable.deleteWhere(spark, t, col("k") === 2L, "k")
    VersionedTable.commit(df(3L -> "c"), t, append = true)
    val c = s"${SparkTestBase.tempDir("graft_vt_clone")}/c"
    // pinned clone of v2 (post-delete, pre-append)
    assert(VersionedTable.cloneTable(t, c, Some(2L)) == 1L)
    assert(slurp(c) == Set(1L -> "a"))
    // no source data file was rewritten (links, not copies, where possible)
    // and the clone is independent in both directions:
    VersionedTable.commit(df(7L -> "x"), c, append = true)
    assert(slurp(c) == Set(1L -> "a", 7L -> "x"))
    assert(slurp(t) == Set(1L -> "a", 3L -> "c"),
      "writing the clone must not affect the source")
    // dropping the source must not break the clone (hard links own bytes)
    VersionedTable.dropTable(t)
    assert(slurp(c) == Set(1L -> "a", 7L -> "x"))
    // clone onto an existing table fails loudly
    intercept[IllegalArgumentException](VersionedTable.cloneTable(c, c))
  }

  test("rename column is metadata-only; reads, writes, deletes, pruning follow") {
    val s = spark; import s.implicits._
    val t = freshTable()
    VersionedTable.commit(
      (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartitionByRange(4, col("k")),
      t, append = false, statsCols = Seq("k"))
    val mtimes = Files.walk(Path.of(t, "data")).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => p -> Files.getLastModifiedTime(p)).toMap
    VersionedTable.renameColumn(spark, t, "k", "key_id")
    assert(Files.walk(Path.of(t, "data")).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => p -> Files.getLastModifiedTime(p)).toMap == mtimes,
      "rename must not touch a data file")
    // reads (head AND time travel) serve the logical name
    assert(VersionedTable.read(spark, t).columns.toSeq == Seq("key_id", "v"))
    assert(VersionedTable.read(spark, t, Some(1L)).columns.toSeq == Seq("key_id", "v"))
    // zone-map pruning keys on the logical name and still skips files
    val (kept, total) = VersionedTable.pruneCount(t, None, "key_id", 1L, 50L)
    assert(total == 4 && kept < total, s"pruning broke after rename: $kept/$total")
    val ranged = VersionedTable.readWhere(spark, t, None, "key_id", 1L, 50L)
    assert(ranged.columns.toSeq == Seq("key_id", "v"))
    assert(ranged.count() == 50L)
    // appends written under the LOGICAL name land physically consistent
    VersionedTable.commit(Seq((401L, "x")).toDF("key_id", "v"), t, append = true)
    // merge-on-read delete keyed by the logical name still anti-joins
    VersionedTable.deleteWhere(spark, t, col("key_id") <= 399L, "key_id")
    val rows = VersionedTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set(400L -> "v400", 401L -> "x"))
    // rename-back erases the mapping entirely
    VersionedTable.renameColumn(spark, t, "key_id", "k")
    assert(VersionedTable.columnMap(t).isEmpty)
    assert(VersionedTable.read(spark, t).columns.toSeq == Seq("k", "v"))
  }

  test("drop column hides the data without rewriting it; name is retired") {
    val s = spark; import s.implicits._
    val t = freshTable()
    VersionedTable.commit(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "w"), t, append = false)
    VersionedTable.dropColumn(spark, t, "w")
    assert(VersionedTable.read(spark, t).columns.toSeq == Seq("k", "v"))
    // time travel hides it too (the mapping is table-wide, Delta-style)
    assert(VersionedTable.read(spark, t, Some(1L)).columns.toSeq == Seq("k", "v"))
    // appends no longer carry it; reading stays consistent
    VersionedTable.commit(Seq((3L, "c")).toDF("k", "v"), t, append = true)
    assert(VersionedTable.read(spark, t).count() == 3L)
    // the name is permanently retired — a fresh ADD may not reuse it
    intercept[IllegalArgumentException](
      VersionedTable.requireFreshColumnName(t, "w",
        graft.sources.VersionedTable.read(spark, t).schema))
    intercept[IllegalArgumentException](VersionedTable.dropColumn(spark, t, "w"))
  }

  test("rename/drop refusals: collisions, constraints, bucket column, last column") {
    val s = spark; import s.implicits._
    val t = freshTable()
    VersionedTable.commit(Seq((1L, "a")).toDF("k", "v"), t, append = false)
    intercept[IllegalArgumentException](
      VersionedTable.renameColumn(spark, t, "k", "v")) // exists
    intercept[IllegalArgumentException](
      VersionedTable.renameColumn(spark, t, "nope", "x")) // absent
    VersionedTable.renameColumn(spark, t, "k", "kk")
    intercept[IllegalArgumentException](
      VersionedTable.renameColumn(spark, t, "v", "k")) // retired physical
    VersionedTable.addCheckConstraint(spark, t, "v_set", "v IS NOT NULL")
    intercept[IllegalArgumentException](
      VersionedTable.renameColumn(spark, t, "v", "w")) // constraint ref
    intercept[IllegalArgumentException](
      VersionedTable.dropColumn(spark, t, "v")) // constraint ref
    VersionedTable.dropConstraint(t, "v_set")
    VersionedTable.dropColumn(spark, t, "v")
    intercept[IllegalArgumentException](
      VersionedTable.dropColumn(spark, t, "kk")) // last column
    val b = freshTable()
    VersionedTable.commitBucketed(
      Seq((1L, "a")).toDF("k", "v"), b, "k", 4, append = false)
    intercept[IllegalArgumentException](
      VersionedTable.renameColumn(spark, b, "k", "kk")) // bucket col
    VersionedTable.renameColumn(spark, b, "v", "val") // other cols: fine
    assert(VersionedTable.read(spark, b).columns.toSeq.sorted == Seq("k", "val"))
  }

  test("clone carries constraints and head snapshot by default") {
    val t = freshTable()
    VersionedTable.commit(df(1L -> "a"), t, append = false)
    VersionedTable.addCheckConstraint(spark, t, "k_pos", "k > 0")
    VersionedTable.commit(df(2L -> "b"), t, append = true)
    val c = s"${SparkTestBase.tempDir("graft_vt_clone2")}/c"
    VersionedTable.cloneTable(t, c)
    assert(slurp(c) == Set(1L -> "a", 2L -> "b"))
    assert(VersionedTable.constraints(c) == Seq("k_pos" -> "k > 0"))
    intercept[IllegalArgumentException](
      VersionedTable.commit(df(-5L -> "bad"), c, append = true))
  }
}

/** Static gate for the lost-race tests: lives outside the spec
  * class so the UDF closure stays serializable and both the test thread
  * and Spark tasks see the one JVM-wide instance (local mode).
  */
private[graft] object VtConflictGate {
  @volatile var entered: java.util.concurrent.CountDownLatch = _
  @volatile var release: java.util.concurrent.CountDownLatch = _
  def reset(): Unit = {
    entered = new java.util.concurrent.CountDownLatch(1)
    release = new java.util.concurrent.CountDownLatch(1)
  }
  /** Signal `entered`, then wait for `release`; always true. */
  def pass(): Boolean = {
    entered.countDown()
    release.await(120, java.util.concurrent.TimeUnit.SECONDS)
    true
  }
  def slowTrue(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.udf((_: Long) => pass()).apply(c)
}
