package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for [[VersionedTable.deleteWhere]]'s tombstone-kind routing: the
  * default gate is the measured COST crossover ([[VersionedTable
  * .MorEqualityMaxKeys]]), not the old reader-memory ceiling — above it
  * every scan until compaction pays a growing per-row key-probe tax
  * (1.14× at ~118k keys, 3.1× at ~1.2M; SCALING.md round 16 "the
  * equality→positional cost crossover") while a positional
  * vector reads at parity, so mid-size scan-derived deletes must commit
  * POSITIONAL by default. Explicit `maxKeys` callers (key-semantics
  * probes) can still force equality up to [[VersionedTable
  * .MorMaxDeleteKeys]].
  */
class MorRoutingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private lazy val root = SparkTestBase.tempDir("mor_routing").toString

  private def tombstoneEntries(table: String): Seq[String] =
    VersionedTable.manifestEntries(table, VersionedTable.versions(table).last)
      .filter(VersionedTable.isDeleteEntry)

  test("a small delete stays an equality tombstone (cheap commit, row groups keep pruning)") {
    val s = spark; import s.implicits._
    val t = s"$root/small"
    VersionedTable.commit(
      (1L to 50000L).map(k => (k, k % 97)).toDF("k", "v"), t, append = false)
    VersionedTable.deleteWhere(spark, t, col("k") % 100L === 0L, "k") // 500 keys
    val tombs = tombstoneEntries(t)
    assert(tombs.nonEmpty && tombs.forall(e =>
      !VersionedTable.isPosDeleteFile(e)),
      s"500 doomed keys must commit as an EQUALITY tombstone, got $tombs")
    assert(VersionedTable.read(spark, t).count() == 49500L)
  }

  test("a mid-size delete routes POSITIONAL by default (past the cost crossover)") {
    val s = spark; import s.implicits._
    val t = s"$root/mid"
    VersionedTable.commit(
      (1L to 300000L).map(k => (k, k % 97)).toDF("k", "v"), t, append = false)
    // 150k distinct doomed keys: above MorEqualityMaxKeys (100k), far
    // below the old 10M memory ceiling — the round-15 shape that used to
    // pay the standing equality tax
    VersionedTable.deleteWhere(spark, t, col("k") % 2L === 0L, "k")
    val tombs = tombstoneEntries(t)
    assert(tombs.nonEmpty && tombs.forall(VersionedTable.isPosDeleteFile),
      s"150k doomed keys must commit as a POSITIONAL vector, got $tombs")
    assert(VersionedTable.read(spark, t).count() == 150000L)
    // a later append is untouched by the vector, exactly like equality
    VersionedTable.commit(Seq((2L, 0L)).toDF("k", "v"), t, append = true)
    assert(VersionedTable.read(spark, t).filter(col("k") === 2L).count() == 1L)
  }

  test("explicit maxKeys forces equality semantics up to the memory ceiling") {
    val s = spark; import s.implicits._
    val t = s"$root/forced"
    VersionedTable.commit(
      (1L to 300000L).map(k => (k, k % 97)).toDF("k", "v"), t, append = false)
    VersionedTable.deleteWhere(spark, t, col("k") % 2L === 0L, "k",
      maxKeys = VersionedTable.MorMaxDeleteKeys)
    val tombs = tombstoneEntries(t)
    assert(tombs.nonEmpty && tombs.forall(e =>
      !VersionedTable.isPosDeleteFile(e)),
      s"an explicit maxKeys caller keeps EQUALITY tombstones, got $tombs")
    assert(VersionedTable.read(spark, t).count() == 150000L)
  }

  test("a maxKeys above the memory ceiling is rejected before anything is staged") {
    val s = spark; import s.implicits._
    val t = s"$root/ceiling"
    VersionedTable.commit(
      (1L to 1000L).map(k => (k, k % 97)).toDF("k", "v"), t, append = false)
    def dataDir = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(t, "data"))
      try { import scala.jdk.CollectionConverters._; w.iterator().asScala.map(_.toString).toSet }
      finally w.close()
    }
    val (versions, files) = (VersionedTable.versions(t), dataDir)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.deleteWhere(spark, t, col("k") <= 10L, "k",
        maxKeys = VersionedTable.MorMaxDeleteKeys + 1L)
    }
    assert(e.getMessage.contains("ceiling"), e.getMessage)
    assert(VersionedTable.versions(t) == versions)
    assert(dataDir == files, "a rejected delete must stage nothing under data/")
    assert(VersionedTable.read(spark, t).count() == 1000L)
  }
}
