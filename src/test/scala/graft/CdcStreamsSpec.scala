package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** CDC ingest into a versioned table from a streaming foreachBatch sink:
  * keyed on the batch id, `VersionedTable.commitIfAbsent` makes a
  * replayed batch a metadata no-op, and `commitIfAbsentGated` puts a
  * data-quality gate in front of the same exactly-once commit.
  */
class CdcStreamsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("foreachBatch ingest into a versioned table is exactly-once across batch replays") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = SparkTestBase.tempDir("graft_vt_ingest")
    val table = s"$d/t"
    val input = MemoryStream[(Long, String)]
    val query = input.toDF().toDF("k", "v").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // the sink's whole exactly-once contract: key the commit on the
        // batch id; a replayed batch becomes a metadata no-op
        graft.sources.VersionedTable.commitIfAbsent(
          df, table, append = true, txnId = s"batch-$batchId")
        ()
      }
      .start()
    try {
      input.addData(Seq(1L -> "a", 2L -> "b")); query.processAllAvailable()
      input.addData(Seq(3L -> "c")); query.processAllAvailable()
      // simulate the crash-replay: re-offer batch 0's data under its id
      val replayed = graft.sources.VersionedTable.commitIfAbsent(
        Seq(1L -> "a", 2L -> "b").toDF("k", "v"), table, append = true, txnId = "batch-0")
      assert(replayed.isEmpty, "replayed batch must not commit twice")
      val rows = graft.sources.VersionedTable.read(spark, table)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows == Set(1L -> "a", 2L -> "b", 3L -> "c"))
      assert(graft.sources.VersionedTable.versions(table).size == 2)
    } finally query.stop()
  }

  test("quality-gated ingest quarantines a failing batch; clean batches commit once") {
    val sparkS = spark
    import sparkS.implicits._
    val d = SparkTestBase.tempDir("graft_vt_gated")
    val table = s"$d/t"
    // gate: no null values allowed in v
    def gate(df: org.apache.spark.sql.DataFrame): Either[String, Unit] = {
      val bad = df.filter(df.col("v").isNull).count()
      if (bad > 0) Left(s"$bad null v rows") else Right(())
    }
    val clean = Seq((1L, Option("a")), (2L, Option("b"))).toDF("k", "v")
    val dirty = Seq((3L, Option.empty[String])).toDF("k", "v")
    assert(graft.sources.VersionedTable
      .commitIfAbsentGated(clean, table, append = true, "b0")(gate)
      .exists(_.contains(1L)))
    val rejected = graft.sources.VersionedTable
      .commitIfAbsentGated(dirty, table, append = true, "b1")(gate)
    assert(rejected == Left("1 null v rows"))
    // the rejected batch committed nothing and left no orphan files
    assert(graft.sources.VersionedTable.versions(table) == Seq(1L))
    assert(!java.nio.file.Files.exists(java.nio.file.Path.of(table, "data", "c2")),
      "rejected batch must not write data files")
    // a replay of the CLEAN batch stays idempotent through the gate
    assert(graft.sources.VersionedTable
      .commitIfAbsentGated(clean, table, append = true, "b0")(gate) == Right(None))
  }
}
