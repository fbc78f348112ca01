package graft

import graft.streaming.DocStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark decontamination screen (`q_docs_screen`'s plan): run as
  * a stream-static join over micro-batches it must emit exactly the
  * matches of the same plan run as a batch.
  */
class DocStreamsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("benchmark screen: stream-static matches equal the batch screen") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val run13 = (1 to 13).map(i => s"tok$i").mkString(" ")
    val bench = Seq((100L, s"benchmark preamble $run13 benchmark coda"))
      .toDF("doc_id", "text")
    val streamDocs = Seq(
      (1L, s"leading words $run13 trailing words"),      // shares the 13-run
      (2L, "totally unrelated content with no overlap at all in any window"),
      (3L, s"$run13"))                                   // exact run, later batch
    val input = MemoryStream[(Long, String)]
    val query = DocStreams.benchmarkScreenStream(
        input.toDF().toDF("doc_id", "text"), bench)
      .writeStream.format("memory").queryName("screen_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(streamDocs.take(2))
      query.processAllAvailable()
      input.addData(streamDocs.drop(2))
      query.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id, gram FROM screen_test")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val batch = DocStreams.benchmarkScreenStream(
          streamDocs.toDF("doc_id", "text"), bench)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(batch.nonEmpty && batch.map(_._1).toSet == Set(1L, 3L),
        s"batch screen shape wrong: ${batch.toSeq}")
      assert(streamed.toSeq == batch.toSeq,
        s"streaming ${streamed.toSeq} != batch ${batch.toSeq}")
    } finally query.stop()
  }
}
