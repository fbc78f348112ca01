package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.etl.{EtlConfig, JsonSink, TradePipeline}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The trade-reconciliation ETL on a generated batch whose expected
  * outcome comes from the generator's own choices, never from the engine:
  * a cross-check of the hand-written micro-fixture (EtlMicroFixtureSpec)
  * at 2,000 trades with the full quality-issue mix (duplicates, CANCELLED,
  * four timestamp shapes, unknown and inactive symbols, bad quantities and
  * prices, fills with empty fields and 0.01-edge price deltas).
  *
  * `src/test/resources/etl_pybench/` was written once, from the
  * repository root, by
  * {{{
  * cd perfbench && python3 -c "from pybench import trades; \
  *   trades.write_batches('../src/test/resources/etl_pybench', 7, 1, 2000)"
  * }}}
  * and is never edited by hand. `batch_00/expected.json` holds the six
  * metrics, every exception record's `exception_type`, the cleaned count
  * and the count of cleaned records without `timestamp_utc`.
  */
class EtlPybenchFixtureSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val dir = Paths.get("src/test/resources/etl_pybench/batch_00")

  test("metrics, exception codes, cleaned and missing-timestamp counts equal the generator's") {
    assert(Files.isDirectory(dir),
      s"run from the repository root: ${dir.toAbsolutePath} is not a directory")
    val expected = new ObjectMapper().readTree(dir.resolve("expected.json").toFile)
    val r = TradePipeline.run(spark, s"$dir/trades.csv", s"$dir/counterparty_fills.csv",
      s"$dir/symbols_reference.csv", EtlConfig.default)
    try {
      val m = r.metrics
      assert(Seq(m.processedTrades, m.duplicateTrades, m.cancelledTrades, m.successfulTrades,
          m.invalidTrades, m.discrepancyTrades) ==
        expected.get("metrics").elements().asScala.map(_.asLong).toSeq)

      val out = SparkTestBase.tempDir("etl_pybench")
      JsonSink.writeSingleJsonArray(r.cleanedTrades.orderBy("trade_id"), s"$out/cleaned.json")
      JsonSink.writeSingleJsonArray(r.exceptions.orderBy("record_id"), s"$out/exceptions.json")
      val cleaned = JsonSink.readJsonArray(s"$out/cleaned.json").elements().asScala.toSeq
      val exceptions = JsonSink.readJsonArray(s"$out/exceptions.json").elements().asScala.toSeq

      assert(cleaned.size == expected.get("cleaned").asLong)
      assert(cleaned.count(!_.has("timestamp_utc")) == expected.get("missing_timestamp").asLong)
      val wantCodes = expected.get("exceptions").properties().asScala
        .map(e => e.getKey -> e.getValue.asText).toMap
      val gotCodes = exceptions.map(e => e.get("record_id").asText -> e.get("exception_type").asText)
      assert(gotCodes.size == wantCodes.size, "one exception record per invalid trade")
      assert(gotCodes.toMap == wantCodes)
    } finally r.unpersist()
  }

  test("one op runs 7 jobs: TradePipeline.run and both sinks") {
    val out = SparkTestBase.tempDir("etl_pybench_jobs")
    val (r, jobs) = SparkTestBase.countingJobs {
      val r = TradePipeline.run(spark, s"$dir/trades.csv", s"$dir/counterparty_fills.csv",
        s"$dir/symbols_reference.csv", EtlConfig.default)
      JsonSink.writeSingleJsonArray(r.cleanedTrades.orderBy("trade_id"), s"$out/cleaned.json")
      JsonSink.writeSingleJsonArray(r.exceptions.orderBy("record_id"), s"$out/exceptions.json")
      r
    }
    r.unpersist()
    // run's materializing write 5 (the dedup shuffle, two broadcasts, the
    // cache build, the write's result stage), each sink 1
    assert(jobs == 7, s"expected 7 jobs, saw $jobs")
  }
}
