package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.etl.{EtlConfig, JsonSink, TradePipeline}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The single most important test: run the full reconciliation pipeline on
  * the reference's committed CSVs and compare record-for-record against the
  * reference's committed golden outputs (reference: cleaned_trades.json,
  * exceptions_report.json) plus metric parity with BASELINE.md.
  */
class GoldenParitySpec extends AnyFunSuite {

  private val refDir = TradePipeline.referenceDir
  private lazy val result = TradePipeline.run(
    SparkTestBase.spark,
    s"$refDir/trades.csv",
    s"$refDir/counterparty_fills.csv",
    s"$refDir/symbols_reference.csv",
    EtlConfig.fromYamlFile(s"$refDir/config.yaml"),
  )

  private val mapper = new ObjectMapper()

  /** Semantic compare: same length, and after sorting by `key` every record
    * is structurally equal (JsonNode equality covers key sets, values, and
    * null-key omission).
    */
  private def assertGolden(df: org.apache.spark.sql.DataFrame, key: String, goldenPath: String): Unit = {
    val mine = df.orderBy(key).toJSON.collect().map(mapper.readTree)
    val golden = JsonSink.readJsonArray(goldenPath).elements().asScala.toArray
      .sortBy(_.get(key).asText())
    assert(mine.length == golden.length, s"record count vs $goldenPath")
    var diffs = 0
    mine.zip(golden).foreach { case (a, b) =>
      if (a != b) {
        diffs += 1
        if (diffs <= 3) info(s"DIFF mine=$a golden=$b")
      }
    }
    assert(diffs == 0, s"$diffs differing records vs $goldenPath")
  }

  test("metrics match BASELINE.md exactly") {
    val m = result.metrics
    assert(m.processedTrades == 10981L)
    assert(m.duplicateTrades == 981L)
    assert(m.cancelledTrades == 2004L)
    assert(m.successfulTrades == 6935L)
    assert(m.invalidTrades == 1061L)
    assert(m.discrepancyTrades == 4774L)
  }

  test("cleaned_trades matches golden record-for-record") {
    assertGolden(result.cleanedTrades, "trade_id", s"$refDir/cleaned_trades.json")
  }

  test("exceptions_report matches golden record-for-record") {
    assertGolden(result.exceptions, "record_id", s"$refDir/exceptions_report.json")
  }

  test("406 cleaned records omit timestamp_utc (fallback-parse nulls)") {
    val missing = result.cleanedTrades.filter("timestamp_utc IS NULL").count()
    assert(missing == 406L)
  }

  test("single-file JSON array sink round-trips with null omission") {
    val tmp = SparkTestBase.tempDir("graft-sink").toString
    val n = JsonSink.writeSingleJsonArray(
      result.cleanedTrades.orderBy("trade_id"), s"$tmp/cleaned.json")
    assert(n == 6935L)
    val arr = JsonSink.readJsonArray(s"$tmp/cleaned.json")
    assert(arr.size() == 6935)
    val noTs = arr.elements().asScala.count(r => !r.has("timestamp_utc"))
    assert(noTs == 406)
    // a record with a timestamp has all 9 keys; one without has 8
    val sizes = arr.elements().asScala.map(_.size()).toSet
    assert(sizes == Set(8, 9))
  }
}
