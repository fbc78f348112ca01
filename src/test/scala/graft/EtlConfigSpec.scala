package graft

import graft.etl.{EtlConfig, TradePipeline}
import org.scalatest.funsuite.AnyFunSuite

class EtlConfigSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val refDir = TradePipeline.referenceDir

  test("parses the reference config.yaml exactly") {
    val cfg = EtlConfig.fromYamlFile(s"$refDir/config.yaml")
    assert(cfg == EtlConfig.default)
    assert(cfg.validation.priceDiscrepancyThresholdExclusive == 0.01)
    assert(cfg.validation.priceDecimalPlaces == 2)
    assert(cfg.output.cleanedTradesPath == "cleaned_trades.json")
  }

  test("overrides and unknown sections parse; missing keys keep defaults") {
    val cfg = EtlConfig.fromYaml(
      """validation:
        |  price_discrepancy_threshold_exclusive: 0.5   # wider band
        |data_quality:
        |  filter_cancelled_trades: false
        |logging:
        |  level: "DEBUG"
        |""".stripMargin)
    assert(cfg.validation.priceDiscrepancyThresholdExclusive == 0.5)
    assert(cfg.validation.priceDecimalPlaces == 2) // default kept
    assert(!cfg.dataQuality.filterCancelledTrades)
    assert(cfg.dataQuality.filterDuplicates) // default kept
  }

  test("config gates change the flow but metrics are identified unconditionally") {
    val base = EtlConfig.default
    val noFilters = base.copy(dataQuality = base.dataQuality.copy(
      filterCancelledTrades = false, filterDuplicates = false))
    val r = TradePipeline.run(
      spark,
      s"$refDir/trades.csv",
      s"$refDir/counterparty_fills.csv",
      s"$refDir/symbols_reference.csv",
      noFilters)
    assert(r.metrics.processedTrades == 10981L)
    // The reference IDENTIFIES both metrics regardless of the toggles
    // (etl_pipeline.py:110-117, 125-132) and gates only the filtering:
    // 981 duplicate rows are still reported, and the cancelled count is
    // measured on the ungated (duplicate-bearing) flow — 2,202 rather
    // than the post-dedup 2,004.
    assert(r.metrics.duplicateTrades == 981L)
    assert(r.metrics.cancelledTrades == 2202L)
    // but nothing was removed: all 10,981 rows flow into validation
    assert(r.metrics.successfulTrades + r.metrics.invalidTrades == 10981L)
    r.unpersist()
  }

  test("wider discrepancy threshold flags fewer trades") {
    val wide = EtlConfig.default.copy(validation =
      EtlConfig.default.validation.copy(priceDiscrepancyThresholdExclusive = 1e9))
    val r = TradePipeline.run(
      spark,
      s"$refDir/trades.csv",
      s"$refDir/counterparty_fills.csv",
      s"$refDir/symbols_reference.csv",
      wide)
    // price deltas can no longer trip the flag; only quantity/symbol
    // mismatches remain
    assert(r.metrics.discrepancyTrades < 4774L)
    assert(r.metrics.successfulTrades == 6935L) // validity unaffected
    r.unpersist()
  }
}
