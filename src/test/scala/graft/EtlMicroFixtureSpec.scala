package graft

import graft.etl.{EtlConfig, JsonSink, TradePipeline}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The trade-reconciliation ETL on a hand-written micro-fixture
  * (`src/test/resources/etl_micro/`), checked without the reference
  * dataset. The CSVs cover FIXTURES.md §A5's eight cases: duplicate
  * trade ids (T01 identical, T02 differing only in trade_status, which
  * the cleaned output does not carry), the CANCELLED toggle (T03), the
  * ISO / epoch / US timestamp formats and the 1-digit-second malformed
  * case (T01, T02, T04, T05), unknown vs inactive symbol (T06, T07),
  * empty, zero, negative and non-numeric quantity (T08-T11) and price
  * (T12-T15), a fill with both quantity and price empty (T16), price
  * deltas of 0.01 and 0.011 (T17, T18), quantity-only and symbol-only
  * mismatches (T19, T20), all three exception codes in order (T21) and
  * a fill with a quantity only (T22). The expected JSON files were
  * derived by hand from the semantics in `etl_pipeline.py:142-421`, in
  * the sink's pretty-printed layout, never from engine output.
  */
class EtlMicroFixtureSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val dir = Paths.get("src/test/resources/etl_micro")

  private def run(cfg: EtlConfig): TradePipeline.Result =
    TradePipeline.run(spark, s"$dir/trades.csv", s"$dir/counterparty_fills.csv",
      s"$dir/symbols_reference.csv", cfg)

  test("cleaned trades, exceptions and metrics equal the hand-derived fixture byte for byte") {
    assert(Files.isDirectory(dir),
      s"run from the repository root: ${dir.toAbsolutePath} is not a directory")
    val cfg = EtlConfig.fromYamlFile(s"$dir/config.yaml")
    val r = run(cfg)
    try {
      // 24 rows; 2 duplicate rows; T03 cancelled; T06-T15 and T21 invalid;
      // T18-T20 discrepant
      assert(r.metrics == TradePipeline.Metrics(24L, 2L, 1L, 10L, 11L, 3L))
      val out = SparkTestBase.tempDir("etl_micro")
      JsonSink.writeSingleJsonArray(r.cleanedTrades.orderBy("trade_id"),
        s"$out/${cfg.output.cleanedTradesPath}")
      JsonSink.writeSingleJsonArray(r.exceptions.orderBy("record_id"),
        s"$out/${cfg.output.exceptionsReportPath}")
      Seq(cfg.output.cleanedTradesPath, cfg.output.exceptionsReportPath).foreach { name =>
        val got = Files.readString(out.resolve(name))
        val want = Files.readString(dir.resolve(name))
        assert(got == want, s"$name differs from the fixture")
      }
    } finally r.unpersist()
  }

  test("with the CANCELLED filter off, the cancelled trade is validated and kept") {
    val base = EtlConfig.fromYamlFile(s"$dir/config.yaml")
    val r = run(base.copy(dataQuality = base.dataQuality.copy(filterCancelledTrades = false)))
    try {
      // the cancelled count is still identified; T03 is valid and unflagged
      assert(r.metrics == TradePipeline.Metrics(24L, 2L, 1L, 11L, 11L, 3L))
      assert(r.cleanedTrades.filter("trade_id = 'T03'").count() == 1L)
    } finally r.unpersist()
  }
}
