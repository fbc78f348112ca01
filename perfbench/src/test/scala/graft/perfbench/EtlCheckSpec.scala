package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ArrayNode
import org.scalatest.funsuite.AnyFunSuite

class EtlCheckSpec extends AnyFunSuite {
  private def arr(json: String): ArrayNode =
    new ObjectMapper().readTree(json).asInstanceOf[ArrayNode]

  private val cleaned = arr(
    """[{"trade_id":"T1","timestamp_utc":"2024-01-02T00:00:00.000Z","quantity":5},
      | {"trade_id":"T2","quantity":7}]""".stripMargin)
  private val exceptions = arr(
    """[{"record_id":"T3","exception_type":"SYMBOL_INVALID"},
      | {"record_id":"T4","exception_type":"QUANTITY_INVALID, PRICE_INVALID"}]""".stripMargin)
  private val expected = EtlExpected(Seq(6L, 1L, 1L, 2L, 2L, 1L),
    Map("T3" -> "SYMBOL_INVALID", "T4" -> "QUANTITY_INVALID, PRICE_INVALID"),
    cleaned = 2L, missingTimestamp = 1L)

  test("accepts outputs that match the expected outcome") {
    assert(EtlCheck.check(expected.metrics, cleaned, exceptions, expected).isEmpty)
  }

  test("rejects one flipped exception code") {
    val flipped = arr(
      """[{"record_id":"T3","exception_type":"SYMBOL_INVALID"},
        | {"record_id":"T4","exception_type":"PRICE_INVALID, QUANTITY_INVALID"}]""".stripMargin)
    val errs = EtlCheck.check(expected.metrics, cleaned, flipped, expected)
    assert(errs.exists(_.contains("exception T4")))
  }

  test("rejects wrong metrics, counts and missing timestamps") {
    assert(EtlCheck.check(Seq(6L, 1L, 1L, 2L, 2L, 0L), cleaned, exceptions, expected).nonEmpty)
    val allStamped = arr("""[{"trade_id":"T1","timestamp_utc":"x"},{"trade_id":"T2","timestamp_utc":"y"}]""")
    assert(EtlCheck.check(expected.metrics, allStamped, exceptions, expected)
      .exists(_.contains("without timestamp_utc")))
    assert(EtlCheck.check(expected.metrics, arr("[]"), exceptions, expected)
      .exists(_.contains("cleaned records")))
  }
}
