package graft

import java.nio.file.{Files, Paths}

import graft.etl.TradePipeline
import org.apache.spark.sql.functions.{col, to_json}
import org.scalatest.funsuite.AnyFunSuite

/** Every registered query must survive EMPTY input tables — schemas
  * present, zero rows. This is what empty partitions, over-filtered
  * upstream stages, and fresh-date runs look like in production; under
  * ANSI mode a divide-by-zero or an array_min(empty) that only ever saw
  * populated inputs is a runtime crash waiting for the first empty day.
  * The contract asserted: no exception, and a well-formed (usually
  * empty) result.
  */
class EmptyInputSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  /** One-time empty twin of the sf tables: same schemas, zero rows. */
  private lazy val emptyDir: String = {
    val dir = SparkTestBase.tempDir("graft-empty").toString
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    // events.ts physical type varies by testdata generation; read nanos-as-
    // long so a NANOS file round-trips as the raw long column, and let
    // SparkEntry.loadEvents dispatch on whichever type the twin ends up with
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tables.foreach { t =>
      spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
        .limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("every registered query runs on empty tables without throwing") {
    // the q_etl_* entries ignore the sf dir and read the fixed reference
    // CSVs; the code they run is driven on header-only CSVs below instead
    val skip = Set("q_etl_cleaned_trades", "q_etl_exceptions")
    assert(skip == SparkEntry.queries.keySet.filter(_.startsWith("q_etl_")),
      "every q_etl_* entry reads the fixed reference CSVs and belongs in the skip set")
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!skip(name)) {
        try {
          val n = fn(spark, emptyDir).count()
          assert(n >= 0)
        } catch {
          case e: Throwable =>
            failures += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
        }
      }
    }
    assert(failures.isEmpty,
      s"queries crashing on empty input:\n${failures.map { case (n, m) => s"  $n: $m" }.mkString("\n")}")

    // The ETL on empty input: header-only CSVs (columns per FIXTURES.md
    // §A1-A3), through TradePipeline.run and the registry's final
    // projections of both q_etl_* entries.
    val headers = Seq(
      "trades.csv" ->
        "trade_id,timestamp,symbol,quantity,price,buyer_id,seller_id,trade_status",
      "counterparty_fills.csv" ->
        "external_ref_id,our_trade_id,timestamp,symbol,quantity,price,counterparty_id",
      "symbols_reference.csv" -> "symbol,company_name,sector,is_active")
    headers.foreach { case (file, header) =>
      Files.writeString(Paths.get(emptyDir, file), header + "\n")
    }
    val result = TradePipeline.run(spark,
      s"$emptyDir/trades.csv",
      s"$emptyDir/counterparty_fills.csv",
      s"$emptyDir/symbols_reference.csv")
    try {
      assert(result.metrics == TradePipeline.Metrics(0, 0, 0, 0, 0, 0))
      assert(result.cleanedTrades.orderBy("trade_id").count() == 0)
      assert(result.exceptions
        .withColumn("raw_data", to_json(col("raw_data")))
        .orderBy("record_id").count() == 0)
    } finally result.unpersist()
  }
}
