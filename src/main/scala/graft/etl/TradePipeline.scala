package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** End-to-end orchestration of the trade-reconciliation pipeline with the
  * reference's metric semantics (reference: etl_pipeline.py:423-442 and the
  * count-subtraction pattern at etl_pipeline.py:105-140, 275-281).
  *
  * Where the reference re-executes the upstream DAG for every `count()`
  * (~6 redundant executions — it never caches), this orchestrator persists
  * one branch point, the validated trades, and collects every stage count
  * as an observation of the one action that materializes it, so each
  * stage executes once. Metric *values* are identical; only the physical
  * execution count changes. At 100 TB this is the difference between one
  * pass and six.
  */
object TradePipeline {

  /** Directory of the reference inputs (`trades.csv`,
    * `counterparty_fills.csv`, `symbols_reference.csv`), their
    * `config.yaml` and golden JSON outputs: env `GRAFT_REFERENCE_DIR`,
    * default `/root/reference`.
    */
  def referenceDir: String = sys.env.getOrElse("GRAFT_REFERENCE_DIR", "/root/reference")

  final case class Metrics(
      processedTrades: Long,
      duplicateTrades: Long,
      cancelledTrades: Long,
      successfulTrades: Long,
      invalidTrades: Long,
      discrepancyTrades: Long,
  )

  final case class Result(
      cleanedTrades: DataFrame,
      exceptions: DataFrame,
      metrics: Metrics,
      /** Releases the pipeline's persisted intermediates. Call after the
        * returned DataFrames have been written/consumed; until then the
        * validated branch point stays cached so downstream actions do not
        * re-execute the scan→dedup→join→validate chain.
        */
      unpersist: () => Unit,
  )

  /** The validated columns [[TradeEtl.cleanValid]], [[TradeEtl.exceptionsReport]]
    * and the validity metrics read: all the persisted branch point keeps.
    */
  private val BranchColumns = Seq("trade_id", "timestamp", "symbol", "quantity", "price",
    "buyer_id", "seller_id", "trade_status", "trade_quantity_int", "trade_price_dec",
    "counterparty_confirmed", "discrepancy_flag", "is_valid", "exception_type", "details")

  /** Run extract → quality → enrich → validate → clean lazily, computing the
    * six reference metrics. Input paths point at the three CSVs.
    */
  def run(
      spark: SparkSession,
      tradesCsv: String,
      fillsCsv: String,
      symbolsCsv: String,
      cfg: EtlConfig = EtlConfig.default,
  ): Result = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{count => fcount, lit, sum, when}

    val trades = TradeEtl.readCsv(spark, tradesCsv)
    val fills = TradeEtl.readCounterpartyFills(spark, fillsCsv)
    val symbols = TradeEtl.readCsv(spark, symbolsCsv)

    // Metrics ride the ONE materializing pass as `observe` checkpoints
    // (CollectMetrics nodes) instead of per-stage count() actions: the
    // reference re-executes its DAG ~6 times for its running counts
    // (etl_pipeline.py:105-140, 275-281). Every stage-count metric is an
    // exact aggregate collected DURING the single action that
    // materializes the validated branch point, so at 100 TB the pipeline
    // streams through its dedup intermediate once instead of caching it.
    // Metric VALUES are identical (observe aggregates are exact, and the
    // same count-subtraction arithmetic applies); only the execution
    // count changes.
    // Both "identified" metrics are still computed UNCONDITIONALLY —
    // the reference always runs the dedup and cancelled counts and gates
    // only which DataFrame flows downstream (etl_pipeline.py:120-123,
    // 135-138) — so a toggled-off stage falls back to a side count()
    // of its out-of-flow branch, exactly as the reference does.
    val processedObs = Observation("processed")
    val observedTrades = trades.observe(processedObs, fcount(lit(1)).as("n"))

    val dedupInFlow = cfg.dataQuality.filterDuplicates
    val dedupObs = Observation("deduped")
    val afterDedup =
      if (dedupInFlow)
        TradeEtl.dedupByTradeId(observedTrades)
          .observe(dedupObs, fcount(lit(1)).as("n"))
      else observedTrades

    val cancelledInFlow = cfg.dataQuality.filterCancelledTrades
    val cancelObs = Observation("after_cancelled")
    val qualityDf =
      if (cancelledInFlow)
        TradeEtl.filterCancelled(afterDedup)
          .observe(cancelObs, fcount(lit(1)).as("n"))
      else afterDedup

    // Enrich + validate, persisted once as the single branch point for
    // the two output writes, with only the columns the outputs and the
    // metrics read; the validity/discrepancy metrics observe ABOVE the
    // cache so the materializing write collects them too.
    val validated = TradeEtl
      .validate(
        TradeEtl.enrich(qualityDf, fills, symbols),
        cfg.validation.priceDiscrepancyThresholdExclusive)
      .select(BranchColumns.map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val validityObs = Observation("validity")
    validated
      .observe(
        validityObs,
        sum(when(col("is_valid"), 1L).otherwise(0L)).as("valid"),
        sum(when(!col("is_valid"), 1L).otherwise(0L)).as("invalid"),
        sum(when(col("is_valid") && col("discrepancy_flag"), 1L).otherwise(0L))
          .as("discrepant"))
      .write.format("noop").mode("overwrite")
      .save() // THE materializing action: cache lands, all observations fire

    // a `sum` over zero rows observes null: no rows, so 0
    def obsN(o: Observation, key: String = "n"): Long = o.get(key) match {
      case null => 0L
      case n => n.asInstanceOf[Long]
    }
    val processed = obsN(processedObs)
    // out-of-flow branches: the reference still counts them — side action
    val dedupCount =
      if (dedupInFlow) obsN(dedupObs)
      else TradeEtl.dedupByTradeId(trades).count()
    val duplicateCount = processed - dedupCount
    val baseCount = if (dedupInFlow) dedupCount else processed
    val afterCancelCount =
      if (cancelledInFlow) obsN(cancelObs)
      else TradeEtl.filterCancelled(afterDedup).count()
    val cancelledCount = baseCount - afterCancelCount
    val validCount = obsN(validityObs, "valid")
    val invalidCount = obsN(validityObs, "invalid")
    val discrepancyCount = obsN(validityObs, "discrepant")

    val valid = validated.filter(col("is_valid"))
    val invalid = validated.filter(!col("is_valid"))
    val cleaned = TradeEtl.cleanValid(valid, cfg.validation.priceDecimalPlaces)
    val exceptions = TradeEtl.exceptionsReport(invalid)

    Result(
      cleanedTrades = cleaned,
      exceptions = exceptions,
      metrics = Metrics(
        processedTrades = processed,
        duplicateTrades = duplicateCount,
        cancelledTrades = cancelledCount,
        successfulTrades = validCount,
        invalidTrades = invalidCount,
        discrepancyTrades = discrepancyCount,
      ),
      unpersist = () => validated.unpersist(blocking = false),
    )
  }

  /** CLI entry: `run <inputDir> <outDir> [configYaml]`. Writes the two
    * golden-format outputs (sorted by id for reproducibility — the
    * reference's golden files are sorted, incidentally; we sort on purpose)
    * and prints the metrics.
    */
  def main(args: Array[String]): Unit = {
    val inputDir = if (args.length > 0) args(0) else referenceDir
    val outDir = if (args.length > 1) args(1) else "target/etl_out"
    val cfg =
      if (args.length > 2) EtlConfig.fromYamlFile(args(2)) else EtlConfig.default

    val spark = SparkSession.builder()
      .appName("graft-trade-etl")
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    new java.io.File(outDir).mkdirs()
    val result = run(
      spark,
      s"$inputDir/trades.csv",
      s"$inputDir/counterparty_fills.csv",
      s"$inputDir/symbols_reference.csv",
      cfg)

    val nValid = JsonSink.writeSingleJsonArray(
      result.cleanedTrades.orderBy("trade_id"),
      s"$outDir/${cfg.output.cleanedTradesPath}")
    val nInvalid = JsonSink.writeSingleJsonArray(
      result.exceptions.orderBy("record_id"),
      s"$outDir/${cfg.output.exceptionsReportPath}")

    println(s"metrics=${result.metrics} written_valid=$nValid written_invalid=$nInvalid")
    result.unpersist()
    spark.stop()
  }
}
