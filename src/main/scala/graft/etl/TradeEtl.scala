package graft.etl

import org.apache.spark.sql.{DataFrame, GraftSqlInternals, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** Core trade-reconciliation engine, re-expressed Spark-first in Scala.
  *
  * Semantics are specified by the reference pipeline
  * (reference: etl_pipeline.py:62-342) and its two committed golden outputs;
  * the implementation below is an original declarative-DataFrame design:
  * every stage is a pure `DataFrame => DataFrame` so Catalyst sees one
  * logical plan end-to-end (scan → dedup → joins → validation cascade →
  * projection) and can push filters/prune columns across all of it.
  *
  * Scale notes (designed for a 1000-executor cluster, tested on local[32]):
  *   - the 10-row symbols dimension is broadcast explicitly (no shuffle);
  *   - the trades⟕fills join shuffles on the natural key once; AQE handles
  *     skew/coalescing at runtime;
  *   - validation is a pure column-expression cascade (zero UDFs) so the
  *     whole stage stays inside WholeStageCodegen;
  *   - unlike the reference (which re-executes the upstream DAG ~6x for its
  *     metric counts, etl_pipeline.py:112-337), [[TradePipeline]] collects
  *     every stage count as an observation of the one action that persists
  *     the validated branch point, the only frame it persists.
  *
  * Spark 4 runs with ANSI mode on by default; every cast/parse a malformed
  * row can reach uses `try_cast` / `try_to_timestamp` so bad input yields
  * null (the reference's PySpark-3.5 non-ANSI behavior) instead of throwing.
  */
object TradeEtl {

  // ---------------------------------------------------------------- extract

  /** All-string CSV scan, header row, NO schema inference
    * (reference: etl_pipeline.py:66-70 — types are introduced later by
    * explicit casts; validation semantics depend on string-level nulls).
    * `path` is one file. Its header is read on the driver and passed as
    * the schema, the one Spark would infer, so no job runs to learn the
    * column names.
    */
  def readCsv(spark: SparkSession, path: String): DataFrame = {
    val options = Map("header" -> "true")
    spark.read.options(options)
      .schema(GraftSqlInternals.csvHeaderSchema(spark, path, options))
      .csv(path)
  }

  /** Counterparty fills scan with source-level rename projection to avoid
    * join-name collisions (reference: etl_pipeline.py:72-85).
    */
  def readCounterpartyFills(spark: SparkSession, path: String): DataFrame =
    readCsv(spark, path).select(
      col("external_ref_id"),
      col("our_trade_id"),
      col("timestamp").alias("counterparty_timestamp"),
      col("symbol").alias("counterparty_symbol"),
      col("quantity").alias("counterparty_quantity"),
      col("price").alias("counterparty_price"),
      col("counterparty_id"),
    )

  // ---------------------------------------------------------------- quality

  /** Deduplicate by trade_id. Keeps an arbitrary row per key — safe because
    * duplicate groups in this feed are full-row duplicates
    * (reference: etl_pipeline.py:111). Planned by Spark as a partial/final
    * hash aggregate, i.e. map-side combine before the single shuffle.
    */
  def dedupByTradeId(trades: DataFrame): DataFrame =
    trades.dropDuplicates("trade_id")

  /** Remove cancelled trades (reference: etl_pipeline.py:126). */
  def filterCancelled(trades: DataFrame): DataFrame =
    trades.filter(col("trade_status") =!= "CANCELLED")

  /** Config-gated dedup + cancelled filter (reference: etl_pipeline.py:105-140).
    * Metric counting lives in [[TradePipeline]]; this stays lazy/pure.
    */
  def qualityFilter(trades: DataFrame, cfg: DataQualityConfig): DataFrame = {
    val afterDedup = if (cfg.filterDuplicates) dedupByTradeId(trades) else trades
    if (cfg.filterCancelledTrades) filterCancelled(afterDedup) else afterDedup
  }

  // ----------------------------------------------------------------- enrich

  /** Two-join enrichment (reference: etl_pipeline.py:349-357):
    * trades ⟕ fills on `trade_id = our_trade_id` (explicit condition, both
    * key columns kept; 1:1 so no fan-out), then ⟕ symbols USING(symbol).
    * The symbols dimension is tiny (10 rows) → broadcast, never shuffled.
    */
  def enrich(trades: DataFrame, fills: DataFrame, symbols: DataFrame): DataFrame =
    trades
      .join(fills, trades("trade_id") === fills("our_trade_id"), "left")
      .join(broadcast(symbols), Seq("symbol"), "left")

  // --------------------------------------------------------------- validate

  /** Validation cascade (reference: etl_pipeline.py:142-286). Adds, in order:
    *   - typed casts: `trade_quantity_int`, `trade_price_dec`,
    *     `cp_quantity_int`, `cp_price_dec` (null on failed parse);
    *   - `exception_types` machine codes, each failed check's code in the
    *     fixed order SYMBOL_INVALID → QUANTITY_INVALID → PRICE_INVALID;
    *   - `exception_details` human messages (4 independent conditions, in
    *     order);
    *   - `counterparty_confirmed` := cp quantity OR cp price present —
    *     note: NOT "join matched"; a matched fill with both empty is
    *     unconfirmed (reference: etl_pipeline.py:225-227);
    *   - `discrepancy_flag` := confirmed AND (qty mismatch OR
    *     |Δprice| > threshold (strict) OR symbol mismatch);
    *   - `is_valid` := no exception codes; `exception_type` / `details`
    *     null when valid, else ", " / "; " joined.
    */
  def validate(enriched: DataFrame, threshold: Double): DataFrame = {
    val typed = enriched
      .withColumn("trade_quantity_int", col("quantity").try_cast(IntegerType))
      .withColumn("trade_price_dec", col("price").try_cast(DoubleType))
      .withColumn("cp_quantity_int", col("counterparty_quantity").try_cast(IntegerType))
      .withColumn("cp_price_dec", col("counterparty_price").try_cast(DoubleType))

    // `<=>`: a matched symbol with a null `is_active` is not ok (and gets
    // the code), but adds no detail, as `=== "false"` is null there
    val symbolOk =
      col("company_name").isNotNull && (col("is_active") <=> "true")
    val quantityOk =
      col("trade_quantity_int").isNotNull && (col("trade_quantity_int") > 0)
    val priceOk =
      col("trade_price_dec").isNotNull && (col("trade_price_dec") > 0)

    val withCodes = typed
      .withColumn(
        "exception_types",
        array_compact(array(
          when(!symbolOk, lit("SYMBOL_INVALID")),
          when(!quantityOk, lit("QUANTITY_INVALID")),
          when(!priceOk, lit("PRICE_INVALID")))))
      .withColumn(
        "exception_details",
        array_compact(array(
          when(col("company_name").isNull, lit("Symbol not found in reference data")),
          when(col("is_active") === "false", lit("Symbol is not active")),
          when(!quantityOk, lit("Quantity is null or non-integer/non-positive")),
          when(!priceOk, lit("Price is null or non-numeric/non-positive")))))

    withCodes
      .withColumn(
        "counterparty_confirmed",
        col("cp_quantity_int").isNotNull || col("cp_price_dec").isNotNull)
      .withColumn(
        "discrepancy_flag",
        col("counterparty_confirmed") && (
          (col("cp_quantity_int").isNotNull &&
            (col("cp_quantity_int") =!= col("trade_quantity_int"))) ||
          (col("cp_price_dec").isNotNull &&
            (abs(col("cp_price_dec") - col("trade_price_dec")) > threshold)) ||
          (col("counterparty_symbol").isNotNull &&
            (col("counterparty_symbol") =!= col("symbol")))
        ))
      .withColumn("is_valid", size(col("exception_types")) === 0)
      .withColumn(
        "exception_type",
        when(col("is_valid"), lit(null))
          .otherwise(array_join(col("exception_types"), ", ")))
      .withColumn(
        "details",
        when(col("is_valid"), lit(null))
          .otherwise(array_join(col("exception_details"), "; ")))
  }

  // ------------------------------------------------------------------ clean

  private val IsoFmt = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
  private val UsFmt = "M/d/yyyy H:mm:ss"

  /** Zone the golden outputs render epoch-second timestamps in. The
    * reference ran with a default (US-Eastern) session timezone; the ISO and
    * US-format branches parse AND re-render wall-clock text so the zone
    * cancels out, but the epoch branch converts an absolute instant to wall
    * clock — golden `cleaned_trades.json` shows epoch rows at UTC-5
    * (verified: trade TRD000005, epoch 1705351086 → "…T15:38:06.000Z").
    * Our session runs UTC (deterministic everywhere); this constant makes
    * the reference's implicit zone dependency explicit and configurable.
    */
  val GoldenEpochRenderZone = "America/New_York"

  /** 3-way regex timestamp-format dispatch with null fallback
    * (reference: etl_pipeline.py:299-315). The regexes are kept
    * byte-identical on purpose: the US regex requires 2-digit minutes AND
    * seconds, which deliberately routes rows like `1/15/2024 15:49:7` to the
    * default-parse branch where they yield null (~406 golden rows omit
    * `timestamp_utc` because of this). Do not "fix" the regex.
    */
  def normalizeTimestamp(
      ts: org.apache.spark.sql.Column,
      epochRenderZone: String = GoldenEpochRenderZone,
  ): org.apache.spark.sql.Column =
    when(ts.rlike("^\\d{4}-\\d{2}-\\d{2}T"), try_to_timestamp(ts, lit(IsoFmt)))
      .when(ts.rlike("^\\d{10}$"),
        from_utc_timestamp(timestamp_seconds(ts.try_cast("long")), epochRenderZone))
      .when(ts.rlike("^\\d{1,2}/\\d{1,2}/\\d{4} \\d{1,2}:\\d{2}:\\d{2}"),
        try_to_timestamp(ts, lit(UsFmt)))
      .otherwise(try_to_timestamp(ts))

  /** Output-shaping projection for valid trades
    * (reference: etl_pipeline.py:299-332): normalize timestamp → ISO-8601
    * string (UTC session), cast quantity to int, round price HALF_UP to
    * the configured decimals.
    */
  def cleanValid(valid: DataFrame, priceDecimalPlaces: Int): DataFrame =
    valid
      .withColumn("timestamp_normalized", normalizeTimestamp(col("timestamp")))
      .select(
        col("trade_id"),
        date_format(col("timestamp_normalized"), IsoFmt).alias("timestamp_utc"),
        col("symbol"),
        col("trade_quantity_int").alias("quantity"),
        round(col("trade_price_dec"), priceDecimalPlaces).alias("price"),
        col("buyer_id"),
        col("seller_id"),
        col("counterparty_confirmed"),
        col("discrepancy_flag"),
      )

  /** Exceptions-report projection (reference: etl_pipeline.py:395-410):
    * struct-packs the 8 original string columns into `raw_data`.
    */
  def exceptionsReport(invalid: DataFrame): DataFrame =
    invalid.select(
      col("trade_id").alias("record_id"),
      lit("trades.csv").alias("source_file"),
      col("exception_type"),
      col("details"),
      struct(
        col("trade_id"),
        col("timestamp"),
        col("symbol"),
        col("quantity"),
        col("price"),
        col("buyer_id"),
        col("seller_id"),
        col("trade_status"),
      ).alias("raw_data"),
    )
}
