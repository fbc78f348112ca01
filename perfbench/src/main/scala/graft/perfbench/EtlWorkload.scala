package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ArrayNode
import graft.etl.{EtlConfig, JsonSink, TradeEtl, TradePipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** What the generator says one batch must produce. */
final case class EtlExpected(metrics: Seq[Long], exceptions: Map[String, String],
    cleaned: Long, missingTimestamp: Long)

object EtlExpected {
  def read(path: String): EtlExpected = {
    val n = new ObjectMapper().readTree(new File(path))
    EtlExpected(
      n.get("metrics").elements().asScala.map(_.asLong).toSeq,
      n.get("exceptions").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap,
      n.get("cleaned").asLong, n.get("missing_timestamp").asLong)
  }
}

/** The ETL output check: the six metrics, every exception record's
  * `exception_type`, the cleaned count and the records without
  * `timestamp_utc`, against the generator's expected outcome.
  */
object EtlCheck {
  def metricsOf(m: TradePipeline.Metrics): Seq[Long] = Seq(m.processedTrades,
    m.duplicateTrades, m.cancelledTrades, m.successfulTrades, m.invalidTrades,
    m.discrepancyTrades)

  def check(metrics: Seq[Long], cleaned: ArrayNode, exceptions: ArrayNode,
      exp: EtlExpected): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (metrics != exp.metrics) errs += s"metrics $metrics, expected ${exp.metrics}"
    if (cleaned.size != exp.cleaned) errs += s"${cleaned.size} cleaned records, expected ${exp.cleaned}"
    val noTs = cleaned.elements().asScala.count(r => !r.has("timestamp_utc"))
    if (noTs != exp.missingTimestamp)
      errs += s"$noTs cleaned records without timestamp_utc, expected ${exp.missingTimestamp}"
    val got = exceptions.elements().asScala
      .map(r => r.get("record_id").asText -> r.path("exception_type").asText(null)).toSeq
    if (got.size != exp.exceptions.size)
      errs += s"${got.size} exception records, expected ${exp.exceptions.size}"
    got.filter { case (id, t) => !exp.exceptions.get(id).contains(t) }.take(3).foreach {
      case (id, t) => errs += s"exception $id is '$t', expected '${exp.exceptions.getOrElse(id, "<no exception>")}'"
    }
    errs.result()
  }
}

/** `etl_bulk`: the trade batches under `inputs` (one in the workload's own
  * runs). One op is one batch: `TradePipeline.run` plus both
  * `JsonSink.writeSingleJsonArray` outputs, checked after the timer stops.
  */
final class EtlWorkload(spark: SparkSession, inputs: String, work: String,
    tracer: Tracer) extends Workload {

  private val batches: Seq[String] = new File(inputs).listFiles()
    .filter(f => f.isDirectory && f.getName.startsWith("batch_")).map(_.getPath).sorted.toSeq
  require(batches.nonEmpty, s"no trade batches under $inputs")
  private val expected = batches.map(b => EtlExpected.read(s"$b/expected.json"))

  val inputRowsPerPass: Long = expected.map(_.metrics.head).sum

  private def outDir(i: Int) = { val d = s"$work/etl_out/b$i"; new File(d).mkdirs(); d }

  private def runBatch(i: Int): TradePipeline.Metrics = {
    val b = batches(i)
    val r = tracer.span("TradePipeline.run") {
      TradePipeline.run(spark, s"$b/trades.csv", s"$b/counterparty_fills.csv",
        s"$b/symbols_reference.csv", EtlConfig.default)
    }
    tracer.span("JsonSink.writeSingleJsonArray") {
      JsonSink.writeSingleJsonArray(r.cleanedTrades.orderBy("trade_id"),
        s"${outDir(i)}/cleaned_trades.json")
    }
    tracer.span("JsonSink.writeSingleJsonArray") {
      JsonSink.writeSingleJsonArray(r.exceptions.orderBy("record_id"),
        s"${outDir(i)}/exceptions_report.json")
    }
    r.unpersist()
    r.metrics
  }

  def pass(): Seq[Op] = batches.indices.map { i =>
    Op(s"batch_$i", () => {
      val m = runBatch(i)
      () => EtlCheck.check(EtlCheck.metricsOf(m),
        JsonSink.readJsonArray(s"${outDir(i)}/cleaned_trades.json"),
        JsonSink.readJsonArray(s"${outDir(i)}/exceptions_report.json"), expected(i))
    })
  }

  private def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def layerMetrics(t: TracedRun): Map[String, Double] = {
    val sinkS = t.perPass(ops => t.callSeconds(ops, "JsonSink.writeSingleJsonArray"))
    val idle = t.perPass { ops =>
      val spans = ops.flatMap(t.calls(_, "JsonSink.writeSingleJsonArray"))
      val wall = spans.map(_.dur).sum / 1e3
      1.0 - t.work(spans).taskRunS / (wall * t.cores)
    }
    // probes on the first batch, outside the timed passes: prefix
    // differences of the public TradeEtl stages, and the toJSON drain the
    // sink starts with
    val b = batches.head
    val cfg = EtlConfig.default
    def trades = TradeEtl.readCsv(spark, s"$b/trades.csv")
    def fills = TradeEtl.readCounterpartyFills(spark, s"$b/counterparty_fills.csv")
    def symbols = TradeEtl.readCsv(spark, s"$b/symbols_reference.csv")
    def quality = TradeEtl.qualityFilter(trades, cfg.dataQuality)
    def enriched = TradeEtl.enrich(quality, fills, symbols)
    def validated = TradeEtl.validate(enriched, cfg.validation.priceDiscrepancyThresholdExclusive)
    def cleaned = TradeEtl.cleanValid(validated.filter(col("is_valid")), cfg.validation.priceDecimalPlaces)
    val prefixes = Seq(trades _, quality _, enriched _, validated _, cleaned _)
      .map(df => timeS(Workload.noop(df())))
    val stageS = prefixes.zip(0.0 +: prefixes).map { case (a, b) => a - b }
    val collectS = {
      val r = TradePipeline.run(spark, s"$b/trades.csv", s"$b/counterparty_fills.csv",
        s"$b/symbols_reference.csv", cfg)
      try timeS {
        Seq(r.cleanedTrades.orderBy("trade_id"), r.exceptions.orderBy("record_id")).foreach { df =>
          val it = df.toJSON.toLocalIterator()
          while (it.hasNext) it.next()
        }
      } finally r.unpersist()
    }
    val bytes = batches.indices.map { i =>
      Files.size(Paths.get(s"${outDir(i)}/cleaned_trades.json")) +
        Files.size(Paths.get(s"${outDir(i)}/exceptions_report.json"))
    }.sum
    val records = expected.map(e => e.cleaned + e.exceptions.size).sum
    Seq("read", "quality", "enrich", "validate", "clean").zip(stageS).map {
      case (s, v) => s"etl.stage.${s}_s" -> v
    }.toMap ++ Map(
      "etl.pipeline_s" -> t.perPass(ops => t.callSeconds(ops, "TradePipeline.run")),
      "etl.sink_s" -> sinkS,
      "etl.sink_collect_s" -> collectS * batches.size,
      "etl.sink_driver_s" -> (sinkS - collectS * batches.size),
      "etl.sink_core_idle_share" -> idle,
      "etl.json_bytes_per_row" -> bytes.toDouble / records) ++ t.countsPerOp("etl")
  }
}
