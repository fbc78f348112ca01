package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}

/** One unit of measured work. `run` does the timed work and returns the
  * output check, which the harness calls after the timer stops; the check
  * returns its error messages (empty when the output is right).
  */
final case class Op(name: String, run: () => (() => Seq[String]))

object Op {
  val NoCheck: () => Seq[String] = () => Nil
}

/** A benchmark workload: the ops of one pass over inputs that the
  * generators wrote before the process started.
  */
trait Workload {
  /** Rows the engine reads in one pass, for `rows_per_s`. */
  def inputRowsPerPass: Long

  /** The ops of one pass, in order. */
  def pass(): Seq[Op]

  /** Output checks that run once, after the timed passes: (op name, errors).
    * A failing check marks every timed op of that name as failed.
    */
  def verify(): Seq[(String, Seq[String])] = Nil

  /** Per-layer metrics of this workload, from a traced run. */
  def layerMetrics(t: TracedRun): Map[String, Double]
}

/** Several workloads' ops in one pass, over one input directory. */
final class CompositeWorkload(parts: Seq[Workload]) extends Workload {
  val inputRowsPerPass: Long = parts.map(_.inputRowsPerPass).sum
  def pass(): Seq[Op] = parts.flatMap(_.pass())
  override def verify(): Seq[(String, Seq[String])] = parts.flatMap(_.verify())
  def layerMetrics(t: TracedRun): Map[String, Double] =
    parts.flatMap(p => p.layerMetrics(t.only(p.pass().map(_.name).toSet))).toMap
}

object Workload {
  /** Materializes every row and column without collecting to the driver. */
  def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def apply(name: String, spark: SparkSession, inputs: String, work: String,
      tracer: Tracer, seed: Long): Workload = name match {
    case "etl_bulk" => new EtlWorkload(spark, inputs, work, tracer)
    case "dedup_sql" => new CompositeWorkload(Seq(
      new DocsWorkload(spark, inputs, work, tracer), new SqlWorkload(spark, inputs, work, tracer, seed)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The workload that runs the layers `name` does not, for the per-layer
    * metrics of a traced run.
    */
  def complement(name: String): String =
    Map("etl_bulk" -> "dedup_sql", "dedup_sql" -> "etl_bulk")(name)

  /** Writes the result of registry query `query` to `work/verify/<op>` and
    * its oracle SQL to `work/verify/<op>.sql`, for the DuckDB check that the
    * launcher runs after this process ends. Returns the errors of the write.
    */
  def writeForOracle(spark: SparkSession, inputs: String, work: String,
      op: String, query: String): Seq[String] =
    try {
      SparkEntry.queries(query)(spark, inputs).coalesce(1).write.mode("overwrite")
        .parquet(s"$work/verify/$op")
      Files.write(Paths.get(s"$work/verify/$op.sql"), SparkEntry.oracleSql(query).getBytes("UTF-8"))
      Nil
    } catch { case e: Throwable => Seq(s"verify write failed: ${e.getMessage}") }
    finally SparkEntry.resetSessionState(spark)
}
