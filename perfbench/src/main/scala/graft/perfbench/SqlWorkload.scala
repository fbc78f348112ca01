package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** The query ops of `dedup_sql`: short registry queries where per-query planning, codegen and
  * scheduling dominate. One op is one query: the registry call, then a noop
  * write. The seed only permutes the query order.
  */
final class SqlWorkload(spark: SparkSession, inputs: String, work: String,
    tracer: Tracer, seed: Long) extends Workload {
  private val order: Seq[String] =
    new scala.util.Random(seed).shuffle(SqlWorkload.Queries.keys.toSeq.sorted)

  private val tableRows: Map[String, Long] =
    SqlWorkload.Queries.values.flatMap(_.tables).toSeq.distinct.map { t =>
      val conf = spark.sparkContext.hadoopConfiguration
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$inputs/$t.parquet"), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try t -> r.getRecordCount finally r.close()
    }.toMap

  val inputRowsPerPass: Long =
    SqlWorkload.Queries.values.map(_.tables.map(tableRows).sum).sum

  def pass(): Seq[Op] = order.map { q =>
    Op(q, () => {
      val df = tracer.span("SparkEntry.queries")(SparkEntry.queries(q)(spark, inputs))
      if (tracer.enabled) tracer.span("plan")(df.queryExecution.executedPlan)
      tracer.span("write.noop")(Workload.noop(df))
      Op.NoCheck
    })
  }

  /** Writes each query's result and its oracle SQL for the DuckDB check. */
  override def verify(): Seq[(String, Seq[String])] =
    order.map(q => q -> Workload.writeForOracle(spark, inputs, work, q, q))

  def layerMetrics(t: TracedRun): Map[String, Double] = {
    val coreBusy = {
      val ops = t.warmOps
      t.work(ops).taskRunS / math.max(ops.map(_.dur).sum / 1e3 * t.cores, 1e-9)
    }
    val catalogBacked = SqlWorkload.Queries.collect { case (q, SqlWorkload.Query(_, true)) => q }
    val catalogCold = t.coldOps.filter(o => catalogBacked.exists(q => o.op.contains(s".$q.")))
    Map(
      "sql.build_s" -> t.perPass(t.callSeconds(_, "SparkEntry.queries")),
      "sql.plan_s" -> t.perPass(t.callSeconds(_, "plan")),
      "sql.exec_s" -> t.perPass(t.callSeconds(_, "write.noop")),
      "sql.core_busy_share" -> coreBusy,
      "catalog.cold_build_s" -> t.callSeconds(catalogCold, "SparkEntry.queries")) ++
      t.countsPerOp("sql")
  }
}

object SqlWorkload {
  /** The tables a query reads, and whether its first call builds versioned
    * catalog tables.
    */
  final case class Query(tables: Seq[String], catalogBacked: Boolean = false)

  /** The registry queries of the workload: a left join and a grouped
    * aggregate (`Relational`), a range read that the graft SQL catalog prunes
    * by zone maps, and the injected as-of join strategy over a versioned
    * table (both `Incremental`).
    */
  val Queries: Map[String, Query] = Map(
    "q_join_left" -> Query(Seq("orders", "customer")),
    "q_agg_pricing" -> Query(Seq("lineitem")),
    "q_sql_pruned" -> Query(Seq("orders"), catalogBacked = true),
    "q_asof_versioned" -> Query(Seq("events"), catalogBacked = true))
}
