package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._

/** Parallelism floor for ops whose first stage does heavy NARROW work
  * (tokenize / shingle / md5 per row, or a buffering partial aggregate).
  *
  * Spark's parquet split planning assigns each row group to exactly one
  * task, so a corpus compacted upstream into few large row groups (one
  * 5 GB file = one row group is a shape real compactors produce) yields a
  * scan with fewer partitions than the cluster has cores — and every
  * narrow stage fused onto that scan serializes, regardless of
  * `spark.sql.shuffle.partitions`. The iterative graph/set ops pay this
  * worst: their whole candidate-generation stage (the expensive half)
  * runs at the file's parallelism, not the cluster's.
  *
  * [[floor]] repartitions such inputs up to `defaultParallelism` — but
  * ONLY when the input is a plain narrow scan shape. The partition-count
  * probe (`queryExecution.toRdd`) would MATERIALIZE upstream exchanges
  * under AQE (adaptive plans submit their shuffle stages on RDD
  * construction), so a frame with joins/aggregates below it is returned
  * untouched: a shaped input is the caller's contract, and probing it
  * would run real jobs at plan time.
  */
private[graft] object Parallelism {

  /** True for plan shapes where RDD construction is pure planning:
    * leaves plus narrow row-at-a-time operators. Anything that could
    * put an exchange (or a subquery hiding one) in the physical plan
    * disqualifies.
    */
  private def narrowScanShape(p: LogicalPlan): Boolean = p match {
    case _: LeafNode => true
    case _: Project | _: Filter | _: SubqueryAlias | _: Generate =>
      p.subqueries.isEmpty && p.children.forall(narrowScanShape)
    case _ => false
  }

  /** `df`, repartitioned to the cluster's default parallelism when it is
    * a narrow scan yielding fewer than half that many partitions. The
    * round-robin exchange it inserts ships only the scan's raw rows once
    * — strictly cheaper than serializing the downstream tokenize stage on
    * one core. No-op for shaped (non-scan) frames and scans already at
    * (or near) cluster parallelism.
    */
  def floor(df: DataFrame): DataFrame = {
    // A/B hook for probes and emergency off-switch — read per call from
    // the session conf (not a JVM global), so concurrent sessions and
    // in-flight plans can't disagree about which path they compiled.
    if (df.sparkSession.conf
          .getOption("spark.graft.parallelismFloor").contains("false")) return df
    if (!narrowScanShape(df.queryExecution.analyzed)) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    val cur =
      try df.queryExecution.toRdd.getNumPartitions
      catch { case scala.util.control.NonFatal(_) => return df }
    if (cur > 0 && cur * 2 <= target) df.repartition(target) else df
  }
}
