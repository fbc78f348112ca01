package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Synth

/** The `graft-synth` DataSource V2 connector: generated values must match
  * the reference chain exactly, generation must be deterministic and
  * sliced as requested, and column pruning must reach the scan.
  */
class SynthSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("rows match the reference LCG chain, both short name and class name") {
    val viaShort = Synth.read(spark, 100L, slices = 3, seed = 7L)
    val viaClass = spark.read.format("graft.sources.SynthSource")
      .option("rows", 100L).option("slices", 3).option("seed", 7L).load()
    val expected = (0L until 100L).map(Synth.row(7L, _))
    for (df <- Seq(viaShort, viaClass)) {
      val got = df.as[(Long, Long, String, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == expected)
    }
  }

  test("deterministic across reads and sliced as requested") {
    val a = Synth.read(spark, 5000L, slices = 8).collect().map(_.toString).sorted
    val b = Synth.read(spark, 5000L, slices = 8).collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq)
    assert(Synth.read(spark, 5000L, slices = 8).rdd.getNumPartitions == 8)
    // remainder rows are spread, not dropped: 10 rows over 4 slices
    assert(Synth.read(spark, 10L, slices = 4).count() == 10L)
  }

  test("column pruning reaches the scan: only requested generator columns") {
    val pruned = Synth.read(spark, 1000L).select(sum(col("value_cents")).as("s"))
    pruned.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scansIn(p: SparkPlan): Seq[BatchScanExec] = p.collect {
      case b: BatchScanExec         => Seq(b)
      case a: AdaptiveSparkPlanExec => scansIn(a.executedPlan)
      case q: QueryStageExec        => scansIn(q.plan)
    }.flatten
    val scans = scansIn(pruned.queryExecution.executedPlan)
    assert(scans.nonEmpty, pruned.queryExecution.executedPlan.toString)
    assert(scans.head.output.map(_.name) == Seq("value_cents"),
      s"scan should read only value_cents, got ${scans.head.output.map(_.name)}")
  }

  test("id-range filters narrow the generated interval at the source") {
    val df = Synth.read(spark, 100000L, slices = 8)
      .filter(col("id") >= 99990L && col("id") < 99995L)
    val got = df.as[(Long, Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == (99990L until 99995L).map(Synth.row(42L, _)))
    // the scan itself must advertise the narrowed range — proof the rows
    // outside it were never generated, not generated-then-filtered
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("range=[99990,99995)"), desc)
    // with kind a residual (non-id) predicate, correctness still holds
    val mixed = Synth.read(spark, 100000L, slices = 8)
      .filter(col("id") < 100L && col("kind") === "view")
      .as[(Long, Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(mixed == (0L until 100L).map(Synth.row(42L, _)).filter(_._3 == "view"))
  }

  test("a pushed limit caps generation") {
    val df = Synth.read(spark, 1000000L, slices = 8).limit(7)
    assert(df.as[(Long, Long, String, Long, Long)].collect().sortBy(_._1).toSeq ==
      (0L until 7L).map(Synth.row(42L, _)))
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("range=[0,7)"), desc)
  }

  test("complete aggregate pushdown answers from interval arithmetic — no rows generated") {
    // a 2^40-row table: any plan that actually generates rows cannot
    // finish; completing at all proves the aggregate never left the scan
    val t0 = System.nanoTime()
    val row = Synth.aggPushdown(spark).collect()(0)
    val dtMs = (System.nanoTime() - t0) / 1e6
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) ==
      ((500000L, 1000000000L, 1000499999L)))
    assert(dtMs < 30000, s"pushdown query took ${dtMs}ms — did it generate rows?")
    val p = Synth.aggPushdown(spark).queryExecution.executedPlan.toString
    assert(p.contains("graft-synth-agg"), s"agg scan not planned:\n$p")
  }

  test("aggregate pushdown declines grouping and non-id columns — row scan still correct") {
    // grouped aggregate must NOT be claimed by the pushdown (it would be
    // wrong); the plan falls back to the row-generating scan + hash agg
    val p = Synth.read(spark, 1000L, slices = 2)
      .groupBy("kind").count()
      .queryExecution.executedPlan.toString
    assert(!p.contains("graft-synth-agg"), s"grouped agg wrongly pushed:\n$p")
    // min over a DERIVED column also declines
    val p2 = Synth.read(spark, 1000L, slices = 2)
      .agg(min("value_cents"))
      .queryExecution.executedPlan.toString
    assert(!p2.contains("graft-synth-agg"), s"non-id min wrongly pushed:\n$p2")
  }

  test("limit above a pushed aggregate does not narrow the interval") {
    // V2ScanRelationPushDown pushes LIMIT *after* aggregates: .limit(1)
    // over a 1-row aggregate must not truncate [lo, hi) to a single row.
    val df = Synth.read(spark, 1000000L, slices = 8)
      .filter(col("id") >= 100L && col("id") < 2100L)
      .agg(count(lit(1)).as("n"), min("id").as("lo"), max("id").as("hi"))
      .limit(1)
    val row = df.collect()(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((2000L, 100L, 2099L)))
    // and the aggregate still completed at the scan (the decline is the
    // LIMIT's, not the aggregate's)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft-synth-agg"), s"agg scan not planned:\n$p")
  }

  test("aggregate over 50k generated rows matches a local replay") {
    val agg = Synth.read(spark, 50000L, slices = 8)
      .groupBy("kind")
      .agg(count(lit(1)).as("n"), sum("value_cents").as("cents"),
        min("user_id").as("u_min"), max("ts_sec").as("t_max"))
      .orderBy("kind")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    val local = (0L until 50000L).map(Synth.row(42L, _))
      .groupBy(_._3).toSeq
      .map { case (k, rs) =>
        (k, rs.size.toLong, rs.map(_._4).sum, rs.map(_._2).min, rs.map(_._5).max)
      }
      .sortBy(_._1)
    assert(agg == local)
  }
}
