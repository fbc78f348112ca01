package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Diagnostic main: writes `.explain("formatted")` for selected queries to
  * files — the before/after plan evidence for optimization rounds. The plan
  * is taken from the query's own QueryExecution without executing it, so the
  * dump reflects the static plan (AQE stages unfinalized); pair it with
  * PlanAudit for runtime exchange/coalesce evidence.
  *
  * Usage: `runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]`
  * writes `<outDir>/<query>_<suffix>.txt` per query (all queries if no list).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names =
      if (args.length > 3) args(3).split(",").map(_.trim).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    for (name <- names) {
      try {
        val df = name match {
          // pass-level pseudo-plan: the CC star fixpoint checkpoints per
          // round, so the pass shape never appears in a registered query's
          // final explain — this exposes ONE large-star pass directly
          case "pass_large_star" =>
            import org.apache.spark.sql.functions.col
            graft.ops.Dedup.starReduceEdges(
              spark.range(100).select(
                col("id").as("doc_a"), (col("id") + 1L).as("doc_b")))
          case _ => SparkEntry.queries(name)(spark, sfDir)
        }
        val txt = df.queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
      SparkEntry.resetSessionState(spark)
    }
    spark.stop()
  }
}
