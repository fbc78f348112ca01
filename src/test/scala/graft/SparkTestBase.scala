package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (Test / fork := true in
  * build.sbt ⇒ all suites share a single forked JVM). UTC + 8 shuffle
  * partitions keep tests deterministic and fast.
  */
object SparkTestBase {

  /** Temp directory for a test, deleted RECURSIVELY at JVM exit —
    * `File.deleteOnExit` only removes empty directories, which silently
    * leaks every populated fixture dir (the bucketedJoin leak class,
    * test edition: 125 stale /tmp/graft_* dirs found from prior runs).
    */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      if (Files.exists(d)) {
        val walk = Files.walk(d)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    }))
    d
  }

  /** `body`'s result and the number of Spark jobs it started: a listener
    * counts the jobs of a job group set around `body` on this thread. */
  def countingJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"counting-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    org.apache.spark.GraftTestAccess.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val result = try body finally sc.clearJobGroup()
      org.apache.spark.GraftTestAccess.drainListenerBus(sc)
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Asserts that `df` plans at least one graft catalog scan and that
    * every one reports columnar reads (`BatchScanExec.supportsColumnar`),
    * looking through adaptive query stages.
    */
  def assertColumnarScan(df: org.apache.spark.sql.DataFrame, clue: => Any = ""): Unit = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val plan = df.queryExecution.executedPlan
    val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(plan) {
        case b: BatchScanExec
            if b.readerFactory.isInstanceOf[graft.sources.GraftCatalogReaderFactory] => b
      }
    org.scalatest.Assertions.assert(scans.nonEmpty && scans.forall(_.supportsColumnar),
      s"$clue\nexpected columnar graft catalog scans in:\n$plan")
  }

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-tests")
      .withExtensions(new graft.functions.GraftExtensions)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
