package graft.perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

import java.lang.management.{ManagementFactory, MemoryType, MemoryUsage}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** The traced passes of a run, for per-layer metrics. */
final class TracedRun(val tracer: Tracer, val cores: Int,
    val coldOps: Seq[Span], val warmPasses: Seq[Seq[Span]]) {
  def warmOps: Seq[Span] = warmPasses.flatten

  /** Driver spans under `op` (at any depth) with the given name. */
  def calls(op: Span, name: String): Seq[Span] =
    tracer.spans.filter(s => s.op == op.op && s.name == name && s.id != op.id).toSeq

  def callSeconds(ops: Seq[Span], name: String): Double =
    ops.flatMap(calls(_, name)).map(_.dur).sum / 1e3

  /** Median over the traced warm passes of a per-pass quantity. */
  def perPass(f: Seq[Span] => Double): Double =
    if (warmPasses.isEmpty) 0.0 else Stats.median(warmPasses.map(f))

  /** Median over the traced warm ops of a per-op quantity. */
  def perOp(f: Span => Double): Double =
    if (warmOps.isEmpty) 0.0 else Stats.median(warmOps.map(f))

  def work(ops: Seq[Span]): Work = tracer.work(ops)

  /** The same run restricted to the ops with the given names. */
  def only(names: Set[String]): TracedRun = {
    def keep(o: Span) = names(o.op.split('.')(1))
    new TracedRun(tracer, cores, coldOps.filter(keep), warmPasses.map(_.filter(keep)))
  }

  /** jobs, stages and tasks per op, under the given metric prefix. */
  def countsPerOp(prefix: String): Map[String, Double] = {
    val ws = warmOps.map(o => work(Seq(o)))
    Map(
      s"$prefix.jobs_per_op" -> Stats.median(ws.map(_.jobs.toDouble)),
      s"$prefix.stages_per_op" -> Stats.median(ws.map(_.stages.toDouble)),
      s"$prefix.tasks_per_op" -> Stats.median(ws.map(_.tasks.size.toDouble)))
  }
}

/** Benchmark process: one workload, one closed-loop driver thread.
  *
  * Usage: `Main --workload W --seed N --seconds S --trace 0|1 --inputs DIR
  *   --work DIR --result FILE --launch-ms EPOCH_MS --gen-s SECONDS`
  *
  * Runs a cold pass in the fresh session, then warm passes until `--seconds`
  * have passed and at least [[MinWarmPasses]] ran, then the output checks.
  * With `--trace 1` the warm passes alternate between untraced and traced,
  * then a cold and a warm traced pass of the workload that runs the layers
  * this one does not, and the result carries per-layer metrics instead of
  * end-to-end ones. Writes one JSON object to `--result`:
  * timed ops attempted, timed and failed ops per op name, and the metrics.
  */
object Main {
  /** Seconds after which an op's jobs are cancelled and the op fails. */
  val OpTimeoutS = 90L

  /** Untraced warm passes every run measures, however short `--seconds`. */
  val MinWarmPasses = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val launchMs = opt("launch-ms").toLong
    def sinceLaunch = (System.currentTimeMillis() - launchMs) / 1e3
    System.err.println(f"[perfbench] session up ${sinceLaunch}%.3f s after launch")
    // engine warm-up: JVM, scheduler and codegen paths every workload uses
    Workload.noop(spark.range(0, 200000).selectExpr("id % 97 AS k", "id")
      .groupBy("k").count())
    val tracer = new Tracer(spark.sparkContext)
    val workload = Workload(workloadName, spark, opt("inputs"), work, tracer, seed)
    val setupS = opt("gen-s").toDouble + sinceLaunch
    System.err.println(f"[perfbench] set up ${sinceLaunch}%.3f s after launch")

    val heap = new HeapPeak
    heap.start()
    val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor()
    var opSeq = 0
    val timedOps = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Boolean)]

    /** Runs one pass, ops back to back, then checks their outputs outside
      * the pass time; returns the pass seconds, the op spans when traced and
      * (op name, seconds, output right) for each op.
      */
    def runPass(label: String, w: Workload = workload): (Double, Seq[Span], Seq[(String, Double, Boolean)]) = {
      val firstSpan = tracer.spans.size
      val done = scala.collection.mutable.ArrayBuffer.empty[(String, String, Double, Either[Throwable, () => Seq[String]])]
      val t0 = System.nanoTime()
      for (op <- w.pass()) {
        opSeq += 1
        val opId = s"$label.${op.name}.$opSeq"
        val cancel = watchdog.schedule(new Runnable {
          def run(): Unit = spark.sparkContext.cancelJobGroup(opId)
        }, OpTimeoutS, java.util.concurrent.TimeUnit.SECONDS)
        val s0 = System.nanoTime()
        val outcome =
          try Right(tracer.op(opId)(op.run()))
          catch { case e: Throwable => Left(e) }
        done += ((op.name, opId, (System.nanoTime() - s0) / 1e9, outcome))
        cancel.cancel(false)
        graft.SparkEntry.resetSessionState(spark)
      }
      val passS = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] pass $label: $passS%.3f s")
      heap.sampleAfterFullGc()
      val records = done.toSeq.map { case (name, opId, dt, outcome) =>
        val errors = outcome match {
          case Right(check) => check()
          case Left(e)      => Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        errors.take(5).foreach(m => System.err.println(s"[perfbench] $opId: $m"))
        (name, dt, errors.isEmpty)
      }
      val opSpans = tracer.spans.drop(firstSpan).filter(_.parent == -1).toSeq
      (passS, opSpans, records)
    }

    tracer.enable(trace)
    val codegen0 = org.apache.spark.PerfbenchAccess.codegenCompiles
    val (coldS, coldOps, coldRecords) = runPass("cold")
    timedOps ++= coldRecords
    val coldCompiles = org.apache.spark.PerfbenchAccess.codegenCompiles - codegen0
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val traced = scala.collection.mutable.ArrayBuffer.empty[(Double, Seq[Span], Long)]
    val warmOpStart = timedOps.size
    val w0 = System.nanoTime()
    var i = 0
    // at least MinWarmPasses untraced warm passes, so pass_s is a median of
    // a fixed count; traced runs alternate an untraced and a traced pass, so
    // the tracing overhead compares like with like
    val minEach = if (trace) 1 else MinWarmPasses
    while ((System.nanoTime() - w0) / 1e9 < seconds ||
        untraced.size < minEach || (trace && traced.size < minEach)) {
      val traceThis = trace && i % 2 == 1
      tracer.enable(traceThis)
      val c0 = org.apache.spark.PerfbenchAccess.codegenCompiles
      val (s, spans, records) = runPass(s"w$i")
      timedOps ++= records
      if (traceThis) traced += ((s, spans, org.apache.spark.PerfbenchAccess.codegenCompiles - c0))
      else untraced += s
      i += 1
    }
    tracer.enable(false)
    heap.stop()
    val warmOps = timedOps.drop(warmOpStart).toSeq

    val checks = workload.verify()
    checks.foreach { case (n, errs) =>
      errs.take(5).foreach(m => System.err.println(s"[perfbench] check $n: $m"))
    }
    val badNames = checks.collect { case (n, errs) if errs.nonEmpty => n }.toSet

    val metrics: Seq[(String, Double)] =
      if (!trace) {
        val passS = Stats.median(untraced.toSeq)
        val opTimes = warmOps.map(_._2)
        val (pct, tailS) = Stats.tail(opTimes)
        System.out.println(s"op_tail_s = $tailS s, p$pct of ${opTimes.size} warm ops")
        Seq(
          ("setup_s", setupS),
          ("cold_pass_s", coldS),
          ("pass_s", passS),
          ("rows_per_s", workload.inputRowsPerPass / passS),
          ("op_p50_s", Stats.median(opTimes)),
          ("op_tail_s", tailS),
          ("heap_peak_mb", heap.peakMb))
      } else {
        val run = new TracedRun(tracer, cores, coldOps, traced.map(_._2).toSeq)
        val layer = workload.layerMetrics(run) ++ engineMetrics(run, traced.map(_._3).toSeq,
          coldCompiles)
        // layers this workload does not run: a cold and a warm traced pass
        // of the workload that runs them, on its own inputs, so its figures
        // are cold and warm as in its own runs
        val others = {
          val name = Workload.complement(workloadName)
          val w = Workload(name, spark, opt("inputs"), work, tracer, seed)
          tracer.enable(true)
          val passes = Seq("cold", "warm").map(p => runPass(s"layers-$p-$name", w))
          tracer.enable(false)
          require(passes.forall(_._3.forall(_._3)), s"the $name passes for per-layer metrics failed")
          w.layerMetrics(new TracedRun(tracer, cores, passes.head._2, Seq(passes(1)._2)))
        }
        val path = Paths.get(work, "trace", s"$workloadName-seed$seed.jsonl")
        val nSpans = tracer.write(path)
        System.out.println(s"spans: $path ($nSpans spans)")
        (layer ++ others ++ traceMetrics(run, Stats.median(untraced.toSeq),
          Stats.median(traced.map(_._1).toSeq), nSpans)).toSeq.sortBy(_._1)
      }

    def byName(count: Seq[(String, Double, Boolean)] => Int) = timedOps.groupBy(_._1)
      .map { case (n, xs) => s"${graft.Json.quote(n)}:${count(xs.toSeq)}" }.mkString("{", ",", "}")
    val result =
      s"""{"attempted":${timedOps.size},"ops_by_name":${byName(_.size)},""" +
        s""""failed_by_name":${byName(_.count { case (n, _, ok) => !ok || badNames(n) })},""" +
        s""""metrics":${metrics.map { case (k, v) => s"${graft.Json.quote(k)}:${Json.num(v)}" }.mkString("{", ",", "}")}}"""
    Files.write(Paths.get(opt("result")), result.getBytes("UTF-8"))
    watchdog.shutdownNow()
    spark.stop()
  }

  private def engineMetrics(run: TracedRun, compiles: Seq[Long], coldCompiles: Long): Map[String, Double] = {
    def pp(f: Work => Double) = run.perPass(ops => f(run.work(ops)))
    Map(
      "engine.codegen_compiles" -> Stats.median(compiles.map(_.toDouble)),
      "engine.codegen_compiles_cold" -> coldCompiles.toDouble,
      "engine.task_run_s" -> pp(_.taskRunS),
      "engine.task_cpu_s" -> pp(_.taskCpuS),
      "engine.gc_s" -> pp(_.gcS),
      "engine.input_bytes" -> pp(_.inputBytes.toDouble),
      "engine.shuffle_read_bytes" -> pp(_.shuffleRead.toDouble),
      "engine.shuffle_write_bytes" -> pp(_.shuffleWrite.toDouble),
      "engine.spill_bytes" -> pp(_.spill.toDouble),
      "engine.jobs" -> pp(_.jobs.toDouble),
      "engine.stages" -> pp(_.stages.toDouble),
      "engine.tasks" -> pp(_.tasks.size.toDouble))
  }

  private def traceMetrics(run: TracedRun, untracedS: Double, tracedS: Double,
      nSpans: Int): Map[String, Double] = {
    val all = run.tracer.spans.toSeq ++ run.tracer.jobSpans
    val kids = all.groupBy(_.parent)
    val ops = run.warmOps
    val layerCalls = ops.flatMap(o => kids.getOrElse(o.id, Nil))
    val layerSelf = layerCalls.map(s => run.tracer.residual(s, kids.getOrElse(s.id, Nil))).sum
    Map(
      "trace.overhead_s" -> (tracedS - untracedS),
      "trace.overhead_share" -> (tracedS - untracedS) / untracedS,
      "trace.op_residual_s" -> run.perOp(o => run.tracer.residual(o, kids.getOrElse(o.id, Nil)) / 1e3),
      "trace.driver_self_share" -> layerSelf / math.max(ops.map(_.dur).sum, 1e-9),
      "trace.spans" -> nSpans.toDouble)
  }
}

/** Highest driver heap occupancy after a collection: the old generation and
  * the survivor spaces, the heap pools a collection leaves live objects in
  * (eden is empty after it). A GC notification listener reads them after
  * every collection while the passes run, so a driver-side buffer that is
  * live at a collection inside an op shows, even when it is freed before
  * the op ends. A full collection at the end of each pass, outside the pass
  * time, adds what the driver keeps across passes.
  */
final class HeapPeak {
  private val pools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && !p.getName.contains("Eden"))
    .map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }.toSeq
  @volatile private var peak = 0L

  private def record(usage: Iterable[(String, MemoryUsage)]): Unit = synchronized {
    peak = math.max(peak, usage.collect { case (n, u) if pools(n) => u.getUsed }.sum)
  }

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION)
        record(GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala)
  }

  def start(): Unit = emitters.foreach(_.addNotificationListener(listener, null, null))
  def stop(): Unit = emitters.foreach(_.removeNotificationListener(listener))

  def sampleAfterFullGc(): Unit = {
    // the second collection runs after the context cleaner has had a moment
    // to drop what the first one freed
    System.gc()
    Thread.sleep(200)
    System.gc()
    record(ManagementFactory.getMemoryPoolMXBeans.asScala
      .flatMap(p => Option(p.getCollectionUsage).map(p.getName -> _)))
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}
