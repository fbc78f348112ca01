package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval on the driver: an op, a layer call inside an op, or a
  * Spark job. Times are epoch milliseconds with sub-millisecond precision,
  * so driver spans and the listener's job times share one clock. `op` is
  * the id every span of one op shares; `parent` is -1 for an op span.
  */
final case class Span(id: Int, op: String, name: String, parent: Int,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** Task metrics of one finished task, reduced to what the benchmark reports. */
final case class TaskRec(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    inputBytes: Long, records: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long)

final case class JobRec(id: Int, group: Option[String], start: Double,
    var end: Double, stages: Seq[Int])

/** Records jobs and task metrics; attribution to ops happens after the run. */
final class RecordingListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs += JobRec(e.jobId, group, e.time.toDouble, e.time.toDouble, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.inputMetrics.bytesRead,
      m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }
}

/** Engine work attributed to a set of ops. */
final case class Work(jobs: Int, stages: Int, tasks: Seq[TaskRec]) {
  def taskRunS: Double = tasks.map(_.runMs).sum / 1e3
  def taskCpuS: Double = tasks.map(_.cpuNs).sum / 1e9
  def gcS: Double = tasks.map(_.gcMs).sum / 1e3
  def inputBytes: Long = tasks.map(_.inputBytes).sum
  def shuffleRead: Long = tasks.map(_.shuffleRead).sum
  def shuffleWrite: Long = tasks.map(_.shuffleWrite).sum
  def spill: Long = tasks.map(_.spill).sum
}

/** Span recorder for traced runs. Spans stay in memory until [[write]].
  * When disabled, [[span]] only runs its body, so untraced passes pay
  * nothing but a flag test.
  */
final class Tracer(sc: SparkContext) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var currentOp = ""
  private val listener = new RecordingListener
  private var on = false

  def enabled: Boolean = on

  /** Turns span recording and the job listener on or off. */
  def enable(flag: Boolean): Unit = if (flag != on) {
    if (flag) sc.addSparkListener(listener)
    else {
      org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    on = flag
  }

  /** An op span; the op id also becomes the Spark job group. */
  def op[T](opId: String)(body: => T): T = {
    currentOp = opId
    sc.setJobGroup(opId, opId, interruptOnCancel = true)
    try span(opId)(body) finally sc.clearJobGroup()
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, currentOp, name, parent, nowMs, Double.NaN)
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans(id) = spans(id).copy(end = nowMs)
      }
    }

  /** Job spans, each under the innermost driver span of its op that
    * contains its submission. A job is keyed by its job group (the op id);
    * a job whose group is unset or stale (jobs submitted from pool threads
    * that did not inherit the caller's group) falls back to the op whose
    * span contains its submission time.
    */
  def jobSpans: Seq[Span] = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
    val key = (spans.size, listener.synchronized(listener.jobs.size))
    if (jobSpansKey != key) {
      jobSpansCache = attributeJobs()
      jobSpansKey = key
    }
    jobSpansCache
  }
  private var jobSpansKey = (-1, -1)
  private var jobSpansCache: Seq[Span] = Nil

  private def attributeJobs(): Seq[Span] = {
    val ops = spans.filter(_.parent == -1)
    val opIds = ops.map(_.op).toSet
    val jobs = listener.synchronized(listener.jobs.toList)
    jobs.flatMap { j =>
      val op = j.group.filter(opIds).orElse(
        ops.find(o => o.start <= j.start && j.start <= o.end).map(_.op))
      op.map { o =>
        val inner = spans.filter(s => s.op == o && s.start <= j.start && j.start <= s.end)
        val parent = if (inner.isEmpty) ops.find(_.op == o).get else inner.maxBy(_.start)
        Span(-1, o, s"job ${j.id}", parent.id, j.start, math.max(j.end, j.start))
      }
    }.zipWithIndex.map { case (s, i) => s.copy(id = spans.size + i) }
  }

  /** Engine work under the given driver spans (jobs submitted inside them). */
  def work(under: Seq[Span]): Work = {
    val js = jobSpans
    val ids = under.map(_.id).toSet
    def within(s: Span): Boolean =
      ids(s.id) || (s.parent >= 0 && s.parent < spans.size && within(spans(s.parent)))
    val jobIds = js.filter(within).map(_.name.stripPrefix("job ").toInt).toSet
    val jobs = listener.synchronized(listener.jobs.toList)
    // a stage runs in the first job that lists it; later jobs skip it
    val stageOwner = jobs.sortBy(_.id).flatMap(j => j.stages.map(_ -> j.id)).reverse.toMap
    val tasks = listener.synchronized(listener.tasks.toList)
      .filter(t => stageOwner.get(t.stage).exists(jobIds))
    Work(jobIds.size, tasks.map(_.stage).distinct.size, tasks)
  }

  /** Wall time of `s` that none of the given children covers. */
  def residual(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.foreach { case (a, b) =>
      if (cs.isNaN || a > ce) {
        if (!cs.isNaN) covered += ce - cs
        cs = a; ce = b
      } else ce = math.max(ce, b)
    }
    if (!cs.isNaN) covered += ce - cs
    s.dur - covered
  }

  /** Writes every span, job spans included, as JSON lines with self time. */
  def write(path: java.nio.file.Path): Int = {
    val all = spans.toSeq ++ jobSpans
    val kids = all.groupBy(_.parent)
    val lines = all.map { s =>
      val self = residual(s, kids.getOrElse(s.id, Nil))
      s"""{"id":${s.id},"op":${graft.Json.quote(s.op)},"name":${graft.Json.quote(s.name)},"parent":${s.parent},"start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)},"self_ms":${Json.num(self)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    all.size
  }
}

object Json {
  /** A finite number with all its digits; JSON has no NaN or infinity. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
}
