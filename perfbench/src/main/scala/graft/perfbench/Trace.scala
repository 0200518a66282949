package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** A span around one call from the benchmark into a layer. Times are
  * nanoseconds on the wall clock, so they line up with Spark's events.
  * `op` is the id of the timed operation the call belongs to; `parent`
  * is -1 for an operation's root span.
  */
final case class Span(id: Int, name: String, layer: String, op: Int,
    parent: Int, start: Long, end: Long)

/** One timed operation of a workload's closed loop. */
final case class OpSample(id: Int, kind: String, start: Long, end: Long,
    ok: Boolean) {
  def ms: Double = (end - start) / 1e6
}

/** A Spark job seen by the listener; `group` is the job group the
  * benchmark set for the operation that launched it.
  */
final case class JobRec(id: Int, group: String, start: Long, end: Long,
    stages: Seq[Int])

final case class TaskRec(stage: Int, start: Long, end: Long, runMs: Long,
    recordsRead: Long, shuffleBytes: Long, spillBytes: Long)

/** Collects job and task events. Registered only in traced runs. */
final class JobListener extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, (String, Long, Seq[Int])]
  private val jobEnd = mutable.Map.empty[Int, Long]
  private val taskBuf = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .orNull
    jobStart(e.jobId) = (group, e.time * 1000000L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnd(e.jobId) = e.time * 1000000L
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) taskBuf += TaskRec(e.stageId,
      e.taskInfo.launchTime * 1000000L, e.taskInfo.finishTime * 1000000L,
      m.executorRunTime, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def jobs: Seq[JobRec] = synchronized {
    jobStart.toSeq.collect { case (id, (g, s, st)) if jobEnd.contains(id) =>
      JobRec(id, g, s, jobEnd(id), st)
    }.sortBy(_.id)
  }

  def tasks: Seq[TaskRec] = synchronized(taskBuf.toList)
}

/** Records operations always, and spans, counts and Spark events when
  * enabled. The loop is driven by one client thread, so the span stack
  * needs no synchronisation.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  // nanoTime is monotonic but has no epoch; Spark events carry epoch
  // millis. One offset taken at start puts both on the same axis.
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + epochOffset

  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); Some(l) }
    else None

  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val opBuf = mutable.ArrayBuffer.empty[OpSample]
  private val counterBuf = mutable.ArrayBuffer.empty[(Int, String, Double)]
  private var stack: List[Int] = Nil
  private var nextSpan = 0
  private var nextOp = 0
  private var currentOp = -1

  /** Whether finished operations are kept; false during warm-up. */
  var measuring = false

  /** Run one operation under its own job group. */
  def op[T](kind: String)(body: => T): (T, OpSample) = {
    val id = nextOp
    nextOp += 1
    currentOp = id
    sc.setJobGroup(s"op-$id", kind, interruptOnCancel = false)
    try {
      val t0 = now()
      val v = span("op", kind)(body)
      (v, OpSample(id, kind, t0, now(), ok = true))
    } finally {
      sc.clearJobGroup()
      currentOp = -1
    }
  }

  /** An op that threw: it took no time and counts as failed. */
  def failedOp(kind: String): OpSample = {
    val t = now()
    OpSample(-1 - nextOp, kind, t, t, ok = false)
  }

  def record(s: OpSample): Unit = if (measuring) opBuf += s

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack ::= id
      val t0 = now()
      try body
      finally {
        stack = stack.tail
        if (measuring) spanBuf += Span(id, name, layer, currentOp, parent, t0, now())
      }
    }

  /** A count measured where the work happens (files planned, bytes),
    * attached to an operation; kept only in traced runs.
    */
  def count(op: OpSample, name: String, value: Double): Unit =
    if (enabled && measuring) counterBuf += ((op.id, name, value))

  def ops: Seq[OpSample] = opBuf.toList
  def spans: Seq[Span] = spanBuf.toList
  def counters: Seq[(Int, String, Double)] = counterBuf.toList

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) {
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: ReflectiveOperationException => Thread.sleep(2000) }
  }
}

/** Turns ops, spans and Spark events into per-layer metrics. */
object Breakdown {

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Per-op values of every metric an op has, keyed by op id. An op has
    * `<layer>.<call>_ms` (and `_self_ms`) when it made that call, the
    * `connector` task figures when a job ran under its read or write
    * call, `queries.jobs` when it ran a query, each count recorded for it,
    * and the `spark` figures always. Jobs are attributed to the op whose
    * job group launched them, and within it to the innermost span open
    * when the job started; a span's self time excludes its child spans
    * and its jobs.
    */
  def perOp(ops: Seq[OpSample], spans: Seq[Span], jobs: Seq[JobRec],
      tasks: Seq[TaskRec], counters: Seq[(Int, String, Double)])
      : Map[Int, Map[String, Double]] = {
    val opIds = ops.map(_.id).toSet
    val jobsByOp = jobs.groupBy(j =>
      Option(j.group).filter(_.startsWith("op-"))
        .flatMap(_.stripPrefix("op-").toIntOption).getOrElse(-1))
    val stageJob = jobs.flatMap(j => j.stages.map(_ -> j.id)).toMap
    val tasksByJob = tasks.groupBy(t => stageJob.getOrElse(t.stage, -1))
    val spansByOp = spans.filter(s => opIds.contains(s.op)).groupBy(_.op)
    val countersByOp = counters.groupBy(_._1)

    // innermost span containing the job's start (ties: the latest opened)
    def owner(op: Int, j: JobRec): Option[Span] =
      spansByOp.getOrElse(op, Nil)
        .filter(s => s.start <= j.start && j.start <= s.end)
        .maxByOption(s => (s.start, s.id))

    val children = mutable.Map.empty[Int, List[(Long, Long)]].withDefaultValue(Nil)
    spans.foreach(s => if (s.parent >= 0)
      children(s.parent) = (s.start, s.end) :: children(s.parent))
    val jobOwner: Map[Int, Option[Span]] = jobsByOp.toSeq.flatMap { case (op, js) =>
      js.map(j => j.id -> owner(op, j))
    }.toMap
    jobs.foreach(j => jobOwner.getOrElse(j.id, None).foreach(s =>
      children(s.id) = (j.start, j.end) :: children(s.id)))

    ops.map { o =>
      val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      val js = jobsByOp.getOrElse(o.id, Nil)
      val ts = js.flatMap(j => tasksByJob.getOrElse(j.id, Nil))
      m("spark.jobs") = js.size
      m("spark.tasks") = ts.size
      m("spark.task_ms") = ts.map(_.runMs.toDouble).sum
      m("spark.job_overhead_ms") = js.map { j =>
        val covered = Stats.unionLength(tasksByJob.getOrElse(j.id, Nil).map(t => (t.start, t.end)))
        (j.end - j.start - covered) / 1e6
      }.sum
      m("spark.driver_ms") = Stats.selfTime(o.start, o.end, js.map(j => (j.start, j.end))) / 1e6
      m("spark.shuffle_bytes") = ts.map(_.shuffleBytes.toDouble).sum
      m("spark.spill_bytes") = ts.map(_.spillBytes.toDouble).sum
      val opSpans = spansByOp.getOrElse(o.id, Nil)
      opSpans.filter(_.layer != "op").foreach { s =>
        m(s"${s.layer}.${s.name}_ms") += (s.end - s.start) / 1e6
        m(s"${s.layer}.${s.name}_self_ms") +=
          Stats.selfTime(s.start, s.end, children(s.id)) / 1e6
      }
      if (opSpans.exists(_.layer == "queries")) m("queries.jobs") = js.size
      for (call <- Seq("read" -> "scan", "write" -> "write")) {
        val under = js.filter(j => jobOwner.getOrElse(j.id, None).exists(_.name == call._1))
        if (under.nonEmpty) {
          val uts = under.flatMap(j => tasksByJob.getOrElse(j.id, Nil))
          m(s"connector.${call._2}_task_ms") = uts.map(_.runMs.toDouble).sum
          if (call._1 == "read") m("connector.rows_read") = uts.map(_.recordsRead.toDouble).sum
        }
      }
      countersByOp.getOrElse(o.id, Nil).foreach { case (_, n, v) => m(n) = v }
      o.id -> m.toMap
    }.toMap
  }

  /** Each metric as a mean over the ops of each kind that have it
    * (`<metric>.<kind>`), and folded over all ops that have it
    * (`<metric>`, with `spark.*` named `*_per_op`).
    */
  def compute(ops: Seq[OpSample], spans: Seq[Span], jobs: Seq[JobRec],
      tasks: Seq[TaskRec], counters: Seq[(Int, String, Double)])
      : Map[String, Double] = {
    val per = perOp(ops, spans, jobs, tasks, counters)
    val out = mutable.LinkedHashMap.empty[String, Double]
    def folded(os: Seq[OpSample]): Map[String, Double] =
      os.flatMap(o => per(o.id)).groupMap(_._1)(_._2).map { case (k, vs) => k -> mean(vs) }
    ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (kind, os) =>
      folded(os).toSeq.sorted.foreach { case (k, v) => out(s"$k.$kind") = v }
    }
    folded(ops).toSeq.sorted.foreach { case (k, v) =>
      out(if (k.startsWith("spark.")) s"${k}_per_op" else k) = v
    }
    out.toMap
  }
}
