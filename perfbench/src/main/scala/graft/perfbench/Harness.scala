package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What a workload hands back to [[Main]]. `setupS` are the times of
  * its set-ups, in the order they ran; `kinds` are
  * the op kinds of its cycle, behind op_p50_ms; `failed` counts the measured ops whose
  * output was wrong or that threw; `named` carries the workload's own
  * printed figures as (name, value, unit); `detail` carries whole-run
  * per-layer figures of traced runs.
  */
final case class Outcome(
    setupS: Seq[Double],
    kinds: Seq[String],
    failed: Int,
    named: Seq[(String, Double, String)],
    detail: Map[String, Double],
    notes: Seq[String])

final class Env(val spark: SparkSession, val tracer: Tracer,
    val work: Path, val seed: Long, val seconds: Double) {

  private val checks = mutable.ArrayBuffer.empty[(OpSample, () => Boolean)]
  private val thrown = mutable.Set.empty[Int]

  /** Run one timed op. An op that throws counts as failed; its result
    * check, if any, is queued by the caller through [[check]] and runs
    * after the measured window.
    */
  def attempt[T](kind: String)(body: => T): Option[(T, OpSample)] =
    try {
      val r = tracer.op(kind)(body)
      tracer.record(r._2)
      Some(r)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $kind failed: $e")
        val s = tracer.failedOp(kind)
        tracer.record(s)
        if (tracer.measuring) thrown += s.id
        None
    }

  def check(s: OpSample, ok: => Boolean): Unit =
    if (tracer.measuring) checks += (s -> (() => ok))

  /** Run the queued checks; returns the ids of ops that failed, thrown
    * ones included.
    */
  def runChecks(): Set[Int] = {
    val bad = checks.collect { case (s, ok) if !safely(ok()) => s.id }
    checks.clear()
    thrown.toSet ++ bad
  }

  private def safely(f: => Boolean): Boolean =
    try f catch {
      case e: Exception =>
        System.err.println(s"[perfbench] check threw: $e"); false
    }

  /** Start times of the measured window's cycles, then its end. */
  var cycleBounds: Seq[Long] = Nil

  /** Run `step(i)` for i = 0, 1, ... in whole cycles of `cycle` steps.
    * Warm-up runs at least `minWarm` cycles and stops once a cycle is no
    * faster than 0.97 of the fastest before it (JIT and caches have
    * settled), or after `maxWarm` cycles. The measured window then runs
    * whole cycles until [[seconds]] have passed and at least `minCycles`
    * cycles ran, so that every kind has a median of that many samples or
    * more; their bounds are kept in [[cycleBounds]]. Returns the number of
    * warm-up cycles.
    */
  def closedLoop(cycle: Int, minWarm: Int, maxWarm: Int, minCycles: Int = 3)(
      step: Int => Unit): Int = {
    Main.log("set-up done")
    var i = 0
    def runCycle(): Double = {
      val t0 = System.nanoTime()
      (0 until cycle).foreach { _ => step(i); i += 1 }
      (System.nanoTime() - t0) / 1e9
    }
    tracer.measuring = false
    val warm = mutable.ArrayBuffer(runCycle())
    while (warm.size < maxWarm &&
        (warm.size < math.max(minWarm, 2) || warm.last < 0.97 * warm.init.min))
      warm += runCycle()
    Main.log(f"warmed up with ${warm.size} cycles (${warm.map(s => f"$s%.2f").mkString(" ")} s)")
    tracer.measuring = true
    Gc.reset()
    val bounds = mutable.ArrayBuffer(tracer.now())
    val t0 = System.nanoTime()
    while (bounds.size <= minCycles || (System.nanoTime() - t0) / 1e9 < seconds) {
      runCycle()
      bounds += tracer.now()
    }
    cycleBounds = bounds.toList
    tracer.measuring = false
    Gc.stop()
    Main.log(s"measured ${bounds.size - 1} cycles")
    warm.size
  }
}

/** Heap in use after a full collection once the workload has returned,
  * its measured window and checks done: what the program retains (table
  * state, caches, Spark's), without the benchmark's expected state and
  * queued checks, and without the garbage whose amount depends on when
  * the collector last ran.
  * Spark frees broadcast and shuffle state asynchronously once a
  * collection finds it unreachable, so the figure is the least of three
  * collections a fifth of a second apart.
  */
object Heap {
  private var live = 0L
  def measure(): Unit = {
    live = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min
  }
  def liveMb: Double = live / 1048576.0
}

/** JVM collection time over the measured window. */
object Gc {
  private def total: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ > 0).sum
  private var start = 0L
  private var ms = 0L
  def reset(): Unit = start = total
  def stop(): Unit = ms = total - start
  def millis: Double = ms.toDouble
}
