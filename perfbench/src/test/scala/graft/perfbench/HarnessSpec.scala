package graft.perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[1]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def env(seconds: Double) = new Env(spark, new Tracer(false, spark.sparkContext),
    Files.createTempDirectory("perfbench-loop"), seed = 1, seconds = seconds)

  test("the closed loop warms up and measures whole cycles, from a cycle boundary") {
    val e = env(0.03)
    val steps = mutable.ArrayBuffer.empty[(Int, Boolean)]
    val warm = e.closedLoop(cycle = 4, minWarm = 2, maxWarm = 5) { i =>
      steps += (i -> e.tracer.measuring)
      Thread.sleep(2)
    }
    val first = steps.indexWhere(_._2)
    assert(warm >= 2 && warm <= 5 && first == 4 * warm)
    val measured = steps.count(_._2)
    assert(measured > 0 && measured % 4 == 0 && steps.drop(first).forall(_._2))
    assert(steps.map(_._1) == steps.indices)
    assert(e.cycleBounds.size == measured / 4 + 1)
    assert(e.cycleBounds.zip(e.cycleBounds.tail).forall { case (a, b) => a <= b })
  }

  test("warm-up goes on while cycles get faster, up to its limit") {
    val e = env(0.0)
    // each cycle is half as long as the one before
    val warm = e.closedLoop(cycle = 1, minWarm = 1, maxWarm = 4) { i =>
      Thread.sleep(math.max(1, 64 >> i))
    }
    assert(warm == 4)
    // the window holds three cycles at least, however short the run,
    // or as many as the workload asks for
    assert(e.cycleBounds.size == 4)
    val five = env(0.0)
    five.closedLoop(cycle = 1, minWarm = 1, maxWarm = 1, minCycles = 5)(_ => ())
    assert(five.cycleBounds.size == 6)
    // a steady step stops the warm-up after the minimum
    assert(env(0.0).closedLoop(cycle = 1, minWarm = 2, maxWarm = 6)(_ => Thread.sleep(20)) <= 3)
  }

  test("an op that throws is recorded as failed and the loop goes on") {
    val e = env(0.0)
    e.closedLoop(cycle = 2, minWarm = 1, maxWarm = 1) { i =>
      e.attempt(if (i % 2 == 0) "ok" else "bad") {
        if (i % 2 == 1) throw new RuntimeException("planted")
      }.foreach { case (_, s) => e.check(s, true) }
    }
    assert(e.tracer.ops.map(_.kind) == Seq.fill(3)(Seq("ok", "bad")).flatten)
    assert(e.tracer.ops.map(_.ok) == Seq.fill(3)(Seq(true, false)).flatten)
    assert(e.runChecks() == e.tracer.ops.filterNot(_.ok).map(_.id).toSet)
  }
}
