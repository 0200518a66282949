package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1, math.abs(b))

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("setup_s is the median of the later half of the set-ups") {
    assert(Stats.setupSeconds(Seq(9.0, 4.0)) == 4.0)
    assert(Stats.setupSeconds(Seq(9.0, 5.0, 4.0)) == 4.5)
    assert(Stats.setupSeconds(Seq(9.0, 5.0, 3.0, 4.0, 2.0, 2.5, 2.0)) == 2.25)
  }

  test("op_p50_ms is the geometric mean of the per-kind medians") {
    val ms = Seq("a" -> 1.0, "a" -> 100.0, "a" -> 4.0, "b" -> 9.0, "b" -> 9.0)
    assert(close(Stats.kindGeomean(Seq("a", "b"), ms), 6.0))
    // a kind of the cycle without samples is an error, not a smaller mean
    assertThrows[IllegalStateException](Stats.kindGeomean(Seq("a", "c"), ms))
  }

  test("slowing any one of n kinds k-fold raises op_p50_ms by k^(1/n)") {
    val kinds = Seq("full_scan", "lookup", "range_read", "arrow_export")
    val rnd = new java.util.Random(3)
    // lookups outnumber every other kind, as in a cycle with several per scan
    val ms = kinds.flatMap(k => Seq.fill(if (k == "lookup") 12 else 3)(k -> (50 + rnd.nextInt(2000)).toDouble))
    val base = Stats.kindGeomean(kinds, ms)
    for (slow <- kinds; k <- Seq(0.5, 2.0, 3.0)) {
      val slowed = ms.map { case (kind, v) => kind -> (if (kind == slow) v * k else v) }
      assert(close(Stats.kindGeomean(kinds, slowed) / base, math.pow(k, 1.0 / kinds.size)), s"$slow x$k")
    }
    // so op_p50_ms is the median of no single kind, and moves when only
    // full_scan slows, though most ops are lookups
    kinds.foreach { k =>
      assert(base != Stats.median(ms.collect { case (`k`, v) => v }))
    }
  }

  test("ops_per_s counts every op of the window's whole cycles over its wall time") {
    val s = 1000000000L
    // two cycles over 4 s; an op before the window and one after it are out
    val starts = Seq(-1L, 0L, s / 2, s, 2 * s, 3 * s, 4 * s, 5 * s)
    assert(Stats.windowRate(starts, Seq(0L, 2 * s, 4 * s)) == 5 / 4.0)
    assertThrows[IllegalArgumentException](Stats.windowRate(starts, Seq(0L)))
  }

  test("tail: the highest percentile with at least ten samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    // 11 samples: only the smallest has ten beyond it
    assert(Stats.tail((1 to 11).map(_.toDouble)).contains((1.0, 100.0 / 11)))
    // 20 samples: the 10th smallest, at p50
    assert(Stats.tail((1 to 20).reverse.map(_.toDouble)).contains((10.0, 50.0)))
    // 100 samples: the 90th smallest, at p90; exactly ten lie beyond it
    val (v, p) = Stats.tail((1 to 100).map(_.toDouble)).get
    assert(v == 90.0 && p == 90.0)
    assert((1 to 100).count(_ > v) == 10)
  }

  test("union length merges overlapping and nested intervals") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
    assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
  }

  test("self time subtracts the covered part of the span only") {
    // children overlap each other: covered [10, 40) = 30
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L))) == 70)
    // a child sticking out of the parent counts only inside it
    assert(Stats.selfTime(0, 100, Seq((90L, 150L), (-20L, 10L))) == 80)
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((200L, 300L))) == 100)
  }

  test("breakdown attributes jobs to ops and spans by group and time") {
    val ms = 1000000L
    val ops = Seq(OpSample(0, "lookup", 0, 100 * ms, ok = true),
      OpSample(1, "lookup", 200 * ms, 260 * ms, ok = true),
      OpSample(2, "upsert", 300 * ms, 400 * ms, ok = true))
    val spans = Seq(
      Span(0, "lookup", "op", 0, -1, 0, 100 * ms),
      Span(1, "plan", "api", 0, 0, 5 * ms, 15 * ms),
      Span(2, "read", "api", 0, 0, 20 * ms, 95 * ms),
      Span(3, "lookup", "op", 1, -1, 200 * ms, 260 * ms),
      Span(4, "read", "api", 1, 3, 210 * ms, 250 * ms),
      Span(5, "upsert", "op", 2, -1, 300 * ms, 400 * ms),
      Span(6, "write", "api", 2, 5, 300 * ms, 350 * ms))
    val jobs = Seq(
      JobRec(7, "op-0", 30 * ms, 80 * ms, Seq(1)),
      JobRec(8, "op-1", 220 * ms, 240 * ms, Seq(2)),
      JobRec(9, null, 300 * ms, 310 * ms, Seq(3)),
      JobRec(10, "op-2", 310 * ms, 340 * ms, Seq(4)))
    val tasks = Seq(TaskRec(1, 35 * ms, 55 * ms, 20, 100, 0, 0),
      TaskRec(1, 50 * ms, 75 * ms, 20, 50, 0, 0),
      TaskRec(2, 222 * ms, 232 * ms, 10, 7, 0, 5),
      TaskRec(4, 312 * ms, 332 * ms, 18, 0, 0, 0))
    val b = Breakdown.compute(ops, spans, jobs, tasks, Seq((0, "format.files_per_read", 8.0)))
    assert(b("spark.jobs.lookup") == 1.0)
    assert(b("spark.tasks.lookup") == 1.5)
    assert(b("spark.task_ms.lookup") == 25.0)
    // job wall minus the union of its task intervals: (50 - 40) and (20 - 10)
    assert(b("spark.job_overhead_ms.lookup") == 10.0)
    // op wall minus its jobs: (100 - 50) and (60 - 20)
    assert(b("spark.driver_ms.lookup") == 45.0)
    // read spans: 75 - 50 and 40 - 20 of self time over two ops
    assert(b("api.read_self_ms.lookup") == 22.5)
    assert(b("api.read_ms.lookup") == 57.5)
    // plan was called by one lookup only: the mean is over the ops that made the call
    assert(b("api.plan_ms.lookup") == 10.0)
    assert(b("connector.scan_task_ms.lookup") == 25.0)
    assert(b("connector.rows_read.lookup") == 78.5)
    assert(b("connector.write_task_ms.upsert") == 18.0)
    assert(!b.contains("connector.write_task_ms.lookup"))
    assert(b("format.files_per_read") == 8.0)
    // folded over all ops
    assert(b("spark.jobs_per_op") == 1.0)
    assert(b("spark.task_ms_per_op") == (40 + 10 + 18) / 3.0)
    assert(b("spark.spill_bytes_per_op") == 5 / 3.0)
    assert(b("api.read_ms") == 57.5)
  }
}
