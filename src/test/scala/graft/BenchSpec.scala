package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The driver parses Bench's JSON line out of a bounded 2000-char log
  * tail; r2 and r5 overflowed it and the round's bench parsed as null.
  * Pin the emitter's contract: any query count must fit the window and
  * stay valid JSON with the heaviest entries individually visible.
  */
class BenchSpec extends AnyFunSuite {

  test("200-query bench line fits the driver tail window and parses") {
    val results = (1 to 200).map(i =>
      (f"q_some_rather_long_query_name_$i%03d", i * 0.037))
    val line = Bench.renderLine(results, "/root/testdata/sf0.1",
      noise = Seq(0.41, 0.63))
    // the noise marker rides along and stays parseable
    val vn = JsonMethods.parse(line)
    assert((vn \ "noise_probe_start_sec")
      .extract[Double](DefaultFormats, manifest[Double]) == 0.41)
    assert((vn \ "noise_spread_pct")
      .extract[Double](DefaultFormats, manifest[Double]) > 50.0)
    // a single-pass line carries no pass marker (nothing to certify)
    assert((vn \ "passes") == JNothing)
    assert(line.length < 1999, s"line is ${line.length} chars")
    val v = JsonMethods.parse(line) // throws on malformed JSON
    assert((v \ "n_queries").extract[Int](DefaultFormats, manifest[Int]) == 200)
    assert((v \ "sf").extract[Double](DefaultFormats, manifest[Double]) == 0.1)
    val JObject(qs) = (v \ "queries"): @unchecked
    // heaviest query always survives individually; the tail folds into
    // one counted "other" entry and the parts sum back to the total
    assert(qs.head._1 == "q_some_rather_long_query_name_200")
    val other = qs.filter(_._1.startsWith("other_"))
    assert(other.size == 1, "long tail must fold into one counted entry")
    val counted = other.head._1.stripPrefix("other_").stripSuffix("_queries").toInt
    assert(counted == 200 - (qs.size - 1))
    val total = (v \ "value").extract[Double](DefaultFormats, manifest[Double])
    val sumParts = qs.map(_._2.extract[Double](DefaultFormats, manifest[Double])).sum
    assert(math.abs(total - sumParts) < 0.01 * qs.size,
      s"total $total vs summed entries $sumParts")
  }

  test("two-pass line carries passes, pass_totals, mid probe — and fits") {
    // the noisy-host path: three probes (start/mid/end), spread is the
    // WORST pairwise drift, and the pass summary self-certifies that
    // every figure is a minimum over two full passes
    val results = (1 to 200).map(i =>
      (f"q_some_rather_long_query_name_$i%03d", i * 0.037))
    val line = Bench.renderLine(results, "/root/testdata/sf0.1",
      noise = Seq(0.40, 0.80, 0.44), passes = 2,
      passTotals = Seq(115.62, 62.24))
    assert(line.length < 1999, s"line is ${line.length} chars")
    val v = JsonMethods.parse(line)
    assert((v \ "passes").extract[Int](DefaultFormats, manifest[Int]) == 2)
    val JArray(pt) = (v \ "pass_totals"): @unchecked
    assert(pt.map(_.extract[Double](DefaultFormats, manifest[Double]))
      == List(115.62, 62.24))
    assert((v \ "noise_probe_mid_sec")
      .extract[Double](DefaultFormats, manifest[Double]) == 0.8)
    // worst pairwise: (0.80 - 0.40) / 0.40 = 100%
    assert(math.abs((v \ "noise_spread_pct")
      .extract[Double](DefaultFormats, manifest[Double]) - 100.0) < 0.01)
  }

  test("failed queries are named in the line; absent when all succeed") {
    // a failed query's recorded figure is its time-to-FAILURE — the
    // line must name it so a fast error never reads as a speedup
    val line = Bench.renderLine(
      Seq(("q_a", 1.2), ("q_b", 0.05)), "/root/testdata/sf0.01",
      failed = Seq("q_b"))
    val v = JsonMethods.parse(line)
    val JArray(f) = (v \ "failed"): @unchecked
    assert(f.map(_.extract[String](DefaultFormats, manifest[String]))
      == List("q_b"))
    val clean = Bench.renderLine(
      Seq(("q_a", 1.2), ("q_b", 0.8)), "/root/testdata/sf0.01")
    assert((JsonMethods.parse(clean) \ "failed") == JNothing)
  }

  test("pass merge prefers successful measurements over fast failures") {
    // a query that throws records its time-to-failure — often a FAST
    // transient error — which must never win the min under passes:2
    val merged = Bench.mergePasses(
      Seq(("a", 1.2, true), ("b", 0.05, false), ("c", 0.3, false),
        ("d", 2.0, true)),
      Seq(("a", 1.5, true), ("b", 1.1, true), ("c", 0.4, false),
        ("d", 1.8, true)))
    assert(merged == Seq("a" -> 1.2, "b" -> 1.1, "c" -> 0.3, "d" -> 1.8))
    intercept[IllegalArgumentException](
      Bench.mergePasses(Seq(("a", 1.0, true)), Seq(("b", 1.0, true))))
  }

  test("retried certification line fits the window and stamps verdict") {
    // worst case: 3 attempts x 2 passes -> 6 pass totals, 3 probes,
    // certified:false — the longest fixed-field suffix the line can
    // carry must still leave the heaviest queries individually visible
    val results = (1 to 200).map(i =>
      (f"q_some_rather_long_query_name_$i%03d", i * 0.037))
    val line = Bench.renderLine(results, "/root/testdata/sf0.1",
      noise = Seq(0.40, 0.80, 0.44), passes = 6,
      passTotals = Seq(115.62, 92.24, 88.61, 84.99, 90.12, 83.03),
      failed = Seq("q_some_rather_long_query_name_007"),
      certified = Some(false), attempts = 3)
    assert(line.length < 1999, s"line is ${line.length} chars")
    val v = JsonMethods.parse(line)
    assert((v \ "certified").extract[Boolean](DefaultFormats,
      manifest[Boolean]) == false)
    assert((v \ "attempts").extract[Int](DefaultFormats,
      manifest[Int]) == 3)
    assert((v \ "passes").extract[Int](DefaultFormats, manifest[Int]) == 6)
    // a quiet run stamps true
    val quiet = Bench.renderLine(Seq(("q_a", 1.0)), "/root/testdata/sf0.1",
      noise = Seq(0.40, 0.42, 0.44), passes = 2,
      passTotals = Seq(1.2, 1.0), certified = Some(true), attempts = 1)
    assert((JsonMethods.parse(quiet) \ "certified")
      .extract[Boolean](DefaultFormats, manifest[Boolean]) == true)
    // single-pass local iteration carries no certification claim
    val single = Bench.renderLine(Seq(("q_a", 1.0)), "/root/testdata/sf0.1")
    assert((JsonMethods.parse(single) \ "certified") == JNothing)
  }

  test("mergeAllPasses: minima over all attempts' successful passes") {
    val (merged, failed) = Bench.mergeAllPasses(Seq(
      Seq(("a", 1.2, true), ("b", 0.05, false)),
      Seq(("a", 1.5, true), ("b", 1.1, true)),
      Seq(("a", 0.9, true), ("b", 0.03, false)),
      Seq(("a", 1.1, true), ("b", 1.4, true))))
    // a: min over 4 ok; b: min over the two OK passes only — the fast
    // failures (0.05/0.03) must never win
    assert(merged == Seq("a" -> 0.9, "b" -> 1.1))
    assert(failed.isEmpty)
    val (m2, f2) = Bench.mergeAllPasses(Seq(
      Seq(("x", 0.5, false)), Seq(("x", 0.2, false))))
    assert(m2 == Seq("x" -> 0.2) && f2 == Seq("x"))
    intercept[IllegalArgumentException](Bench.mergeAllPasses(Seq(
      Seq(("a", 1.0, true)), Seq(("b", 1.0, true)))))
  }

  test("spreadPct: worst pairwise drift; None without two probes") {
    assert(Bench.spreadPct(Seq(0.40, 0.80, 0.44)).exists(
      s => math.abs(s - 100.0) < 0.01))
    assert(Bench.spreadPct(Seq(0.5)).isEmpty)
    assert(Bench.spreadPct(Nil).isEmpty)
    assert(Bench.spreadPct(Seq(0.0, 1.0)).isEmpty) // degenerate probe
    assert(Bench.spreadPct(Seq(0.40, 0.44)).exists(_ < Bench.CertifySpreadPct))
  }

  test("small inventory emits every query with no folding") {
    val line = Bench.renderLine(
      Seq(("q_a", 1.234), ("q_b", 0.001), ("q_c", 12.0)), "/root/testdata/sf0.01")
    val v = JsonMethods.parse(line)
    val JObject(qs) = (v \ "queries"): @unchecked
    assert(qs.map(_._1) == List("q_c", "q_a", "q_b")) // heaviest first
    assert(!qs.exists(_._1.startsWith("other_")))
  }

  test("family isolation: memo-owning families release to CLEAN executors") {
    // the r8/r9 lesson: untouched plans regressing round-over-round are
    // first suspected of inherited executor storage — so the bench
    // releases each family's cached artifacts at its boundary and
    // verifies nothing survives. This pins that contract for the four
    // cache-backed families (c, d, s, t) on a live session.
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      val dir = "/root/testdata/sf0.001"

      // d family: pairs + labels memos pin persisted/checkpointed RDDs
      assert(SparkEntry.queries("d_dup_clusters")(spark, dir).count() >= 1)
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
        "the d family must be memo-backed while it runs")
      val dLeaks = Bench.releaseFamily(spark, "d", dir)
      assert(dLeaks.isEmpty, s"d family left storage behind: $dLeaks")

      // c family: connector setup memo (tables + temp warehouse)
      assert(SparkEntry.queries("c_append_scan")(spark, dir).count() > 0)
      val cLeaks = Bench.releaseFamily(spark, "c", dir)
      assert(cLeaks.isEmpty, s"c family left storage behind: $cLeaks")

      // stream rows: state-store providers unload at the boundary
      assert(SparkEntry.queries("c_stream_agg")(spark, dir).count() > 0)
      val streamLeaks = Bench.releaseFamily(spark, "c", dir)
      assert(streamLeaks.isEmpty,
        s"stream state survived the boundary: $streamLeaks")

      // s family: the IVF model (persisted codes + cell index) and the
      // PQ codebook, codes and ADC table built from it
      import graft.queries.ArtifactCache
      assert(SparkEntry.queries("s_ivf_train")(spark, dir).count() >= 1)
      assert(SparkEntry.queries("s_pq_search")(spark, dir).count() >= 1)
      assert(ArtifactCache.built(spark, dir).nonEmpty,
        "the s family must be cache-backed while it runs")
      val sLeaks = Bench.releaseFamily(spark, "s", dir)
      assert(sLeaks.isEmpty, s"s family left storage behind: $sLeaks")
      assert(ArtifactCache.built(spark, dir).isEmpty,
        s"s family left cache entries: ${ArtifactCache.built(spark, dir)}")

      // t family: the BPE merge list is driver-side only, but it must
      // go too, or a second bench pass times t_bpe_* against a warm
      // merge list instead of re-measuring the cold-family work
      assert(SparkEntry.queries("t_bpe_train")(spark, dir).count() >= 1)
      assert(ArtifactCache.built(spark, dir).nonEmpty,
        "t_bpe_train must cache its merge list")
      val tLeaks = Bench.releaseFamily(spark, "t", dir)
      assert(tLeaks.isEmpty, s"t family left storage behind: $tLeaks")
      assert(ArtifactCache.built(spark, dir).isEmpty,
        s"t family left cache entries: ${ArtifactCache.built(spark, dir)}")

      // a memo-free family releases to clean executors trivially
      assert(SparkEntry.queries("q_topk_orders")(spark, dir).count() > 0)
      assert(Bench.releaseFamily(spark, "q", dir).isEmpty)
    } finally spark.stop()
  }
}
