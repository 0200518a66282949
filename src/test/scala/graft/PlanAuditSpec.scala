package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Plan-shape regression guards for the scale-critical queries: these
  * assert the PHYSICAL plan properties that keep each query viable at
  * 100x the test data — no sf-proportional broadcast builds, map-only
  * where a shuffle was eliminated, pushdown reaching the scan. A
  * wrong-but-green plan (correct rows, quadratic or OOM-bound shape)
  * fails here instead of in production.
  */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  private def hintTargets(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h.child
    }

  /** The IVF/PQ serving broadcast rule: a forced-broadcast target is
    * probe-bounded if it carries the probe filter (vec_id < 10), or if
    * every leaf is a driver-local table and those tables hold at most
    * `maxLocalRows` rows in total. Callers pass a literal bound: 16 for
    * s_ivf_search (the model's seed rows, vec_id < 16) and 1280 for the
    * PQ rows (the ADC table, 10 probes × M=8 × K=16). A literal on
    * purpose: a seed set or table grown to corpus scale must fail this
    * audit, not move its bound along with it.
    */
  private def ivfProbeBounded(
      target: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      maxLocalRows: Int): Boolean = {
    val probeFiltered =
      """vec_id#\d+L? < (cast\()?10""".r.findFirstIn(target.toString).isDefined
    val leaves = target.collectLeaves()
    val localRows = leaves.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l.data.size
    }
    val smallLocalTable =
      localRows.size == leaves.size && localRows.sum <= maxLocalRows
    probeFiltered || smallLocalTable
  }

  test("fact-proportional joins carry no forced broadcast of the big side") {
    // q3/q5/q_part_type_revenue join lineitem against sf-proportional
    // dims (customer/orders/part): with AQE free to choose, the LOGICAL
    // plan must not force a broadcast hint on them. (AQE may still
    // broadcast a filtered dim at tiny sf — that's the point: the
    // decision belongs to stats, not the query.)
    for (q <- Seq("q3_shipping_priority", "q5_region_revenue",
        "q_part_type_revenue", "q_ship_delay")) {
      val logical = SparkEntry.queries(q)(spark, sf)
        .queryExecution.optimizedPlan.toString
      assert(!logical.contains("ResolvedHint"),
        s"$q must not force a broadcast hint on an sf-proportional side")
    }
  }

  test("t_trigram_distinct is map-only up to its final sort") {
    val p = plan("t_trigram_distinct")
    assert(!p.contains("Window"), "trigrams must not use window functions")
    // exactly the orderBy's range-partition exchange, nothing else
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"expected at most the final sort exchange, got:\n$p")
  }

  test("s_hyperplane_lsh aggregates map-side before one small shuffle") {
    val p = plan("s_hyperplane_lsh")
    assert(p.contains("HashAggregate"), "signature histogram must hash-aggregate")
    assert("Exchange".r.findAllIn(p).size <= 2,
      s"partial agg + final sort only, got:\n$p")
  }

  test("predicate and projection pushdown reach the parquet scan") {
    val df = SparkEntry.queries("p_greater_than")(spark, sf)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [") && !scan.contains("PushedFilters: []"),
      s"filter must be pushed to the scan:\n$scan")
  }

  test("d_embedding_neardup joins on the salted (label, blk) key") {
    val p = plan("d_embedding_neardup")
    assert(p.contains("blk"),
      "cell self-join must include the sub-block salt in its key")
  }

  test("d_embedding_lsh_neardup joins on the salted (sig, blk) key") {
    // the 8-bit signature space is fixed, so bucket population grows
    // linearly with the corpus: the self-join must carry the sub-block
    // salt to bound per-task candidate pairs (the QueryDef materializes
    // eagerly, so the audit inspects the exposed pipeline)
    val (df, sigs) = graft.queries.Similarity.lshNearDupAgg(spark, sf)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    val selfJoin = joins.filter(_.condition.exists { c =>
      val names = c.references.map(_.name).toSet
      names.contains("ida") && names.contains("idb")
    })
    assert(selfJoin.nonEmpty, "expected the ida/idb candidate self-join")
    assert(selfJoin.forall { j =>
      val keys = j.condition.get.references.map(_.name).toSet
      keys.contains("blk") && keys.contains("sig")
    }, s"sig self-join must include the sub-block salt:\n${selfJoin.mkString}")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"salted LSH join must stay equi-join shaped:\n$p")
    sigs.unpersist(blocking = true)
  }

  test("s_quantize_int8 broadcasts the per-dimension stats") {
    // the stats side is 64 rows by construction; the codes join must
    // be a broadcast, never a shuffle of the exploded corpus on dim —
    // and nothing here may degenerate to a cartesian shape
    val p = plan("s_quantize_int8")
    assert(p.contains("BroadcastExchange"),
      s"64-row stats must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no all-pairs shapes:\n$p")
  }

  test("t_pack_context_windows is one sort-shuffle plus the final order") {
    // cum-sum window partitioned by lang; the per-lang rollup reuses
    // that partitioning, so only the window exchange and the final
    // ORDER BY range exchange may appear
    val p = plan("t_pack_context_windows")
    assert(p.contains("Window"), s"packing needs the cum-sum window:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 3,
      s"window shuffle + final sort only, got:\n$p")
  }

  test("q_range_join plans an equi-join on the day bucket, not a BNL") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join must bin to an equi-join:\n$p")
  }

  test("s_ivf_search: cell equi-join with broadcast probes, no cartesian") {
    try {
      val df = graft.queries.Similarity.ivfSearchTopK(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"candidate generation must be the cid equi-join:\n$p")
      // the probe-cell and probe-embedding sides are bounded (probes ×
      // nprobe) and carry explicit broadcast() hints; the corpus side
      // must never be FORCED to broadcast. Every hint target in the
      // analyzed plan must be probe-bounded in one of two forms: it
      // carries the probe filter (vec_id < 10), or it is a driver-local
      // table of at most 16 rows in total (the probe frames built from
      // the model's seed rows). 16 is a literal, not the program's seed
      // constant, so growing the seed set to corpus scale fails here.
      // (Stats may still broadcast the tiny corpus at this sf — that
      // decision belongs to stats, same rule as the fact-join test.)
      val hints = hintTargets(df)
      assert(hints.nonEmpty, s"bounded probe sides must carry hints:\n$p")
      hints.foreach { h =>
        assert(ivfProbeBounded(h, 16),
          s"a forced-broadcast side carries neither the probe filter " +
            s"(vec_id < 10) nor is a local table of at most 16 rows " +
            s"— corpus broadcast?\n$h")
      }
    } finally graft.queries.ArtifactCache.release(spark, sf)
  }

  test("s_ivf_search audit rule rejects corpus and over-bound local broadcasts") {
    // the rule must still catch what the filter-only rule caught (a
    // forced broadcast of the unfiltered corpus scan) and must not
    // accept a local table merely for being local: a corpus collected
    // to the driver and re-wrapped as a local frame fails on rows
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.broadcast
    def target(df: org.apache.spark.sql.DataFrame) = {
      val hs = hintTargets(df)
      assert(hs.size == 1, s"expected one hint target:\n$hs")
      hs.head
    }
    val corpus = target(broadcast(spark.read.parquet(s"$sf/embeddings.parquet")))
    assert(!ivfProbeBounded(corpus, 16),
      s"unfiltered corpus scan must be rejected:\n$corpus")
    val local17 = target(broadcast((0L until 17L).toDF("vec_id")))
    assert(!ivfProbeBounded(local17, 16),
      s"a 17-row local frame must be rejected:\n$local17")
    val local10 = target(broadcast((0L until 10L).toDF("vec_id")))
    assert(ivfProbeBounded(local10, 16),
      s"a 10-row local frame must be accepted:\n$local10")
    val local1281 = target(broadcast((0L until 1281L).toDF("vec_id")))
    assert(!ivfProbeBounded(local1281, 1280),
      s"a 1281-row local frame must be rejected at the PQ bound:\n$local1281")
  }

  test("s_pq_search: ADC join on (m, code) with bounded broadcasts only") {
    try {
      val df = graft.queries.Similarity.pqSearchTopK(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"ADC scoring must stay equi-join shaped:\n$p")
      // forced broadcasts: the probe-cell route (vec_id < 10) and the
      // driver-built ADC lookup table (a LocalRelation of at most
      // probes×M×K = 1280 rows) — never the corpus code side
      val hints = hintTargets(df)
      assert(hints.nonEmpty, s"bounded sides must carry hints:\n$p")
      hints.foreach { h =>
        assert(ivfProbeBounded(h, 1280),
          s"a forced-broadcast side is neither probe-bounded nor a " +
            s"local table of at most 1280 rows — corpus broadcast?\n$h")
      }
    } finally graft.queries.ArtifactCache.release(spark, sf)
  }

  test("s_pq_rerank: exact re-rank reads only bounded broadcast sides") {
    try {
      val df = graft.queries.Similarity.pqRerankTopK(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"re-rank must stay equi-join shaped:\n$p")
      // forced broadcasts: probe-bounded sides (vec_id < 10), the
      // driver-built ADC table (a LocalRelation of at most 1280 rows),
      // and the SHORTLIST — bounded to probes x R rows by its rank <= R
      // filter even though its lineage includes corpus scans. The
      // corpus code side itself must never carry a broadcast hint.
      val hints = hintTargets(df)
      assert(hints.nonEmpty, s"bounded sides must carry hints:\n$p")
      hints.foreach { h =>
        val txt = h.toString
        val shortlistBounded =
          """(rank|lr)#\d+ <= 20""".r.findFirstIn(txt).isDefined
        assert(ivfProbeBounded(h, 1280) || shortlistBounded,
          s"a forced-broadcast side is neither probe-bounded, a local " +
            s"table of at most 1280 rows, nor the rank-bounded " +
            s"shortlist — corpus broadcast?\n$txt")
      }
    } finally graft.queries.ArtifactCache.release(spark, sf)
  }

  test("q_hll_distinct_users: register build is one aggregation pass") {
    val p = plan("q_hll_distinct_users")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the exact side (COUNT DISTINCT) joins the 64-registers-per-group
    // side on event_type — both are group-count-sized, so ANY join
    // strategy is fine; what must never appear is a corpus-side
    // broadcast build
    assert(!p.contains("InMemoryRelation"), s"sketch must not cache:\n$p")
  }

  test("q_cms_heavy_hitters: counter table broadcasts, probes stay top-k") {
    val p = plan("q_cms_heavy_hitters")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the d*w=256-counter table is the broadcast side by construction;
    // the probe side must be bounded by a limit (exact top-10)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"CMS cells should broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject") || p.contains("GlobalLimit"),
      s"probe side must be a bounded top-k:\n$p")
  }

  test("t_bpe_encode: pure map up to the per-source fold") {
    val p = plan("t_bpe_encode")
    assert(!p.contains("Join"), s"encode must not join a vocabulary:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"one per-source aggregation shuffle only:\n$p")
  }

  test("d_cross_source_overlap: one pass, two shuffles, join-free") {
    val agg = graft.queries.Dedup.crossSourceOverlapAgg(spark, sf)
    val p = agg.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"no all-pairs shapes anywhere:\n$p")
    // no joins and no cache: totals AND pair counts fold out of the
    // same per-shingle source sets; a corpus-scale (source,shingle)
    // self-join would add join exchanges, a persist would add an
    // InMemoryRelation — both fail here
    assert(!p.contains("Join"), s"pair counting must be join-free:\n$p")
    assert(!p.contains("InMemoryRelation"),
      s"one-pass shape must not cache:\n$p")
    // REPARTITION_BY_NUM exchanges are tSpreadHeavy's few-splits
    // guard (spread a one-split scan before the md5-heavy map; no-op
    // at real split counts) — identity on the data, excluded from the
    // aggregation-shuffle budget
    val aggExchanges = "Exchange hashpartitioning[^\n]*".r.findAllIn(p)
      .filterNot(_.contains("REPARTITION_BY_NUM")).size
    assert(aggExchanges <= 2,
      s"shingle agg + pair agg only, got:\n$p")
  }

  test("d_dup_spans: span-hash window + per-doc fold, no join, no cache") {
    val p = plan("d_dup_spans")
    // the doc count per span comes from a window over the 8-byte span
    // hash feeding straight into the per-doc aggregate — a join back
    // (or a persisted second subtree) would double the span explode
    assert(!p.contains("Join"), s"dup-span ratio must be join-free:\n$p")
    assert(!p.contains("InMemoryTableScan"),
      s"single-subtree plan must not cache:\n$p")
    assert(p.contains("Window"), s"per-span doc count must be a window:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 3,
      s"hash(h) window + hash(doc_id) fold + final sort only, got:\n$p")
  }

  test("t_distinctive_terms: one corpus shuffle, then vocab-sized windows") {
    val p = plan("t_distinctive_terms")
    // the only corpus-scale exchange is the (source, term) partial agg;
    // document frequency is a window over the term (no join back — a
    // join would re-run the token explode), ranking a second window
    assert(!p.contains("Join"), s"df-by-window must stay join-free:\n$p")
    assert(p.contains("Window"), s"expected df/rank windows:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 4,
      s"agg + term window + source window + final sort only, got:\n$p")
  }

  test("d_dup_clusters: pair pipeline and propagation stay scale-sane") {
    // the LSH pair pipeline: its only broadcast is the bounded
    // mega-bucket guard (anti-join side capped at #buckets > MaxBucket),
    // never a corpus-proportional relation, and the bucket self-join is
    // an equi-join — quadratic shapes fail here before they fail at SF
    val pairs = graft.queries.Dedup.nearDupPairs(spark, sf)
    val pp = pairs.queryExecution.executedPlan.toString
    assert(!pp.contains("CartesianProduct") &&
      !pp.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay equi-join shaped:\n$pp")

    // the final clusters aggregate must read MATERIALIZED labels —
    // either the star-contraction loop's localCheckpoint (ExistingRDD,
    // big-graph path) or the driver union-find's constant-size local
    // relation (LocalTableScan, <= MaxDriverEdges path); replayed
    // propagation lineage would show neither
    val df = SparkEntry.queries("d_dup_clusters")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD") ||
      p.contains("LocalTableScan"),
      s"labels must come from a checkpoint or local relation:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 2,
      s"cluster-size rollup is two aggregations, got:\n$p")
  }
}
