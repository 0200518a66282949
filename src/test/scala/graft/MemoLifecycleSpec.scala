package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.queries.{ArtifactCache => Cache}

/** Lifecycle of the session-scoped artifact cache
  * (`graft.queries.ArtifactCache`), the one store for what several
  * queries of a family build once and share: the connector setup's
  * namespace, tables and stream dirs, the near-dup pair frame and the
  * estimator-eval per-doc frame, the dup-cluster label checkpoint, the
  * trained IVF model with its PQ codebook, codes and ADC table, and the
  * BPE merge list. A long-lived session sweeping many corpus dirs must
  * be able to RELEASE what a dir's queries pinned instead of
  * accumulating one corpus's worth of executor storage / disk per dir
  * until shutdown; entries are per session; a failed build stores
  * nothing; nested and concurrent builds work.
  */
class MemoLifecycleSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    // getOrCreate shares the SparkContext with any suite that ran
    // earlier in this JVM — start from a clean slate so the
    // empty-storage assertions below are order-independent
    Cache.releaseAll()
  }
  override def afterAll(): Unit = spark.stop()

  test("connector setup releases its per-dir namespace and tables") {
    val dir = "/root/testdata/sf0.001"
    assert(SparkEntry.queries("c_append_scan")(spark, dir).count() > 0)
    val ns = graft.queries.ConnectorQ.activeNamespace(spark, dir)
      .getOrElse(fail("setup must have memoized its namespace"))
    assert(spark.sql(s"SHOW TABLES IN graft_c.$ns").count() > 0,
      "setup must have created tables in the per-dir namespace")
    Cache.release(spark, dir)
    val nss = spark.sql("SHOW NAMESPACES IN graft_c")
      .collect().map(_.getString(0)).toSet
    assert(!nss.contains(ns), s"namespace $ns must be dropped, got $nss")
    // the same dir sets up again from scratch on next use
    assert(SparkEntry.queries("c_append_scan")(spark, dir).count() > 0)
    Cache.release(spark, dir)
  }

  test("a second session in the same JVM gets its own connector setup") {
    // the cache keys by (session identity, dir): serving session A's
    // Setup to session B would hand B a namespace in a catalog B's
    // session conf never configured ("Catalog graft_c not found")
    val dir = "/root/testdata/sf0.001"
    assert(SparkEntry.queries("c_append_scan")(spark, dir).count() > 0)
    val s2 = spark.newSession()
    assert(SparkEntry.queries("c_append_scan")(s2, dir).count() > 0)
    assert(graft.queries.ConnectorQ.activeNamespace(s2, dir).isDefined)
    assert(graft.queries.ConnectorQ.activeNamespace(s2, dir) !=
      graft.queries.ConnectorQ.activeNamespace(spark, dir),
      "sessions must not share a namespace")
    Cache.release(s2, dir)
    Cache.release(spark, dir)
  }

  test("near-dup pair memo releases executor storage per dir") {
    val d1 = "/root/testdata/sf0.001"
    val d2 = "/root/testdata/sf0.01"
    assert(graft.queries.Dedup.nearDupPairs(spark, d1).count() >= 0)
    assert(graft.queries.Dedup.nearDupPairs(spark, d2).count() >= 0)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "the memoized pair frames are persisted")
    Cache.release(spark, d1)
    Cache.release(spark, d2)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked persisted RDDs: ${spark.sparkContext.getPersistentRDDs.keySet}")
    // double-release is a no-op; next use recomputes
    Cache.release(spark, d1)
    assert(graft.queries.Dedup.nearDupPairs(spark, d1).count() >= 0)
    Cache.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("ivf model memo trains once, is shared, and releases its codes") {
    val d1 = "/root/testdata/sf0.001"
    val train = SparkEntry.queries("s_ivf_train")(spark, d1)
    assert(train.count() >= 1)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "the memoized quantized-code frame is persisted")
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    // search must REUSE the trained model, not train a second one
    assert(SparkEntry.queries("s_ivf_search")(spark, d1).count() >= 1)
    assert(spark.sparkContext.getPersistentRDDs.keySet == pinned,
      "s_ivf_search must not pin a second codes cache")
    Cache.release(spark, d1)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked: ${spark.sparkContext.getPersistentRDDs.keySet}")
    // double-release is a no-op; next use retrains from scratch
    Cache.release(spark, d1)
    assert(SparkEntry.queries("s_ivf_train")(spark, d1).count() >= 1)
    Cache.release(spark, d1)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("stream sink state does not survive a connector release") {
    // the file-sink stream keys its checkpoint + output by ns; a
    // release must delete both, or a re-setup of the same dir would
    // resume from the dropped incarnation's offsets (and re-serve its
    // old sink files) against freshly rebuilt tables
    val dir = "/root/testdata/sf0.001"
    val first = SparkEntry.queries("c_stream_dedup_wm")(spark, dir)
      .collect().toSeq
    assert(first.nonEmpty)
    val wh = spark.conf.get("spark.sql.catalog.graft_c.warehouse")
    val streams = java.nio.file.Paths.get(wh, "_streams")
    assert(java.nio.file.Files.list(streams).count() > 0,
      "the stream row must have created its sink dir")
    Cache.release(spark, dir)
    assert(!java.nio.file.Files.exists(streams) ||
      java.nio.file.Files.list(streams).count() == 0,
      "release must delete the per-ns stream state")
    // the same dir re-runs from a fresh checkpoint and agrees
    val second = SparkEntry.queries("c_stream_dedup_wm")(spark, dir)
      .collect().toSeq
    assert(second == first, s"re-run diverged: $second vs $first")
    Cache.release(spark, dir)
  }

  test("session tokens are stable per session and never shared") {
    import graft.queries.SessionKey
    // cache keys use SessionKey, not System.identityHashCode: identity
    // hashes can be REUSED after a session is GC'd, handing a
    // recreated session a dead session's entries (a DataFrame bound to
    // a stopped session, or a skipped brute-force cap validation)
    val s2 = spark.newSession()
    val s3 = spark.newSession()
    assert(SessionKey.id(spark) == SessionKey.id(spark), "stable")
    assert(Set(SessionKey.id(spark), SessionKey.id(s2), SessionKey.id(s3))
      .size == 3, "three sessions, three tokens")
    assert(SessionKey.shortId(s2).matches("[0-9a-f]{12}"),
      "shortId must be identifier-safe hex")
    assert(SessionKey.shortId(s2) != SessionKey.shortId(s3))
  }

  test("a recreated session computes its own ivf model, never inherits") {
    val d1 = "/root/testdata/sf0.001"
    Cache.releaseAll()
    val model = "similarity.ivfModel"
    try {
      val s2 = spark.newSession()
      assert(SparkEntry.queries("s_ivf_train")(s2, d1).count() >= 1)
      assert(Cache.built(s2, d1).contains(model))
      // a session created LATER (after s2 is out of use — in
      // production, GC'd and its identity hash reusable) must get its
      // OWN cache entry rather than being served s2's (shared-context
      // block reuse via the CacheManager is fine; key collision is not)
      val s3 = spark.newSession()
      assert(graft.queries.SessionKey.id(s3) !=
        graft.queries.SessionKey.id(s2))
      assert(SparkEntry.queries("s_ivf_train")(s3, d1).count() >= 1)
      assert(Cache.built(s3, d1).contains(model) &&
        Cache.built(s2, d1).contains(model),
        "s3 must have built its own entry, not inherited s2's")
    } finally {
      Cache.releaseAll()
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("dup-cluster label memo releases its checkpoint storage") {
    val d1 = "/root/testdata/sf0.001"
    assert(SparkEntry.queries("d_dup_clusters")(spark, d1).count() == 1)
    assert(SparkEntry.queries("d_dedup_apply")(spark, d1).count() >= 1)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "pairs + label checkpoint are persisted")
    Cache.release(spark, d1)
    assert(Cache.built(spark, d1).isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked: ${spark.sparkContext.getPersistentRDDs.keySet}")
  }

  test("a build that throws stores nothing; the next request builds again") {
    val dir = "/nonexistent/cache-throw"
    var builds = 0
    def request(fail: Boolean): Int = Cache(spark, dir, "flaky") {
      builds += 1
      if (fail) throw new IllegalStateException("planted build failure")
      builds
    }
    intercept[IllegalStateException](request(fail = true))
    assert(Cache.built(spark, dir).isEmpty, "a failed build left an entry")
    assert(request(fail = false) == 2, "the next request must build again")
    assert(request(fail = true) == 2, "a built entry is served, not rebuilt")
    assert(builds == 2)
    Cache.release(spark, dir)
  }

  test("nested builds work; concurrent requests build once; release runs once") {
    val dir = "/nonexistent/cache-nested"
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val releases = new java.util.concurrent.atomic.AtomicInteger()
    // the outer build requests another entry from inside its own build
    // (the PQ codes -> codebook -> IVF model chain, in miniature)
    def inner(): Int = Cache(spark, dir, "inner") { builds.incrementAndGet(); 1 }
    def outer(): Int = Cache(spark, dir, "outer",
        (_: Int) => { releases.incrementAndGet(); () }) {
      builds.incrementAndGet()
      Thread.sleep(100) // hold the build open while other callers arrive
      inner() + 1
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val fs = (1 to 4).map(_ => pool.submit(
        new java.util.concurrent.Callable[Int] { def call(): Int = outer() }))
      assert(fs.map(_.get()) == Seq(2, 2, 2, 2))
    } finally pool.shutdown()
    assert(builds.get() == 2, s"each key must build once, got ${builds.get()}")
    assert(Cache.built(spark, dir) == Set("inner", "outer"))
    Cache.release(spark, dir)
    Cache.release(spark, dir) // double release is a no-op
    assert(releases.get() == 1)
    assert(Cache.built(spark, dir).isEmpty)
  }
}
