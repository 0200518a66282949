package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Tag

object Slow extends Tag("graft.Slow")

/** Scale canary for the MinHash+LSH dedup family: a synthetic corpus
  * with PLANTED skew (one mega-group far over MaxBucket, plus clean
  * near-dup groups) measures what the code comments claim — the skew
  * guard keeps every task's work bounded while recall on honest
  * near-dup groups survives. Without the guard, the mega-group's band
  * buckets would put ~10k^2/2 candidate pairs in single tasks (~200M
  * rows); the per-task shuffle-write ceiling asserted here would trip.
  */
class DedupScaleCanarySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("WARN")
  override def afterAll(): Unit = spark.stop()

  test("LSH pipeline: bounded per-task work, recall intact under skew",
      Slow) {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-canary")

    // 50-word base vocabulary line, deterministic. Words must be
    // PURELY alphabetic: the tokenizer is ascii_words ([a-z]+ runs),
    // so digits would collapse every word to the same token.
    def alpha(x0: Int): String = {
      var v = x0; val sb = new StringBuilder
      do { sb.append(('a' + v % 26).toChar); v /= 26 } while (v > 0)
      sb.toString
    }
    def words(seed: Int, n: Int): String =
      (0 until n).map(i => alpha((seed * 31 + i * 7) % 9973)).mkString(" ")

    val mega = (0 until 10000).map(i =>
      (100000L + i, words(1, 50))) // identical text -> one mega bucket
    val groups = for {
      g <- 0 until 10
      d <- 0 until 100
    } yield (200000L + g * 1000 + d,
      // near-identical within a group: one varying trailing token
      words(100 + g, 50) + s" tail${alpha(d + 1)}")
    val noise = (0 until 5000).map(i => (300000L + i,
      // strictly disjoint vocabulary per doc: zero shingle overlap
      (0 until 50).map(k => alpha(1000000 + i * 50 + k)).mkString(" ")))

    (mega ++ groups ++ noise).toDF("doc_id", "text")
      .repartition(8)
      .write.parquet(s"$dir/documents.parquet")

    // per-task ceiling: max records any single task shuffles out. The
    // guarded pipeline peaks around one full bucket per task
    // (<= MaxBucket^2/2 candidate pairs per bucket after banding);
    // the unguarded mega-group would exceed this 40x in ONE task.
    val maxTaskRecords = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          val rec = m.shuffleWriteMetrics.recordsWritten
          maxTaskRecords.getAndUpdate(cur => math.max(cur, rec))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val pairs = graft.queries.Dedup.nearDupPairs(spark, dir.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1)))

      // recall: every planted group pairs internally (identical prefix
      // of 50 words, one varying tail token -> Jaccard >> 0.5, same
      // minhash bucket). 10 groups x C(100,2).
      val grouped = pairs.filter { case (a, b) =>
        a >= 200000L && a < 300000L && (a / 1000) == (b / 1000)
      }
      assert(grouped.length >= (10 * 100 * 99 / 2 * 9) / 10,
        s"planted near-dup recall too low: ${grouped.length}")

      // the mega-group is the guard's documented trade: its buckets
      // exceed MaxBucket and are excluded (exact dedup owns them)
      val megaPairs = pairs.count { case (a, b) =>
        a >= 100000L && a < 110000L && b >= 100000L && b < 110000L
      }
      assert(megaPairs == 0,
        s"mega-bucket must be guard-dropped, got $megaPairs pairs")

      // no cross-contamination: noise docs pair with nothing
      assert(!pairs.exists { case (a, b) => a >= 300000L || b >= 300000L })

      // the measured bound: no task shuffled out more than 2M records
      // (one guarded bucket's pair space is <= 1000^2/2; the unguarded
      // mega bucket alone would write ~50M from one task)
      assert(maxTaskRecords.get() <= 2000000L,
        s"per-task work exploded: max ${maxTaskRecords.get()} records " +
          "written by one task — the skew guard is not bounding the join")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.queries.ArtifactCache.release(spark, dir.toString)
      // best-effort temp cleanup
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("windowPositions: chunked generation == one big sequence, all edges") {
    import spark.implicits._
    // lengths straddling every boundary of (k=3, chunk=5): below k,
    // exactly k (1 position), position count exactly at / one under /
    // one over a chunk multiple, and several chunks with a remainder
    val k = 3; val chunk = 5
    val docs = Seq(2, 3, 4, 7, 8, 9, 12, 13, 17, 23).zipWithIndex.map {
      case (len, i) => (i.toLong, "x" * len)
    }.toDF("doc_id", "text")
    val got = graft.queries.Dedup.windowPositions(docs, k, chunk)
      .select("doc_id", "p").as[(Long, Int)].collect().toSeq
    // no chunk may carry more than `chunk` positions (the memory bound
    // the chunking exists for)
    val perChunk = got.groupBy { case (d, p) => (d, (p - 1) / chunk) }
      .values.map(_.size)
    assert(perChunk.nonEmpty && perChunk.forall(_ <= chunk))
    val want = Seq(2, 3, 4, 7, 8, 9, 12, 13, 17, 23).zipWithIndex.flatMap {
      case (len, i) => (1 to (len - k + 1)).map(p => (i.toLong, p))
    }
    assert(got.sorted == want.sorted,
      s"chunked positions diverged: got ${got.sorted} want ${want.sorted}")
    // the production chunk width keeps small docs in ONE chunk (plan
    // shape unchanged at normal document sizes)
    assert(graft.queries.Dedup.SubChunk >= 65536)
  }
}
