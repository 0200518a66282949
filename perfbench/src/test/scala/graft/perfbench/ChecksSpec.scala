package graft.perfbench

import java.nio.file.Files
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // 64 keys; batches of 32 rows, each overlapping the next by half
  private val gen = new KvGen(seed = 11, keys = 64, rows = 32, stride = 16)

  private def state(batches: Int*): Array[Int] = {
    val s = gen.emptyState
    batches.foreach(gen.apply(s, _))
    s
  }

  /** The rows a correct table holds for `s`. */
  private def table(s: Array[Int]): Array[Row] =
    s.indices.flatMap(k => gen.row(s, k)).map { case (k, a, b, c) => Row(k, a, b, c) }.toArray

  private def frame(rows: Array[Row]) = spark.createDataFrame(
    java.util.Arrays.asList(rows: _*), KvGen.Schema)

  test("a batch has distinct keys and exactly 5% deletes") {
    val rows = gen.batch(3).toSeq
    assert(rows.map(_.getLong(0)).distinct.size == 32)
    assert(rows.count(_.getByte(4) == graft.core.RowKind.Delete) == 32 / 20)
    assert(new KvGen(11, 64, 32, 16).batch(3).toSeq == rows)
    assert(gen.batch(3, 5, 9).toSeq == rows.slice(5, 9))
  }

  test("last write wins per key, and a winning delete removes the key") {
    val s = state(0, 1)
    (0 until 32).foreach { i =>
      val k = gen.key(1, i).toInt
      assert(s(k) == (if (gen.isDelete(i)) -1 else gen.writer(1, i)))
    }
    // keys only batch 0 wrote keep its rows
    val only0 = (0 until 32).filter(i => !(0 until 32).exists(j => gen.key(1, j) == gen.key(0, i)))
    assert(only0.nonEmpty)
    only0.foreach(i => assert(s(gen.key(0, i).toInt) ==
      (if (gen.isDelete(i)) -1 else gen.writer(0, i))))
  }

  test("the live row count depends on the shape, not the seed") {
    val counts = (1L to 5L).map { seed =>
      val g = new KvGen(seed, 1 << 12, 1 << 10, 1 << 8)
      val s = g.emptyState
      (0 until 8).foreach(g.apply(s, _))
      Checks.liveRows(s)
    }
    assert(counts.distinct.size == 1)
  }

  test("mor_read's runs each cover one half of the keys, in order, four runs a key") {
    val g = MorRead.gen(seed = 3)
    val cover = new Array[Int](MorRead.Keys)
    (0 until MorRead.Runs).foreach { r =>
      val ks = (0 until MorRead.RunRows).map(g.key(r, _))
      // contiguous and not wrapping: a file's key bounds are its half's,
      // so a key filter within the other half prunes it
      assert(ks == (0 until MorRead.RunRows).map(i => (r % 2).toLong * MorRead.RunRows + i))
      ks.foreach(k => cover(k.toInt) += 1)
    }
    assert(cover.forall(_ == MorRead.Runs / 2))
  }

  test("the state check catches a resurrected deleted key") {
    val s = state(0, 1)
    val good = table(s)
    assert(Checks.sameState(gen, s, good))
    val deleted = (0 until 32).find(gen.isDelete).map(gen.key(1, _).toInt).get
    assert(s(deleted) == -1)
    val earlier = state(0)
    val stale = gen.row(earlier, deleted).map { case (k, a, b, c) => Row(k, a, b, c) }
      .getOrElse(Row(deleted.toLong, 1L, 0.25, "v1"))
    val resurrected = good :+ stale
    assert(!Checks.sameState(gen, s, resurrected))
    // the full-scan aggregate over the defective table differs too
    assert(Checks.fullAggregate(frame(good)) == Checks.expectedAggregate(gen, s))
    assert(Checks.fullAggregate(frame(resurrected)) != Checks.expectedAggregate(gen, s))
  }

  test("the state check catches a stale value, a lost key and a duplicated row") {
    val s = state(0, 1)
    val good = table(s)
    val overwritten = (0 until 32).find(i => !gen.isDelete(i) &&
      state(0)(gen.key(1, i).toInt) >= 0).map(gen.key(1, _).toInt).get
    val stale = good.map(r => if (r.getLong(0) == overwritten)
      gen.row(state(0), overwritten).map { case (k, a, b, c) => Row(k, a, b, c) }.get else r)
    assert(!Checks.sameState(gen, s, stale))
    assert(!Checks.sameState(gen, s, good.tail))
    assert(!Checks.sameState(gen, s, good.tail :+ good(1)))
  }

  test("Arrow export decoding round-trips, and catches a resurrected key") {
    val s = state(0, 1)
    val wh = Files.createTempDirectory("perfbench-arrow")
    val cat = graft.api.Catalog.create(spark, Map("warehouse" -> wh.toString))
    cat.createDatabase("t", ignoreIfExists = true)
    cat.createTable("t.kv", graft.api.Schema(KvGen.Schema, primaryKeys = Seq("k"),
      options = Map("bucket" -> "2")))
    val t = cat.getTable("t.kv")
    // both batches in one write: the later partition's rows win, as a later commit's would
    TableOps.upsert(new Tracer(false, spark.sparkContext), t, TableOps.frame(spark, gen, Seq(0, 1), 2))
    val rb = t.newReadBuilder().withProjection(Seq("k", "c"))
    val kc = Checks.arrowKeyValues(rb.newRead().toArrow())
    assert(Checks.sameKeyValues(gen, s, kc))
    assert(Checks.sameState(gen, s, t.newReadBuilder().newRead().toLocalRows()))
    val deleted = (0 until 32).find(gen.isDelete).map(gen.key(1, _)).get
    assert(!Checks.sameKeyValues(gen, s, kc :+ (deleted -> "v1")))
  }
}
