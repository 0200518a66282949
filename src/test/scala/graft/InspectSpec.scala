package graft

import graft.tools.Inspect
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** `graft.tools.Inspect`: per-run attribution of the timer's listener
  * and the section layout of `plan`.
  */
class InspectSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("WARN")

  override def afterAll(): Unit = spark.stop()

  test("time: back-to-back runs of a shuffling query report the same " +
      "non-zero shuffle bytes") {
    val runs = Inspect.time(spark, 2)(
      spark.range(0L, 20000L, 1L, 4).groupBy((col("id") % 97).as("g")).count())
    assert(runs.size == 2)
    assert(runs.forall(_.settled), runs)
    assert(runs.forall(_.rows == 97L), runs)
    assert(runs.head.shuffleWrite > 0 && runs.head.shuffleRead > 0, runs)
    assert(runs(1).shuffleWrite == runs.head.shuffleWrite, runs)
    assert(runs(1).shuffleRead == runs.head.shuffleRead, runs)
    assert(runs.forall(_.log.exists(_.startsWith("stage"))), runs)
  }

  test("plan: one section per requested name, internal frames included") {
    val md = Inspect.plan(spark, sf, Seq("q5_region_revenue",
      "crossSourceOverlapAgg"))
    val heads = md.linesIterator.filter(_.startsWith("## ")).toSeq
    assert(heads == Seq("## q5_region_revenue", "## crossSourceOverlapAgg"))
    assert(md.split("== Physical Plan ==", -1).length == 3, md)
    val e = intercept[IllegalArgumentException](
      Inspect.plan(spark, sf, Seq("no_such_row")))
    assert(e.getMessage.contains("no_such_row"), e.getMessage)
  }
}
