package graft

import java.nio.file.Files
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.connector.GraftReaderFactory
import graft.format.{ParquetIO, ParquetRowGroupFilter}

/** Row-group (block) pruning in the connector's columnar scan: a
  * multi-row-group file written sorted by key must serve range queries
  * from a strict subset of its blocks, with no matching row lost.
  */
class RowGroupPruneSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType)))
  private val ids = Map("k" -> 0, "v" -> 1)
  private val N = 50000L

  private lazy val file = {
    val tmp = Files.createTempDirectory("graft-rg")
    val f = tmp.resolve("multi.parquet")
    // tiny block size => many row groups; rows sorted by k so block
    // stats partition the key space (the write path sorts by pk too)
    val w = new ParquetIO.RowWriter(f, schema, ids, blockSize = 16 * 1024)
    (0L until N).foreach { i =>
      w.write(new GenericInternalRow(Array[Any](i, i * 2)))
    }
    w.close()
    f
  }

  private def blocks: Int = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRowGroups.size() finally r.close()
  }

  /** (rows served, rows matching `pred`, pruning engaged) */
  private def scan(filters: Seq[Filter], pred: Long => Boolean,
      from: java.nio.file.Path = file): (Long, Long, Boolean) = {
    val reader = new VectorizedParquetRecordReader(false, 4096)
    val pruned = GraftReaderFactory.initPruned(reader, from.toString,
      Array("k", "v"), filters, Map("k" -> "k", "v" -> "v"),
      Map("k" -> LongType, "v" -> LongType))
    if (!pruned)
      reader.initialize(from.toString, java.util.Arrays.asList("k", "v"))
    reader.initBatch(new StructType(), new GenericInternalRow(0))
    var served = 0L
    var matching = 0L
    while (reader.nextBatch()) {
      val b = reader.resultBatch()
      val col = b.column(0)
      var i = 0
      while (i < b.numRows()) {
        if (pred(col.getLong(i))) matching += 1
        i += 1
      }
      served += b.numRows()
    }
    reader.close()
    (served, matching, pruned)
  }

  test("the test file really has many row groups") {
    assert(blocks >= 4, s"expected >=4 row groups, got $blocks")
  }

  test("no filters: full scan, pruning not engaged") {
    val (served, _, pruned) = scan(Seq.empty, _ => true)
    assert(!pruned && served == N)
  }

  test("range filter prunes blocks but loses no matching row") {
    val hi = N - 1000
    val (served, matching, pruned) =
      scan(Seq(GreaterThanOrEqual("k", hi)), _ >= hi)
    assert(pruned, "predicate should engage block pruning")
    assert(matching == 1000, s"lost rows: $matching")
    assert(served < N / 2, s"expected most blocks pruned, served $served of $N")
  }

  test("point filter touches ~one block") {
    val (served, matching, pruned) = scan(Seq(EqualTo("k", 12345L)), _ == 12345L)
    assert(pruned && matching == 1)
    assert(served <= 2L * N / blocks + 4096,
      s"expected ~one block served, got $served")
  }

  test("disjunction prunes to the union of both ranges") {
    val f = Or(LessThan("k", 500L), GreaterThan("k", N - 500))
    val (served, matching, pruned) =
      scan(Seq(f), k => k < 500 || k > N - 500)
    assert(pruned && matching == 999)
    assert(served < N / 2)
  }

  test("inexpressible conjunct drops out; expressible one still prunes") {
    val f = Seq(StringStartsWith("v", "x"), GreaterThanOrEqual("k", N - 1000))
    val (served, matching, pruned) = scan(f, _ >= N - 1000)
    assert(pruned && matching == 1000 && served < N / 2)
  }

  test("widened literal out of stored range is skipped, not wrong") {
    // stored int column, filter value beyond int range: the conjunct
    // cannot be expressed -> whole file served (sound over-approx)
    val pred = ParquetRowGroupFilter.build(
      Seq(GreaterThan("k", Long.MaxValue - 1)), Map("k" -> "k"),
      Map("k" -> IntegerType))
    assert(pred.isEmpty)
  }

  /** One row group (default block size) whose `k` column spans several
    * pages: parquet-mr closes a page every 20,000 rows and writes
    * column and offset indexes. (row groups, rows per `k` page)
    */
  private lazy val paged: (java.nio.file.Path, Int, Seq[Long]) = {
    val f = Files.createTempDirectory("graft-pages").resolve("paged.parquet")
    val w = new ParquetIO.RowWriter(f, schema, ids)
    (0L until N * 2).foreach { i =>
      w.write(new GenericInternalRow(Array[Any](i, i * 2)))
    }
    w.close()
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri),
        new org.apache.hadoop.conf.Configuration()))
    try {
      val group = r.getRowGroups.get(0)
      val oi = r.readOffsetIndex(group.getColumns.get(0))
      (f, r.getRowGroups.size,
        (0 until oi.getPageCount).map(p =>
          oi.getLastRowIndex(p, group.getRowCount) - oi.getFirstRowIndex(p) + 1))
    } finally r.close()
  }

  test("point filter inside one row group serves at most one page") {
    val (f, groups, pageRows) = paged
    assert(groups == 1 && pageRows.size >= 3,
      s"expected one row group of several pages, got $groups / $pageRows")
    val key = N + 4321L
    val (served, matching, pruned) = scan(Seq(EqualTo("k", key)), _ == key, f)
    assert(pruned && matching == 1, s"lost the matching row ($matching)")
    assert(served <= pageRows.max,
      s"served $served rows; one page holds at most ${pageRows.max}")
  }

  test("page skipping loses no row of a range that crosses pages") {
    val (f, _, pageRows) = paged
    // straddles the first page boundary
    val lo = pageRows.head - 100
    val hi = pageRows.head + 99
    val (served, matching, pruned) = scan(
      Seq(GreaterThanOrEqual("k", lo), LessThanOrEqual("k", hi)),
      k => k >= lo && k <= hi, f)
    assert(pruned && matching == 200, s"lost rows: $matching of 200")
    assert(served < 2 * N, s"no page skipped: served $served of ${2 * N}")
  }
}
