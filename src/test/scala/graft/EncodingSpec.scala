package graft

import java.nio.file.{Files, Path}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.connector.{GraftCommitMessage, GraftDataWriter}
import graft.format.{Compactor, DataFileMeta, DataFileWriter, FormatIO,
  MergeFunction, ParquetIO}
import scala.jdk.CollectionConverters._

/** The data-file writer's Parquet encoding rule: `_SEQUENCE_NUMBER` and
  * a distinct single-column key skip parquet-mr's dictionary attempt,
  * everything else keeps it. Each file is compared, column chunk by
  * column chunk (dictionary page, encodings, compressed size), with its
  * own rows rewritten by a default-settings writer: skipping the
  * attempt where parquet-mr would fall back to PLAIN must leave every
  * chunk as it was, and a column that keeps the attempt must keep the
  * dictionary it earns.
  */
class EncodingSpec extends AnyFunSuite {

  private val words = IndexedSeq("red", "green", "blue")

  private def withDir[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("graft-encoding")
    try body(dir)
    finally graft.util.Fs.deleteRecursively(dir)
  }

  /** One write task's flush of `rows` (values in `fields` order),
    * numbered from `seqStart`.
    */
  private def flush(dir: Path, fields: StructType, pk: Seq[String],
      rows: Seq[Seq[Any]], seqStart: Long = 0L): DataFileMeta = {
    val w = new GraftDataWriter(dir, fields, Nil, pk, isPk = true,
      numBuckets = 1, seqStart = seqStart, writeSchema = fields,
      hasRowKindCol = false)
    rows.foreach(r => w.write(InternalRow.fromSeq(r)))
    val Seq(meta) = w.commit().asInstanceOf[GraftCommitMessage].files
    meta
  }

  /** Column name -> (dictionary page?, encodings, compressed bytes). */
  private def chunks(file: Path): Map[String, (Boolean, Set[String], Long)] = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(file.toUri), new Configuration()))
    try {
      val cols = r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      cols.groupBy(_.getPath.toDotString).map { case (name, cs) =>
        name -> (cs.exists(_.hasDictionaryPage),
          cs.flatMap(_.getEncodings.asScala.map(_.name)).toSet,
          cs.map(_.getTotalSize).sum)
      }
    } finally r.close()
  }

  /** Chunks of `meta`'s file and of its rows rewritten with parquet-mr's
    * default settings.
    */
  private def withReference(dir: Path, fields: StructType, meta: DataFileMeta)
      : (Map[String, (Boolean, Set[String], Long)],
        Map[String, (Boolean, Set[String], Long)]) = {
    val schema = DataFileWriter.fileSchema(fields, Nil, isPk = true)
    val file = dir.resolve(meta.fileName)
    val ref = dir.resolve("reference.parquet")
    Files.deleteIfExists(ref)
    val w = new ParquetIO.RowWriter(ref, schema)
    val rows = FormatIO.reader("parquet", file, schema, schema)
    try rows.foreach(w.write) finally rows.close()
    assert(w.close() == meta.rowCount)
    (chunks(file), chunks(ref))
  }

  private def assertSameAsReference(dir: Path, fields: StructType,
      meta: DataFileMeta, dictionary: Set[String], plain: Set[String]): Unit = {
    val (got, ref) = withReference(dir, fields, meta)
    assert(got.keySet == ref.keySet)
    got.keys.foreach(c => assert(got(c) == ref(c), s"column $c"))
    dictionary.foreach(c => assert(got(c)._1, s"$c has no dictionary page"))
    plain.foreach(c => assert(!got(c)._1, s"$c has a dictionary page"))
  }

  private val single = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("a", LongType),
    StructField("c", StringType)))

  private def singleRow(k: Long, rnd: scala.util.Random): Seq[Any] =
    Seq(k, rnd.nextLong(), UTF8String.fromString(words(rnd.nextInt(3))))

  test("a distinct single key and _SEQUENCE_NUMBER lose nothing without a dictionary") {
    withDir { dir =>
      val rnd = new scala.util.Random(11)
      val first = flush(dir, single, Seq("k"),
        rnd.shuffle((0L until 5000L).toList).map(singleRow(_, rnd)))
      assertSameAsReference(dir, single, first,
        dictionary = Set("_VALUE_KIND", "c"), plain = Set("_SEQUENCE_NUMBER", "k"))

      // an overlapping second run (a later commit), then one compaction
      val second = flush(dir, single, Seq("k"),
        rnd.shuffle((2500L until 7500L).toList).map(singleRow(_, rnd)),
        seqStart = 5000L)
      val writer = DataFileWriter(dir.toString,
        DataFileWriter.fileSchema(single, Nil, isPk = true), Nil, Seq("k"),
        isPk = true, "parquet", Map.empty, DataFileWriter.DefaultBlockSize, "local")
      val compacted = Compactor.rewriteGroup(writer,
        MergeFunction.specOf(Map.empty), Nil, 0,
        Seq(first.fileName, second.fileName))
      assert(compacted.rowCount == 7500)
      assertSameAsReference(dir, single, compacted,
        dictionary = Set("_VALUE_KIND", "c"), plain = Set("_SEQUENCE_NUMBER", "k"))
    }
  }

  test("a single key repeated in one batch keeps its dictionary") {
    withDir { dir =>
      val rnd = new scala.util.Random(12)
      val meta = flush(dir, single, Seq("k"),
        rnd.shuffle((0 until 3000).toList).map(i => singleRow(i % 3, rnd)))
      assertSameAsReference(dir, single, meta,
        dictionary = Set("_VALUE_KIND", "k", "c"), plain = Set("_SEQUENCE_NUMBER"))
    }
  }

  test("both columns of a distinct composite key keep their dictionaries") {
    val composite = StructType(Seq(
      StructField("k1", IntegerType, nullable = false),
      StructField("k2", StringType, nullable = false),
      StructField("c", StringType)))
    withDir { dir =>
      val rnd = new scala.util.Random(13)
      val keys = for (i <- 0 until 10; j <- 0 until 100) yield (i, s"key-$j")
      val meta = flush(dir, composite, Seq("k1", "k2"),
        rnd.shuffle(keys.toList).map { case (i, j) =>
          Seq(i, UTF8String.fromString(j), UTF8String.fromString(words(rnd.nextInt(3))))
        })
      assertSameAsReference(dir, composite, meta,
        dictionary = Set("_VALUE_KIND", "k1", "k2", "c"), plain = Set("_SEQUENCE_NUMBER"))
    }
  }

  test("the row writer honours its plain columns") {
    withDir { dir =>
      val schema = StructType(Seq(StructField("c", StringType)))
      def write(name: String, plain: Set[String]): Boolean = {
        val f = dir.resolve(name)
        val w = new ParquetIO.RowWriter(f, schema, plainColumns = plain)
        (0 until 1000).foreach(i =>
          w.write(InternalRow(UTF8String.fromString(words(i % 3)))))
        w.close()
        chunks(f)("c")._1
      }
      assert(write("dict.parquet", Set.empty))
      assert(!write("plain.parquet", Set("c")))
    }
  }
}
