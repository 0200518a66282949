package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.connector.{GraftChangelogPartition, GraftChangelogReaderFactory, Values}
import graft.core.RowKind
import graft.format.{DataFileWriter, MergeFunction, SortMergeReader}

/** The file-backed merge: random sorted runs written as real Parquet
  * data files through [[DataFileWriter]], merged over the columnar
  * batch cursors ([[SortMergeReader.open]]), must equal a model fold
  * (sort by key and sequence, fold each key's entries) for both sort
  * engines and every merge engine.
  *
  * Every file holds more than one 4,096-row batch, and the key run
  * that spans row 4,095/4,096 of every file continues in the other
  * files, so equal-key runs cross batch boundaries inside one file and
  * across files — the rows a merge function holds then (first-row's
  * first add, ignore-delete's latest, the accumulators' strings) must
  * survive their cursor loading its next batch. The `s` column is a
  * string of varying length, so a row that still viewed a reused batch
  * would read another row's bytes.
  */
class ColumnarMergeSpec extends AnyFunSuite {
  import ColumnarMergeSpec._

  private val BatchRows = 4096
  private val Keys = 2500
  private val FileCount = 3

  private val words = IndexedSeq("", "a", "ab", "b", "é", "zz", "ÿ")

  private val shapes = Seq(
    KeyShape("LONG", Seq(StructField("k", LongType)), r =>
      Seq(if (r.nextInt(50) == 0) null else r.nextLong() % 100000L)),
    KeyShape("STRING+INT",
      Seq(StructField("k1", StringType), StructField("k2", IntegerType)), r =>
        Seq(if (r.nextInt(10) == 0) null
          else UTF8String.fromString(words(r.nextInt(words.size)) * (1 + r.nextInt(3))),
          if (r.nextInt(10) == 0) null else r.nextInt(2000) - 1000)),
    KeyShape("DOUBLE", Seq(StructField("d", DoubleType)), r =>
      Seq(r.nextInt(20) match {
        case 0 => null
        case 1 => -0.0
        case 2 => 0.0
        case 3 => Double.NaN
        case 4 => Double.NegativeInfinity
        case _ => (r.nextInt(200000) - 100000) / 7.0
      })))

  // value columns after the key: a LONG (summed by the aggregation
  // engine) and a STRING of varying length
  private def fieldsOf(shape: KeyShape) = StructType(shape.fields ++ Seq(
    StructField("a", LongType), StructField("s", StringType)))

  /** Comparable form of a key: doubles by bit pattern (-0.0 ≠ 0.0,
    * NaN = NaN — `Double.compare`'s equality), strings by bytes.
    */
  private def render(key: Seq[Any]): Seq[Any] = key.map {
    case d: Double => ("d", java.lang.Double.doubleToLongBits(d))
    case u: UTF8String => u.toString
    case x => x
  }

  private def keyOrder(types: Seq[DataType]): Ordering[Seq[Any]] =
    (x: Seq[Any], y: Seq[Any]) =>
      types.indices.iterator.map(i => Values.compare(types(i), x(i), y(i)))
        .find(_ != 0).getOrElse(0)

  /** Random entries per file, each file sorted by (key, seq), every
    * key in every file (1-3 versions each), sequence numbers shuffled
    * across files.
    */
  private def generate(shape: KeyShape, seed: Long): Seq[Seq[Entry]] = {
    val rnd = new scala.util.Random(seed)
    val types = shape.fields.map(_.dataType)
    val ord = keyOrder(types)
    val keys = {
      val seen = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Seq[Any]]
      while (seen.size < Keys) {
        val k = shape.gen(rnd)
        seen.getOrElseUpdate(render(k), k)
      }
      seen.values.toSeq.sorted(ord)
    }
    val counts = (0 until FileCount).map { _ =>
      val c = Array.fill(keys.size)(1 + rnd.nextInt(3))
      // the run holding rows 4,095 and 4,096 must not end between them
      val ends = c.scanLeft(0)(_ + _).tail
      ends.indexOf(BatchRows) match {
        case -1 =>
        case j => c(j) += 1
      }
      c
    }
    val slots = rnd.shuffle(for {
      f <- 0 until FileCount; j <- keys.indices; _ <- 0 until counts(f)(j)
    } yield (f, j))
    val entries = slots.zipWithIndex.map { case ((f, j), i) =>
      val kind = rnd.nextInt(20) match {
        case n if n < 11 => RowKind.Insert
        case n if n < 14 => RowKind.UpdateAfter
        case n if n < 16 => RowKind.UpdateBefore
        case _ => RowKind.Delete
      }
      f -> Entry(keys(j), i + 1L, kind,
        if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(1000).toLong),
        if (rnd.nextInt(5) == 0) None
        else Some("v" + ("x" * rnd.nextInt(40)) + i))
    }
    (0 until FileCount).map { f =>
      entries.collect { case (`f`, e) => e }
        .sortWith((x, y) => {
          val c = ord.compare(x.key, y.key)
          if (c != 0) c < 0 else x.seq < y.seq
        })
    }
  }

  private def writeFile(dir: Path, shape: KeyShape, rows: Seq[Entry]): String = {
    val fields = fieldsOf(shape)
    val writer = DataFileWriter(dir.toString,
      DataFileWriter.fileSchema(fields, Nil, isPk = true), Nil,
      shape.fields.map(_.name), isPk = true, "parquet", Map.empty,
      DataFileWriter.DefaultBlockSize, "local")
    val meta = writer.write(Nil, 0, "data", rows.iterator.map { e =>
      new GenericInternalRow((Seq[Any](e.seq, e.kind.toInt) ++ e.key ++
        Seq(e.a.map(Long.box).orNull,
          e.s.map(UTF8String.fromString).orNull)).toArray): InternalRow
    })
    dir.resolve(meta.fileName).toString
  }

  private val engines: Seq[(String, Map[String, String])] = Seq(
    "deduplicate" -> Map.empty,
    "deduplicate ignore-delete" -> Map("ignore-delete" -> "true"),
    "first-row" -> Map("merge-engine" -> "first-row"),
    "partial-update" -> Map("merge-engine" -> "partial-update"),
    "aggregation" -> Map("merge-engine" -> "aggregation",
      "fields.a.aggregate-function" -> "sum",
      "fields.s.aggregate-function" -> "last_non_null_value"))

  /** One key's entries (ascending seq) folded as `engine` would. */
  private def fold(engine: String, es: Seq[Entry]): Option[(Option[Long], Option[String])] = {
    def isAdd(e: Entry) = RowKind.isAdd(e.kind)
    engine match {
      case "deduplicate" => Some(es.last).filter(isAdd).map(e => (e.a, e.s))
      case "deduplicate ignore-delete" =>
        es.filter(_.kind != RowKind.Delete).lastOption.filter(isAdd).map(e => (e.a, e.s))
      case "first-row" => es.find(isAdd).map(e => (e.a, e.s))
      case "partial-update" | "aggregation" =>
        es.foldLeft(Option.empty[(Option[Long], Option[String])]) { (acc, e) =>
          e.kind match {
            case RowKind.UpdateBefore => acc
            case RowKind.Delete => None
            case _ => acc match {
              case None => Some((e.a, e.s))
              case Some((a, s)) =>
                val a2 =
                  if (engine == "partial-update") e.a.orElse(a)
                  else (a, e.a) match {
                    case (Some(x), Some(y)) => Some(x + y)
                    case _ => a.orElse(e.a)
                  }
                Some((a2, e.s.orElse(s)))
            }
          }
        }
    }
  }

  private def model(engine: String, shape: KeyShape, files: Seq[Seq[Entry]]) = {
    val ord = keyOrder(shape.fields.map(_.dataType))
    val all = files.flatten.sortWith((x, y) => {
      val c = ord.compare(x.key, y.key)
      if (c != 0) c < 0 else x.seq < y.seq
    })
    // consecutive equal keys (sorted) form one key's entries
    val groups = scala.collection.mutable.ArrayBuffer.empty[Seq[Entry]]
    all.foreach { e =>
      if (groups.nonEmpty && ord.compare(groups.last.head.key, e.key) == 0)
        groups(groups.size - 1) = groups.last :+ e
      else groups += Seq(e)
    }
    groups.toSeq.flatMap(g => fold(engine, g).map(v => (render(g.head.key), v)))
  }

  private def merged(engine: String, opts: Map[String, String],
      sortEngine: String, shape: KeyShape, paths: Seq[String]) = {
    val fields = fieldsOf(shape)
    val fileSchema = DataFileWriter.fileSchema(fields, Nil, isPk = true)
    val keyIdx = shape.fields.map(f => fileSchema.fieldIndex(f.name))
    val types = shape.fields.map(_.dataType)
    val (ai, si) = (fileSchema.fieldIndex("a"), fileSchema.fieldIndex("s"))
    val runs = paths.map(p =>
      SortMergeReader.open(p, fileSchema, fileSchema, Map.empty, "local"))
    new SortMergeReader(runs.toArray, keyIdx, types, 0, 1, sortEngine,
      MergeFunction.create(MergeFunction.specOf(opts), fileSchema, keyIdx, 0, 1))
      .map { case (_, r) =>
        val key = keyIdx.zip(types).map { case (i, dt) =>
          if (r.isNullAt(i)) null else r.get(i, dt)
        }
        (render(key), (if (r.isNullAt(ai)) None else Some(r.getLong(ai)),
          if (r.isNullAt(si)) None else Some(r.getUTF8String(si).toString)))
      }.toList
  }

  private def withFiles[T](shape: KeyShape, seed: Long)(
      body: (Seq[Seq[Entry]], Seq[String], Path) => T): T = {
    val dir = Files.createTempDirectory("graft-colmerge")
    try {
      val files = generate(shape, seed)
      files.foreach { rows =>
        assert(rows.size > BatchRows)
        assert(render(rows(BatchRows - 1).key) == render(rows(BatchRows).key),
          "a key run must cross the first batch boundary")
      }
      body(files, files.map(writeFile(dir, shape, _)), dir)
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  shapes.zipWithIndex.foreach { case (shape, n) =>
    test(s"Parquet runs ≡ model fold: ${shape.name} keys, every engine") {
      withFiles(shape, 20261019L + n) { (files, paths, _) =>
        engines.foreach { case (engine, opts) =>
          val expected = model(engine, shape, files)
          Seq("min-heap", "loser-tree").foreach { sortEngine =>
            val got = merged(engine, opts, sortEngine, shape, paths)
            assert(got.size == expected.size,
              s"$engine/$sortEngine: ${got.size} rows, model ${expected.size}")
            val diff = got.zip(expected).indexWhere { case (g, e) => g != e }
            assert(diff < 0, s"$engine/$sortEngine: first difference at " +
              s"$diff: ${got.lift(diff)} vs ${expected.lift(diff)}")
          }
        }
      }
    }
  }

  test("the changelog state map keeps merged baseline rows intact") {
    val shape = shapes(1)
    withFiles(shape, 7L) { (files, baseline, dir) =>
      // state = merged baseline; the delta upserts or deletes a sample
      // of its keys (and misses), each once, above every baseline seq
      val state = model("deduplicate", shape, files).toMap
      val rnd = new scala.util.Random(11L)
      val maxSeq = files.flatten.map(_.seq).max
      val sample = rnd.shuffle(files.head.map(_.key).distinctBy(render)).take(400)
      val ord = keyOrder(shape.fields.map(_.dataType))
      val delta = sample.zipWithIndex.map { case (k, i) =>
        Entry(k, maxSeq + 1 + rnd.nextInt(1 << 20) * 1000L + i,
          if (rnd.nextInt(3) == 0) RowKind.Delete else RowKind.Insert,
          Some(i.toLong), Some(s"new$i"))
      }
      val deltaPath = writeFile(dir, shape, delta.sortWith((x, y) => {
        val c = ord.compare(x.key, y.key)
        if (c != 0) c < 0 else x.seq < y.seq
      }))
      val fields = fieldsOf(shape)
      val required = StructType(StructField("_row_kind", IntegerType) +: fields.fields)
      val reader = GraftChangelogReaderFactory(fields.json, Nil,
        shape.fields.map(_.name), required.json)
        .createReader(GraftChangelogPartition(Array(deltaPath),
          baseline.toArray, Array.empty, 0))
      val got = scala.collection.mutable.ArrayBuffer.empty[Any]
      while (reader.next()) {
        val r = reader.get()
        val key = shape.fields.indices.map(i =>
          if (r.isNullAt(i + 1)) null else r.get(i + 1, shape.fields(i).dataType))
        val (ai, si) = (shape.fields.size + 1, shape.fields.size + 2)
        got += ((r.getInt(0).toByte, render(key),
          (if (r.isNullAt(ai)) None else Some(r.getLong(ai)),
            if (r.isNullAt(si)) None else Some(r.getUTF8String(si).toString))))
      }
      reader.close()
      val expected = delta.sortBy(_.seq).flatMap { e =>
        val k = render(e.key)
        (state.get(k), e.kind) match {
          case (Some(prev), RowKind.Insert) => Seq(
            (RowKind.UpdateBefore, k, prev), (RowKind.UpdateAfter, k, (e.a, e.s)))
          case (None, RowKind.Insert) => Seq((RowKind.Insert, k, (e.a, e.s)))
          case (Some(prev), _) => Seq((RowKind.Delete, k, prev))
          case (None, _) => Nil
        }
      }
      assert(expected.count(_._1 == RowKind.UpdateBefore) > 50)
      assert(got.toSeq == expected)
    }
  }
}

object ColumnarMergeSpec {
  /** Key columns and a generator of one key (internal values, null = NULL). */
  final case class KeyShape(name: String, fields: Seq[StructField],
      gen: scala.util.Random => Seq[Any])

  final case class Entry(key: Seq[Any], seq: Long, kind: Byte,
      a: Option[Long], s: Option[String])
}
