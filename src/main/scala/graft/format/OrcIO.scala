package graft.format

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.orc.{OrcFile, TypeDescription}
import org.apache.hadoop.hive.ql.exec.vector._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ORC row IO over the primitive type matrix (SURVEY §1.3), mirroring
  * [[ParquetIO]]'s contract. Timestamps are stored/read in UTC
  * (`orc.use.utc.timestamp`); micros precision is preserved via the
  * nanos field.
  */
object OrcIO {

  /** Attribute carrying the stable field id on each column (same
    * evolution identity as the parquet field id; the Iceberg-style
    * `kv` attribute slot ORC provides for exactly this).
    */
  val FieldIdAttr = "graft.field.id"

  def toOrcSchema(schema: StructType,
      ids: Map[String, Int] = Map.empty): TypeDescription = {
    val root = TypeDescription.createStruct()
    schema.fields.foreach { f =>
      val t = f.dataType match {
        case ByteType => TypeDescription.createByte()
        case ShortType => TypeDescription.createShort()
        case IntegerType => TypeDescription.createInt()
        case LongType => TypeDescription.createLong()
        case FloatType => TypeDescription.createFloat()
        case DoubleType => TypeDescription.createDouble()
        case BooleanType => TypeDescription.createBoolean()
        case StringType => TypeDescription.createString()
        case BinaryType => TypeDescription.createBinary()
        case DateType => TypeDescription.createDate()
        case TimestampType => TypeDescription.createTimestamp()
        case other =>
          throw new IllegalArgumentException(s"Found unsupported data type $other")
      }
      ids.get(f.name).foreach(id => t.setAttribute(FieldIdAttr, id.toString))
      root.addField(f.name, t)
    }
    root
  }

  /** [[ParquetIO.hadoopDefaults]] with UTC timestamps, copied once:
    * every ORC reader and writer shares it.
    */
  private lazy val utcConf: Configuration = {
    val c = new Configuration(ParquetIO.hadoopDefaults)
    c.setBoolean("orc.use.utc.timestamp", true)
    c
  }

  final class Writer(path: java.nio.file.Path, schema: StructType,
      ids: Map[String, Int] = Map.empty)
    extends FormatIO.RowFileWriter {
    private val orcSchema = toOrcSchema(schema, ids)
    private val writer = OrcFile.createWriter(new HPath(path.toUri),
      OrcFile.writerOptions(utcConf).setSchema(orcSchema))
    private val batch = orcSchema.createRowBatch(1024)
    private var rows = 0L

    override def write(row: InternalRow): Unit = {
      val r = batch.size
      var i = 0
      while (i < schema.length) {
        val cv = batch.cols(i)
        if (row.isNullAt(i)) { cv.noNulls = false; cv.isNull(r) = true }
        else schema(i).dataType match {
          case ByteType => cv.asInstanceOf[LongColumnVector].vector(r) = row.getByte(i)
          case ShortType => cv.asInstanceOf[LongColumnVector].vector(r) = row.getShort(i)
          case IntegerType | DateType =>
            cv.asInstanceOf[LongColumnVector].vector(r) = row.getInt(i)
          case LongType => cv.asInstanceOf[LongColumnVector].vector(r) = row.getLong(i)
          case BooleanType =>
            cv.asInstanceOf[LongColumnVector].vector(r) = if (row.getBoolean(i)) 1 else 0
          case FloatType => cv.asInstanceOf[DoubleColumnVector].vector(r) = row.getFloat(i)
          case DoubleType => cv.asInstanceOf[DoubleColumnVector].vector(r) = row.getDouble(i)
          case StringType =>
            // copied: the row may view a batch buffer that is reused
            val b = row.getUTF8String(i).getBytes
            cv.asInstanceOf[BytesColumnVector].setVal(r, b, 0, b.length)
          case BinaryType =>
            val b = row.getBinary(i)
            cv.asInstanceOf[BytesColumnVector].setRef(r, b, 0, b.length)
          case TimestampType =>
            val micros = row.getLong(i)
            val tcv = cv.asInstanceOf[TimestampColumnVector]
            tcv.time(r) = Math.floorDiv(micros, 1000000L) * 1000L
            tcv.nanos(r) = (Math.floorMod(micros, 1000000L) * 1000L).toInt
          case other => throw new IllegalArgumentException(s"$other")
        }
        i += 1
      }
      batch.size += 1
      rows += 1
      if (batch.size == batch.getMaxSize) { writer.addRowBatch(batch); batch.reset() }
    }

    override def close(): Long = {
      if (batch.size > 0) writer.addRowBatch(batch)
      writer.close()
      rows
    }
  }

  final class Reader(path: java.nio.file.Path, fileSchema: StructType,
      projection: StructType,
      ids: Map[String, Int] = Map.empty) extends FormatIO.RowFileReader {
    private val reader = OrcFile.createReader(new HPath(path.toUri),
      OrcFile.readerOptions(utcConf))
    private val physical = {
      import scala.jdk.CollectionConverters._
      reader.getSchema.getFieldNames.asScala.toIndexedSeq
    }
    // field id → source ordinal, from the file's column attributes
    // (files written before ids existed have none → name fallback)
    private val idToSrc: Map[Int, Int] = {
      import scala.jdk.CollectionConverters._
      reader.getSchema.getChildren.asScala.zipWithIndex.flatMap {
        case (t, i) => Option(t.getAttributeValue(FieldIdAttr))
          .map(_.toInt -> i)
      }.toMap
    }
    // (source ordinal in file, destination ordinal in projection, type).
    // Resolution by field id when both sides carry one (rename-safe,
    // DROP+re-ADD-safe), by name otherwise; the projection's CURRENT
    // type drives decoding — ORC holds all integer widths in
    // LongColumnVector and both float widths in DoubleColumnVector, so
    // ALTER COLUMN TYPE widening needs no per-era value conversion.
    private val mapping: Array[(Int, Int, DataType)] =
      projection.fields.zipWithIndex.flatMap { case (f, out) =>
        val src = ids.get(f.name) match {
          case Some(id) if idToSrc.nonEmpty => idToSrc.getOrElse(id, -1)
          case _ => physical.indexOf(f.name)
        }
        if (src >= 0) Some((src, out, f.dataType)) else None // null-fill absent
      }.toArray
    private val rows = reader.rows()
    private val batch = reader.getSchema.createRowBatch(1024)
    private var pos = 0
    private var more = rows.nextBatch(batch)

    override def hasNext: Boolean = {
      while (more && pos >= batch.size) {
        more = rows.nextBatch(batch)
        pos = 0
      }
      more && pos < batch.size
    }

    override def next(): InternalRow = {
      val out = new GenericInternalRow(projection.length)
      val r = pos
      mapping.foreach { case (src, dst, dt) =>
        val cv = batch.cols(src)
        val rr = if (cv.isRepeating) 0 else r
        if (!cv.noNulls && cv.isNull(rr)) out.setNullAt(dst)
        else dt match {
          case ByteType =>
            out.update(dst, cv.asInstanceOf[LongColumnVector].vector(rr).toByte)
          case ShortType =>
            out.update(dst, cv.asInstanceOf[LongColumnVector].vector(rr).toShort)
          case IntegerType | DateType =>
            out.update(dst, cv.asInstanceOf[LongColumnVector].vector(rr).toInt)
          case LongType =>
            out.update(dst, cv.asInstanceOf[LongColumnVector].vector(rr))
          case BooleanType =>
            out.update(dst, cv.asInstanceOf[LongColumnVector].vector(rr) != 0)
          // a file written before a cross-family widening (int-era
          // column now float/double) surfaces a LongColumnVector here
          case FloatType => cv match {
            case lv: LongColumnVector => out.update(dst, lv.vector(rr).toFloat)
            case dv: DoubleColumnVector => out.update(dst, dv.vector(rr).toFloat)
          }
          case DoubleType => cv match {
            case lv: LongColumnVector => out.update(dst, lv.vector(rr).toDouble)
            case dv: DoubleColumnVector => out.update(dst, dv.vector(rr))
          }
          case StringType =>
            val bcv = cv.asInstanceOf[BytesColumnVector]
            out.update(dst, UTF8String.fromBytes(
              bcv.vector(rr), bcv.start(rr), bcv.length(rr)))
          case BinaryType =>
            val bcv = cv.asInstanceOf[BytesColumnVector]
            out.update(dst, java.util.Arrays.copyOfRange(
              bcv.vector(rr), bcv.start(rr), bcv.start(rr) + bcv.length(rr)))
          case TimestampType =>
            val tcv = cv.asInstanceOf[TimestampColumnVector]
            out.update(dst,
              Math.floorDiv(tcv.time(rr), 1000L) * 1000000L + tcv.nanos(rr) / 1000L)
          case other => throw new IllegalArgumentException(s"$other")
        }
      }
      pos += 1
      out
    }

    override def close(): Unit = rows.close()
  }
}
