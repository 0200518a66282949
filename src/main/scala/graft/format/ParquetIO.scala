package graft.format

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema._
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.parquet.schema.LogicalTypeAnnotation._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Parquet writer and footer helpers for the table-format layer's data
  * files (`bucket-<b>/<uuid>.parquet`), over the primitive type matrix
  * of SURVEY §1.3: the streaming [[RowWriter]] every data-file write
  * goes through, the footer's field ids and stored types, and the
  * id/name resolution and type-widening rules that reads apply. Reads
  * decode through [[ParquetBatchReader]] only.
  */
object ParquetIO {

  def toParquetSchema(schema: StructType,
      ids: Map[String, Int] = Map.empty): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val rep = if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
      val t = f.dataType match {
        case ByteType => Types.primitive(INT32, rep).as(intType(8, true))
        case ShortType => Types.primitive(INT32, rep).as(intType(16, true))
        case IntegerType => Types.primitive(INT32, rep)
        case DateType => Types.primitive(INT32, rep).as(dateType())
        case LongType => Types.primitive(INT64, rep)
        case TimestampType =>
          Types.primitive(INT64, rep).as(timestampType(true, TimeUnit.MICROS))
        case FloatType => Types.primitive(FLOAT, rep)
        case DoubleType => Types.primitive(DOUBLE, rep)
        case BooleanType => Types.primitive(BOOLEAN, rep)
        case StringType => Types.primitive(BINARY, rep).as(stringType())
        case BinaryType => Types.primitive(BINARY, rep)
        case other =>
          throw new IllegalArgumentException(s"Found unsupported data type $other")
      }
      // stable field id (evolution identity) — survives renames, keeps
      // dropped-then-readded columns distinct in old files
      b.addField(ids.get(f.name).fold(t)(t.id).named(f.name))
    }
    b.named("graft_row")
  }

  /** WriteSupport streaming InternalRow fields straight to parquet's
    * RecordConsumer — no intermediate Group objects (the example
    * Group path allocates one object tree per row; this is the same
    * technique Spark's own ParquetWriteSupport uses).
    */
  private final class InternalRowWriteSupport(schema: StructType,
      ids: Map[String, Int])
    extends org.apache.parquet.hadoop.api.WriteSupport[InternalRow] {
    private val msgType = toParquetSchema(schema, ids)
    private var consumer: org.apache.parquet.io.api.RecordConsumer = _
    private val names = schema.fieldNames
    private val types = schema.fields.map(_.dataType)

    override def init(conf: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport.WriteContext =
      new org.apache.parquet.hadoop.api.WriteSupport.WriteContext(
        msgType, java.util.Collections.emptyMap[String, String]())

    override def prepareForWrite(
        rc: org.apache.parquet.io.api.RecordConsumer): Unit = consumer = rc

    override def write(row: InternalRow): Unit = {
      consumer.startMessage()
      var i = 0
      while (i < types.length) {
        if (!row.isNullAt(i)) {
          consumer.startField(names(i), i)
          types(i) match {
            case ByteType => consumer.addInteger(row.getByte(i).toInt)
            case ShortType => consumer.addInteger(row.getShort(i).toInt)
            case IntegerType | DateType => consumer.addInteger(row.getInt(i))
            case LongType | TimestampType => consumer.addLong(row.getLong(i))
            case FloatType => consumer.addFloat(row.getFloat(i))
            case DoubleType => consumer.addDouble(row.getDouble(i))
            case BooleanType => consumer.addBoolean(row.getBoolean(i))
            case StringType => consumer.addBinary(
              Binary.fromConstantByteArray(row.getUTF8String(i).getBytes))
            case BinaryType => consumer.addBinary(
              Binary.fromConstantByteArray(row.getBinary(i)))
            case other => throw new IllegalArgumentException(s"$other")
          }
          consumer.endField(names(i), i)
        }
        i += 1
      }
      consumer.endMessage()
    }
  }

  /** Streaming writer of InternalRow (ordinals match `schema`): SNAPPY,
    * `blockSize` row groups, parquet-mr's default page size, with the
    * shared [[hadoopDefaults]] as the writer's conf. Columns in
    * `plainColumns` are written without a dictionary attempt; every
    * other column keeps parquet-mr's (dictionary first, PLAIN when the
    * first page does not shrink).
    *
    * `path` is a local file in an existing directory (remote stores
    * stage one, see [[FormatIO.writer]]), created exclusively through
    * `java.nio` ([[LocalOutputFile]]), not a Hadoop filesystem: no
    * `.crc` sidecar and no forked `chmod` per file. Integrity rides in
    * the file instead, as parquet-mr's page CRCs, which every read
    * verifies ([[ParquetBatchReader.initialize]]).
    */
  final class RowWriter(path: java.nio.file.Path, schema: StructType,
      ids: Map[String, Int] = Map.empty,
      blockSize: Int = ParquetWriter.DEFAULT_BLOCK_SIZE,
      plainColumns: Set[String] = Set.empty)
      extends FormatIO.RowFileWriter {
    private val writer: ParquetWriter[InternalRow] = {
      val b = new RowWriterBuilder(new LocalOutputFile(path), schema, ids)
        .withConf(hadoopDefaults)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withRowGroupSize(blockSize.toLong)
      plainColumns.foreach(b.withDictionaryEncoding(_, false))
      b.build()
    }
    private var rows = 0L

    def write(row: InternalRow): Unit = {
      writer.write(row)
      rows += 1
    }

    def close(): Long = { writer.close(); rows }
  }

  private final class RowWriterBuilder(file: OutputFile, schema: StructType,
      ids: Map[String, Int])
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override protected def self(): RowWriterBuilder = this
    override protected def getWriteSupport(conf: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new InternalRowWriteSupport(schema, ids)
  }

  /** One footer column: physical name, optional field id, and the Spark
    * type the file actually STORES (authoritative for files written
    * under an older schema version — including before a type widening).
    */
  final case class FooterField(name: String, id: Option[Int], stored: DataType)

  /** Footer columns of a parquet file in file order, with their field
    * ids when present (the footer is authoritative for files written
    * under an older schema version). Takes an UNescaped Hadoop path
    * string (`Path(String)` escapes internally) — `graftio://` strings
    * read the footer through the [[FileIO]] seam with ranged reads.
    */
  def footerFields(hadoopPath: String): Seq[FooterField] =
    footerFieldsAt(new HPath(hadoopPath))

  /** Bounded footer-schema cache. Graft data files are IMMUTABLE once
    * written (UUID-fresh names per commit; rewrites produce new files),
    * so (path, length) identifies content; the length rides the same
    * HadoopInputFile status the open needs anyway. Amortizes the
    * footer fetch that resolves a file's columns (several ranged GETs
    * on the graftio:// remote path) across repeat scans of the same
    * file.
    */
  private val footerCache =
    new java.util.LinkedHashMap[(String, Long), Seq[FooterField]](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), Seq[FooterField]]): Boolean =
        size() > 1024
    }

  /** Hadoop's defaults, parsed once per JVM: a fresh Configuration
    * re-reads every default resource (~13 ms on a 4-core host, more
    * than writing or decoding a small file). Read it, or copy it to
    * change it — never set a key on it. Its users: every Parquet data
    * file written ([[RowWriter]], as the writer's conf; the file itself
    * is not opened through a Hadoop filesystem), every footer read
    * ([[footerFields]]), every Parquet open
    * ([[ParquetBatchReader.initialize]], one `JobConf` copy) and the
    * ORC codec ([[OrcIO]], one copy with `orc.use.utc.timestamp`).
    */
  private[format] lazy val hadoopDefaults: Configuration = {
    val c = new Configuration()
    c.size() // loads the resources now, so copies never re-read them
    c
  }

  private def footerFieldsAt(hp: HPath): Seq[FooterField] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(hp, hadoopDefaults)
    val key = (hp.toString, in.getLength)
    footerCache.synchronized {
      val hit = footerCache.get(key)
      if (hit != null) return hit
    }
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in,
      HadoopReadOptions.builder(hadoopDefaults).build())
    val fields =
      try r.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(f => FooterField(f.getName, Option(f.getId).map(_.intValue()),
          storedSparkType(f))).toSeq
      finally r.close()
    footerCache.synchronized { footerCache.put(key, fields) }
    fields
  }

  /** Inverse of [[toParquetSchema]] for the supported primitive matrix. */
  def storedSparkType(t: Type): DataType = {
    val p = t.asPrimitiveType()
    (p.getPrimitiveTypeName, p.getLogicalTypeAnnotation) match {
      case (INT32, i: IntLogicalTypeAnnotation) if i.getBitWidth == 8 => ByteType
      case (INT32, i: IntLogicalTypeAnnotation) if i.getBitWidth == 16 => ShortType
      case (INT32, _: DateLogicalTypeAnnotation) => DateType
      case (INT32, _) => IntegerType
      case (INT64, _: TimestampLogicalTypeAnnotation) => TimestampType
      case (INT64, _) => LongType
      case (FLOAT, _) => FloatType
      case (DOUBLE, _) => DoubleType
      case (BOOLEAN, _) => BooleanType
      case (BINARY, _: StringLogicalTypeAnnotation) => StringType
      case (BINARY, _) => BinaryType
      case other =>
        throw new IllegalArgumentException(s"Unsupported parquet type $other")
    }
  }

  /** Read-side type widening (ALTER COLUMN TYPE): which stored types a
    * file may hold for a column whose logical type is now wider.
    * Value-preserving widenings only: every old value maps to exactly
    * one value of the new type (so stats, merges, and comparisons stay
    * exact). That includes the cross-family casts byte/short→float and
    * byte/short/int→double (all exact in the wider mantissa), but NOT
    * int→float or long→float/double (lossy beyond 2^24 / 2^53).
    */
  def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType | FloatType | DoubleType) => true
    case (ShortType, IntegerType | LongType | FloatType | DoubleType) => true
    case (IntegerType, LongType | DoubleType) => true
    case (FloatType, DoubleType) => true
    case _ => false
  }

  /** Resolve projected logical columns to this file's physical column
    * names — by field id when both sides have one (rename-safe, and a
    * dropped-then-readded name gets a fresh id so old files null-fill),
    * by name otherwise (legacy id-less files, KV meta columns).
    * Unresolvable columns are absent → caller null-fills.
    */
  def resolvePhysical(footer: Seq[FooterField],
      logicalNames: Seq[String], ids: Map[String, Int]): Map[String, String] = {
    val idToPhys = footer.collect { case FooterField(n, Some(i), _) => i -> n }.toMap
    val physNames = footer.map(_.name).toSet
    logicalNames.flatMap { n =>
      ids.get(n) match {
        case Some(id) if idToPhys.nonEmpty => idToPhys.get(id).map(n -> _)
        case _ if physNames.contains(n) => Some(n -> n)
        case _ => None
      }
    }.toMap
  }
}
