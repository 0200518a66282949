package graft.api

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.types.pojo.{ArrowType, Field}
import org.apache.arrow.vector.types.{FloatingPointPrecision, TimeUnit}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Arrow IPC decoder behind `BatchTableWrite.writeArrow`. The read
  * direction, `TableRead.toArrow`, needs no code here: the executors
  * encode with Spark's own Arrow converters and the driver frames the
  * batches. The decoder stays hand-written because Spark's
  * `ArrowColumnVector` has no date64 accessor and reads tz-naive
  * timestamps as `TimestampNTZType`, and external producers emit both.
  */
private[api] object ArrowSink {

  /** Arrow → Spark field mapping: the inverse of Spark's `ArrowUtils`
    * mapping for the facade's supported types (timestamps in
    * microseconds, zoned or not) — so an IPC stream produced by any
    * Arrow implementation with these types decodes to a schema the
    * write path can check positionally.
    */
  private def sparkField(f: Field): StructField = {
    val dt: DataType = f.getType match {
      case t: ArrowType.Int if t.getIsSigned => t.getBitWidth match {
        case 8 => ByteType
        case 16 => ShortType
        case 32 => IntegerType
        case 64 => LongType
        case w => throw new IllegalArgumentException(
          s"Unsupported Arrow int width $w for field ${f.getName}")
      }
      case t: ArrowType.FloatingPoint =>
        if (t.getPrecision == FloatingPointPrecision.SINGLE) FloatType
        else DoubleType
      case _: ArrowType.Bool => BooleanType
      case _: ArrowType.Utf8 => StringType
      case _: ArrowType.Binary => BinaryType
      case _: ArrowType.Date => DateType
      case t: ArrowType.Timestamp if t.getUnit == TimeUnit.MICROSECOND =>
        TimestampType
      case other => throw new IllegalArgumentException(
        s"Found unsupported data type $other for field ${f.getName}")
    }
    StructField(f.getName, dt, f.isNullable)
  }

  private def getValue(vec: FieldVector, i: Int): Any = vec match {
    case x: TinyIntVector => x.get(i)
    case x: SmallIntVector => x.get(i)
    case x: IntVector => x.get(i)
    case x: BigIntVector => x.get(i)
    case x: Float4Vector => x.get(i)
    case x: Float8Vector => x.get(i)
    case x: BitVector => x.get(i) == 1
    case x: VarCharVector =>
      new String(x.get(i), StandardCharsets.UTF_8)
    case x: VarBinaryVector => x.get(i)
    case x: DateDayVector =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(x.get(i).toLong))
    // date64 (millis): pyarrow/other producers emit it for dates too
    case x: DateMilliVector =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
        Math.floorDiv(x.get(i), 86400000L)))
    case x: TimeStampMicroTZVector => microsToTimestamp(x.get(i))
    // tz-NAIVE timestamp[us] — pyarrow's DEFAULT pa.timestamp('us').
    // Interpreted as UTC instants, matching the facade's session
    // timezone contract (`toArrow` stamps UTC on the way out).
    case x: TimeStampMicroVector => microsToTimestamp(x.get(i))
    case other => throw new IllegalArgumentException(
      s"Unsupported Arrow vector ${other.getClass.getSimpleName}")
  }

  private def microsToTimestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Decode an Arrow IPC stream into a Spark schema + rows — the
    * write-side counterpart of `TableRead.toArrow`, for the facade's
    * `write_arrow` mapping. Driver-local and bounded like `toArrow`:
    * the reference's write API also receives whole serialized batches
    * (`pypaimon/api/table_write.py:27-48`, decoded JVM-side in
    * `BytesWriter.java:38-99`).
    */
  def fromIpcStream(bytes: Array[Byte]): (StructType, Seq[Row]) = {
    val allocator = new RootAllocator()
    try {
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(bytes), allocator)
      try {
        val root = reader.getVectorSchemaRoot
        val schema = StructType(
          root.getSchema.getFields.asScala.map(sparkField).toSeq)
        val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
        while (reader.loadNextBatch()) {
          val n = root.getRowCount
          var i = 0
          while (i < n) {
            val vals = new Array[Any](schema.length)
            var c = 0
            while (c < schema.length) {
              val vec = root.getVector(c)
              vals(c) = if (vec.isNull(i)) null else getValue(vec, i)
              c += 1
            }
            rows += Row.fromSeq(vals.toIndexedSeq)
            i += 1
          }
        }
        (schema, rows.toSeq)
      } finally reader.close()
    } finally allocator.close()
  }
}
