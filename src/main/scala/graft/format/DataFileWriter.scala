package graft.format

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import graft.connector.Values
import graft.core.TableSchema
import java.nio.file.Path

/** The one data-file writer: every file a write task, a compaction or
  * a conflict re-sequencing publishes goes through [[write]], which
  * owns the file's place, its codec settings and its manifest entry:
  *
  *  - layout `<k1=v1/…/>bucket-<b>/<prefix>-<uuid>.<ext>` under the
  *    table dir (`prefix`: `data` or `compact`);
  *  - the table's `file.format` and `parquet.block-size` (the row
  *    group is the unit of sub-file skipping, so a rewrite must keep
  *    the granularity the table asked for);
  *  - sequence bounds (PK tables; append files carry 0/0);
  *  - typed min/max bounds, canonical-encoded: trimmed-PK columns on
  *    PK tables (pruning on anything else would resurrect overwritten
  *    rows), every non-binary column on append tables (no merge
  *    semantics → any-column zone maps are sound); a bound over 64
  *    encoded bytes is dropped, never truncated;
  *  - exact per-column null counts on append tables (IS NULL pruning
  *    and COUNT(col) pushdown read them from the manifest);
  *  - the Parquet encoding rule: parquet-mr tries a dictionary on every
  *    column and falls back to PLAIN when the first page does not
  *    shrink, and for distinct values it never does (the dictionary is
  *    the raw column). So PK files skip the attempt, and write the
  *    same pages, for `_SEQUENCE_NUMBER` (unique per row) and for a
  *    single-column trimmed key when the caller says its values are
  *    distinct in the file (`distinctKeys`: compaction outputs always,
  *    write-task flushes when no two adjacent sorted keys are equal).
  *    Value columns, composite keys and repeated keys keep the attempt;
  *
  * all accumulated in the single write pass. A failure mid-write
  * closes the codec and deletes the partial file, so nothing is left
  * in a live bucket dir for age-gated vacuum to find.
  *
  * A plain case class of strings and types: it travels into executor
  * closures as is.
  */
final case class DataFileWriter(
    tableDir: String,
    fileSchema: StructType,
    partitionKeys: Seq[String],
    trimmedPk: Seq[String],
    isPk: Boolean,
    fileFormat: String,
    fieldIds: Map[String, Int],
    blockSize: Int,
    ioSpec: String) {

  def write(partition: Seq[String], bucket: Int, prefix: String,
      rows: Iterator[InternalRow], distinctKeys: Boolean = false): DataFileMeta = {
    val io = FileIO.resolve(ioSpec)
    val root = Path.of(tableDir)
    val partDir = partitionKeys.zip(partition)
      .map { case (k, v) => s"$k=$v" }.mkString("/")
    val bucketDir = (if (partDir.isEmpty) "" else partDir + "/") + s"bucket-$bucket"
    io.createDirectories(root.resolve(bucketDir))
    val rel = s"$bucketDir/$prefix-${java.util.UUID.randomUUID()}." +
      FormatIO.extension(fileFormat)
    val path = root.resolve(rel)

    val statCols: Array[(String, Int, DataType)] =
      if (isPk) trimmedPk.map { k =>
        val i = fileSchema.fieldIndex(k); (k, i, fileSchema(i).dataType)
      }.toArray
      else fileSchema.fields.zipWithIndex.collect {
        case (f, i) if f.dataType != BinaryType => (f.name, i, f.dataType)
      }
    val lo = new Array[Any](statCols.length)
    val hi = new Array[Any](statCols.length)
    val nulls = new Array[Long](if (isPk) 0 else fileSchema.length)
    var n = 0L
    var seqMin = Long.MaxValue
    var seqMax = Long.MinValue

    val plain: Set[String] =
      if (!isPk) Set.empty
      else if (distinctKeys && trimmedPk.size == 1)
        Set("_SEQUENCE_NUMBER", trimmedPk.head)
      else Set("_SEQUENCE_NUMBER")
    val w = FormatIO.writer(fileFormat, path, fileSchema, fieldIds,
      blockSize, io, plain)
    try {
      rows.foreach { r =>
        w.write(r)
        n += 1
        if (isPk) {
          val s = r.getLong(0)
          if (s < seqMin) seqMin = s
          if (s > seqMax) seqMax = s
        }
        var i = 0
        while (i < statCols.length) {
          val (_, idx, dt) = statCols(i)
          if (!r.isNullAt(idx)) {
            val v = r.get(idx, dt)
            // a bound outlives its row (copyValue: strings may view a batch)
            if (lo(i) == null || Values.compare(dt, v, lo(i)) < 0)
              lo(i) = InternalRow.copyValue(v)
            if (hi(i) == null || Values.compare(dt, v, hi(i)) > 0)
              hi(i) = InternalRow.copyValue(v)
          }
          i += 1
        }
        var j = 0
        while (j < nulls.length) {
          if (r.isNullAt(j)) nulls(j) += 1
          j += 1
        }
      }
      w.close()
    } catch { case t: Throwable =>
      try w.close() catch { case _: Throwable => () }
      try io.delete(path) catch { case _: Throwable => () }
      throw t
    }

    val stats = statCols.indices.flatMap { i =>
      val (name, _, dt) = statCols(i)
      if (lo(i) == null) None
      else {
        val (els, ehs) = (Values.encode(dt, lo(i)), Values.encode(dt, hi(i)))
        if (els.length > 64 || ehs.length > 64) None
        else Some(name -> (els -> ehs))
      }
    }.toMap
    val nullCounts = nulls.indices.map(j => fileSchema(j).name -> nulls(j)).toMap
    val hasSeq = isPk && n > 0
    DataFileMeta(rel, io.size(path), n, partition, bucket,
      if (hasSeq) seqMin else 0L, if (hasSeq) seqMax else 0L,
      stats, nullCounts)
  }
}

object DataFileWriter {
  /** Parquet row-group size — the unit of sub-file skipping. 128 MB
    * (parquet-mr default) is right at corpus scale; tests/canaries
    * shrink it with `parquet.block-size` to exercise multi-group files.
    */
  val DefaultBlockSize: Int =
    org.apache.parquet.hadoop.ParquetWriter.DEFAULT_BLOCK_SIZE

  def blockSize(options: Map[String, String]): Int =
    options.get("parquet.block-size").map(_.toInt)
      .getOrElse(DefaultBlockSize)

  /** Stored columns of a data file: the table's fields minus partition
    * columns (readers splice those back as constants), behind the KV
    * prefix `[_SEQUENCE_NUMBER, _VALUE_KIND]` on PK tables.
    */
  def fileSchema(fields: StructType, partitionKeys: Seq[String],
      isPk: Boolean): StructType = {
    val data = fields.fields.filterNot(f => partitionKeys.contains(f.name))
    if (!isPk) StructType(data)
    else StructType(
      StructField("_SEQUENCE_NUMBER", LongType, nullable = false) +:
        StructField("_VALUE_KIND", IntegerType, nullable = false) +: data)
  }

  /** The writer for `schema`'s table at `tableDir`. */
  def apply(tableDir: Path, schema: TableSchema): DataFileWriter =
    DataFileWriter(tableDir.toString,
      fileSchema(schema.fields, schema.partitionKeys, schema.isPrimaryKeyTable),
      schema.partitionKeys, schema.trimmedPrimaryKeys,
      schema.isPrimaryKeyTable,
      schema.options.getOrElse("file.format", "parquet"), schema.idMap,
      blockSize(schema.options), schema.ioSpec)
}
