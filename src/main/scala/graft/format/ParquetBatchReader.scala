package graft.format

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapred.{FileSplit, JobConf}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport,
  VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import graft.connector.{GraftReaderFactory, WideningColumnVector}
import scala.jdk.CollectionConverters._

/** The one Parquet decode path: a data file read by Spark's
  * [[VectorizedParquetRecordReader]] into [[ColumnarBatch]]es laid out
  * as `columns` (≙ the reference's Arrow-columnar reader, SURVEY §1.2,
  * `columnar_row_iterator.py:28-60`). Append scans hand the batches to
  * Spark; merge-on-read, compaction, re-sequencing and the changelog
  * stream walk them as [[SortMergeReader.BatchRun]]s.
  *
  *  - Footer-driven evolution: only columns the file has are decoded,
  *    resolved by field id (rename-safe), else by name; the rest are
  *    constant vectors — `constants(name)` (partition values, `_file`)
  *    or null (columns added after the file was written).
  *  - A file that predates an ALTER COLUMN TYPE widening decodes at its
  *    stored type behind a [[WideningColumnVector]].
  *  - `filters` skip row groups and pages whose statistics contradict
  *    them; rows of surviving pages are not filtered (Spark re-applies
  *    every conjunct above the scan).
  *
  * `hadoopPath` is a [[GraftFileSystem.uriFor]] string (`graftio://`
  * ranged reads off local storage). The batch is reused by each
  * [[nextBatch]]; the reader closes itself at the end of the file.
  */
final class ParquetBatchReader(hadoopPath: String, columns: StructType,
    ids: Map[String, Int] = Map.empty,
    filters: Seq[Filter] = Seq.empty,
    constants: Map[String, Any] = Map.empty) extends AutoCloseable {

  private var reader = new VectorizedParquetRecordReader(false, 4096)

  /** The current batch, laid out as `columns`. */
  val batch: ColumnarBatch = try {
    val footer = ParquetIO.footerFields(hadoopPath)
    val physFor = ParquetIO.resolvePhysical(footer,
      columns.fieldNames.filterNot(constants.contains).toSeq, ids)
    val logicalFor = physFor.map(_.swap)
    val storedOf = footer.map(f => f.name -> f.stored).toMap
    // physical names in file order; the reader materializes vectors in
    // the requested-list order
    val fileCols = footer.map(_.name).filter(logicalFor.contains).toArray
    val consts = columns.fields.filter(f => !physFor.contains(f.name))
    if (!GraftReaderFactory.initPruned(reader, hadoopPath, fileCols, filters, physFor, storedOf))
      ParquetBatchReader.initialize(reader, hadoopPath, fileCols, storedOf, None)
    reader.initBatch(StructType(consts),
      new GenericInternalRow(consts.map(f => constants.getOrElse(f.name, null))))
    val inner = reader.resultBatch()
    // inner layout = fileCols ++ consts; permute to `columns` order
    val pos = (fileCols.map(logicalFor) ++ consts.map(_.name)).zipWithIndex.toMap
    new ColumnarBatch(columns.fields.map { f =>
      val v = inner.column(pos(f.name))
      physFor.get(f.name) match {
        case Some(pn) if storedOf(pn) != f.dataType =>
          if (!ParquetIO.widens(storedOf(pn), f.dataType))
            throw new IllegalStateException(
              s"File $hadoopPath stores column $pn as " +
                s"${storedOf(pn).simpleString}, incompatible with logical " +
                s"type ${f.dataType.simpleString}")
          new WideningColumnVector(v, f.dataType): ColumnVector
        case _ => v
      }
    })
  } catch { case t: Throwable => close(); throw t }

  /** Decode the next batch into [[batch]]; false (and closed) at EOF. */
  def nextBatch(): Boolean =
    if (reader == null) false
    else if (reader.nextBatch()) {
      batch.setNumRows(reader.resultBatch().numRows())
      true
    } else { close(); false }

  override def close(): Unit = if (reader != null) { reader.close(); reader = null }
}

object ParquetBatchReader {
  /** Initialize `reader` over `fileCols` (physical names, stored types
    * in `storedOf`) of the file at `hadoopPath`, through Spark's own
    * split path: it skips the row groups, and inside them the pages
    * (column and offset indexes), that `pred` rules out.
    *
    * Two fixed read options:
    *  - no vectored IO: column chunks are fetched by synchronous
    *    positioned reads. Vectored IO over a local file runs its
    *    ranges as `CompletableFuture` stages, and where the common pool
    *    has parallelism 1 (two cores or fewer) each stage starts a new
    *    thread; `graftio://` streams have no vectored override, so they
    *    lose nothing.
    *  - page CRCs verified: a page whose bytes do not match the CRC
    *    its writer stored fails the read with parquet-mr's
    *    `ParquetDecodingException`, on every store. This is the data
    *    files' integrity check; they carry no Hadoop `.crc` sidecar.
    */
  def initialize(reader: VectorizedParquetRecordReader, hadoopPath: String,
      fileCols: Seq[String], storedOf: Map[String, DataType],
      pred: Option[FilterPredicate]): Unit = {
    // a JobConf, so TaskAttemptContextImpl takes it as is instead of
    // copying it a second time
    val conf = new JobConf(ParquetIO.hadoopDefaults)
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[RequestedColumns].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA,
      StructType(fileCols.map(c => StructField(c, storedOf(c)))).json)
    // the schema converter's flags, as the reader's path-based initialize sets them
    Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG).foreach(e => conf.setBoolean(e.key, false))
    conf.setBoolean(ParquetInputFormat.HADOOP_VECTORED_IO_ENABLED, false)
    conf.setBoolean(ParquetInputFormat.PAGE_VERIFY_CHECKSUM_ENABLED, true)
    pred.foreach(ParquetInputFormat.setFilterPredicate(conf, _))
    val in = HadoopInputFile.fromPath(new HPath(hadoopPath), conf)
    reader.initialize(new FileSplit(in.getPath, 0, in.getLength, Array.empty[String]),
      new TaskAttemptContextImpl(conf, new TaskAttemptID()), Some(in), None, None)
  }
}

/** Requests, in order, the file columns that name the Spark schema in
  * the configuration; the vectorized reader decodes them, so no record
  * is ever materialized through this support.
  */
final class RequestedColumns extends ReadSupport[Void] {
  override def init(ctx: InitContext): ReadSupport.ReadContext = {
    val file = ctx.getFileSchema
    val names = DataType.fromJson(ctx.getConfiguration
      .get(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA)).asInstanceOf[StructType].fieldNames
    new ReadSupport.ReadContext(new MessageType(file.getName,
      names.map(n => file.getType(file.getFieldIndex(n))).toList.asJava))
  }
  override def prepareForRead(conf: Configuration,
      meta: java.util.Map[String, String], file: MessageType,
      ctx: ReadSupport.ReadContext): org.apache.parquet.io.api.RecordMaterializer[Void] =
    throw new UnsupportedOperationException("columnar reads only")
}
