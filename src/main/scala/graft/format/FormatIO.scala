package graft.format

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Row-granular data-file IO behind the reference's `file.format` table
  * option (`parquet` default, `orc`, `avro` —
  * `pypaimon/py4j/tests/test_preicates.py:36-37,50-55`). One writer
  * contract over three codecs ([[ParquetIO]], [[OrcIO]], [[AvroIO]]);
  * the row reader decodes ORC and Avro, Parquet decodes columnar
  * ([[ParquetBatchReader]]).
  */
object FormatIO {

  trait RowFileWriter {
    def write(row: InternalRow): Unit
    def close(): Long
  }

  trait RowFileReader extends Iterator[InternalRow] with AutoCloseable

  def extension(format: String): String = format match {
    case "parquet" | "orc" | "avro" => format
    case other =>
      throw new IllegalArgumentException(s"Unsupported file.format: $other")
  }

  /** Writer of one data file. `plainColumns` are Parquet columns to
    * write without a dictionary attempt (see [[DataFileWriter]]); ORC
    * and Avro ignore it.
    */
  def writer(format: String, path: java.nio.file.Path,
      schema: StructType,
      ids: Map[String, Int] = Map.empty,
      blockSize: Int = org.apache.parquet.hadoop.ParquetWriter.DEFAULT_BLOCK_SIZE,
      io: FileIO = FileIO.local,
      plainColumns: Set[String] = Set.empty)
      : RowFileWriter = {
    def direct(p: java.nio.file.Path): RowFileWriter = format match {
      case "parquet" => new ParquetIO.RowWriter(p, schema, ids, blockSize, plainColumns)
      case "orc" => new OrcIO.Writer(p, schema, ids)
      case "avro" => new AvroIO.Writer(p, schema, ids)
      case other =>
        throw new IllegalArgumentException(s"Unsupported file.format: $other")
    }
    if (io eq FileIO.local) direct(path)
    else {
      // non-local storage: format libraries need a real file, so write
      // a local temp and publish its bytes through the seam on close —
      // the single upload a remote data-file write costs anyway
      // shared staging root: if the writer is abandoned without
      // close() (task abort mid-write), the one JVM-exit sweep removes
      // the temp — without growing the static DeleteOnExitHook set by
      // one entry per remote file written (see FileIO.stagingTemp)
      val tmp = FileIO.stagingTemp("graft-w", "." + format)
      // format writers create-exclusive; reserve the unique name only
      java.nio.file.Files.deleteIfExists(tmp)
      val inner = direct(tmp)
      new RowFileWriter {
        override def write(row: InternalRow): Unit = inner.write(row)
        override def close(): Long = {
          val n = inner.close()
          io.publishFile(tmp, path)
          // ORC writes through Hadoop's local ChecksumFileSystem, which
          // leaves a `.<name>.crc` sidecar next to the temp (Parquet and
          // Avro write through java.nio and leave none); publishFile
          // moves only the data file, so sweep the sidecar or it leaks
          // one per ORC write
          java.nio.file.Files.deleteIfExists(
            tmp.getParent.resolve("." + tmp.getFileName + ".crc"))
          n
        }
      }
    }
  }

  /** Row reader of one data file, projected to `projection` by name.
    * `ids`: logical column name -> stable field id; all three formats
    * persist it (parquet field ids, ORC column attributes, Avro field
    * props) and resolve reads by id first, name fallback for legacy
    * id-less files and KV meta columns.
    *
    * ORC and Avro decode here, row by row, from a staged copy on
    * non-local stores (they scan files fully and sequentially, where
    * one whole-object GET is the right access pattern). Table reads,
    * compaction and re-sequencing open Parquet as columnar runs
    * ([[SortMergeReader.open]]); the parquet case here is a row view
    * over that same [[ParquetBatchReader]], one copied row per record.
    */
  def reader(format: String, path: java.nio.file.Path, fileSchema: StructType,
      projection: StructType,
      ids: Map[String, Int] = Map.empty,
      io: FileIO = FileIO.local): RowFileReader = {
    val staged = io.stageForRead(path) // zero-copy for FileIO.local
    def direct: RowFileReader = format match {
      case "parquet" => parquetRows(staged, projection, ids)
      case "orc" => new OrcIO.Reader(staged, fileSchema, projection, ids)
      case "avro" => new AvroIO.Reader(staged, fileSchema, projection, ids)
      case other =>
        throw new IllegalArgumentException(s"Unsupported file.format: $other")
    }
    // ORC/Avro readers hold an open RecordReader/DataFileReader until
    // close() — and drain-style callers drop the iterator without
    // calling it — so release at exhaustion
    releaseOnExhaustion(direct)(() => if (!(staged eq path)) io.unstage(path, staged))
  }

  private def parquetRows(path: java.nio.file.Path, projection: StructType,
      ids: Map[String, Int]): RowFileReader = {
    val hadoopPath = GraftFileSystem.uriFor("local", path.toString)
    val run = new SortMergeReader.BatchRun(hadoopPath,
      new ParquetBatchReader(hadoopPath, projection, ids))
    val rows = run.rows
    new RowFileReader {
      override def hasNext: Boolean = rows.hasNext
      override def next(): InternalRow = rows.next().copy()
      override def close(): Unit = run.close()
    }
  }

  /** Wrap a reader so its resources release the moment the iterator is
    * exhausted (production read paths drain and drop without calling
    * close()); close() covers early termination (e.g. limit) and a
    * double release is a no-op.
    */
  private def releaseOnExhaustion(inner: RowFileReader)(
      onRelease: () => Unit): RowFileReader = new RowFileReader {
    private var released = false
    private def release(): Unit = if (!released) {
      released = true
      inner.close()
      onRelease()
    }
    override def hasNext: Boolean = {
      val h = !released && inner.hasNext
      if (!h) release()
      h
    }
    override def next(): InternalRow = inner.next()
    override def close(): Unit = release()
  }

  /** Infer format from a data file name. */
  def ofFile(fileName: String): String =
    fileName.substring(fileName.lastIndexOf('.') + 1)
}
