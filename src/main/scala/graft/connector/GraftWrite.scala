package graft.connector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{AlwaysTrue, EqualNullSafe, EqualTo, Filter}
import org.apache.spark.sql.types._
import graft.core.{RowKind, TableSchema}
import graft.format._
import java.nio.file.{Path, Paths}
import scala.collection.mutable

/** Write-side of the connector ≙ `BatchWriteBuilder → BatchTableWrite →
  * prepare_commit → BatchTableCommit.commit` (SURVEY §2.7, §3.3):
  * executors route rows to (partition, bucket), write one sorted
  * parquet file per pair, and ship [[DataFileMeta]] back as the commit
  * message; the driver publishes one snapshot.
  *
  * Overwrite modes ≙ `write_builder.overwrite(...)`
  * (`test_write_and_read.py:311-383`): truncate (full), static partition
  * (filter → partition values), dynamic (option
  * `dynamic-partition-overwrite` ↔ Spark's OVERWRITE_DYNAMIC capability).
  */
class GraftWriteBuilder(tableDir: Path, schema: TableSchema, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite {

  private var mode: FileStoreCommit.OverwriteMode = FileStoreCommit.NoOverwrite

  override def truncate(): WriteBuilder = {
    mode = FileStoreCommit.StaticOverwrite(Map.empty); this
  }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    val partFilter = mutable.Map.empty[String, String]
    filters.foreach {
      case _: AlwaysTrue => ()
      case EqualTo(c, v) if schema.partitionKeys.contains(c) && v != null =>
        val dt = schema.fields(schema.fields.fieldIndex(c)).dataType
        partFilter(c) = Values.encode(dt, Values.toInternal(dt, v))
      case EqualNullSafe(c, v) if schema.partitionKeys.contains(c) && v != null =>
        val dt = schema.fields(schema.fields.fieldIndex(c)).dataType
        partFilter(c) = Values.encode(dt, Values.toInternal(dt, v))
      // `p <=> NULL` selects the null partition — writers store null
      // partition values as NullToken, so it is a perfectly good
      // static selector (plain EqualTo(p, null) stays unsupported:
      // SQL equality with NULL matches nothing)
      case EqualNullSafe(c, null) if schema.partitionKeys.contains(c) =>
        partFilter(c) = Values.NullToken
      case other => throw new UnsupportedOperationException(
        s"Overwrite supports only partition equality filters, got $other")
    }
    mode = FileStoreCommit.StaticOverwrite(partFilter.toMap)
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = FileStoreCommit.DynamicOverwrite; this
  }

  /** Writes request clustering by (partition keys, primary-key fields)
    * so each task receives whole buckets — one data file per
    * (partition, bucket) instead of one per task × bucket. This is the
    * DSv2 `RequiresDistributionAndOrdering` hook; Spark inserts the
    * shuffle only when the incoming plan isn't already distributed.
    */
  override def build(): Write = {
    val clusterCols = (schema.partitionKeys ++ schema.trimmedPrimaryKeys)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
    if (clusterCols.isEmpty)
      new Write {
        override def toBatch: BatchWrite = new GraftBatchWrite(tableDir, schema, mode)
        override def toStreaming: streaming.StreamingWrite =
          new GraftStreamingWrite(tableDir, schema, mode, info.queryId())
      }
    else
      new Write with RequiresDistributionAndOrdering {
        override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution =
          org.apache.spark.sql.connector.distributions.Distributions
            .clustered(clusterCols.toArray)
        override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          Array.empty
        override def toBatch: BatchWrite = new GraftBatchWrite(tableDir, schema, mode)
        override def toStreaming: streaming.StreamingWrite =
          new GraftStreamingWrite(tableDir, schema, mode, info.queryId())
      }
  }
}

class GraftBatchWrite(tableDir: Path, schema: TableSchema,
    mode: FileStoreCommit.OverwriteMode) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftWriteSupport.writerFactory(tableDir, schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    GraftWriteSupport.commitFiles(tableDir, schema,
      messages.collect { case m: GraftCommitMessage => m.files }
        .flatten.toSeq, mode)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftWriteSupport.abortFiles(tableDir, schema, messages)
}

/** Streaming sink (`df.writeStream.toTable(...)`) — each micro-batch
  * epoch commits one snapshot through the SAME recipe as batch writes
  * (clustered distribution, conflict re-sequencing, strict-sequence
  * guard, trailing COMPACT). Spark creates the writer factory PER
  * epoch, so sequences re-base above the table's current high-water
  * mark each batch — no cross-epoch spacing tricks, and a concurrent
  * batch writer just triggers the normal re-sequencing path.
  *
  * Idempotent epoch replay: the published snapshot records
  * `<queryId>/<epochId>`; a commit whose epoch is already at-or-below
  * the table's newest epoch for this query (the crash-between-
  * sink-commit-and-checkpoint window) deletes its staged files and
  * returns instead of double-committing — load-bearing for PK
  * aggregation tables, where a duplicate batch would double-count.
  * Complete output mode arrives here as truncate → each epoch
  * publishes a full OVERWRITE, the correct restatement semantics.
  */
class GraftStreamingWrite(tableDir: Path, schema: TableSchema,
    mode: FileStoreCommit.OverwriteMode, queryId: String)
  extends streaming.StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): streaming.StreamingDataWriterFactory =
    // per-epoch call (MicroBatchWrite wraps one per batch): baseSeq is
    // read fresh, so this epoch's rows outrank everything committed
    GraftStreamingWriterFactory(
      GraftWriteSupport.writerFactory(tableDir, schema))

  /** Newest epoch this query already committed to THIS table, walking
    * the snapshot chain newest-first (lazy; terminates at the first
    * match, normally within the newest few snapshots).
    *
    * The walk reads epoch identities from the snapshot chain, so
    * `expireSnapshots` retains the newest identity snapshot per
    * distinct queryId (Maintenance.scala) — a query down across an
    * expiry run still finds its last epoch on restart and skips the
    * replay instead of double-committing. The pin lapses after
    * `streaming.identity.retain-millis` (default 7 days): a query down
    * longer than that must be treated like one resuming past source
    * retention — restart it from a fresh checkpoint. Rollback deletes
    * nothing, so a rolled-away identity snapshot also stays findable
    * until the same query commits a newer epoch.
    */
  private def lastCommittedEpoch(sm: SnapshotManager): Option[Long] = {
    val prefix = queryId + "/"
    // existingSnapshotIds is already ascending; walk newest-first,
    // UNBOUNDED: the walk is lazy and terminates at this query's
    // newest identity — normally within the first few snapshots. Only
    // a fresh query's first commit (no match anywhere) pays a full
    // pass, once; capping instead would wave a replayed epoch through
    // whenever OTHER writers published more snapshots than the cap
    // while the sink was down. ONLY a vanished file (expired mid-walk)
    // may be skipped — any other read error must FAIL the batch (Spark
    // retries it): reading a transient IO error as "never committed"
    // would double-commit the replay.
    sm.existingSnapshotIds.reverse.iterator.flatMap { id =>
      try sm.snapshot(id).commitIdentifier
        .filter(_.startsWith(prefix))
        .flatMap(_.stripPrefix(prefix).toLongOption).iterator
      catch { case _: java.nio.file.NoSuchFileException => Iterator.empty }
    }.nextOption()
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val sm = new SnapshotManager(tableDir, io = FileIO.resolve(schema.ioSpec))
    if (lastCommittedEpoch(sm).exists(_ >= epochId)) {
      // replayed epoch: the table already has it — drop the staged
      // files this re-run produced
      GraftWriteSupport.abortFiles(tableDir, schema, messages)
      return
    }
    GraftWriteSupport.commitFiles(tableDir, schema,
      messages.collect { case m: GraftCommitMessage => m.files }
        .flatten.toSeq, mode,
      identifier = Some(s"$queryId/$epochId"))
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    GraftWriteSupport.abortFiles(tableDir, schema, messages)
}

/** Per-epoch task factory: sequence blocks are the batch factory's
  * (partition-id × 2^32 within the epoch's fresh baseSeq).
  */
final case class GraftStreamingWriterFactory(batch: GraftWriterFactory)
  extends streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    batch.createWriter(partitionId, taskId)
}

final case class GraftCommitMessage(files: Seq[DataFileMeta])
  extends WriterCommitMessage

object GraftWriteSupport {
  /** THE writer-factory recipe shared by batch, streaming, delta and
    * facade writes: fresh baseSeq above the table's current high-water
    * mark, one sequence block per task. One copy, so the write paths
    * cannot drift.
    */
  def writerFactory(tableDir: Path, schema: TableSchema): GraftWriterFactory = {
    val sm = new SnapshotManager(tableDir,
      io = FileIO.resolve(schema.ioSpec))
    val baseSeq = sm.latestSnapshot.map(_.lastSequenceNumber + 1).getOrElse(1L)
    GraftWriterFactory(tableDir.toString, schema.fields.json,
      schema.partitionKeys, schema.trimmedPrimaryKeys,
      schema.isPrimaryKeyTable, schema.numBuckets, baseSeq,
      schema.options.getOrElse("file.format", "parquet"),
      GraftDataWriter.spillRows(schema.options), schema.idMap,
      DataFileWriter.blockSize(schema.options),
      ioSpec = schema.ioSpec)
  }

  /** THE commit recipe shared by append ([[GraftBatchWrite]]), delta
    * ([[GraftDeltaBatchWrite]]), streaming and facade writes: snapshot
    * publication with conflict re-sequencing (PK tables) +
    * strict-sequence guard, then the optional trailing COMPACT
    * snapshot. One copy, so the commit paths cannot drift.
    */
  def commitFiles(tableDir: Path, schema: TableSchema,
      files: Seq[DataFileMeta],
      mode: FileStoreCommit.OverwriteMode,
      identifier: Option[String] = None): Unit = {
    FileStoreCommit.commit(
      new SnapshotManager(tableDir, io = FileIO.resolve(schema.ioSpec)),
      schema.id, schema.partitionKeys, files, mode,
      resequence =
        if (schema.isPrimaryKeyTable) Some(DataFileWriter(tableDir, schema))
        else None,
      strictKeys = strictSequenceKeys(schema),
      identifier = identifier)
    // "one commit may generate up to two snapshots" — data + compaction
    Compactor.maybeCompact(tableDir, schema)
  }

  /** Abort counterpart: delete the staged (uncommitted) data files. */
  def abortFiles(tableDir: Path, schema: TableSchema,
      messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: GraftCommitMessage => m.files }.flatten
      .foreach(f => FileIO.resolve(schema.ioSpec)
        .delete(tableDir.resolve(f.fileName)))

  /** Key columns+types for [[FileStoreCommit]]'s strict intra-commit
    * ordering guard — non-empty only when the table opts in via
    * `commit.strict-sequence=true` and has merge semantics to protect.
    */
  def strictSequenceKeys(schema: TableSchema)
      : Seq[(String, org.apache.spark.sql.types.DataType)] =
    if (schema.isPrimaryKeyTable &&
        schema.options.get("commit.strict-sequence").contains("true"))
      schema.trimmedPrimaryKeys.map(k =>
        k -> schema.fields(schema.fields.fieldIndex(k)).dataType)
    else Seq.empty
}

final case class GraftWriterFactory(
    tableDirStr: String,
    fieldsJson: String,
    partitionKeys: Seq[String],
    trimmedPk: Seq[String],
    isPk: Boolean,
    numBuckets: Int,
    baseSeq: Long,
    fileFormat: String = "parquet",
    spillRows: Int = GraftDataWriter.DefaultSpillRows,
    fieldIds: Map[String, Int] = Map.empty,
    blockSize: Int = DataFileWriter.DefaultBlockSize,
    ioSpec: String = "local")
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    taskWriter(partitionId, withRowKind = false)

  /** THE task writer of every write path (SQL, streaming, delta and
    * facade): task partition `pid` owns the sequence block
    * `baseSeq + pid·2^32`, disjoint from every other task's in the same
    * commit; at most 2^20 blocks keep the ranges inside the Long space.
    * `withRowKind`: the write rows carry a trailing `_row_kind` byte.
    */
  def taskWriter(partitionId: Int, withRowKind: Boolean): GraftDataWriter = {
    require(partitionId < (1 << 20),
      s"write parallelism $partitionId exceeds the 2^20 sequence-range slots")
    val fields = DataType.fromJson(fieldsJson).asInstanceOf[StructType]
    val writeSchema =
      if (!withRowKind) fields
      else StructType(fields.fields :+
        StructField(RowKind.ColumnName, ByteType, nullable = false))
    new GraftDataWriter(Paths.get(tableDirStr), fields, partitionKeys,
      trimmedPk, isPk, numBuckets, baseSeq + (partitionId.toLong << 32),
      writeSchema, hasRowKindCol = withRowKind,
      fileFormat = fileFormat, spillRows = spillRows, fieldIds = fieldIds,
      blockSize = blockSize, ioSpec = ioSpec)
  }
}

object GraftDataWriter {
  /** Default per-task in-heap row budget before buffered rows are
    * flushed as sorted L0 runs. ~1M flat rows of typical width is
    * low hundreds of MB — safely inside an executor task's share,
    * while keeping sf0.1-scale writes single-file.
    */
  val DefaultSpillRows = 1 << 20

  def spillRows(options: Map[String, String]): Int =
    options.get("write-buffer-rows").map(_.toInt)
      .getOrElse(DefaultSpillRows)
}

/** Buffers rows per (partition, bucket) and writes one sorted file per
  * pair. The buffer is bounded: once `spillRows` rows accumulate
  * across all pairs, every non-empty buffer is flushed as a sorted L0
  * run — multiple runs per bucket per commit are legal (the bucket's
  * [[SortMergeReader]] k-way merges them, and sequence numbers keep
  * last-write-wins intact), so a task of any size runs in fixed heap.
  * PK-table files are sorted by (trimmed pk, seq) — sorted runs enable
  * sort-merge reading and tight key stats.
  *
  * `writeSchema` may carry a trailing hidden `_row_kind` byte column
  * (facade path, ≙ Java `GenericRow(RowKind.DELETE, ...)` writes —
  * `test_write_and_read.py:52-98`); Spark's own writeTo path never has
  * it (`hasRowKindCol = false`).
  */
class GraftDataWriter(tableDir: Path, fields: StructType,
    partitionKeys: Seq[String], trimmedPk: Seq[String], isPk: Boolean,
    numBuckets: Int, seqStart: Long, writeSchema: StructType,
    hasRowKindCol: Boolean,
    fileFormat: String = "parquet",
    spillRows: Int = GraftDataWriter.DefaultSpillRows,
    fieldIds: Map[String, Int] = Map.empty,
    blockSize: Int = DataFileWriter.DefaultBlockSize,
    ioSpec: String = "local")
  extends DataWriter[InternalRow] {

  private val io: FileIO = FileIO.resolve(ioSpec)
  private val files = DataFileWriter(tableDir.toString,
    DataFileWriter.fileSchema(fields, partitionKeys, isPk), partitionKeys,
    trimmedPk, isPk, fileFormat, fieldIds, blockSize, ioSpec)
  private val fileSchema = files.fileSchema

  // table fields (sans partition cols) stored in data files
  private val dataFields = StructType(
    fields.fields.filterNot(f => partitionKeys.contains(f.name)))

  private val partIdx = partitionKeys.map(k => writeSchema.fieldIndex(k))
  private val partTypes = partitionKeys.map(k => fields(fields.fieldIndex(k)).dataType)
  private val dataIdx = dataFields.fields.map(f => writeSchema.fieldIndex(f.name))
  private val keyIdxInData = trimmedPk.map(k => dataFields.fieldIndex(k))
  private val keyTypes = trimmedPk.map(k => dataFields(dataFields.fieldIndex(k)).dataType)
  // flush order (trimmed pk, seq); the KV layout puts data column i at i + 2
  private val keyOrdering = new SortMergeReader.KeyOrdering(
    keyIdxInData.map(_ + 2).toArray, keyTypes.toArray)
  private val keySeqOrdering: Ordering[InternalRow] = (a, b) => {
    val c = keyOrdering.compare(a, b)
    if (c != 0) c else java.lang.Long.compare(a.getLong(0), b.getLong(0))
  }
  private val rowKindIdx =
    if (hasRowKindCol) writeSchema.fieldIndex(RowKind.ColumnName) else -1

  private var seq = seqStart
  private var buffered = 0
  private val buffers =
    mutable.LinkedHashMap.empty[(Seq[String], Int), mutable.ArrayBuffer[InternalRow]]
  private val metas = mutable.ArrayBuffer.empty[DataFileMeta]

  override def write(row: InternalRow): Unit = {
    // the per-task sequence slot is 2^32 wide (seqStart = baseSeq +
    // pid << 32): a row numbered past it would silently bleed into the
    // next partition's range and produce duplicate sequence numbers on
    // a PK table — fail loudly instead of corrupting merge order.
    // Checked BEFORE consuming the value so exactly 2^32 rows succeed
    // (the last uses seqStart + 2^32 - 1, still inside the slot) and
    // only the 2^32+1-th row fails.
    if (seq - seqStart >= (1L << 32)) throw new IllegalStateException(
      "Task sequence slot exhausted: one write task already produced " +
        "2^32 rows; the next row's sequence number would collide with " +
        "the next partition's range — repartition the input so no " +
        "single task writes that many rows")
    val part = partIdx.zip(partTypes).map { case (i, dt) =>
      Values.encodeField(row, i, dt)
    }
    // KV layout [seq, kind, value...] (≙ key_value_wrap_reader.py flat rows)
    val stored = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      fileSchema.length)
    // incoming InternalRow is reused by Spark between write() calls —
    // copy values out (UTF8String/binary would otherwise alias buffers)
    def copied(src: Int, dt: DataType): Any =
      if (row.isNullAt(src)) null
      else dt match {
        case StringType => row.getUTF8String(src).clone()
        case BinaryType => row.getBinary(src).clone()
        case _ => row.get(src, dt)
      }
    if (isPk) {
      stored.update(0, seq)
      // a NULL kind must not silently read as byte 0 (+I): a partial
      // `when(cond, lit(Delete)).cast("byte")` with no otherwise would
      // turn intended deletes into inserts without a trace
      if (rowKindIdx >= 0 && row.isNullAt(rowKindIdx))
        throw new IllegalArgumentException(
          s"${RowKind.ColumnName} must not be NULL (use " +
            s"RowKind.Insert = ${RowKind.Insert} explicitly for inserts)")
      stored.update(1,
        if (rowKindIdx >= 0) row.getByte(rowKindIdx).toInt else RowKind.Insert.toInt)
      var i = 0
      while (i < dataIdx.length) {
        stored.update(i + 2, copied(dataIdx(i), dataFields(i).dataType))
        i += 1
      }
    } else {
      var i = 0
      while (i < dataIdx.length) {
        stored.update(i, copied(dataIdx(i), dataFields(i).dataType))
        i += 1
      }
    }
    seq += 1
    val bucket =
      if (isPk) {
        keyIdxInData.foreach { i =>
          if (stored.isNullAt(i + 2)) throw new IllegalArgumentException(
            s"Primary key column '${dataFields(i).name}' must not be null " +
              "(primary keys are NOT NULL on primary-key tables)")
        }
        val keyStrs = keyIdxInData.zip(keyTypes).map { case (i, dt) =>
          Values.encodeField(stored, i + 2, dt)
        }
        Values.bucketOf(keyStrs, numBuckets)
      } else 0
    buffers.getOrElseUpdate((part, bucket), mutable.ArrayBuffer.empty) += stored
    buffered += 1
    if (buffered >= spillRows) flushAll()
  }

  private def flushAll(): Unit = {
    buffers.foreach { case (key, rows) =>
      if (rows.nonEmpty) metas += flush(key, rows)
    }
    buffers.clear()
    buffered = 0
  }

  private def flush(key: (Seq[String], Int),
      rows: mutable.ArrayBuffer[InternalRow]): DataFileMeta = {
    val (part, bucket) = key
    if (!isPk) files.write(part, bucket, "data", rows.iterator)
    else {
      rows.sortInPlace()(keySeqOrdering)
      val distinct = keyIdxInData.length == 1 && (1 until rows.length)
        .forall(i => keyOrdering.compare(rows(i - 1), rows(i)) != 0)
      files.write(part, bucket, "data", rows.iterator, distinct)
    }
  }

  override def commit(): WriterCommitMessage = {
    flushAll()
    GraftCommitMessage(metas.toSeq)
  }

  // spilled runs exist on disk before commit() — remove them on abort
  override def abort(): Unit =
    metas.foreach(m => io.delete(tableDir.resolve(m.fileName)))
  override def close(): Unit = ()
}
