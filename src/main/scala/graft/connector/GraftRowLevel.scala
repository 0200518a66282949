package graft.connector

import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{ScanBuilder, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.core.{RowKind, TableSchema}
import graft.format.{Compactor, SnapshotManager}
import java.nio.file.Path
import java.util.concurrent.atomic.AtomicReference

/** Copy-on-write row-level DML (SQL DELETE with non-partition
  * predicates, UPDATE, MERGE INTO): Spark's rewrite rules run a group
  * filter (`SELECT DISTINCT _file WHERE cond`), runtime-filter this
  * operation's scan down to the affected groups, recompute those
  * groups' surviving/updated rows, and hand them to the write — whose
  * commit atomically replaces exactly the files the scan planned.
  *
  * Used by append tables (groups = individual files) and by the exotic
  * PK-with-partition-outside-key shape (groups = whole (partition,
  * bucket) merge units, replacement rows re-sequenced). Standard PK
  * tables route through [[GraftMergeOnReadOperation]] instead — RowKind
  * appends, no rewrite.
  */
class GraftRowLevelOperation(tableDir: Path, schema: TableSchema,
    info: RowLevelOperationInfo) extends RowLevelOperation {

  /** Absolute paths of the files the row-level scan planned — set at
    * planInputPartitions, consumed by the replacement commit.
    */
  private[connector] val planned =
    new AtomicReference[Seq[String]](Seq.empty)

  override def command(): RowLevelOperation.Command = info.command()

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(tableDir, schema, rowLevelOp = Some(this))

  override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        val clusterCols = (schema.partitionKeys ++ schema.trimmedPrimaryKeys)
          .map(Expressions.column)
        new Write with RequiresDistributionAndOrdering {
          override def requiredDistribution()
              : org.apache.spark.sql.connector.distributions.Distribution =
            if (clusterCols.isEmpty)
              org.apache.spark.sql.connector.distributions.Distributions.unspecified()
            else
              org.apache.spark.sql.connector.distributions.Distributions
                .clustered(clusterCols.toArray)
          override def requiredOrdering()
              : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            Array.empty
          override def toBatch: BatchWrite =
            new GraftReplaceBatchWrite(tableDir, schema,
              () => planned.get())
        }
      }
    }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))
}

/** Replacement write: normal bucket-file writing, but the commit
  * deletes the scan-planned files and adds the new ones in one
  * OVERWRITE snapshot.
  */
class GraftReplaceBatchWrite(tableDir: Path, schema: TableSchema,
    plannedFiles: () => Seq[String]) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    // the ONE shared writer-factory recipe — a local copy here would
    // silently drift from the append/streaming paths (the exact drift
    // GraftWriteSupport.writerFactory's contract exists to prevent)
    GraftWriteSupport.writerFactory(tableDir, schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val adds = messages.collect { case m: GraftCommitMessage => m.files }.flatten
    val prefix = tableDir.toString + "/"
    val deleteNames = plannedFiles().map(_.stripPrefix(prefix)).toSet
    val ok = Compactor.commit(new SnapshotManager(tableDir,
      io = graft.format.FileIO.resolve(schema.ioSpec)), schema.id,
      adds.toSeq, deleteNames, tableDir, kind = "OVERWRITE")
    if (!ok) throw new IllegalStateException(
      "Row-level operation lost a race with a concurrent commit; retry")
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftWriteSupport.abortFiles(tableDir, schema, messages)
}

/** Merge-on-read row-level DML for primary-key tables — the format's
  * own design (the reference's DML *is* RowKind upserts,
  * `test_write_and_read.py:52-98`): a DELETE appends a -D row keyed by
  * primary key, an UPDATE appends delete+insert rows, a MERGE appends
  * only the changed rows. Nothing is rewritten — a 1-row UPDATE commits
  * O(1) rows regardless of bucket size, the big-O gap copy-on-write
  * had at scale. The bucket's [[graft.format.SortMergeReader]] resolves
  * winners at read time; compaction folds the deltas later.
  *
  * File-count shape: the delta write requests no distribution (delete
  * rows carry only key columns, insert rows only data columns — no
  * single clustering expression covers both), so a large MERGE writes
  * up to tasks × buckets delta files. Commit-triggered compaction
  * bounds every bucket's live file count at O(trigger) right after
  * (ConnectorSpec's spill test pins the fold), so read amplification
  * never accumulates.
  *
  * Mechanics: Spark's delta rewrite (`SupportsDelta`) projects the
  * primary key as the row id (PK columns are non-nullable on PK
  * tables, the reference's own constraint). Updates arrive whole
  * (`representUpdateAsDeleteAndInsert` = false) and the writer emits
  * -U then +U for the SAME key with consecutive sequences in the same
  * task, so the after-image always outranks the retraction. Updates
  * that would CHANGE a primary-key column are rejected (the
  * reference's own rule) — allowing them would let one source row's
  * -D and another's +I collide on a key across tasks, where
  * sequence-range order is arbitrary; with immutable keys every key
  * is touched by at most one source row per statement and ordering is
  * purely intra-task.
  */
class GraftMergeOnReadOperation(tableDir: Path, schema: TableSchema,
    info: RowLevelOperationInfo)
  extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = info.command()

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(tableDir, schema,
      fullSchema = GraftTable.readFields(schema))

  override def newWriteBuilder(winfo: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite =
          new GraftDeltaBatchWrite(tableDir, schema,
            winfo.schema(), winfo.rowIdSchema().get())
      }
    }

  override def rowId(): Array[NamedReference] =
    schema.primaryKeys.map(Expressions.column).toArray

  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty // no group tracking: nothing is replaced
}

/** Delta write: RowKind appends published as one ordinary APPEND
  * snapshot — same commit path as INSERT, including conflict
  * re-sequencing and the optional trailing COMPACT snapshot.
  */
class GraftDeltaBatchWrite(tableDir: Path, schema: TableSchema,
    rowSchema: StructType, rowIdSchema: StructType)
  extends DeltaBatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory =
    GraftDeltaWriterFactory(GraftWriteSupport.writerFactory(tableDir, schema),
      rowSchema.json, rowIdSchema.json)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    GraftWriteSupport.commitFiles(tableDir, schema,
      messages.collect { case m: GraftCommitMessage => m.files }
        .flatten.toSeq, graft.format.FileStoreCommit.NoOverwrite)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftWriteSupport.abortFiles(tableDir, schema, messages)
}

/** Per-statement delta task factory: the batch factory's sequence
  * blocks and file settings, plus the shapes of Spark's row and row-id
  * projections.
  */
final case class GraftDeltaWriterFactory(batch: GraftWriterFactory,
    rowSchemaJson: String, rowIdSchemaJson: String)
  extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new GraftDeltaWriter(this, partitionId)
}

/** Per-task delta writer over ONE [[GraftDataWriter]] with the same
  * `base + pid·2^32` sequence layout as ordinary writes: rows rank by
  * in-task write order. A delete emits a -D row built from the
  * projected row id (non-key values null); an update emits -U then +U
  * for the same key with consecutive sequences, so the after-image
  * wins the merge and the pair reads as a proper changelog retraction.
  * Key-changing updates are rejected here — the projected row id and
  * the new row disagree on a primary-key column — because cross-task
  * sequence order between two tasks' rows for one key is arbitrary
  * (see [[GraftMergeOnReadOperation]]).
  */
class GraftDeltaWriter(f: GraftDeltaWriterFactory, pid: Int)
  extends DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.types.{DataType, StructType}

  private val fields =
    DataType.fromJson(f.batch.fieldsJson).asInstanceOf[StructType]
  private val rowSchema =
    DataType.fromJson(f.rowSchemaJson).asInstanceOf[StructType]
  private val rowIdSchema =
    DataType.fromJson(f.rowIdSchemaJson).asInstanceOf[StructType]
  private val writer = f.batch.taskWriter(pid, withRowKind = true)

  // scratch row [fields..., _row_kind] reused across calls —
  // GraftDataWriter.write copies values out synchronously, so holding
  // borrowed references is safe
  private val scratch = new GenericInternalRow(fields.length + 1)
  private val rowPos = rowSchema.fields.map(x => fields.fieldIndex(x.name))
  private val idPos = rowIdSchema.fields.map(x => fields.fieldIndex(x.name))
  // row-id columns as positions into the update row's schema, for the
  // key-immutability check (null = the update row lacks the column,
  // which cannot happen for a full-row update but is guarded anyway)
  private val idPosInRow = rowIdSchema.fields.map(x =>
    rowSchema.fields.indexWhere(_.name == x.name))

  private def fill(positions: Array[Int], src: InternalRow,
      srcSchema: StructType, kind: Byte): Unit = {
    var i = 0
    while (i < fields.length) { scratch.update(i, null); i += 1 }
    i = 0
    while (i < positions.length) {
      scratch.update(positions(i),
        if (src.isNullAt(i)) null else src.get(i, srcSchema(i).dataType))
      i += 1
    }
    scratch.update(fields.length, kind)
  }

  private def fillAndWrite(positions: Array[Int], src: InternalRow,
      srcSchema: StructType, kind: Byte): Unit = {
    fill(positions, src, srcSchema, kind)
    writer.write(scratch)
  }

  override def insert(row: InternalRow): Unit =
    fillAndWrite(rowPos, row, rowSchema, RowKind.Insert)

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    fillAndWrite(idPos, id, rowIdSchema, RowKind.Delete)

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    var i = 0
    while (i < idPos.length) {
      val dt = rowIdSchema(i).dataType
      val old = if (id.isNullAt(i)) null else id.get(i, dt)
      val j = idPosInRow(i)
      val neu =
        if (j < 0 || row.isNullAt(j)) null else row.get(j, dt)
      if (Values.compare(dt, old, neu) != 0)
        throw new UnsupportedOperationException(
          s"Cannot update primary key column '${rowIdSchema(i).name}' " +
            s"(old=$old, new=$neu): primary keys are immutable on " +
            "primary-key tables")
      i += 1
    }
    fillAndWrite(idPos, id, rowIdSchema, RowKind.UpdateBefore)
    fillAndWrite(rowPos, row, rowSchema, RowKind.UpdateAfter)
  }

  override def reinsert(meta: InternalRow, row: InternalRow): Unit =
    // carry-over of an existing row (some rewrite shapes emit these):
    // under LWW an upsert of the same values is semantically a no-op
    insert(row)

  override def commit(): WriterCommitMessage = writer.commit()
  override def abort(): Unit = writer.abort()
  override def close(): Unit = writer.close()
}

/** Runtime-filtering hooks mixed into the row-level scan. */
trait GraftRuntimeFiltering extends SupportsRuntimeFiltering {
  protected def onRuntimeFileFilter(files: Set[String]): Unit

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  override def filter(filters: Array[Filter]): Unit =
    filters.foreach {
      case In("_file", vs) =>
        onRuntimeFileFilter(vs.collect { case s: String => s }.toSet)
      case EqualTo("_file", v: String) => onRuntimeFileFilter(Set(v))
      case _ => () // unknown shapes: keep everything (sound)
    }
}
