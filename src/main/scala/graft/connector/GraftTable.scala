package graft.connector

import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.core.TableSchema
import java.nio.file.Path
import java.util
import scala.jdk.CollectionConverters._

/** DSv2 table over one table directory — ≙ reference `Table`
  * (`pypaimon/api/table.py:26-35`): `newScanBuilder` ≙
  * `new_read_builder`, `newWriteBuilder` ≙ `new_batch_write_builder`.
  */
class GraftTable(ident: Identifier, val tableDir: Path, val tableSchema: TableSchema,
    val pinnedSnapshot: Option[Long] = None,
    val changelogView: Boolean = false)
  extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** Row-level DELETE/UPDATE/MERGE (non-partition predicates fall
    * through here when [[canDeleteWhere]] declines the metadata path).
    * PK tables whose primary key covers the partition key go through
    * merge-on-read RowKind appends ([[GraftMergeOnReadOperation]] — a
    * 1-row UPDATE commits O(1) rows); append tables, and the exotic
    * PK-with-partition-outside-key shape (whose partition columns stay
    * nullable and so can't serve as a Spark row id), keep copy-on-write.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(!changelogView && pinnedSnapshot.isEmpty,
      "Row-level operations require the current table state")
    // Non-default merge engines (first-row / partial-update /
    // aggregation / ignore-delete) fold RowKind appends by their own
    // rules — a -D/+U pair is NOT an update there (first-row ignores
    // it; partial-update keeps old non-nulls through a SET x = NULL) —
    // so they take the copy-on-write route: the row-level scan
    // materializes the ENGINE-MERGED rows, Spark applies the DML, and
    // whole merge units are rewritten. Engine-exact at rewrite cost.
    val mergeOnRead = tableSchema.isPrimaryKeyTable &&
      tableSchema.partitionKeys.forall(tableSchema.primaryKeys.contains) &&
      tableSchema.mergeSpec.isPlainDeduplicate
    if (mergeOnRead) () => new GraftMergeOnReadOperation(tableDir, tableSchema, info)
    else () => new GraftRowLevelOperation(tableDir, tableSchema, info)
  }

  /** System columns (≙ Paimon's metadata columns; the RowKind/sequence
    * machinery of SURVEY §1.1 made queryable): `_file` on every table,
    * `_sequence_number` / `_row_kind` on PK tables (the KV fields the
    * merge consumes).
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    def m(n: String, dt: org.apache.spark.sql.types.DataType,
        doc: String): org.apache.spark.sql.connector.catalog.MetadataColumn =
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = n
        override def dataType(): org.apache.spark.sql.types.DataType = dt
        override def isNullable: Boolean = true
        override def comment(): String = doc
      }
    val file = m("_file", org.apache.spark.sql.types.StringType,
      "data file the row was read from")
    if (tableSchema.isPrimaryKeyTable && !changelogView)
      Array(file,
        m("_sequence_number", org.apache.spark.sql.types.LongType,
          "sequence number of the merge winner"),
        m("_row_kind", org.apache.spark.sql.types.IntegerType,
          "changelog kind byte (+I=0,-U=1,+U=2,-D=3) of the merge winner"))
    else Array(file)
  }

  /** Metadata-only DELETE: drop whole partitions when the predicate
    * touches only partition columns (file-level DELETE entries, no
    * rewrite). Other predicates fall through to the row-level path:
    * merge-on-read -D appends on PK tables, copy-on-write on append
    * tables ([[newRowLevelOperationBuilder]]).
    */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(_.references.forall(tableSchema.partitionKeys.contains))

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val sm = new graft.format.SnapshotManager(tableDir,
      io = graft.format.FileIO.resolve(tableSchema.ioSpec))
    // strict: a file goes only when its partition decides every conjunct
    // true (an unconditional DELETE FROM t arrives as [AlwaysTrue])
    val doomed = ScanPlanner.liveFiles(sm, None)
      .filter(ScanPlanner.partitionAdmits(tableSchema, filters.toSeq, strict = true))
    if (doomed.nonEmpty)
      graft.format.FileStoreCommit.commitFileDeletes(sm, tableSchema.id,
        doomed.map(_.fileName).toSet)
  }

  override def name(): String = ident.toString

  override def schema(): StructType =
    if (changelogView) StructType(GraftTable.readFields(tableSchema).fields ++ Seq(
      org.apache.spark.sql.types.StructField("_row_kind",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("_sequence_number",
        org.apache.spark.sql.types.LongType, nullable = false)))
    else GraftTable.readFields(tableSchema)

  override def partitioning(): Array[Transform] =
    tableSchema.partitionKeys.map(Expressions.identity).toArray

  override def properties(): util.Map[String, String] = {
    val base = tableSchema.options ++
      tableSchema.comment.map(TableCatalog.PROP_COMMENT -> _) ++
      (if (tableSchema.primaryKeys.nonEmpty)
        Map("primary-key" -> tableSchema.primaryKeys.mkString(","))
      else Map.empty)
    base.asJava
  }

  override def capabilities(): util.Set[TableCapability] = {
    import TableCapability._
    Set(BATCH_READ, BATCH_WRITE, MICRO_BATCH_READ, STREAMING_WRITE,
      TRUNCATE, OVERWRITE_BY_FILTER, OVERWRITE_DYNAMIC).asJava
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val fromSnap = Option(options.get("fromSnapshot")).map(_.toLong)
    val toSnap = Option(options.get("toSnapshot")).map(_.toLong)
    new GraftScanBuilder(tableDir, tableSchema, pinnedSnapshot,
      changelogView, schema(),
      retractions = options.getBoolean("retractions", false),
      incremental = fromSnap.map(f => (f, toSnap.getOrElse(Long.MaxValue))),
      consumerId = Option(options.get("consumer-id"))
        .map(graft.format.Consumers.validateId),
      maxSnapshotsPerTrigger =
        Option(options.get("max-snapshots-per-trigger")).map { v =>
          val n = v.toLongOption.getOrElse(-1L)
          require(n > 0,
            s"max-snapshots-per-trigger must be a positive integer, got '$v'")
          n
        })
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedSnapshot.isEmpty, "Cannot write to a time-travel read")
    require(!changelogView, "Cannot write to a $changelog view")
    new GraftWriteBuilder(tableDir, tableSchema, info)
  }
}

object GraftTable {
  /** Table fields as the connector reports them: primary-key columns
    * are non-nullable on PK tables — the reference's own constraint
    * (Paimon primary keys are NOT NULL; the writer enforces it), and
    * what lets Spark's delta rewrite use the key as the row id.
    */
  def readFields(ts: TableSchema): StructType =
    if (!ts.isPrimaryKeyTable) ts.fields
    else StructType(ts.fields.fields.map(f =>
      if (ts.primaryKeys.contains(f.name)) f.copy(nullable = false) else f))
}
