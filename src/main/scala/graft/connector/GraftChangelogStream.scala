package graft.connector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow,
  JoinedRow, UnsafeProjection}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.types._
import graft.core.{RowKind, TableSchema}
import graft.format.{DataFileWriter, SortMergeReader}
import java.nio.file.Path
import scala.collection.mutable

/** Retraction-mode changelog stream (`readStream.option("retractions",
  * "true").table("t$changelog")`): each APPEND commit's rows are merged
  * against the bucket's pre-commit state and re-emitted as a complete
  * changelog — `+I` for new keys, `-U`/`+U` pairs for updates, `-D`
  * with the old values for deletes — so downstream aggregations can
  * retract (Paimon's lookup changelog-producer semantics, the piece the
  * reference's batch-only surface leaves to the Java engine).
  *
  * Cost model: one micro-batch reads the delta plus the baseline files
  * of the touched buckets only; baseline state is a bucket-local map
  * (the lookup producer's classic trade — bounded by bucket size, no
  * shuffle).
  *
  * Consumer progress shares the plain stream's offset space (snapshot
  * ids) and `consumers/` directory. Expiry keeps `floor - 1` precisely
  * so this stream's pre-commit BASELINE (snapshot id-1 of the first
  * unread id) survives retention.
  */
class GraftChangelogStream(tableDir: Path, schema: TableSchema,
    required: StructType,
    startSnapshot: Option[Long] = None,
    consumerId: Option[String] = None,
    maxPerTrigger: Option[Long] = None)
  extends GraftAvailableNowStream(tableDir, schema, startSnapshot,
    consumerId, maxPerTrigger) {

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    def paths(fs: Seq[graft.format.DataFileMeta]): Array[String] =
      fs.map(f => tableDir.resolve(f.fileName).toString).toArray
    ScanPlanner.appendDeltas(sm, start.asInstanceOf[GraftOffset].snapshotId,
      end.asInstanceOf[GraftOffset].snapshotId).flatMap { case (id, delta) =>
      // the pre-commit state (id - 1) the delta's retractions are
      // computed against, under the same retention guard as the delta
      val baseline = ScanPlanner.groups(
        if (id == 1) Seq.empty else sm.liveFiles(ScanPlanner.retained(sm, id - 1)))
      ScanPlanner.groups(delta).map { case (group @ (part, bucket), deltaFiles) =>
        GraftChangelogPartition(paths(deltaFiles),
          paths(baseline.getOrElse(group, Seq.empty)), part.toArray, bucket)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // retraction rows (-U/-D) are SYNTHESIZED against pre-commit state
    // — they have no source data file, so _file is undefined here; the
    // fallback assembler would otherwise throw a bare
    // IllegalArgumentException from kvSchema.fieldIndex at reader
    // creation on the executor
    require(!required.fieldNames.contains("_file"),
      "_file is not defined on the retraction changelog stream " +
        "(synthesized -U/-D rows have no source file); read _file from " +
        "the batch changelog view instead")
    GraftChangelogReaderFactory(schema.fields.json, schema.partitionKeys,
      schema.trimmedPrimaryKeys, required.json, schema.idMap,
      ioSpec = schema.ioSpec,
      sortEngine = schema.options.getOrElse("sort-engine", "min-heap"))
  }
}

final case class GraftChangelogPartition(
    deltaFiles: Array[String],
    baselineFiles: Array[String],
    partitionValues: Array[String],
    bucket: Int) extends InputPartition

final case class GraftChangelogReaderFactory(
    fieldsJson: String,
    partitionKeys: Seq[String],
    trimmedPk: Seq[String],
    requiredJson: String,
    fieldIds: Map[String, Int] = Map.empty,
    ioSpec: String = "local",
    sortEngine: String = "min-heap") extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GraftChangelogPartition]
    val fields = DataType.fromJson(fieldsJson).asInstanceOf[StructType]
    val required = DataType.fromJson(requiredJson).asInstanceOf[StructType]
    val kvSchema = DataFileWriter.fileSchema(fields, partitionKeys, isPk = true)
    val keyIdx = trimmedPk.map(kvSchema.fieldIndex)
    val keyTypes = trimmedPk.map(k => kvSchema(kvSchema.fieldIndex(k)).dataType)

    def keyOf(r: InternalRow): Seq[String] =
      keyIdx.zip(keyTypes).map { case (i, dt) => Values.encodeField(r, i, dt) }

    def open(f: String) =
      SortMergeReader.open(f, kvSchema, kvSchema, fieldIds, ioSpec)

    // baseline: merged pre-commit state of the bucket (key -> value
    // row); merged rows view their batches, so the map keeps copies
    val state = mutable.HashMap.empty[Seq[String], InternalRow]
    if (part.baselineFiles.nonEmpty)
      new SortMergeReader(part.baselineFiles.map(open), keyIdx, keyTypes, 0, 1,
        sortEngine, null)
        .foreach { case (_, r) => state.update(keyOf(r), r.copy()) }

    // delta rows in sequence order
    val delta = part.deltaFiles.toSeq
      .flatMap(f => open(f).rows.map(_.copy())).sortBy(_.getLong(0))

    // synthesize the changelog
    val out = mutable.ArrayBuffer.empty[(Byte, Long, InternalRow)]
    delta.foreach { r =>
      val key = keyOf(r)
      val seq = r.getLong(0)
      val rawKind = r.getInt(1).toByte
      val newIsAdd = RowKind.isAdd(rawKind)
      val old = state.get(key)
      old match {
        case Some(prev) if newIsAdd =>
          out += ((RowKind.UpdateBefore, seq, prev))
          out += ((RowKind.UpdateAfter, seq, r))
          state.update(key, r)
        case Some(prev) =>
          // preserve the producer's kind: a -U (the retraction half of
          // a merge-on-read UPDATE pair) must not read as a delete —
          // its +U partner follows at the next sequence. The emitted
          // values are the PRIOR state (richer than the raw -U row,
          // whose non-key columns are null).
          out += ((if (rawKind == RowKind.UpdateBefore) RowKind.UpdateBefore
            else RowKind.Delete, seq, prev))
          state.remove(key)
        case None if newIsAdd =>
          // a raw +U lands here right after its -U partner retracted
          // the state — surface it with its own kind so the pair reads
          // -U/+U; plain inserts (+I) stay +I
          out += ((if (rawKind == RowKind.UpdateAfter) RowKind.UpdateAfter
            else RowKind.Insert, seq, r))
          state.update(key, r)
        case None => () // delete of an absent key: no event
      }
    }

    // assemble into the changelog view's schema: one UnsafeProjection
    // over ([kind, seq, partition values…], row)
    val meta = new GenericInternalRow((Seq[Any](0, 0L) ++
      partitionKeys.zipWithIndex.map { case (k, i) =>
        Values.parse(fields(fields.fieldIndex(k)).dataType, part.partitionValues(i))
      }).toArray)
    val project = UnsafeProjection.create(required.fields.toSeq.map { f =>
      val i = f.name match {
        case "_row_kind" => 0
        case "_sequence_number" => 1
        case n if partitionKeys.contains(n) => 2 + partitionKeys.indexOf(n)
        case n => meta.numFields + kvSchema.fieldIndex(n)
      }
      BoundReference(i, f.dataType, nullable = true)
    })

    val it = out.iterator
    new PartitionReader[InternalRow] {
      private val joined = new JoinedRow
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) {
          val (kind, seq, row) = it.next()
          meta.setInt(0, kind.toInt)
          meta.setLong(1, seq)
          current = project(joined(meta, row))
          true
        } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
