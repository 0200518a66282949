package graft.connector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import graft.core.{RowKind, TableSchema}
import graft.format.{DataFileMeta, DataFileWriter, SnapshotManager}
import java.nio.file.Path
import scala.collection.mutable

/** Scan-side of the connector — ≙ `ReadBuilder → TableScan.plan() →
  * splits` (`pypaimon/api/table_scan.py:24-37`) + the pynative reader
  * stack (SURVEY §2.4), re-expressed as DSv2:
  *
  *  - `pushFilters` keeps every conjunct as a post-scan filter (the
  *    reference's pushdown is best-effort too: "it is not guaranteed
  *    that it is a complete filter", `pypaimon/api/read_builder.py:30-34`)
  *    except the partition-only ones [[ScanPlanner.enforceable]]
  *    accepts, and hands them all to [[ScanPlanner]] for file pruning
  *    (partition values, zone maps, buckets — the same selection the
  *    facade's `TableScan.plan()` reports).
  *  - `pushLimit` is split-granular: planning stops adding append-table
  *    splits once their row count covers the limit; Spark's own
  *    GlobalLimit trims exactly (`test_pynative_reader.py:166-181`).
  *  - One [[InputPartition]] per (partition, bucket) for PK tables (the
  *    merge unit), per data file for append tables.
  */
class GraftScanBuilder(tableDir: Path, schema: TableSchema,
    pinnedSnapshot: Option[Long] = None,
    changelogView: Boolean = false,
    fullSchema: StructType = null,
    rowLevelOp: Option[GraftRowLevelOperation] = None,
    retractions: Boolean = false,
    incremental: Option[(Long, Long)] = None,
    consumerId: Option[String] = None,
    maxSnapshotsPerTrigger: Option[Long] = None)
  extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  private var filters: Array[Filter] = Array.empty
  private var accepted: Array[Filter] = Array.empty
  private var required: StructType =
    if (fullSchema != null) fullSchema else schema.fields
  private var limit: Option[Int] = None
  // (specs, output schema, snapshot the pushdown VALIDATED against —
  // the agg scan executes on that same snapshot, so a commit racing
  // the window between planning and execution can neither invalidate
  // the COUNT(col) null-count check nor shift the answer off the
  // planned state)
  private var pushedAgg
      : Option[(Seq[GraftAggScan.Spec], StructType, Option[Long])] = None

  /** COUNT(*)/MIN/MAX over an append table are answered entirely from
    * manifest metadata (row counts + zone maps) — zero data files read,
    * the 100 TB "how big is this table" query in O(manifests). Exactness
    * argument: rowCount is exact per file; min/max bounds are computed
    * from actual values (never truncated — oversized ones are dropped,
    * and string/binary columns are excluded here so bounds are present
    * whenever a non-null value exists; a null-only file has no bounds
    * and contributes nothing, which is exactly MIN/MAX null semantics).
    * PK tables can't play: pre-merge metadata counts overwritten rows.
    */
  private def toSpecs(agg: org.apache.spark.sql.connector.expressions
      .aggregate.Aggregation)
      : Option[(Seq[GraftAggScan.Spec], StructType, Option[Long])] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (schema.isPrimaryKeyTable || changelogView || incremental.nonEmpty ||
      rowLevelOp.nonEmpty) return None
    if (filters.exists(flt => !accepted.contains(flt)) || limit.nonEmpty)
      return None
    // GROUP BY is pushable iff every key is a bare partition column —
    // groups then come straight from manifest partition values
    val groupCols: Seq[String] = agg.groupByExpressions.toSeq.map {
      case nr: NamedReference if nr.fieldNames().length == 1 &&
        schema.partitionKeys.contains(nr.fieldNames()(0)) =>
        nr.fieldNames()(0)
      case _ => return None
    }
    // the persisted schema lineage, loaded AT MOST ONCE per pushdown
    // attempt: the float-era test below runs per DOUBLE column, and
    // re-walking the lineage inside it would cost O(schemas × columns)
    // driver file reads per planning — the exact cost the merge-rule
    // guard's single-walk design avoids
    lazy val lineageSchemas: Seq[graft.core.TableSchema] =
      graft.core.TableSchema.listIds(tableDir)
        .flatMap(sid => graft.core.TableSchema.loadById(tableDir, sid))
    def hadFloatEra(fieldId: Int): Boolean = lineageSchemas.exists { s =>
      val i = s.ids.indexOf(fieldId)
      i >= 0 && s.fields.fields(i).dataType == FloatType
    }
    def col(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[(String, DataType)] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        val n = nr.fieldNames()(0)
        if (!schema.fields.fieldNames.contains(n)) None
        else {
          val dt = schema.fields(schema.fields.fieldIndex(n)).dataType
          // stats absent for these can mean "dropped", not "all null"
          if (dt == StringType || dt == BinaryType) None
          // partition columns have no per-file bounds; prunable later
          else if (schema.partitionKeys.contains(n)) None
          // float→double WIDENED column: pre-widening files recorded
          // stat strings from Float.toString, whose shortest decimal
          // parses to a different double than the float it names
          // widens to (0.1f.toDouble ≠ "0.1".toDouble) — an "exact"
          // pushed MIN/MAX could return a value no row contains.
          // evalRange survives this by widening bounds conservatively;
          // an exact aggregate cannot, so refuse pushdown when the
          // schema lineage shows a float era for this field id.
          else if (dt == DoubleType &&
            schema.idMap.get(n).exists(hadFloatEra)) None
          else Some(n -> dt)
        }
      case _ => None
    }
    // COUNT(col) needs exact per-file null counts for the column in
    // EVERY live file (older files may predate null-count stats).
    // The snapshot this validation reads is what the agg scan must
    // EXECUTE on — re-resolving latest at execution would race
    // concurrent commits whose files may lack the checked stats.
    lazy val sm = new SnapshotManager(tableDir,
      io = graft.format.FileIO.resolve(schema.ioSpec))
    lazy val aggSnapshot = ScanPlanner.snapshot(sm, pinnedSnapshot)
    lazy val liveFiles: Seq[DataFileMeta] =
      aggSnapshot.map(sm.liveFiles(_)).getOrElse(Seq.empty)
    def countable(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        val n = nr.fieldNames()(0)
        if (!schema.fields.fieldNames.contains(n) ||
          schema.partitionKeys.contains(n)) None
        else if (liveFiles.forall(_.nullCounts.contains(n))) Some(n)
        else None
      case _ => None
    }
    val specs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(GraftAggScan.CountStar ->
        StructField("count(*)", LongType, nullable = false))
      case c: Count if !c.isDistinct => countable(c.column).map(n =>
        GraftAggScan.CountOf(n) ->
          StructField(s"count($n)", LongType, nullable = false))
      case m: Min => col(m.column).map { case (n, dt) =>
        GraftAggScan.MinOf(n) -> StructField(s"min($n)", dt) }
      case m: Max => col(m.column).map { case (n, dt) =>
        GraftAggScan.MaxOf(n) -> StructField(s"max($n)", dt) }
      case _ => None
    }
    if (specs.exists(_.isEmpty)) None
    else {
      val groupFields = groupCols.map(c =>
        schema.fields(schema.fields.fieldIndex(c)).copy(nullable = true))
      // resolve the execution snapshot only when a spec actually needs
      // per-file stats consistency; plain COUNT(*)/MIN/MAX over the
      // latest state may keep execution-time resolution (None stays
      // None on an empty table either way)
      val needsPin = specs.flatten.map(_._1)
        .exists(_.isInstanceOf[GraftAggScan.CountOf])
      Some(((groupCols.map(GraftAggScan.GroupBy.apply) ++
        specs.flatten.map(_._1)),
        StructType(groupFields ++ specs.flatten.map(_._2)),
        if (needsPin) aggSnapshot.map(_.id) else pinnedSnapshot))
    }
  }

  override def supportCompletePushDown(agg: org.apache.spark.sql.connector
      .expressions.aggregate.Aggregation): Boolean = toSpecs(agg).isDefined

  override def pushAggregation(agg: org.apache.spark.sql.connector
      .expressions.aggregate.Aggregation): Boolean = toSpecs(agg) match {
    case some @ Some(_) => pushedAgg = some; true
    case None => false
  }

  override def pushFilters(f: Array[Filter]): Array[Filter] = {
    filters = f
    val acceptable = rowLevelOp.isEmpty && !changelogView && incremental.isEmpty
    accepted =
      if (!acceptable) Array.empty
      else f.filter(ScanPlanner.enforceable(schema, _))
    // partition-only decidable conjuncts are enforced by pruning; the
    // rest are re-evaluated by Spark post-scan (defense in depth)
    f.filterNot(accepted.contains)
  }

  override def pushedFilters(): Array[Filter] =
    ScanPlanner.prunable(schema, filters.toSeq).toArray

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }

  override def build(): Scan = (pushedAgg, rowLevelOp) match {
    case (Some((specs, aggSchema, aggSnap)), None) =>
      new GraftAggScan(tableDir, schema, aggSnap, specs, aggSchema,
        accepted)
    case (_, Some(op)) =>
      new GraftScan(tableDir, schema, required, filters, limit,
        pinnedSnapshot, changelogView, Some(op)) with GraftRuntimeFiltering {
        override protected def onRuntimeFileFilter(files: Set[String]): Unit =
          setRuntimeFiles(files)
      }
    case _ =>
      new GraftScan(tableDir, schema, required, filters, limit, pinnedSnapshot,
        changelogView, retractions = retractions, incremental = incremental,
        acceptedFilters = accepted, consumerId = consumerId,
        maxSnapshotsPerTrigger = maxSnapshotsPerTrigger)
  }
}

/** The bucket id doubles as the partition key — the handshake
  * storage-partitioned joins need (HasPartitionKey +
  * [[GraftScan.outputPartitioning]] + the catalog's `bucket` function).
  * Spark only consults it when the scan reports KeyGroupedPartitioning
  * (PK tables); elsewhere it is inert.
  */
final case class GraftInputPartition(
    filePaths: Array[String], // absolute
    partitionValues: Array[String],
    bucket: Int,
    // parsed partition values :+ bucket — row shape of the scan's
    // KeyGroupedPartitioning keys (identity(part cols)..., bucket(pk))
    keyValues: Array[Any] = Array.empty) extends InputPartition
  with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(if (keyValues.nonEmpty) keyValues
    else Array[Any](bucket))
}

class GraftScan(tableDir: Path, schema: TableSchema, required: StructType,
    filters: Array[Filter], limit: Option[Int],
    pinnedSnapshot: Option[Long] = None,
    changelogView: Boolean = false,
    rowLevelOp: Option[GraftRowLevelOperation] = None,
    retractions: Boolean = false,
    incremental: Option[(Long, Long)] = None,
    acceptedFilters: Array[Filter] = Array.empty,
    consumerId: Option[String] = None,
    maxSnapshotsPerTrigger: Option[Long] = None)
  extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning
    with SupportsReportOrdering {

  /** The bucket-local k-way merge emits rows sorted by trimmed pk
    * (ascending, NULLS FIRST — `Values.compare`); reporting it lets
    * sort-merge joins over co-bucketed PK tables skip their Sort nodes
    * entirely. Only claimed when every key column survives projection
    * (the ordering must be expressible over the scan output).
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions._
    val orderCols = schema.partitionKeys ++ schema.trimmedPrimaryKeys
    val sorted = schema.isPrimaryKeyTable && !changelogView &&
      rowLevelOp.isEmpty && incremental.isEmpty &&
      orderCols.forall(required.fieldNames.contains)
    if (!sorted) Array.empty
    // partition columns are CONSTANT within an input partition, so any
    // ordering that leads with them holds trivially — and it is exactly
    // the (pt..., pk...) order a co-partitioned join asks for
    else orderCols.map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING,
        NullOrdering.NULLS_FIRST)).toArray
  }

  /** Storage-partitioned joins: an unpartitioned PK table is clustered
    * by `bucket(numBuckets, trimmedPk...)`, and the bucket is both the
    * merge unit and the input partition — so two co-bucketed tables
    * join (or a GROUP BY pk aggregates) with NO shuffle: Spark matches
    * the two sides' KeyGroupedPartitionings via the catalog's `bucket`
    * function identity and zips bucket partitions directly
    * (spark.sql.sources.v2.bucketing.enabled=true). Partitioned PK
    * tables cluster by (partition identities..., bucket); append
    * tables by partition values alone.
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.Expressions
    // row-level DML scans re-filter partitions at runtime (_file groups)
    // AFTER this is computed — keep them out so counts stay consistent
    val spjEligible = !changelogView && incremental.isEmpty &&
      rowLevelOp.isEmpty &&
      (schema.isPrimaryKeyTable || schema.partitionKeys.nonEmpty)
    if (spjEligible) {
      // PK tables cluster by (partition..., bucket(pk)); append tables
      // by partition values alone (Spark groups the per-file splits by
      // key under v2.bucketing, so per-file parallelism is traded for
      // the shuffle only when a join actually wants co-partitioning)
      val keys: Seq[org.apache.spark.sql.connector.expressions.Expression] =
        if (schema.isPrimaryKeyTable)
          schema.partitionKeys.map(Expressions.identity) :+
            Expressions.bucket(schema.numBuckets, schema.trimmedPrimaryKeys: _*)
        else schema.partitionKeys.map(Expressions.identity)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        keys.toArray, planInputPartitions().length)
    } else new org.apache.spark.sql.connector.read.partitioning
      .UnknownPartitioning(0)
  }

  // row-level DML: runtime group filter on _file (absolute paths)
  @volatile private var runtimeFiles: Option[Set[String]] = None
  protected def setRuntimeFiles(files: Set[String]): Unit =
    runtimeFiles = Some(files)

  /** Dynamic partition pruning: Spark evaluates the dimension side of a
    * join first and hands the surviving partition-key values here as In
    * filters; planInputPartitions then skips whole partitions — the
    * star-join pattern at 100 TB (fact partitioned by date/type, dim
    * filter selects a few values). Row-level DML scans override this
    * with `_file` group filtering (GraftRuntimeFiltering).
    */
  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    schema.partitionKeys.map(
      org.apache.spark.sql.connector.expressions.Expressions.column).toArray

  override def filter(fs: Array[Filter]): Unit =
    // keep only shapes partition pruning can evaluate exactly; unknown
    // shapes are dropped (sound — pruning is an optimization)
    runtimeFilters = fs.filter(_.references.forall(schema.partitionKeys.contains))

  override def readSchema(): StructType = required

  /** Post-pruning size/row estimates → lets Catalyst pick broadcast
    * joins over graft tables like over native parquet relations.
    */
  override def estimateStatistics(): Statistics = {
    val files = prunedFiles()
    val rows = files.map(_.rowCount).sum
    val bytes = files.map(_.fileSize).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // streaming reuses the incremental option as the start offset;
    // fromSnapshot=-1 means "latest" (stream only new commits)
    val start = incremental.map(_._1)
    if (changelogView && retractions) {
      // the retraction producer replays LWW state transitions; other
      // merge engines fold runs by different rules, so a synthesized
      // -U/+U pair would misstate their pre-commit state
      require(schema.mergeSpec.isPlainDeduplicate,
        "retractions are only defined for merge-engine 'deduplicate' " +
          "without ignore-delete; read the raw $changelog instead")
      new GraftChangelogStream(tableDir, schema, required, start,
        consumerId = consumerId, maxPerTrigger = maxSnapshotsPerTrigger)
    }
    else {
      // the plain table stream's contract is "raw upsert rows, dedup
      // last-wins downstream" — correct for the deduplicate engine
      // (ignore-delete included: the stream drops -D rows, and the
      // engine ignores them too), but an INVERSION of first-row, a
      // single partial for aggregation/partial-update, and arrival
      // order for sequence.field. Those tables stream through the raw
      // $changelog view, which exposes kinds/sequence/field columns
      // for an engine-aware consumer fold.
      val spec = schema.mergeSpec
      require(!schema.isPrimaryKeyTable || changelogView ||
          (spec.engine == "deduplicate" && spec.seqField.isEmpty),
        "plain streaming reads assume deduplicate merge semantics " +
          s"(table has merge-engine '${spec.engine}'" +
          spec.seqField.map(f => s", sequence.field '$f'").getOrElse("") +
          "); stream the $changelog view and fold with the engine's rules")
      new GraftMicroBatchStream(tableDir, schema, required, start,
        consumerId = consumerId, maxPerTrigger = maxSnapshotsPerTrigger)
    }
  }

  override def description(): String = {
    val read = range match {
      case Some((from, to)) => s"snapshots=($from, $to]"
      case None =>
        val pin = if (pinnedSnapshot.isDefined) " (time travel)" else ""
        s"snapshot=${snapshot.fold(-1L)(_.id)}$pin"
    }
    s"GraftScan($read, pruneBy=[${filters.mkString(", ")}], limit=$limit)"
  }

  private lazy val sm =
    new SnapshotManager(tableDir, io = graft.format.FileIO.resolve(schema.ioSpec))

  /** The scan's snapshot, resolved once, on first use, through
    * [[ScanPlanner]]; [[live]] holds its files. Statistics, partitioning,
    * planning and the description all see this one snapshot, and
    * runtime filters that arrive later re-prune the same live set, so a
    * commit racing the scan cannot make it advertise the partitions of
    * one snapshot and read those of the next.
    */
  private lazy val snapshot: Option[graft.format.Snapshot] =
    ScanPlanner.snapshot(sm, pinnedSnapshot)

  /** An incremental read's (from, to], `to` clamped to the latest id. */
  private lazy val range: Option[(Long, Long)] = incremental.map {
    case (from, to) => (from, math.min(to, sm.latestSnapshotId.getOrElse(0L)))
  }

  /** The files the scan may read before pruning: the snapshot's live
    * files, or the APPEND deltas of an incremental read's range.
    */
  private lazy val live: Seq[DataFileMeta] = range match {
    case Some((from, to)) => ScanPlanner.appendDeltas(sm, from, to).flatMap(_._2)
    case None => snapshot.map(sm.liveFiles(_)).getOrElse(Seq.empty)
  }

  /** Files after pruning and the runtime filters. Memoized per
    * runtime-filter state: Spark calls estimateStatistics,
    * outputPartitioning AND planInputPartitions on the same Scan, and
    * runtime filters (dynamic partition pruning, row-level _file groups)
    * arrive after the first call, so the key is that mutable state.
    */
  @volatile private var filesCache
      : Option[(Seq[Filter], Option[Set[String]], Seq[DataFileMeta])] = None

  private def prunedFiles(): Seq[DataFileMeta] = {
    val k1 = runtimeFilters.toSeq
    val k2 = runtimeFiles
    filesCache match {
      case Some((f1, f2, files)) if f1 == k1 && f2 == k2 => files
      case _ =>
        val files = computePrunedFiles()
        filesCache = Some((k1, k2, files))
        files
    }
  }

  private def abs(f: DataFileMeta): String = tableDir.resolve(f.fileName).toString

  private def computePrunedFiles(): Seq[DataFileMeta] = {
    // DPP filters are partition-only, so they prune like pushed ones
    val pruned = ScanPlanner.prune(schema, live, filters ++ runtimeFilters,
      acceptedFilters, groupGranular = rowLevelOp.isDefined && schema.isPrimaryKeyTable)
    // row-level runtime group filter: keep the groups that own the
    // named files (whole buckets for PK tables — the merge unit)
    runtimeFiles match {
      case Some(named) =>
        if (schema.isPrimaryKeyTable && !changelogView) {
          val groups = pruned.filter(f => named.contains(abs(f)))
            .map(f => (f.partition, f.bucket)).toSet
          pruned.filter(f => groups.contains((f.partition, f.bucket)))
        } else pruned.filter(f => named.contains(abs(f)))
      case None => pruned
    }
  }

  /** Memoized like [[prunedFiles]] (same runtime-filter key):
    * outputPartitioning needs the partition COUNT and Spark separately
    * plans the partitions, so the group-by + first-fit bin packing —
    * O(files) work over potentially hundreds of thousands of files at
    * the target scale — must not run once per caller.
    */
  @volatile private var partitionsCache
      : Option[(Seq[Filter], Option[Set[String]], Array[InputPartition])] = None

  override def planInputPartitions(): Array[InputPartition] = {
    val k1 = runtimeFilters.toSeq
    val k2 = runtimeFiles
    partitionsCache match {
      case Some((f1, f2, parts)) if f1 == k1 && f2 == k2 => parts
      case _ =>
        val parts = computePlannedPartitions()
        partitionsCache = Some((k1, k2, parts))
        parts
    }
  }

  private def computePlannedPartitions(): Array[InputPartition] = {
    require(incremental.isEmpty || changelogView,
      "Incremental BATCH reads (fromSnapshot/toSnapshot) are served by " +
        "the $changelog view; the base table always reads a full snapshot " +
        "(for streaming, fromSnapshot sets the start offset on any table)")
    val afterBucket = prunedFiles()
    val pTypes = schema.partitionKeys.map(schema.fields(_).dataType)
    // record the replaced-group file set for the row-level commit
    rowLevelOp.foreach(_.planned.set(afterBucket.map(abs)))

    if (schema.isPrimaryKeyTable && !changelogView) {
      ScanPlanner.groups(afterBucket).map {
        case ((part, bucket), fs) =>
          val keyVals: Array[Any] = (part.zip(pTypes).map { case (v, dt) =>
            Values.parse(dt, v)
          } :+ (bucket: Any)).toArray
          GraftInputPartition(fs.map(abs).toArray, part.toArray, bucket, keyVals)
      }.toArray
    } else {
      // split-granular limit: keep whole files until rows cover n
      val selected = limit match {
        case Some(n) =>
          var acc = 0L
          afterBucket.takeWhile { f =>
            val keep = acc < n; acc += f.rowCount; keep
          }
        case None => afterBucket
      }
      // bin-pack small files into target-sized splits (Spark's
      // FilePartition sizing rule): a small-file-heavy table must not
      // cost one task per file at 100 TB, and a small corpus must not
      // collapse below cluster parallelism. Packing stays WITHIN one
      // (partition, bucket) group — a split carries a single set of
      // partition constants. Files are immutable-once-written, so
      // size-descending first-fit keeps splits balanced.
      val OpenCost = 4L << 20
      val MaxSplit = 128L << 20
      val parallelism = math.max(1,
        org.apache.spark.sql.SparkSession.active
          .sparkContext.defaultParallelism)
      val totalCost = selected.map(_.fileSize + OpenCost).sum
      // `source.split.target-size` (reference knob) pins the packing
      // target exactly; otherwise adapt between the 128 MiB cap and a
      // cluster-parallelism floor
      val target = schema.splitTargetSize.getOrElse(math.min(MaxSplit,
        math.max(OpenCost, totalCost / parallelism + 1)))
      ScanPlanner.groups(selected).iterator.flatMap {
        case ((part, bucket), fs) =>
          val keyVals: Array[Any] = part.zip(pTypes).map {
            case (v, dt) => Values.parse(dt, v)
          }.toArray
          val bins = scala.collection.mutable
            .ArrayBuffer.empty[(scala.collection.mutable.ArrayBuffer[String], Long)]
          fs.sortBy(-_.fileSize).foreach { f =>
            val cost = f.fileSize + OpenCost
            bins.indexWhere(_._2 + cost <= target) match {
              case -1 =>
                bins += ((scala.collection.mutable.ArrayBuffer(abs(f)), cost))
              case i =>
                bins(i)._1 += abs(f)
                bins(i) = (bins(i)._1, bins(i)._2 + cost)
            }
          }
          bins.map { case (paths, _) =>
            GraftInputPartition(paths.toArray, part.toArray, bucket, keyVals)
          }
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(schema.fields.json, schema.partitionKeys,
      schema.trimmedPrimaryKeys, schema.isPrimaryKeyTable, required.json,
      merge = !changelogView, fieldIds = schema.idMap,
      ioSpec = schema.ioSpec,
      sortEngine = schema.options.getOrElse("sort-engine", "min-heap"),
      mergeSpec = schema.mergeSpec,
      // A row-level rewrite scan must surface EVERY row of the groups
      // it reads — its pushed condition selects which rows get
      // DELETED/UPDATED, so it may only prune whole groups (files),
      // never records. All other scans pass their prunable conjuncts
      // down for row-group and page skipping.
      dataFilters =
        if (rowLevelOp.isDefined) Seq.empty else ScanPlanner.prunable(schema, filters.toSeq))
}

/** Executor-side reader ≙ the pynative operator pipeline: concat of
  * per-file readers, KV merge (last-write-wins by sequence), drop-delete,
  * partition-constant injection, projection
  * (SURVEY §2.4; `sort_merge_reader.py`, `drop_delete_reader.py`,
  * `data_file_record_reader.py`).
  */
final case class GraftReaderFactory(
    fieldsJson: String,
    partitionKeys: Seq[String],
    trimmedPk: Seq[String],
    isPk: Boolean,
    requiredJson: String,
    merge: Boolean = true,
    fieldIds: Map[String, Int] = Map.empty,
    // row-group and page skipping only: [[ScanPlanner.prunable]]
    // conjuncts, which are sound below the merge
    dataFilters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty,
    ioSpec: String = "local",
    sortEngine: String = "min-heap",
    mergeSpec: graft.format.MergeFunction.Spec =
      graft.format.MergeFunction.Spec("deduplicate", false, Map.empty),
    // raw (merge=false) PK reads that must NOT surface retraction rows
    // (-U/-D, whose non-key columns are null) as data — the plain
    // micro-batch stream: its contract is "raw upsert rows, dedup
    // downstream", and deletes are documented invisible there. The
    // $changelog view keeps every kind (its readers consume kinds).
    dropNonAdd: Boolean = false)
  extends PartitionReaderFactory {

  /** Append-table parquet partitions hand Spark the batches of
    * [[graft.format.ParquetBatchReader]] (the reference is
    * Arrow-columnar end-to-end, SURVEY §1.2). Primary-key partitions
    * decode through the same reader but leave as rows: the merge walks
    * the batches of every file of the bucket at once ([[createReader]]).
    * KV metadata columns leave as rows too.
    */
  override def supportColumnarReads(p: InputPartition): Boolean = {
    val required = DataType.fromJson(requiredJson).asInstanceOf[StructType]
    // any io spec keeps the columnar path: non-local stores read
    // through the graftio:// Hadoop adapter with ranged FileIO reads
    !isPk &&
      p.asInstanceOf[GraftInputPartition].filePaths.forall(_.endsWith(".parquet")) &&
      !required.fieldNames.exists(n =>
        n == "_sequence_number" || n == "_row_kind")
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.vectorized.ColumnarBatch
    val part = p.asInstanceOf[GraftInputPartition]
    val fields = DataType.fromJson(fieldsJson).asInstanceOf[StructType]
    val required = DataType.fromJson(requiredJson).asInstanceOf[StructType]
    val pVals: Map[String, Any] = partitionKeys.zipWithIndex.map { case (k, i) =>
      k -> Values.parse(fields(fields.fieldIndex(k)).dataType, part.partitionValues(i))
    }.toMap

    new PartitionReader[ColumnarBatch] {
      private val files = part.filePaths.iterator
      private var reader: graft.format.ParquetBatchReader = _

      override def next(): Boolean = {
        while (reader != null || files.hasNext) {
          if (reader == null) {
            val f = files.next()
            // partition values and `_file` ride as constant vectors
            reader = new graft.format.ParquetBatchReader(
              graft.format.GraftFileSystem.uriFor(ioSpec, f), required,
              fieldIds, dataFilters, pVals +
                ("_file" -> org.apache.spark.unsafe.types.UTF8String.fromString(f)))
          }
          if (reader.nextBatch()) return true
          reader = null
        }
        false
      }
      override def get(): ColumnarBatch = reader.batch
      override def close(): Unit = if (reader != null) { reader.close(); reader = null }
    }
  }

  /** Row reader: primary-key partitions (merged unless `merge=false`)
    * and every non-parquet or KV-metadata read. Each file is one
    * [[graft.format.SortMergeReader.Run]] — Parquet decoded columnar —
    * and every output row leaves through ONE `UnsafeProjection` over
    * (row, [partition values…, `_file`]).
    */
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference,
      JoinedRow, Literal, UnsafeProjection}
    val part = p.asInstanceOf[GraftInputPartition]
    val fields = DataType.fromJson(fieldsJson).asInstanceOf[StructType]
    val required = DataType.fromJson(requiredJson).asInstanceOf[StructType]
    // data files hold non-partition fields (+ seq/kind for PK tables)
    val dataFields = StructType(fields.fields.filterNot(f => partitionKeys.contains(f.name)))
    val kvFileSchema = DataFileWriter.fileSchema(fields, partitionKeys, isPk)

    // columns we must read: required ∩ dataFields, plus key/seq/kind for merge
    val needMerge = isPk && merge
    val requiredData = dataFields.fields.map(_.name)
      .filter(n => required.fieldNames.contains(n) ||
        (needMerge && (trimmedPk.contains(n) ||
          // columns the merge ORDERS by (sequence.field, every
          // sequence-group version column) ride below the merge even
          // when the projection prunes them — group folds are exact
          // under member pruning, but never under version pruning
          mergeSpec.orderingColumns.contains(n))))
    val wantsKv = required.fieldNames.exists(
      n => n == "_sequence_number" || n == "_row_kind") || dropNonAdd
    val readSchema = if (needMerge || (isPk && wantsKv)) StructType(
      kvFileSchema.fields.filter(f => f.name == "_SEQUENCE_NUMBER" ||
        f.name == "_VALUE_KIND" || requiredData.contains(f.name)))
    else StructType(dataFields.fields.filter(f => requiredData.contains(f.name)))

    // one run per file, tagged with its path (`_file`). Every opened
    // run is kept so PartitionReader.close() can release it on EARLY
    // termination (limit/take, join short-circuit, task kill) — runs
    // otherwise only self-release when drained.
    val opened = mutable.ArrayBuffer.empty[graft.format.SortMergeReader.Run]
    def open(f: String) = opened.addOne(graft.format.SortMergeReader.open(f,
      if (isPk) kvFileSchema else dataFields, readSchema, fieldIds, ioSpec,
      dataFilters)).last
    val seqIdx = readSchema.fieldNames.indexOf("_SEQUENCE_NUMBER")
    val kindIdx = readSchema.fieldNames.indexOf("_VALUE_KIND")
    val rows: Iterator[(String, InternalRow)] =
      if (needMerge) {
        val keyIdx = trimmedPk.map(readSchema.fieldIndex)
        // bucket-local k-way sort-merge (files are written sorted by
        // key, seq): max-sequence wins per trimmed-pk tuple, then
        // non-add kinds dropped. No shuffle — the bucket IS the merge
        // unit — and memory is O(open files)
        new graft.format.SortMergeReader(part.filePaths.map(open), keyIdx,
          keyIdx.map(readSchema(_).dataType), seqIdx, kindIdx, sortEngine,
          graft.format.MergeFunction.create(mergeSpec, readSchema, keyIdx,
            seqIdx, kindIdx))
      } else part.filePaths.iterator.flatMap { f =>
        val all = open(f).rows.map(r => (f, r))
        if (!(isPk && dropNonAdd)) all
        else all.filter { case (_, r) =>
          graft.core.RowKind.isAdd(r.getInt(kindIdx).toByte)
        }
      }

    // output: required order over (row, [partition values…, _file])
    val consts = new GenericInternalRow((partitionKeys.zipWithIndex.map {
      case (k, i) =>
        Values.parse(fields(fields.fieldIndex(k)).dataType, part.partitionValues(i))
    } :+ null).toArray[Any])
    val inputNames = readSchema.fieldNames ++ partitionKeys :+ "_file"
    val project = UnsafeProjection.create(required.fields.toSeq.map { f =>
      inputNames.indexOf(f.name match {
        case "_sequence_number" => "_SEQUENCE_NUMBER"
        case "_row_kind" => "_VALUE_KIND"
        case n => n
      }) match {
        case -1 => Literal(null, f.dataType)
        case i => BoundReference(i, f.dataType, nullable = true)
      }
    })
    val tagFile = required.fieldNames.contains("_file")

    new PartitionReader[InternalRow] {
      private val joined = new JoinedRow
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) {
          val (f, r) = rows.next()
          if (tagFile) consts.update(partitionKeys.length,
            org.apache.spark.unsafe.types.UTF8String.fromString(f))
          current = project(joined(r, consts))
          true
        } else false
      override def get(): InternalRow = current
      override def close(): Unit =
        opened.foreach(r => try r.close() catch { case _: Throwable => () })
    }
  }
}

object GraftReaderFactory {
  /** Initialize `reader` over `fileCols` of `file`, skipping the row
    * groups — and, inside them, the pages (column and offset indexes) —
    * whose statistics contradict `filters` (translated per-file to the
    * stored column names and types). Returns false, leaving `reader`
    * untouched, when no conjunct is expressible; errors also return
    * false: skipping is strictly an optimization, Spark re-evaluates
    * every filter above the scan.
    */
  def initPruned(
      reader: org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader,
      file: String, fileCols: Array[String],
      filters: Seq[org.apache.spark.sql.sources.Filter],
      physFor: Map[String, String], storedOf: Map[String, DataType]): Boolean =
    graft.format.ParquetRowGroupFilter.build(filters, physFor, storedOf).exists { pred =>
      try {
        graft.format.ParquetBatchReader.initialize(reader, file, fileCols.toSeq,
          storedOf, Some(pred))
        true
      } catch { case scala.util.control.NonFatal(_) => false }
    }
}

/** Metadata-only aggregate scan: the pushed COUNT(*)/MIN/MAX values are
  * computed on the driver from the snapshot's manifests (row counts and
  * per-file zone maps — see the pushdown rationale in
  * [[GraftScanBuilder]]) and shipped to a single one-row partition.
  */
object GraftAggScan {
  sealed trait Spec extends Serializable
  case object CountStar extends Spec
  final case class CountOf(col: String) extends Spec
  final case class MinOf(col: String) extends Spec
  final case class MaxOf(col: String) extends Spec
  final case class GroupBy(col: String) extends Spec

  final case class AggPartition(rows: Array[Array[Any]]) extends InputPartition

  final case class AggReaderFactory() extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val rows = p.asInstanceOf[AggPartition].rows.iterator
      new PartitionReader[InternalRow] {
        private var current: InternalRow = _
        override def next(): Boolean =
          if (rows.hasNext) { current = new GenericInternalRow(rows.next()); true }
          else false
        override def get(): InternalRow = current
        override def close(): Unit = ()
      }
    }
  }
}

final class GraftAggScan(tableDir: Path, schema: TableSchema,
    pinnedSnapshot: Option[Long],
    specs: Seq[GraftAggScan.Spec], aggSchema: StructType,
    acceptedFilters: Array[Filter] = Array.empty)
  extends Scan with Batch {

  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this

  override def description(): String =
    s"GraftAggScan(metadata-only, pushed=[${specs.mkString(", ")}])"

  override def planInputPartitions(): Array[InputPartition] = {
    val sm = new SnapshotManager(tableDir, io = graft.format.FileIO.resolve(schema.ioSpec))
    // the accepted partition-only conjuncts, enforced strictly
    val files = ScanPlanner.prune(schema,
      ScanPlanner.liveFiles(sm, pinnedSnapshot), Seq.empty, acceptedFilters)
    val groupCols = specs.collect { case GraftAggScan.GroupBy(c) => c }
    val groupIdx = groupCols.map(schema.partitionKeys.indexOf)
    // one output row per distinct combination of the grouped partition
    // values (GROUP BY over zero rows = zero groups — comes out right)
    val groups: Seq[(Seq[String], Seq[DataFileMeta])] =
      if (groupCols.isEmpty) {
        if (files.isEmpty && specs.forall(!_.isInstanceOf[GraftAggScan.GroupBy]))
          Seq(Seq.empty -> Seq.empty) // global aggregate over empty table
        else Seq(Seq.empty -> files)
      } else files.groupBy(f => groupIdx.map(f.partition)).toSeq

    def bound(fs: Seq[DataFileMeta], col: String, wantMin: Boolean): Any = {
      val dt = schema.fields(schema.fields.fieldIndex(col)).dataType
      val vals = fs.flatMap(_.keyStats.get(col)).map { case (lo, hi) =>
        Values.parse(dt, if (wantMin) lo else hi)
      }
      if (vals.isEmpty) null
      else vals.reduce((a, b) =>
        if (Values.compare(dt, a, b) < 0 == wantMin) a else b)
    }
    val rows: Array[Array[Any]] = groups.map { case (gvals, fs) =>
      specs.map {
        case GraftAggScan.GroupBy(c) =>
          val dt = schema.fields(schema.fields.fieldIndex(c)).dataType
          Values.parse(dt, gvals(groupCols.indexOf(c)))
        case GraftAggScan.CountStar => fs.map(_.rowCount).sum: java.lang.Long
        case GraftAggScan.CountOf(c) =>
          // the pushdown validated + pinned the snapshot, so every file
          // carries the stat; a missing one means the pin broke — fail
          // with the cause, not a raw NoSuchElementException
          fs.map(f => f.rowCount - f.nullCounts.getOrElse(c,
            throw new IllegalStateException(
              s"file ${f.fileName} lacks null-count stats for '$c' " +
                "(commit raced the aggregate pushdown validation)")))
            .sum: java.lang.Long
        case GraftAggScan.MinOf(c) => bound(fs, c, wantMin = true)
        case GraftAggScan.MaxOf(c) => bound(fs, c, wantMin = false)
      }.toArray
    }.toArray
    Array(GraftAggScan.AggPartition(rows))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftAggScan.AggReaderFactory()
}
