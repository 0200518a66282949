package graft.connector

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.DataType
import graft.core.TableSchema
import graft.format.{DataFileMeta, Snapshot, SnapshotManager}

/** The one file selector of the table layer, ≙ the reference planner
  * behind `TableScan.plan()` (`pypaimon/api/table_scan.py:24-37`). The
  * DSv2 scan ([[GraftScan]]), the metadata-only aggregate scan, the
  * facade's `TableScan.plan()`, partition deletes and both micro-batch
  * streams pick their files here, so a stream and a batch read over the
  * same snapshots read the same files. Each soundness rule lives here
  * once:
  *
  *  - partition conjuncts evaluate exactly on partition values. Pruning
  *    is lenient (an undecided conjunct keeps the file); enforcing an
  *    accepted conjunct is strict (undecided means NULL semantics, which
  *    fail every row of the file, so the file goes);
  *  - zone maps: PK tables prune only on trimmed-pk bounds, because
  *    pruning on a value column would resurrect overwritten rows
  *    (`predicate_utils.py:22-56`); append tables prune on every column,
  *    plus exact null counts;
  *  - bucket pruning when `EqualTo` fixes every trimmed-pk field;
  *  - copy-on-write rewrite scans prune whole (partition, bucket) groups.
  */
object ScanPlanner {

  /** The snapshot a read sees: a pinned id or tag, else the latest
    * (None on an empty table).
    */
  def snapshot(sm: SnapshotManager, pinned: Option[Long]): Option[Snapshot] =
    pinned.map(sm.snapshotOrTagged).orElse(sm.latestSnapshot)

  /** The live files of [[snapshot]]. */
  def liveFiles(sm: SnapshotManager, pinned: Option[Long]): Seq[DataFileMeta] =
    snapshot(sm, pinned).map(sm.liveFiles(_)).getOrElse(Seq.empty)

  /** A snapshot a range read needs. Ids go missing only through expiry
    * (a rollback publishes a new snapshot and removes none), so a missing
    * one is a retention error, never a silent skip.
    */
  def retained(sm: SnapshotManager, id: Long): Snapshot =
    try sm.snapshot(id)
    catch {
      case _: java.nio.file.NoSuchFileException =>
        throw new IllegalStateException(s"Snapshot $id needed by this read " +
          "was expired from the table's retention; restart from a retained " +
          "snapshot (fromSnapshot option)")
    }

  /** The files each APPEND snapshot in (from, to] added, per snapshot id
    * in commit order: one stream batch, or one incremental batch read.
    * OVERWRITE and COMPACT snapshots contribute nothing (their files
    * restate history). `to` must not exceed the latest snapshot id.
    */
  def appendDeltas(sm: SnapshotManager, from: Long, to: Long)
      : Seq[(Long, Seq[DataFileMeta])] =
    (math.max(from, 0L) + 1 to to).map(id => id -> retained(sm, id)).collect {
      case (id, s) if s.commitKind == "APPEND" =>
        // a snapshot's own delta manifest is the last in its list
        id -> s.manifests.lastOption.toSeq.flatMap(sm.readManifest)
          .filter(_.isAdd).map(_.file)
    }

  /** Files per (partition, bucket): the merge unit of a PK table. */
  def groups(files: Seq[DataFileMeta]): Map[(Seq[String], Int), Seq[DataFileMeta]] =
    files.groupBy(f => (f.partition, f.bucket))

  /** Columns whose per-file bounds may prune. */
  private def statColumns(schema: TableSchema): Seq[String] =
    if (schema.isPrimaryKeyTable) schema.trimmedPrimaryKeys
    else schema.fields.fieldNames.toSeq.filterNot(schema.partitionKeys.contains)

  /** The conjuncts sound to skip files, row groups or pages on: those
    * over partition and zone-map columns. On a PK table a value-column
    * conjunct could drop an old version of a key whose newer overwrite
    * does not match, resurrecting the old row through the merge; key and
    * partition conjuncts keep or drop every version of a key together.
    */
  def prunable(schema: TableSchema, filters: Seq[Filter]): Seq[Filter] = {
    val cols = (schema.partitionKeys ++ statColumns(schema)).toSet
    filters.filter(_.references.forall(cols.contains))
  }

  /** A conjunct the scan enforces by partition pruning alone: it
    * references only partition columns, in shapes `Values.evalExact`
    * decides under Kleene 3VL. Spark then plans no residual Filter for
    * it, and partition-restricted aggregates stay metadata-only.
    */
  def enforceable(schema: TableSchema, f: Filter): Boolean = {
    def decidable(f: Filter): Boolean = f match {
      case _: EqualTo | _: EqualNullSafe | _: LessThan | _: LessThanOrEqual |
           _: GreaterThan | _: GreaterThanOrEqual | _: In | _: IsNull |
           _: IsNotNull | _: StringStartsWith | _: StringEndsWith |
           _: StringContains => true
      case And(l, r) => decidable(l) && decidable(r)
      case Or(l, r) => decidable(l) && decidable(r)
      case Not(c) => decidable(c)
      case _ => false
    }
    f.references.nonEmpty &&
      f.references.forall(schema.partitionKeys.contains) && decidable(f)
  }

  private def typesOf(schema: TableSchema, cols: Seq[String]): Map[String, DataType] =
    cols.map(c => c -> schema.fields(c).dataType).toMap

  /** Does a file's partition satisfy every conjunct of `filters`?
    * `strict` decides an undecided conjunct as false.
    */
  def partitionAdmits(schema: TableSchema, filters: Seq[Filter],
      strict: Boolean): DataFileMeta => Boolean = {
    val pTypes = typesOf(schema, schema.partitionKeys)
    f => {
      val value: String => Option[Any] = c =>
        schema.partitionKeys.indexOf(c) match {
          case -1 => None
          case i => Some(Values.parse(pTypes(c), f.partition(i)))
        }
      filters.forall(flt =>
        Values.evalExact(flt, pTypes.get, value).getOrElse(!strict))
    }
  }

  /** `filters` with each literal coerced to its column's type
    * ([[Values.coerce]]). A conjunct holding a lossy literal is dropped:
    * undecided, it keeps every file.
    */
  def coerced(schema: TableSchema, filters: Seq[Filter]): Seq[Filter] = {
    def lit(c: String, v: Any): Option[Any] =
      schema.fields.find(_.name == c).fold[Option[Any]](Some(v))(f =>
        Values.coerce(f.dataType, v))
    def go(f: Filter): Option[Filter] = f match {
      case EqualTo(c, v) => lit(c, v).map(EqualTo(c, _))
      case LessThan(c, v) => lit(c, v).map(LessThan(c, _))
      case LessThanOrEqual(c, v) => lit(c, v).map(LessThanOrEqual(c, _))
      case GreaterThan(c, v) => lit(c, v).map(GreaterThan(c, _))
      case GreaterThanOrEqual(c, v) => lit(c, v).map(GreaterThanOrEqual(c, _))
      case In(c, vs) =>
        val xs = vs.toSeq.flatMap(lit(c, _))
        if (xs.length == vs.length) Some(In(c, xs.toArray)) else None
      case And(l, r) => for (a <- go(l); b <- go(r)) yield And(a, b)
      case Or(l, r) => for (a <- go(l); b <- go(r)) yield Or(a, b)
      case Not(c) => go(c).map(Not)
      case other => Some(other)
    }
    filters.flatMap(go)
  }

  /** The files of `live` that `filters` can touch. `accepted` conjuncts
    * carry no residual Filter above the scan, so they are enforced here,
    * strictly. `groupGranular` keeps or drops whole (partition, bucket)
    * groups: a PK copy-on-write rewrite re-merges and replaces whole
    * groups, so dropping one member file on its zone map would drop
    * other keys' newest versions from the re-merge while the replacement
    * carries fresh top sequences, rewinding those keys for good
    * (CowGroupRewriteSpec). A group survives when any member's zone map
    * admits the predicate. Plain reads prune file by file: the merge
    * winner of a surviving key never lives in a file the key predicate
    * pruned.
    */
  def prune(schema: TableSchema, live: Seq[DataFileMeta], filters: Seq[Filter],
      accepted: Seq[Filter] = Seq.empty,
      groupGranular: Boolean = false): Seq[DataFileMeta] = {
    val lenient = partitionAdmits(schema, filters, strict = false)
    val enforced = partitionAdmits(schema, accepted, strict = true)
    val afterPartition = live.filter(f => lenient(f) && enforced(f))

    val keyTypes = typesOf(schema, statColumns(schema))
    def statsAdmit(f: DataFileMeta): Boolean =
      filters.forall(flt =>
        Values.evalRange(flt, keyTypes.get, f.keyStats.get).getOrElse(true)) &&
        (schema.isPrimaryKeyTable || filters.forall {
          // exact null counts (top-level conjuncts only; nested shapes
          // keep the file)
          case IsNull(c) => f.nullCounts.get(c).forall(_ > 0)
          case IsNotNull(c) => f.nullCounts.get(c).forall(_ < f.rowCount)
          case _ => true
        })
    val afterStats =
      if (groupGranular) groups(afterPartition).values.filter(_.exists(statsAdmit)).flatten.toSeq
      else afterPartition.filter(statsAdmit)

    // the key's bucket, when EqualTo conjuncts fix every trimmed-pk field
    val eqs = filters.collect { case EqualTo(c, v) => c -> v }.toMap
    if (schema.isPrimaryKeyTable && schema.trimmedPrimaryKeys.forall(eqs.contains)) {
      val bucket = Values.bucketOf(schema.trimmedPrimaryKeys.map { k =>
        Values.encode(keyTypes(k), Values.toInternal(keyTypes(k), eqs(k)))
      }, schema.numBuckets)
      afterStats.filter(_.bucket == bucket)
    } else afterStats
  }
}
