package graft.format

import java.nio.file.Path

/** Full compaction of one (partition, bucket) group: read every live
  * file, merge (PK tables: last-write-wins by sequence, then drop
  * deletes — safe because the WHOLE bucket is rewritten, so no older
  * file can resurrect a key), write one sorted file back. This is the
  * "second snapshot" of the reference's "one commit may generate up to
  * two snapshots (data + compaction)" (`pypaimon/api/table_commit.py:
  * 28-32`), exposed as an explicit maintenance action.
  *
  * Runs one task per group on executors; the driver publishes a single
  * COMPACT snapshot with DELETE(old)+ADD(new) entries.
  */
// Serializable: compactGroups' rewrite closure references rewriteGroup
// from inside the object, capturing the module; singletons deserialize
// back to themselves via readResolve.
object Compactor extends Serializable {

  /** Executor-side rewrite of one group through the table's writer;
    * returns the replacement file meta.
    */
  def rewriteGroup(
      writer: DataFileWriter,
      mergeSpec: MergeFunction.Spec,
      partition: Seq[String],
      bucket: Int,
      fileNames: Seq[String]): DataFileMeta = {
    val fileSchema = writer.fileSchema
    val opened = scala.collection.mutable.ArrayBuffer.empty[SortMergeReader.Run]
    def open(fn: String) = opened.addOne(SortMergeReader.open(
      Path.of(writer.tableDir).resolve(fn).toString, fileSchema, fileSchema,
      writer.fieldIds, writer.ioSpec)).last

    // STREAMING rewrite: input files are already sorted by (key, seq),
    // so the PK path is the same O(open files)-memory k-way
    // SortMergeReader over the same columnar runs the read path uses
    // (winners in key order, deletes dropped — safe because the WHOLE
    // bucket is rewritten); the append path concatenates. Stats, null
    // counts and sequence bounds accumulate in the writer's single pass.
    val rows: Iterator[org.apache.spark.sql.catalyst.InternalRow] =
      if (writer.isPk) {
        val keyIdx = writer.trimmedPk.map(k => fileSchema.fieldIndex(k))
        val keyTypes = keyIdx.map(i => fileSchema(i).dataType)
        // keepDeletes on sequence.field tables: the winning tombstone's
        // field value must survive the rewrite, or a later out-of-order
        // stale insert would resurrect the deleted key (commit-order
        // engines can drop deletes — later commits always outrank)
        new SortMergeReader(fileNames.map(open).toArray, keyIdx, keyTypes, 0, 1, "min-heap",
          MergeFunction.create(mergeSpec, fileSchema, keyIdx, 0, 1,
            keepDeletes = mergeSpec.seqField.isDefined))
          .map(_._2)
      } else fileNames.iterator.flatMap(open(_).rows)
    // runs close themselves when drained; a failed rewrite closes the rest
    // a PK rewrite emits one row per key
    try writer.write(partition, bucket, "compact", rows, distinctKeys = writer.isPk)
    finally opened.foreach(_.close())
  }

  /** Rewrite + publish the given (partition, bucket) groups as one
    * COMPACT snapshot — one task per group when a SparkSession is
    * available (commit paths run on the driver), serial otherwise.
    * Returns the number of groups published: 0 when the commit
    * aborted (inputs gone, fence tripped, publish lost).
    */
  def compactGroups(spark: Option[org.apache.spark.sql.SparkSession],
      tableDir: Path, schema: graft.core.TableSchema,
      groups: Seq[((Seq[String], Int), Seq[DataFileMeta])]): Int = {
    if (groups.isEmpty) return 0
    // Rewrite with the table's LATEST persisted schema, never the
    // caller's cached handle: a long-lived handle (facade Table, a
    // streaming sink's per-query GraftWrite) compacting after an
    // ALTER TABLE ADD COLUMN would otherwise rewrite whole buckets
    // THROUGH the pre-ADD schema and silently drop every committed
    // value of the new column (caught by LifecycleFuzzSpec's evolve
    // op, seed 7). The reload also stamps the compacted file with the
    // current schema id, so later reads null-fill exactly the columns
    // the rewrite did not carry.
    val schemaNow = graft.core.TableSchema.load(tableDir).getOrElse(schema)
    val writer = DataFileWriter(tableDir, schemaNow)
    val mspec = schemaNow.mergeSpec // compaction folds with the table's engine
    val work = groups.map { case ((part, bucket), fs) =>
      (part, bucket, fs.map(_.fileName))
    }
    val adds = spark match {
      case Some(s) => s.sparkContext.parallelize(work, work.size)
        .map { case (part, bucket, names) =>
          rewriteGroup(writer, mspec, part, bucket, names)
        }
        .collect().toSeq
      case None => work.map { case (part, bucket, names) =>
        rewriteGroup(writer, mspec, part, bucket, names)
      }
    }
    val deleteNames = groups.flatMap(_._2.map(_.fileName)).toSet
    // a group whose merge dropped EVERY key (all tombstones folded
    // away) must commit as a pure DELETE: an empty data file with
    // fabricated 0/0 seq bounds would otherwise be ADDed and opened by
    // every later scan and recompaction of that bucket forever
    val (kept, empty) = adds.partition(_.rowCount > 0)
    val fio = FileIO.resolve(schemaNow.ioSpec)
    empty.foreach(f => fio.delete(tableDir.resolve(f.fileName)))
    if (commit(new SnapshotManager(tableDir, io = fio),
      schemaNow.id, kept, deleteNames, tableDir)) groups.size
    else 0
  }

  /** Commit-triggered compaction ≙ the reference's "one commit may
    * generate up to two snapshots — one for data changes and one for
    * compaction" (`pypaimon/api/table_commit.py:28-32`): after a data
    * commit on a PK table, every (partition, bucket) whose live file
    * count reached `compaction.trigger-file-count` (default 5) is
    * rewritten into one file and published as a second, COMPACT
    * snapshot. `write-only=true` opts a writer out (bulk-ingest
    * pattern); a non-positive trigger disables. Bounded read
    * amplification: a bucket's sorted-run count never exceeds the
    * trigger for long, so merge-on-read stays O(trigger) heap.
    */
  def maybeCompact(tableDir: Path, schema: graft.core.TableSchema): Int = {
    if (!schema.isPrimaryKeyTable) return 0
    val sm = new SnapshotManager(tableDir, io = FileIO.resolve(schema.ioSpec))
    val latest = sm.latestSnapshot.getOrElse(return 0)
    val writeOnly =
      schema.options.get("write-only").exists(_.equalsIgnoreCase("true"))
    // validated at CREATE; a malformed legacy value degrades to the
    // default rather than failing a commit whose snapshot is already
    // published (the data write must never look failed-but-durable)
    val trigger = schema.options.get("compaction.trigger-file-count")
      .flatMap(_.trim.toIntOption).getOrElse(5)
    if (writeOnly || trigger <= 0) {
      // opted-out configurations exist precisely to keep bulk-load
      // commits cheap, so the per-commit manifest fold is exactly the
      // cost they must not pay. They are ALSO where hot buckets
      // accumulate worst — so keep the audit, but rate-limit it: every
      // 16th snapshot, and never again once the table has warned.
      if (!hotBucketWarned.contains(tableDir.toString) && latest.id % 16 == 0)
        warnHotBuckets(tableDir, schema,
          sm.liveFiles(latest).groupBy(f => (f.partition, f.bucket)))
      return 0
    }
    val byBucket = sm.liveFiles(latest)
      .groupBy(f => (f.partition, f.bucket))
    warnHotBuckets(tableDir, schema, byBucket)
    val groups = byBucket.filter(_._2.size >= trigger).toSeq
    compactGroups(org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession),
      tableDir, schema, groups)
  }

  /** Full compaction of every multi-file group — THE entry point
    * shared by the facade handle and the `sys.compact` SQL procedure
    * (one copy of the grouping policy).
    */
  def compactAll(spark: Option[org.apache.spark.sql.SparkSession],
      tableDir: Path, schema: graft.core.TableSchema): Int = {
    val sm = new SnapshotManager(tableDir, io = FileIO.resolve(schema.ioSpec))
    val groups = sm.liveFilesLatest
      .groupBy(f => (f.partition, f.bucket))
      .filter(_._2.size > 1).toSeq
    compactGroups(spark, tableDir, schema, groups)
  }

  /** Straggler guidance: a (partition, bucket) is one merge task, so a
    * hot bucket caps read parallelism and becomes the straggler at
    * scale (README "Bucket sizing"). Warn — once per table per
    * process — when any bucket's live pre-merge rows exceed
    * `bucket.rows-warning-threshold` (default 64M ≈ tens of seconds
    * of single-task merge; <= 0 disables). Metadata-only: the counts come from the manifest
    * entries the compaction check already folded; tables that opt out
    * of compaction (`write-only`, disabled trigger) audit only every
    * 16th snapshot so bulk-load commits stay free of the fold.
    */
  private val hotBucketWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def warnHotBuckets(tableDir: Path, schema: graft.core.TableSchema,
      byBucket: Map[(Seq[String], Int), Seq[DataFileMeta]]): Unit = {
    val warnRows = schema.options.get("bucket.rows-warning-threshold")
      .flatMap(_.trim.toLongOption).getOrElse(64L << 20)
    if (warnRows <= 0) return
    val hot = byBucket.iterator
      .map { case (k, fs) => (k, fs.map(_.rowCount).sum) }
      .filter(_._2 > warnRows).toSeq
    if (hot.nonEmpty && hotBucketWarned.add(tableDir.toString)) {
      val worst = hot.maxBy(_._2)
      System.err.println(s"[graft] WARN: table $tableDir has " +
        s"${hot.size} bucket(s) over $warnRows pre-merge rows (worst: " +
        s"partition=${worst._1._1.mkString("/")} bucket=${worst._1._2} " +
        s"rows=${worst._2}); a bucket is one merge task - raise the " +
        "'bucket' count (see README: Bucket sizing) or compact more often")
    }
  }

  /** Publish a COMPACT (or, for copy-on-write DML, OVERWRITE) snapshot
    * replacing exactly `deleteNames` with `adds`. Aborts if a
    * concurrent commit removed any input, if the merge-rule fence
    * trips (the rewrite folded under the rules it LOADED — a rerun
    * picks up the new schema) or if every publish attempt lost; every
    * abort deletes the `adds` files, which no snapshot references.
    */
  def commit(sm: SnapshotManager, schemaId: Long,
      adds: Seq[DataFileMeta], deleteNames: Set[String],
      tableDir: Path, kind: String = "COMPACT"): Boolean = {
    val published =
      try FileStoreCommit.publish(sm, schemaId, kind) { (base, live) =>
        if (base.isEmpty) throw new IllegalStateException("Compaction on empty table")
        if (!deleteNames.subsetOf(live.map(_.fileName).toSet))
          None // inputs vanished under us
        else Some((live.filter(f => deleteNames.contains(f.fileName)), adds))
      }.isDefined
      catch { case _: MergeRuleFence.Fenced => false }
    if (!published) adds.foreach(f => sm.io.delete(tableDir.resolve(f.fileName)))
    published
  }
}
