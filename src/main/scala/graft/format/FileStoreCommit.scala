package graft.format

/** Two-phase batch commit (≙ `BatchTableCommit.commit`,
  * `pypaimon/api/table_commit.py:24-36`): executors produced data files
  * + [[DataFileMeta]] (the CommitMessage payload); the driver folds them
  * into one new manifest and publishes snapshot N+1 with an
  * optimistic-retry loop on id collision.
  */
object FileStoreCommit {

  sealed trait OverwriteMode
  case object NoOverwrite extends OverwriteMode
  /** Full-table or static-partition overwrite: delete every live file
    * whose partition values match `partitionFilter` (empty map = all —
    * `write_builder.overwrite(None)` semantics,
    * `pypaimon/py4j/tests/test_write_and_read.py:311-383`).
    */
  final case class StaticOverwrite(partitionFilter: Map[String, String])
    extends OverwriteMode
  /** Dynamic: delete only partitions that receive new data
    * (`dynamic-partition-overwrite` option).
    */
  case object DynamicOverwrite extends OverwriteMode

  /** Data commit: ADD `newFiles` (re-sequenced above the base's
    * high-water mark when `resequence` names the table's writer and a
    * concurrent commit landed first), DELETE what `mode` overwrites.
    */
  def commit(
      sm: SnapshotManager,
      schemaId: Long,
      partitionKeys: Seq[String],
      newFiles: Seq[DataFileMeta],
      mode: OverwriteMode,
      resequence: Option[DataFileWriter] = None,
      strictKeys: Seq[(String, org.apache.spark.sql.types.DataType)] =
        Seq.empty,
      identifier: Option[String] = None): Snapshot = {

    if (strictKeys.nonEmpty) strictSequenceCheck(newFiles, strictKeys)

    var files = newFiles
    publish(sm, schemaId,
      if (mode == NoOverwrite) "APPEND" else "OVERWRITE", identifier) {
      (base, live) =>
        // Conflict re-sequencing: if a concurrent commit landed first
        // from the same base, our rows may carry sequence numbers at or
        // below the published lastSequenceNumber — the merge winner for
        // a shared key would then be heap-order, not commit-order. Shift
        // our sequences above the published high-water mark (a file
        // rewrite, but only on the losing side of a race) so the LATER
        // COMMIT always wins, matching snapshot-chain semantics.
        resequence.foreach { writer =>
          val lastSeq = base.map(_.lastSequenceNumber).getOrElse(0L)
          val minSeq = files.map(_.minSeq).minOption.getOrElse(Long.MaxValue)
          if (files.nonEmpty && minSeq <= lastSeq) {
            val delta = lastSeq + 1 - minSeq
            files = files.map(f => Resequencer.shift(writer, f, delta))
          }
        }
        val deletes = mode match {
          case NoOverwrite => Seq.empty
          case StaticOverwrite(filter) =>
            // an unknown filter column would otherwise match NO live file
            // (indexOf = -1 fails the forall for every row) and silently
            // turn INSERT OVERWRITE into a plain append — raise instead
            val unknown = filter.keys.filterNot(partitionKeys.contains)
            require(unknown.isEmpty,
              s"static overwrite filter references non-partition column(s) " +
                s"${unknown.mkString(", ")} (partition keys: " +
                s"${partitionKeys.mkString(", ")})")
            val idx = filter.map { case (k, v) => partitionKeys.indexOf(k) -> v }
            live.filter(f => idx.forall { case (i, v) =>
              f.partition.lift(i).contains(v)
            })
          case DynamicOverwrite =>
            val touched = files.map(_.partition).toSet
            live.filter(f => touched.contains(f.partition))
        }
        Some((deletes, files))
    }.getOrElse(throw new IllegalStateException(
      "Commit conflict: gave up after 100 snapshot publish attempts"))
  }

  /** THE optimistic publish loop behind every commit that writes a
    * manifest — data commits, partition DELETEs, compactions and
    * copy-on-write rewrites. Per attempt: read the base snapshot, fence
    * (after the base read, never before: the ALTER saves its schema
    * BEFORE publishing the marker, so once the marker is in `base` the
    * schema is guaranteed visible to the check — a check-then-read
    * ordering would let a complete ALTER land between the two and
    * publish this commit on top of the marker unfenced), fold the live
    * set, ask `plan` for this attempt's (DELETE, ADD) files — None
    * aborts —, write one manifest, chain it (folding past the bound:
    * `live` is already the folded base set), and publish snapshot
    * base+1 with `lastSequenceNumber` and `totalRecordCount` derived
    * from the base plus the entries. A lost publish deletes the
    * attempt's manifests (no snapshot will ever reference them) and
    * re-plans against the newer base.
    *
    * Returns None when `plan` aborted or all 100 attempts lost; throws
    * [[MergeRuleFence.Fenced]] when the fence trips.
    */
  def publish(sm: SnapshotManager, schemaId: Long, kind: String,
      identifier: Option[String] = None)(
      plan: (Option[Snapshot], Seq[DataFileMeta]) =>
        Option[(Seq[DataFileMeta], Seq[DataFileMeta])]): Option[Snapshot] = {
    var attempt = 0
    while (attempt < 100) {
      val base = sm.latestSnapshot
      MergeRuleFence.check(sm.tableDir, schemaId)
      val live = base.map(sm.liveFiles(_)).getOrElse(Seq.empty)
      val (deletes, adds) = plan(base, live) match {
        case Some(entries) => entries
        case None => return None
      }
      val manifest = sm.writeManifest(
        deletes.map(ManifestEntry("DELETE", _)) ++ adds.map(ManifestEntry("ADD", _)))
      val (manifests, extra) = sm.chainWithFold(base, live, manifest)
      val deleted = deletes.map(_.fileName).toSet
      val snap = Snapshot(
        id = base.map(_.id + 1).getOrElse(1L),
        schemaId = schemaId,
        commitKind = kind,
        timeMillis = System.currentTimeMillis(),
        manifests = manifests,
        lastSequenceNumber =
          (base.map(_.lastSequenceNumber).toSeq ++ adds.map(_.maxSeq) :+ 0L).max,
        totalRecordCount = live.filterNot(f => deleted.contains(f.fileName))
          .map(_.rowCount).sum + adds.map(_.rowCount).sum,
        commitIdentifier = identifier)
      if (sm.tryCommitSnapshot(snap)) return Some(snap)
      (manifest +: extra).foreach(sm.deleteManifest)
      attempt += 1
    }
    None
  }

  /** `commit.strict-sequence=true` guard: within ONE commit, rows of
    * the same key written by two different writer TASKS to the same
    * bucket merge in task-id order, not wall-clock order (each task
    * owns a disjoint 2^32 sequence block; cross-COMMIT order is
    * globally correct via conflict re-sequencing). Strict mode detects
    * the ambiguity and fails the commit instead of silently picking.
    *
    * Detection is metadata-only and conservative: files are clustered
    * into writer tasks by their sequence blocks (two files belong to
    * different tasks when their ranges sit > 2^31 apart — within a
    * task, consecutive spill runs are dense; a single task would need
    * >2^31 rows in one commit to defeat this), and two different tasks
    * whose trimmed-PK min/max ranges overlap on every key column MAY
    * share a key, so the commit fails. Overlapping ranges without an
    * actual shared key also fail — strict mode trades completeness for
    * never ordering silently.
    */
  private def strictSequenceCheck(newFiles: Seq[DataFileMeta],
      keyTypes: Seq[(String, org.apache.spark.sql.types.DataType)]): Unit = {
    import graft.connector.Values
    newFiles.groupBy(f => (f.partition, f.bucket)).foreach {
      case ((pt, bucket), fs) if fs.size > 1 =>
        val sorted = fs.sortBy(_.minSeq)
        val tasks = scala.collection.mutable.ArrayBuffer(
          scala.collection.mutable.ArrayBuffer(sorted.head))
        sorted.tail.foreach { f =>
          if (f.minSeq - tasks.last.last.maxSeq > (1L << 31))
            tasks += scala.collection.mutable.ArrayBuffer(f)
          else tasks.last += f
        }
        for {
          i <- tasks.indices
          j <- (i + 1) until tasks.size
          a <- tasks(i)
          b <- tasks(j)
        } {
          val mayShareKey = keyTypes.forall { case (c, dt) =>
            (a.keyStats.get(c), b.keyStats.get(c)) match {
              case (Some((alo, ahi)), Some((blo, bhi))) =>
                Values.compare(dt, Values.parse(dt, alo),
                  Values.parse(dt, bhi)) <= 0 &&
                Values.compare(dt, Values.parse(dt, blo),
                  Values.parse(dt, ahi)) <= 0
              case _ => true // missing stats: stay conservative
            }
          }
          if (mayShareKey) throw new IllegalStateException(
            "commit.strict-sequence: two writer tasks in one commit wrote " +
              s"overlapping key ranges to partition " +
              s"${pt.mkString("[", ",", "]")} bucket $bucket (files " +
              s"${a.fileName}, ${b.fileName}); their merge order would be " +
              "task id, not wall clock. Cluster the write by primary key " +
              "(one task per key), commit each writer separately, or drop " +
              "commit.strict-sequence to accept task-id order.")
        }
      case _ => ()
    }
  }

  /** Metadata-only delete of an explicit live-file set (partition-level
    * SQL DELETE). Files already gone from the live set are ignored.
    */
  def commitFileDeletes(sm: SnapshotManager, schemaId: Long,
      deleteNames: Set[String]): Snapshot =
    publish(sm, schemaId, "OVERWRITE") { (base, live) =>
      if (base.isEmpty) throw new IllegalStateException("DELETE on empty table")
      Some((live.filter(f => deleteNames.contains(f.fileName)), Seq.empty))
    }.getOrElse(throw new IllegalStateException("DELETE commit conflict"))
}

/** Commit-time half of the merge-rule ALTER fence.
  *
  * Hazard: a write that began under schema W folds its rows assuming
  * W's `fields.<col>.aggregate-function` / `.sequence-group` rules; if
  * an ALTER lands a merge-rule change (schema W+k) between the write's
  * planning and its commit, the committed rows would silently re-fold
  * under rules the writer never saw on the next merge/compaction. The
  * catalog's data-aware ALTER guard alone is check-then-act against an
  * independent location (schema dir vs snapshot dir) — unfenceable by
  * itself. The fence closes the window by serializing both sides
  * through the snapshot chain's create-exclusive publish:
  *
  *  - the ALTER publishes a `SCHEMA` marker snapshot after saving the
  *    schema, re-validating its no-committed-history guard on every
  *    publish attempt ([[graft.connector.GraftCatalog]]);
  *  - every data/DML/compaction commit attempt calls [[check]]: if the
  *    persisted schema lineage advanced past the writer's schema with a
  *    merge-rule-bearing diff, the commit is rejected — whether or not
  *    the marker has landed yet (the lineage, not the marker, is the
  *    tripwire; the marker exists so a commit that slips in BEFORE the
  *    schema save forces the ALTER's revalidation to see it and abort).
  *
  * Every interleaving then resolves: whichever side publishes its
  * snapshot first wins, and the loser's next attempt (commit retry or
  * ALTER revalidation) observes it and aborts.
  *
  * Fast path costs one local schema-dir listing per attempt; schema
  * bodies are only read when the lineage actually advanced.
  */
object MergeRuleFence {
  import graft.core.{MergeRuleProps, TableSchema}

  /** The fence tripped: the write must re-run against the current schema. */
  final class Fenced(msg: String) extends IllegalStateException(msg)

  def check(tableDir: java.nio.file.Path, writerSchemaId: Long): Unit = {
    val ids = TableSchema.listIds(tableDir)
    if (ids.isEmpty || ids.last <= writerSchemaId) return
    // NET comparison — the writer's schema vs the CURRENT one, not a
    // pairwise walk of the lineage: this writer's rows assume exactly
    // its own schema's fold rules, so the only exposure is a
    // difference between those and the rules the table folds with
    // NOW. A flip-flopped intermediate (an aborted ALTER's
    // retracted + counter-schema pair) must NOT fence a writer whose
    // net rules are unchanged; writers that loaded the retracted
    // intermediate itself still differ from the counter and reject.
    // Conservative on a missing writer schema (never happens in a
    // healthy table): an empty base flags any current fold as changed.
    val writerOpts = TableSchema.loadById(tableDir, writerSchemaId)
      .map(_.options).getOrElse(Map.empty[String, String])
    val currentOpts = TableSchema.loadById(tableDir, ids.last)
      .map(_.options).getOrElse(Map.empty[String, String])
    val changed = MergeRuleProps.changedBetween(writerOpts, currentOpts)
    if (changed.nonEmpty) throw new Fenced(
      s"Commit fenced: merge-rule propert" +
        s"${if (changed.size == 1) "y" else "ies"} " +
        s"${changed.mkString(", ")} changed after this write began " +
        s"(write planned under schema $writerSchemaId, table is at " +
        s"schema ${ids.last}). The write's rows would fold under rules " +
        "the writer never saw — re-run the write against the current " +
        "schema.")
  }
}

object Resequencer {
  /** Rewrite one KV data file through the table's writer with every
    * _SEQUENCE_NUMBER shifted by `delta`; returns the replacement meta
    * (old file deleted).
    */
  def shift(writer: DataFileWriter, meta: DataFileMeta, delta: Long): DataFileMeta = {
    val src = java.nio.file.Path.of(writer.tableDir).resolve(meta.fileName)
    val schema = writer.fileSchema
    val run = SortMergeReader.open(src.toString, schema, schema,
      writer.fieldIds, writer.ioSpec)
    val shifted = run.rows.map { r =>
      val out = r.copy()
      out.setLong(0, r.getLong(0) + delta)
      out
    }
    val out = try writer.write(meta.partition, meta.bucket, "data", shifted)
      finally run.close()
    FileIO.resolve(writer.ioSpec).delete(src)
    out
  }
}
