package graft.format

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Retention maintenance: snapshot expiry and orphan-file vacuum.
  * Both are metadata-driven deletes — the retained snapshots' manifests
  * define reachability; everything else is garbage.
  */
object Maintenance {

  final case class ExpireResult(expiredSnapshots: Int, deletedDataFiles: Int,
      deletedManifests: Int)

  /** Expire all but the last `retainLast` snapshots: removes the old
    * snapshot JSONs, every manifest no retained snapshot references,
    * and every data file unreachable from the retained snapshots'
    * live sets (a file still live anywhere retained survives, so time
    * travel within the retained window keeps working).
    * `olderThanMillis` adds an AGE floor: snapshots younger than the
    * age stay retained even beyond `retainLast` — the production
    * combination ("keep at least N, and everything from the last 7
    * days").
    */
  def expireSnapshots(tableDir: Path, retainLast: Int,
      ioSpec: String = "local",
      olderThanMillis: Option[Long] = None): ExpireResult =
    expireSnapshots(tableDir, retainLast, FileIO.resolve(ioSpec),
      olderThanMillis)

  /** Variant taking a resolved [[FileIO]] — like [[vacuumOrphans]]'s,
    * it lets contract tests drive expiry through instrumented stores
    * (e.g. to interleave a tag publish mid-run deterministically).
    */
  def expireSnapshots(tableDir: Path, retainLast: Int, io: FileIO,
      olderThanMillis: Option[Long]): ExpireResult = {
    require(retainLast >= 1, "must retain at least one snapshot")
    val sm = new SnapshotManager(tableDir, io = io)
    val latest = sm.latestSnapshotId.getOrElse(return ExpireResult(0, 0, 0))
    val cutoff = latest - retainLast + 1
    if (cutoff <= 1) return ExpireResult(0, 0, 0)
    val now = System.currentTimeMillis()

    // EXISTING ids only: a previous tighter expiry may have already
    // removed part of this retention window, and reading a gap id
    // would fail the whole maintenance run.
    val existing = sm.existingSnapshotIds.map(id => id -> sm.snapshot(id))
    // Streaming-sink replay pins: a sink restarting after a crash
    // between commit and checkpoint re-runs its last epoch and relies
    // on finding "<queryId>/<epochId>" in the snapshot chain to skip
    // the duplicate (GraftStreamingWrite.lastCommittedEpoch). Expiring
    // a query's NEWEST identity snapshot while that query is down would
    // let the replay double-commit on aggregation tables — so the
    // newest snapshot per distinct queryId is retained. Bounded TWO
    // ways: a pin ages out the moment the same query commits a newer
    // epoch, and — because a pinned snapshot keeps its LIVE FILES
    // reachable, which must not anchor a dead ad-hoc query's table
    // state forever — a pin lapses once the identity snapshot is older
    // than `streaming.identity.retain-millis` (default 7 days; a query
    // down longer than that cannot resume coherently against ANY
    // source whose retention has passed, so the trade is explicit and
    // symmetric with source-retention semantics).
    val tableOpts = graft.core.TableSchema.load(tableDir).map(_.options)
    val identityTtl = tableOpts
      .flatMap(_.get("streaming.identity.retain-millis"))
      .flatMap(_.trim.toLongOption)
      .getOrElse(7L * 24 * 3600 * 1000)
    val newestPerQuery: Set[Long] = existing
      .flatMap { case (id, s) =>
        // only `<queryId>/<epoch>`-shaped identifiers pin: a '/'-less
        // identifier (no batch path sets one today) must not pool every
        // such snapshot under one "" pseudo-query identity
        s.commitIdentifier.filter(_.lastIndexOf('/') > 0)
          .map(ci => ci.take(ci.lastIndexOf('/')) -> id)
      }
      .groupBy(_._1).values.map(_.map(_._2).max)
      .filter(id => existing.collectFirst {
        case (i, s) if i == id => s.timeMillis >= now - identityTtl
      }.getOrElse(false))
      .toSet
    // Streaming-READ consumer pins (the mirror of the sink identity
    // pins above): a stream registered via `option("consumer-id", …)`
    // records its next-unconsumed snapshot in consumers/<id>; every
    // snapshot at or beyond the minimum live consumer offset stays
    // retained, so a slow reader's unread range cannot be expired out
    // from under it. Age-bounded the same way — a consumer silent for
    // `consumer.retain-millis` (default 7 days) stops pinning, since
    // an abandoned id must not anchor the whole chain forever.
    val consumerTtl = tableOpts
      .flatMap(_.get("consumer.retain-millis"))
      .flatMap(_.trim.toLongOption)
      .getOrElse(Consumers.DefaultRetainMillis)
    // `floor - 1`, not `floor`: the retraction changelog stream
    // synthesizes each batch against the PRE-COMMIT state, i.e. it
    // reads snapshot `nextSnapshot - 1` as the baseline of its first
    // unread snapshot — retaining from the floor itself would wedge
    // exactly the lagging reader the pin exists to protect. One extra
    // snapshot whose live set overlaps the floor's is noise at any
    // scale.
    val consumerFloor: Long = Consumers
      .minLiveNext(tableDir, io, consumerTtl, now)
      .getOrElse(Long.MaxValue)
    def isRetained(id: Long, s: Snapshot): Boolean =
      id >= cutoff || id >= consumerFloor - 1 ||
        newestPerQuery.contains(id) ||
        olderThanMillis.exists(a => s.timeMillis >= now - a)
    // tagged snapshots are retention pins too: their manifests and live
    // files survive any retainLast (the snapshot JSON itself may still
    // expire — the tag file carries a full copy, so `VERSION AS OF
    // '<tag>'` keeps resolving). Tags are listed TWICE: here, and again
    // immediately before the delete phase — a tag published while this
    // run reads manifests would otherwise be invisible and its files
    // deleted (createTag's post-publish snapshot re-check closes the
    // remaining sliver from the other side).
    val retained = existing.collect {
      case (id, s) if isRetained(id, s) => s
    } ++ sm.listTags.map(_._2)
    val keepManifests = retained.flatMap(_.manifests).toSet
    // Per-run manifest cache: successive snapshots share most of their
    // chain (manifests are immutable and reused), so folding each
    // retained snapshot's live set through raw readManifest would cost
    // O(retained × chain) reads — thousands of redundant GETs per
    // scheduled expiry on an object store — for O(distinct manifests)
    // distinct content.
    val mcache = scala.collection.mutable.HashMap.empty[String, Seq[ManifestEntry]]
    def readM(name: String): Seq[ManifestEntry] =
      mcache.getOrElseUpdate(name, sm.readManifest(name))
    // reachable data files = union of the retained snapshots' LIVE
    // sets (ADDs folded against DELETEs per snapshot) — files dropped
    // by compaction/overwrite before the cutoff become garbage even
    // though old manifests still mention them
    val reachable = retained.flatMap(s =>
      sm.liveFiles(s, readM).map(_.fileName)).toSet

    // Expiry is purely METADATA-DRIVEN: the deletable universe is what
    // THIS table's known snapshots (expired + retained, read above)
    // mention in their manifests, minus the retained live sets —
    // covering both files that only expired history referenced and
    // files the retained manifest chain still MENTIONS but has folded
    // dead (pre-compaction/overwritten versions carry an ADD in an old
    // chained manifest and a DELETE later in the same retained chain).
    // Never derived from directory listings: a listing also surfaces
    // (a) files an IN-FLIGHT writer staged before its commit published
    // and (b) manifests/data of a commit racing this expiry — deleting
    // either corrupts a snapshot that is about to exist. Those
    // listing-only leftovers are vacuumOrphans' concern, which is
    // age-gated for exactly this reason. Manifests are deleted only
    // when referenced EXCLUSIVELY by expired snapshots. (A crashed
    // expiry can strand a manifest whose snapshot JSON is already
    // gone; such a stray is a few KB and harmless.)
    val expiredPairs = existing.filterNot { case (id, s) => isRetained(id, s) }
    val expiredIds = expiredPairs.map(_._1)
    val expiredSnaps = expiredPairs.map(_._2)
    val expiredManifests =
      expiredSnaps.flatMap(_.manifests).distinct.filterNot(keepManifests)
    val candidates: Seq[String] =
      (expiredManifests ++ keepManifests).distinct
        .flatMap(m => readM(m).map(_.file.fileName)).distinct

    // Second tag listing, immediately before anything irreversible:
    // tags that appeared during the manifest reads above can only
    // WIDEN the keep-sets (their manifests leave the delete list,
    // their live files join the reachable set) — never shrink them,
    // so the earlier computation stays valid as a lower bound.
    val lateTags = sm.listTags.map(_._2)
    // Consumers get the same second listing: a stream that registered
    // its consumer-id while this run computed reachability would be
    // invisible to the early floor, and its first unread snapshots
    // would be deleted right as it starts. A late-registered consumer
    // can only LOWER the floor, i.e. rescue part of the expired set —
    // those snapshots keep their JSONs, manifests and live files.
    val lateFloor = Consumers.minLiveNext(tableDir, io, consumerTtl, now)
      .getOrElse(Long.MaxValue)
    val lateConsumerSnaps: Seq[Snapshot] =
      if (lateFloor >= consumerFloor) Seq.empty
      else expiredPairs.collect { case (id, s) if id >= lateFloor - 1 => s }
    val lateConsumerIds = lateConsumerSnaps.map(_.id).toSet
    val lateKeep = keepManifests ++ lateTags.flatMap(_.manifests) ++
      lateConsumerSnaps.flatMap(_.manifests)
    val lateReachable = reachable ++
      (lateTags ++ lateConsumerSnaps).flatMap(s =>
        sm.liveFiles(s, readM).map(_.fileName))

    val snapshotDir = tableDir.resolve("snapshot")
    val manifestDir = tableDir.resolve("manifest")
    var expired = 0
    expiredIds.filterNot(lateConsumerIds).foreach { id =>
      if (io.delete(snapshotDir.resolve(s"snapshot-$id"))) expired += 1
    }
    var deletedManifests = 0
    expiredManifests.filterNot(lateKeep).foreach { name =>
      if (io.delete(manifestDir.resolve(name))) deletedManifests += 1
    }
    var deletedData = 0
    candidates.foreach { rel =>
      if (!lateReachable.contains(rel)) {
        if (io.delete(tableDir.resolve(rel))) deletedData += 1
        val p = tableDir.resolve(rel)
        io.delete(p.getParent.resolve("." + p.getFileName + ".crc"))
      }
    }
    ExpireResult(expired, deletedData, deletedManifests)
  }

  final case class RollbackResult(fromSnapshotId: Long,
      targetSnapshotId: Long, newSnapshotId: Long)

  /** Roll the table back to `target` by publishing a REVERT COMMIT: a
    * new snapshot whose manifest list is the target's. Nothing is
    * deleted —
    *  - snapshot ids stay monotone, so streaming-reader checkpoints
    *    (offsets ARE snapshot ids) and recorded `VERSION AS OF <id>`
    *    references never silently alias different data;
    *  - the rolled-away history remains time-travelable until
    *    expireSnapshots reclaims it like any other old snapshot
    *    (the revert snapshot references the target's manifests, so the
    *    restored state itself is retention-reachable);
    *  - an expired-but-TAGGED target still restores (the tag file
    *    carries the snapshot copy) — the "restore corpus v1" flow
    *    works exactly when expiry has run;
    *  - the publish is one atomic putIfAbsent with the normal
    *    optimistic retry, so a crash leaves either the old or the new
    *    state, never a half-deleted chain.
    * The sequence high-water mark carries forward (max of both sides):
    * rows written after the rollback outrank everything ever written,
    * including the rolled-away rows they can no longer collide with.
    * Kind = ROLLBACK: every incremental consumer whitelists APPEND, so
    * streams and changelog diffs skip the restatement (like OVERWRITE).
    */
  def rollbackTo(tableDir: Path, target: Long,
      ioSpec: String = "local"): RollbackResult =
    rollbackTo(tableDir, target, FileIO.resolve(ioSpec))

  /** Variant taking a resolved [[FileIO]] — contract tests drive the
    * expiry-race undo path through instrumented stores. */
  def rollbackTo(tableDir: Path, target: Long,
      io: FileIO): RollbackResult = {
    val sm = new SnapshotManager(tableDir, io = io)
    require(sm.latestSnapshotId.nonEmpty, "Cannot roll back an empty table")
    val targetSnap =
      try sm.snapshotOrTagged(target) // tag copy counts
      catch { case _: java.nio.file.NoSuchFileException =>
        throw new IllegalArgumentException(
          s"Snapshot $target does not exist and no tag pins it " +
            s"(existing: ${sm.existingSnapshotIds.mkString(", ")}; " +
            s"tags: ${sm.listTags.map(t => s"${t._1}=${t._2.id}")
              .mkString(", ")})")
      }
    var attempt = 0
    while (attempt < 100) {
      val latest = sm.latestSnapshot.getOrElse(
        throw new IllegalStateException("Cannot roll back an empty table"))
      // no-op when the current state already IS the target — including
      // a repeated rollback retry, whose latest is a revert snapshot
      // carrying the target's manifests (publishing another identical
      // revert would just burn retention slots)
      if (latest.id == target || latest.manifests == targetSnap.manifests)
        return RollbackResult(latest.id, target, latest.id)
      // merge-rule fence, same net comparison as data commits: the
      // restored rows assume the fold rules of the TARGET's schema —
      // if a fold/sequence-group change landed since, the resurrected
      // history would silently re-fold under rules it never saw on the
      // next merge/compaction. Checked per attempt, after the latest
      // read (the commit-side ordering argument applies here too).
      try MergeRuleFence.check(sm.tableDir, targetSnap.schemaId)
      catch { case e: IllegalStateException =>
        throw new IllegalStateException(
          s"Cannot roll back to snapshot $target: the table's merge " +
            "rules changed after it was committed, so the restored " +
            "rows would re-fold under rules they never saw. Restore " +
            s"the previous rules first. (${e.getMessage})")
      }
      require(target < latest.id,
        s"Cannot roll back forward to $target (latest is ${latest.id})")
      val snap = Snapshot(
        id = latest.id + 1,
        schemaId = targetSnap.schemaId,
        commitKind = "ROLLBACK",
        timeMillis = System.currentTimeMillis(),
        manifests = targetSnap.manifests,
        lastSequenceNumber = math.max(latest.lastSequenceNumber,
          targetSnap.lastSequenceNumber),
        totalRecordCount = targetSnap.totalRecordCount)
      if (sm.tryCommitSnapshot(snap)) {
        // Post-publish re-check (createTag's pattern from the other
        // side): an expiry racing this rollback may have read its
        // retention set BEFORE our revert existed and be deleting the
        // target's manifests/files right now — the revert would then
        // be latest yet unreadable. Expiry deletes the snapshot JSON
        // first, so target-still-pinned (live snapshot file or a tag
        // copy) after our publish proves the interleaving didn't
        // happen; otherwise UNDO by restoring the pre-rollback state
        // (its manifests are retention-safe — it was latest) and fail
        // loudly. (A mid-deletion sliver remains — rolling back to a
        // snapshot an aggressive expiry is reclaiming is operationally
        // exclusive; tag the target first to pin it.)
        val stillPinned =
          sm.existingSnapshotIds.contains(target) ||
            sm.listTags.exists(_._2.id == target)
        if (stillPinned) return RollbackResult(latest.id, target, snap.id)
        // The compensating commit must not be fire-and-forget: if IT
        // loses a publish race, claiming "state restored" would be a
        // lie — latest could still be the unreadable revert, or a
        // foreign commit built on top of it. Retry while the revert is
        // still the chain head; the moment someone else published on
        // top, stop WITHOUT clobbering their commit and report what
        // actually happened so the operator knows latest may be
        // unreadable.
        var restored = false
        var preempted = false
        var undoAttempt = 0
        while (!restored && !preempted && undoAttempt < 100) {
          if (sm.latestSnapshotId.exists(_ != snap.id)) preempted = true
          else {
            restored = sm.tryCommitSnapshot(Snapshot(
              id = snap.id + 1,
              schemaId = latest.schemaId,
              commitKind = "ROLLBACK",
              timeMillis = System.currentTimeMillis(),
              manifests = latest.manifests,
              lastSequenceNumber = snap.lastSequenceNumber,
              totalRecordCount = latest.totalRecordCount))
            undoAttempt += 1
          }
        }
        throw new IllegalStateException(
          s"Rollback to $target lost a race with snapshot expiry (the " +
            "target was reclaimed mid-rollback); " +
            (if (restored)
              s"state restored to snapshot ${latest.id}."
            else
              "the compensating restore did NOT land (a concurrent " +
                "commit took the chain head first) — the current head " +
                "may reference reclaimed manifests and be unreadable.") +
            " Tag the target to pin it, then retry.")
      }
      attempt += 1
    }
    throw new IllegalStateException(
      "Rollback conflict: gave up after 100 snapshot publish attempts")
  }

  /** Delete data files no manifest of any existing snapshot references
    * — aborted-write leftovers — with their Hadoop .crc sidecars (local
    * ORC files have one, and so do local Parquet files written before
    * Parquet moved to `java.nio` writes). Only files
    * older than `olderThanMillis` are touched, so in-flight writers
    * (whose files precede their commit) are never raced.
    */
  def vacuumOrphans(tableDir: Path, olderThanMillis: Long = 3600 * 1000L,
      ioSpec: String = "local"): Int =
    vacuumOrphans(tableDir, olderThanMillis, FileIO.resolve(ioSpec))

  /** Variant taking a resolved [[FileIO]] — contract tests drive it
    * against store implementations that have no registered spec. */
  def vacuumOrphans(tableDir: Path, olderThanMillis: Long,
      io: FileIO): Int = {
    // one recursive FileIO.walk supplies both the candidate set and the
    // per-file LastModified (a filesystem walk locally, a paged
    // un-delimited LIST on an object store) — so orphan cleanup works
    // exactly where orphans are most costly, the remote data plane
    val sm = new SnapshotManager(tableDir, io = io)
    // tags count as references: a tagged snapshot whose JSON was
    // expired is reachable only through its tag copy. Reads tolerate
    // NOT-FOUND only (a concurrent expireSnapshots deleting a listed
    // snapshot/manifest mid-vacuum must not crash the run — the
    // vanished object's references vanish with it); real IO errors
    // still propagate, since a silently-shrunken reference set would
    // delete live data.
    def tolerant[A](read: => Seq[A]): Seq[A] =
      try read catch { case _: java.nio.file.NoSuchFileException => Seq.empty }
    val referenced = (sm.existingSnapshotIds
        .flatMap(id => tolerant(Seq(sm.snapshot(id)))) ++
        sm.listTags.map(_._2))
      .flatMap(_.manifests)
      .distinct.flatMap(m =>
        tolerant(sm.readManifest(m)).map(_.file.fileName)).toSet
    val cutoff = System.currentTimeMillis() - olderThanMillis
    // only files inside a bucket-* segment are data candidates;
    // snapshot/, manifest/, schema/ are metadata and never touched
    def segments(rel: String): Array[String] = rel.split('/')
    def inBucketDir(segs: Array[String]): Boolean =
      segs.length >= 2 && segs.init.exists(_.startsWith("bucket-"))
    val entries = io.walk(tableDir)
    var deleted = 0
    entries.foreach { e =>
      val segs = segments(e.relPath)
      val name = segs.last
      if (inBucketDir(segs) && !name.startsWith(".") &&
        !referenced.contains(e.relPath) && e.lastModifiedMillis < cutoff) {
        if (io.delete(tableDir.resolve(e.relPath))) deleted += 1
        val p = tableDir.resolve(e.relPath)
        io.delete(p.getParent.resolve("." + p.getFileName + ".crc"))
      }
    }
    // sidecars whose data file is gone (local ORC writers leave Hadoop
    // .crc files, and so did local Parquet writers before they moved to
    // java.nio; stores simply have none)
    entries.foreach { e =>
      val segs = segments(e.relPath)
      val n = segs.last
      if (inBucketDir(segs) && n.startsWith(".") && n.endsWith(".crc")) {
        val dataRel =
          (segs.init :+ n.stripPrefix(".").stripSuffix(".crc")).mkString("/")
        if (!io.exists(tableDir.resolve(dataRel)))
          io.delete(tableDir.resolve(e.relPath))
      }
    }
    deleted
  }

}
