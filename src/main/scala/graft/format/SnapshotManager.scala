package graft.format

import org.json4s._
import org.json4s.jackson.JsonMethods
import java.nio.file.{Files, Path}

/** The single atomicity primitive optimistic commit needs: publish an
  * immutable object at `target` iff nothing is there, atomically, and
  * report whether this call won. Backends:
  *
  *  - [[AtomicPublisher.local]] (default): hard-link create-exclusive —
  *    correct on local disk, NFS, and HDFS-like filesystems.
  *  - Object stores: implement with the store's conditional PUT
  *    (S3 `If-None-Match: *`, GCS `x-goog-if-generation-match: 0`,
  *    ABFS `If-None-Match: *`) — same contract, no filesystem rename
  *    assumptions anywhere else in the commit path. This container has
  *    no object-store SDKs, so only the seam + contract tests ship.
  */
trait AtomicPublisher {
  /** True iff `target` did not exist and now holds `content`. */
  def putIfAbsent(target: Path, content: String): Boolean
}

object AtomicPublisher {
  val local: AtomicPublisher = new AtomicPublisher {
    override def putIfAbsent(target: Path, content: String): Boolean = {
      val tmp = Files.createTempFile(target.getParent, ".s", ".tmp")
      try {
        Files.writeString(tmp, content)
        // atomic create-exclusive: fails with FileAlreadyExistsException
        // if the target exists — a rename would silently REPLACE a
        // concurrent committer's snapshot (POSIX rename semantics) and
        // lose its commit; an existence pre-check alone is racy.
        Files.createLink(target, tmp)
        Files.deleteIfExists(tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp); false
        case t: Throwable =>
          // disk-full on the write, or a no-hard-link filesystem: the
          // temp must not litter snapshot/ on every retrying attempt
          try Files.deleteIfExists(tmp) catch { case _: Throwable => () }
          throw t
      }
    }
  }
}

/** Snapshot + manifest persistence under one table directory:
  *
  * {{{
  * <table>/schema/schema-<i>        table schema versions
  * <table>/snapshot/snapshot-<n>    snapshot JSON (create-exclusive publish)
  * <table>/manifest/manifest-<uuid> immutable manifest (ADD/DELETE entries)
  * <table>/[<k>=<v>/…]bucket-<b>/<data|compact>-<uuid>.<ext>
  *                                  data files ([[DataFileWriter]])
  * }}}
  *
  * Publication is a create-exclusive put of `snapshot-<n>` through the
  * [[AtomicPublisher]] (two-phase commit, ≙
  * `pypaimon/py4j/java_implementation.py:397-407`): a hard link from a
  * temp file on local/HDFS-like filesystems — never a rename, which
  * would silently replace a concurrent committer's snapshot — and the
  * store's conditional PUT on object stores.
  */
final class SnapshotManager(val tableDir: Path,
    publisher: AtomicPublisher = null,
    val io: FileIO = FileIO.local) {

  // default publisher = the FileIO's own commit primitive, so a
  // non-local io commits through its conditional PUT; an explicit
  // publisher (a test double) still overrides it
  private val pub: AtomicPublisher =
    if (publisher != null) publisher
    else (target: Path, content: String) => io.putIfAbsent(target, content)

  private def snapshotDir = tableDir.resolve("snapshot")
  private def manifestDir = tableDir.resolve("manifest")

  private def snapshotIds: Seq[Long] =
    io.list(snapshotDir)
      .filter(_.startsWith("snapshot-"))
      // toLongOption: a foreign file in the snapshot dir (operator
      // backup "snapshot-7.bak", editor/sync artifacts) must not brick
      // every read and commit with NumberFormatException
      .flatMap(_.stripPrefix("snapshot-").toLongOption)

  /** The highest listed snapshot id: the listing is the only record of
    * the latest snapshot. */
  def latestSnapshotId: Option[Long] = {
    val ids = snapshotIds
    if (ids.isEmpty) None else Some(ids.max)
  }

  def latestSnapshot: Option[Snapshot] = latestSnapshotId.map(snapshot)

  /** Ids of snapshot files actually present (gaps appear after expiry). */
  def existingSnapshotIds: Seq[Long] = snapshotIds.sorted

  def snapshot(id: Long): Snapshot =
    Snapshot.fromJson(io.readString(snapshotDir.resolve(s"snapshot-$id")))

  // ---- tags: named snapshots ("freeze corpus v1") ----------------
  // A tag file is a full COPY of the snapshot JSON, so the tag keeps
  // resolving after expireSnapshots removes the snapshot file itself;
  // expiry treats tagged snapshots as retained (their manifests and
  // live files survive), so `VERSION AS OF '<tag>'` reads stay exact
  // at any retention setting.

  private def tagDir = tableDir.resolve("tag")

  /** Valid tag names exclude anything that parses as a Long ('7',
    * '-1') — such a name would take the numeric branch of
    * `VERSION AS OF` and never resolve as a tag.
    */
  def validateTagName(name: String): Unit = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9_.-]+"),
      s"Invalid tag name '$name' (allowed: letters, digits, _ . -)")
    require(name.toLongOption.isEmpty,
      s"Invalid tag name '$name': numeric names are ambiguous " +
        "with snapshot ids in VERSION AS OF")
  }

  /** Publish a tag for `snapshotId` (defaults to latest). Atomic: a
    * concurrent create of the same name loses with a clear error.
    */
  def createTag(name: String, snapshotId: Option[Long] = None): Snapshot = {
    validateTagName(name)
    val id = snapshotId.orElse(latestSnapshotId).getOrElse(
      throw new IllegalStateException("Cannot tag an empty table"))
    val s = snapshot(id)
    io.createDirectories(tagDir)
    if (!pub.putIfAbsent(tagDir.resolve(s"tag-$name"), s.toJson))
      throw new IllegalArgumentException(s"Tag '$name' already exists")
    // An expiry racing this create may have listed tags BEFORE the
    // publish and be deleting this snapshot's files right now. Expiry
    // removes the snapshot JSON first, so re-checking it after the
    // publish closes the common case: roll the tag back and fail
    // loudly instead of leaving a permanently broken pin. (A
    // mid-deletion interleaving can still slip through — tag creation
    // and aggressive expiry of the SAME snapshot are operationally
    // exclusive; tag first, expire after.)
    if (!io.exists(snapshotDir.resolve(s"snapshot-$id"))) {
      io.delete(tagDir.resolve(s"tag-$name"))
      throw new IllegalStateException(
        s"Tag '$name' lost a race with snapshot expiry " +
          s"(snapshot $id no longer exists); re-tag a retained snapshot")
    }
    s
  }

  def deleteTag(name: String): Boolean =
    io.delete(tagDir.resolve(s"tag-$name"))

  def tag(name: String): Option[Snapshot] =
    if (!io.exists(tagDir.resolve(s"tag-$name"))) None
    else Some(Snapshot.fromJson(io.readString(tagDir.resolve(s"tag-$name"))))

  /** Hardened like the snapshot listing above: a foreign file in tag/
    * (backup, sync artifact) must not brick maintenance — files whose
    * name fails validation or whose CONTENT is not a snapshot JSON are
    * skipped with a warning; a tag deleted mid-walk is skipped too.
    * But a genuine IO error PROPAGATES: this listing feeds expiry's
    * reachability set, and reading a transient store error as "no tag"
    * would un-pin the tag and let expiry delete its data.
    */
  def listTags: Seq[(String, Snapshot)] =
    io.list(tagDir)
      .filter(_.startsWith("tag-"))
      .flatMap { f =>
        val name = f.stripPrefix("tag-")
        val ok = name.nonEmpty && name.matches("[A-Za-z0-9_.-]+") &&
          name.toLongOption.isEmpty
        if (!ok) None
        else {
          val content =
            try Some(io.readString(tagDir.resolve(f)))
            catch { case _: java.nio.file.NoSuchFileException =>
              None // concurrent deleteTag
            } // other IO errors propagate
          content.flatMap { c =>
            try Some(name -> Snapshot.fromJson(c))
            catch { case _: Throwable =>
              System.err.println(s"[graft] WARN: ignoring unreadable " +
                s"tag file $tagDir/$f (not a snapshot JSON)")
              None
            }
          }
        }
      }
      .sortBy(_._1)

  /** Resolve a pinned snapshot id, falling back to a tag COPY when the
    * snapshot file itself has been expired (tagged history stays
    * readable). The fallback triggers ONLY on not-found (every FileIO
    * maps a missing key to NoSuchFileException): any other error —
    * corrupt JSON, transient store failure, OOM — must propagate
    * directly, not take an O(tags) listing detour first and surface as
    * whichever exception the tag scan happens to produce.
    */
  def snapshotOrTagged(id: Long): Snapshot =
    try snapshot(id)
    catch { case e: java.nio.file.NoSuchFileException =>
      listTags.map(_._2).find(_.id == id).getOrElse(throw e)
    }

  def readManifest(name: String): Seq[ManifestEntry] = {
    implicit val fmt: Formats = DefaultFormats
    val v = JsonMethods.parse(io.readString(manifestDir.resolve(name)))
    (v \ "entries") match {
      case JArray(items) => items.map { e =>
        ManifestEntry((e \ "kind").extract[String],
          DataFileMeta.fromJValue(e \ "file"))
      }
      case _ => Seq.empty
    }
  }

  def writeManifest(entries: Seq[ManifestEntry]): String = {
    import org.json4s.JsonDSL._
    io.createDirectories(manifestDir)
    val name = s"manifest-${java.util.UUID.randomUUID()}"
    val j: JObject = "entries" -> entries.map(e =>
      ("kind" -> e.kind) ~ ("file" -> e.file.toJValue))
    io.writeAtomicString(manifestDir.resolve(name),
      JsonMethods.compact(JsonMethods.render(j)))
    name
  }

  /** Delete an (orphaned) manifest — the LOSER-side cleanup of an
    * optimistic commit retry: a manifest written for an attempt whose
    * snapshot publish lost the race is referenced by no snapshot ever,
    * and neither expiry (deletes only manifests referenced exclusively
    * by expired snapshots) nor vacuum (bucket-* data only) would ever
    * reclaim it — unbounded manifest/ garbage on contended tables
    * otherwise.
    */
  def deleteManifest(name: String): Boolean =
    io.delete(manifestDir.resolve(name))

  /** Chain the base's manifest list with a new delta manifest, FOLDING
    * past the 50-manifest bound: history collapses into one full ADD
    * manifest of the base's live set, so read planning stays O(live
    * files), not O(commits) — for EVERY commit kind (append, overwrite,
    * compaction, partition delete), not just data commits. Returns
    * (manifest list, manifests written here) so retry loops can clean
    * up the loser side.
    */
  def chainWithFold(base: Option[Snapshot],
      live: => Seq[DataFileMeta], delta: String): (Seq[String], Seq[String]) = {
    val baseManifests = base.map(_.manifests).getOrElse(Seq.empty)
    if (baseManifests.size >= 50) {
      val full = writeManifest(live.map(f => ManifestEntry("ADD", f)))
      (Seq(full, delta), Seq(full))
    } else (baseManifests :+ delta, Seq.empty)
  }

  /** Fold the manifest chain of a snapshot into the live file set,
    * reading each manifest through `read` (a caller's per-run cache). */
  def liveFiles(s: Snapshot,
      read: String => Seq[ManifestEntry] = readManifest): Seq[DataFileMeta] = {
    val entries = s.manifests.flatMap(read)
    val deleted = entries.filterNot(_.isAdd).map(_.file.fileName).toSet
    entries.filter(e => e.isAdd && !deleted.contains(e.file.fileName)).map(_.file)
  }

  def liveFilesLatest: Seq[DataFileMeta] =
    latestSnapshot.map(liveFiles(_)).getOrElse(Seq.empty)

  /** Publish via the [[AtomicPublisher]]; returns false on id collision
    * (caller re-plans against the newer snapshot and retries).
    */
  def tryCommitSnapshot(s: Snapshot): Boolean = {
    io.createDirectories(snapshotDir)
    val target = snapshotDir.resolve(s"snapshot-${s.id}")
    if (io.exists(target)) return false // fast path; the publish decides
    pub.putIfAbsent(target, s.toJson)
  }
}
