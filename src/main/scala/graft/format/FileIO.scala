package graft.format

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Storage seam for all table metadata and data-file bytes. Every
  * snapshot/manifest/schema read-write and (via the staging helpers)
  * every data-file open goes through one of these, so a table can live
  * somewhere other than the local filesystem by supplying a different
  * implementation — the design point a 100 TB warehouse needs, where
  * tables live on an object store and `java.nio.file.Files` never
  * applies. Paths stay `java.nio.file.Path` as abstract hierarchical
  * keys (an S3 implementation treats them as bucket keys; only
  * [[FileIO.local]] touches the real filesystem).
  *
  * Contract notes:
  *  - [[writeAtomic]] must never expose a partial file (temp + rename
  *    locally, single PUT on a store).
  *  - [[putIfAbsent]] is the commit primitive (create-exclusive link
  *    locally, conditional PUT on a store) — see [[AtomicPublisher]];
  *    [[SnapshotManager]] publishes through it unless handed an explicit
  *    publisher.
  *  - [[stageForRead]]/[[publishFile]] bridge format libraries
  *    (parquet/orc/avro) that require real local files: local IO is
  *    zero-copy, remote IO stages through a temp file.
  */
trait FileIO {
  def readString(path: Path): String
  def readBytes(path: Path): Array[Byte]
  /** Atomic publish, replace-ok (manifests are UUID-named; consumer
    * files are replaced). */
  def writeAtomic(path: Path, bytes: Array[Byte]): Unit
  /** True iff `path` did not exist and now holds `content` (the
    * optimistic-commit primitive). */
  def putIfAbsent(path: Path, content: String): Boolean
  /** Immediate child file names of `dir` (empty when absent). */
  def list(dir: Path): Seq[String]
  /** Immediate children of `dir` with size/mtime/kind, in ONE store
    * round trip where the protocol allows it (a delimited LIST on
    * object stores carries Size and LastModified per key — the
    * per-child HEAD a `list`+`size` loop would cost is the classic N+1).
    * Subdirectories come back with `isDir = true` (object stores:
    * common prefixes). The default is the N+1 fallback for
    * implementations without a richer listing primitive; a child whose
    * size probe 404s is a prefix-only "directory" there. */
  def children(dir: Path): Seq[FileIO.FileEntry] =
    list(dir).map { n =>
      try FileIO.FileEntry(n, 0L, size(dir.resolve(n)))
      catch { case _: java.nio.file.NoSuchFileException =>
        FileIO.FileEntry(n, 0L, 0L, isDir = true) }
    }
  /** True iff `dir` has at least one child. Implementations answer
    * with a BOUNDED probe (object stores: one LIST with max-keys=1) —
    * existence must never cost a full paginated listing. */
  def hasChildren(dir: Path): Boolean = list(dir).nonEmpty
  /** Every FILE under `dir`, recursively, with its last-modified time —
    * the primitive orphan vacuum needs (a local walk; on object stores
    * one un-delimited paged LIST, whose entries carry LastModified).
    * Paths come back relative to `dir`; empty when `dir` is absent. */
  def walk(dir: Path): Seq[FileIO.FileEntry]
  def exists(path: Path): Boolean
  def delete(path: Path): Boolean
  def size(path: Path): Long
  def createDirectories(dir: Path): Unit
  /** Bytes `[offset, offset+length)` of `path`, short only at EOF.
    * The vectorized parquet path reads footers and column chunks
    * through this (via [[GraftFileSystem]]), so implementations with a
    * cheaper ranged primitive (local positioned read, S3 `Range` GET)
    * must override the whole-object default — column pruning then
    * becomes byte pruning on the store. */
  def readRange(path: Path, offset: Long, length: Int): Array[Byte] = {
    val all = readBytes(path)
    if (offset >= all.length || length <= 0) Array.emptyByteArray
    else java.util.Arrays.copyOfRange(all, offset.toInt,
      math.min(all.length.toLong, offset + length).toInt)
  }
  /** A real local file holding this path's bytes, for format libraries
    * that cannot read through streams. Callers must pass the result to
    * [[unstage]] when done. */
  def stageForRead(path: Path): Path
  /** Release a [[stageForRead]] result (no-op when zero-copy). */
  def unstage(original: Path, staged: Path): Unit
  /** Publish a locally-written temp file's bytes to `target`. */
  def publishFile(localTmp: Path, target: Path): Unit

  def writeAtomicString(path: Path, content: String): Unit =
    writeAtomic(path, content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}

object FileIO {

  /** One entry in a [[FileIO.walk]]/[[FileIO.children]] listing: path
    * relative to the listed directory plus its last-modified epoch
    * millis; `sizeBytes` where the listing carried it (-1 = unknown),
    * `isDir` only ever true from [[FileIO.children]] (walks list files). */
  final case class FileEntry(relPath: String, lastModifiedMillis: Long,
    sizeBytes: Long = -1L, isDir: Boolean = false)

  /** Create a local staging temp under ONE per-JVM directory with ONE
    * shutdown-hook sweep. Per-file `deleteOnExit` would grow the JVM's
    * static DeleteOnExitHook set unboundedly in a long-lived executor
    * writing/staging millions of remote data files; callers still
    * delete eagerly (unstage/publishFile) — the sweep is the abandoned-
    * task backstop. */
  private[format] def stagingTemp(prefix: String, suffix: String): Path =
    Files.createTempFile(stagingRoot, prefix, suffix)

  private lazy val stagingRoot: Path = {
    val d = Files.createTempDirectory("graft-staging")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        val s = Files.walk(d)
        try s.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => { Files.deleteIfExists(p); () })
        finally s.close()
      } catch { case _: Throwable => () }, "graft-staging-sweep"))
    d
  }

  /** Resolve a table's `io` property to an implementation. Specs:
    *
    *  - `local` (default) — [[FileIO.local]]
    *  - `memory:<name>` — process-wide shared in-memory store (object
    *    store stand-in; resolvable from any task in local mode, which
    *    is what the contract tests run — a multi-JVM cluster would use
    *    a real store spec instead)
    *  - `s3:<endpoint>:<region>:<bucket>` — [[S3FileIO]]; credentials
    *    come from `GRAFT_S3_ACCESS_KEY` / `GRAFT_S3_SECRET_KEY` (env,
    *    never table properties — they would persist into schema files)
    *
    * The spec string (not the FileIO) travels in serialized reader/
    * writer factories; each task resolves it locally.
    */
  def resolve(spec: String): FileIO = spec match {
    case null | "" | "local" => local
    case s if s.startsWith("memory:") =>
      memoryRegistry.computeIfAbsent(s.stripPrefix("memory:"),
        _ => inMemory())
    case s if s.startsWith("s3:") =>
      // cache per spec: resolve() runs on every SnapshotManager
      // construction, and each S3FileIO owns an HttpClient (selector
      // thread + pool) — per-call construction would leak threads
      s3Registry.computeIfAbsent(s, _ => {
        // endpoint URIs contain ':' (scheme, port) — region and bucket
        // are the LAST two segments, everything before them the endpoint
        val parts = s.stripPrefix("s3:").split(":")
        if (parts.length < 3) throw new IllegalArgumentException(
          s"Bad io spec '$s': expected s3:<endpoint>:<region>:<bucket>")
        val endpoint = parts.dropRight(2).mkString(":")
        val Array(region, bucket) = parts.takeRight(2)
        new S3FileIO(java.net.URI.create(endpoint), region, bucket,
          sys.env.getOrElse("GRAFT_S3_ACCESS_KEY",
            throw new IllegalArgumentException(
              "io=s3 requires GRAFT_S3_ACCESS_KEY in the environment")),
          sys.env.getOrElse("GRAFT_S3_SECRET_KEY",
            throw new IllegalArgumentException(
              "io=s3 requires GRAFT_S3_SECRET_KEY in the environment")))
      })
    case other =>
      throw new IllegalArgumentException(s"Unsupported io spec: $other")
  }

  private val memoryRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, FileIO]()
  private val s3Registry =
    new java.util.concurrent.ConcurrentHashMap[String, FileIO]()

  /** Direct local-filesystem implementation (the default everywhere). */
  val local: FileIO = new FileIO {
    override def readString(path: Path): String = Files.readString(path)
    override def readBytes(path: Path): Array[Byte] = Files.readAllBytes(path)
    override def writeAtomic(path: Path, bytes: Array[Byte]): Unit = {
      Files.createDirectories(path.getParent)
      val tmp = Files.createTempFile(path.getParent, ".w", ".tmp")
      // on any failure (disk full, interrupt) remove the temp so
      // snapshot/manifest dirs don't accumulate stale .w*.tmp files
      try {
        Files.write(tmp, bytes)
        Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      } catch {
        case t: Throwable => Files.deleteIfExists(tmp); throw t
      }
    }
    override def putIfAbsent(path: Path, content: String): Boolean =
      AtomicPublisher.local.putIfAbsent(path, content)
    override def list(dir: Path): Seq[String] =
      if (!Files.isDirectory(dir)) Seq.empty
      else {
        val s = Files.list(dir)
        try s.iterator().asScala.map(_.getFileName.toString).toList
        finally s.close()
      }
    override def walk(dir: Path): Seq[FileIO.FileEntry] =
      if (!Files.isDirectory(dir)) Seq.empty
      else {
        val s = Files.walk(dir)
        // sizeBytes stays unknown (-1): walk's consumers (vacuum,
        // purge) never read it, and Files.size would add a stat
        // syscall per file on every vacuum of a large table
        try s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => FileIO.FileEntry(dir.relativize(p).toString,
            Files.getLastModifiedTime(p).toMillis)).toList
        finally s.close()
      }
    override def children(dir: Path): Seq[FileIO.FileEntry] =
      if (!Files.isDirectory(dir)) Seq.empty
      else {
        val s = Files.list(dir)
        try s.iterator().asScala.map { p =>
          val d = Files.isDirectory(p)
          FileIO.FileEntry(p.getFileName.toString,
            Files.getLastModifiedTime(p).toMillis,
            if (d) 0L else Files.size(p), d)
        }.toList
        finally s.close()
      }
    override def hasChildren(dir: Path): Boolean =
      Files.isDirectory(dir) && {
        val s = Files.list(dir)
        try s.iterator().hasNext finally s.close()
      }
    override def exists(path: Path): Boolean = Files.exists(path)
    override def delete(path: Path): Boolean = Files.deleteIfExists(path)
    override def size(path: Path): Long = Files.size(path)
    override def readRange(path: Path, offset: Long, length: Int): Array[Byte] = {
      val ch = java.nio.channels.FileChannel.open(path,
        java.nio.file.StandardOpenOption.READ)
      try {
        val sz = ch.size()
        if (offset >= sz || length <= 0) return Array.emptyByteArray
        val bb = java.nio.ByteBuffer.allocate(
          math.min(sz - offset, length.toLong).toInt)
        var p = offset
        while (bb.hasRemaining) {
          val r = ch.read(bb, p)
          if (r < 0) return java.util.Arrays.copyOf(bb.array(), bb.position())
          p += r
        }
        bb.array()
      } finally ch.close()
    }
    override def createDirectories(dir: Path): Unit =
      Files.createDirectories(dir)
    override def stageForRead(path: Path): Path = path // zero-copy
    override def unstage(original: Path, staged: Path): Unit = ()
    override def publishFile(localTmp: Path, target: Path): Unit = {
      Files.createDirectories(target.getParent)
      Files.move(localTmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Heap-backed implementation: the object-store stand-in for contract
    * tests (no SDKs ship in this container). Key space is the
    * normalized path string; "directories" are implicit prefixes, as on
    * a real store. Format reads stage through temp files, exactly as a
    * remote implementation would.
    */
  def inMemory(): FileIO = new FileIO {
    private val blobs =
      new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
    // put-time per key ≙ the store's LastModified (walk/vacuum need it)
    private val mtimes =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    private def key(p: Path): String = p.normalize.toString
    private def stamp(k: String): Unit =
      mtimes.put(k, java.lang.Long.valueOf(System.currentTimeMillis()))

    private def get(path: Path): Array[Byte] = {
      val b = blobs.get(key(path))
      if (b == null)
        throw new java.nio.file.NoSuchFileException(key(path))
      b
    }
    override def readString(path: Path): String =
      new String(get(path), java.nio.charset.StandardCharsets.UTF_8)
    override def readBytes(path: Path): Array[Byte] = get(path)
    override def writeAtomic(path: Path, bytes: Array[Byte]): Unit = {
      // stamp BEFORE publish: a concurrent walk must never observe the
      // blob without a modification time (an unknown mtime reads as
      // MaxValue below, but the blob should simply always have one)
      stamp(key(path)); blobs.put(key(path), bytes)
    }
    override def putIfAbsent(path: Path, content: String): Boolean = {
      // a losing attempt re-stamps the winner's key with a NEWER time —
      // harmless (age-gated deletes only ever get more conservative)
      stamp(key(path))
      blobs.putIfAbsent(key(path),
        content.getBytes(java.nio.charset.StandardCharsets.UTF_8)) == null
    }
    override def list(dir: Path): Seq[String] = {
      val prefix = key(dir) + "/"
      blobs.keySet.asScala.iterator
        .filter(k => k.startsWith(prefix) && !k.drop(prefix.length).contains('/'))
        .map(_.drop(prefix.length)).toList
    }
    override def walk(dir: Path): Seq[FileIO.FileEntry] = {
      val prefix = key(dir) + "/"
      // unknown mtime reads as MaxValue: never eligible for age-gated
      // deletion (the vacuum's in-flight-writer guard must fail safe)
      // flatMap over a second get: a key can vanish between the keySet
      // snapshot and the read (concurrent vacuum) — skip it then
      blobs.keySet.asScala.iterator.filter(_.startsWith(prefix))
        .flatMap(k => Option(blobs.get(k)).map(b =>
          FileIO.FileEntry(k.drop(prefix.length),
            Option(mtimes.get(k)).fold(Long.MaxValue)(_.longValue),
            b.length.toLong))).toList
    }
    override def children(dir: Path): Seq[FileIO.FileEntry] = {
      val prefix = key(dir) + "/"
      val files = scala.collection.mutable.ArrayBuffer.empty[FileIO.FileEntry]
      val dirs = scala.collection.mutable.LinkedHashSet.empty[String]
      blobs.keySet.asScala.iterator.filter(_.startsWith(prefix)).foreach { k =>
        val rest = k.drop(prefix.length)
        val slash = rest.indexOf('/')
        if (slash < 0) Option(blobs.get(k)).foreach(b =>
          // unknown mtime is 0L here (matching S3FileIO.children) — the
          // MaxValue fail-safe is only for walk's age-gated vacuum
          files += FileIO.FileEntry(rest,
            Option(mtimes.get(k)).fold(0L)(_.longValue),
            b.length.toLong))
        else dirs += rest.take(slash) // implicit prefix ≙ directory
      }
      (files ++ dirs.map(d => FileIO.FileEntry(d, 0L, 0L, isDir = true))).toList
    }
    override def hasChildren(dir: Path): Boolean = {
      val prefix = key(dir) + "/"
      blobs.keySet.asScala.exists(_.startsWith(prefix))
    }
    override def exists(path: Path): Boolean = blobs.containsKey(key(path))
    override def delete(path: Path): Boolean = {
      mtimes.remove(key(path))
      blobs.remove(key(path)) != null
    }
    override def size(path: Path): Long = get(path).length.toLong
    override def createDirectories(dir: Path): Unit = () // implicit prefixes
    override def stageForRead(path: Path): Path = {
      // shared staging root: the one shutdown sweep is the backstop
      // for limit-truncated readers that never reach unstage
      val tmp = FileIO.stagingTemp("graft-stage", ".dat")
      Files.write(tmp, get(path))
      tmp
    }
    override def unstage(original: Path, staged: Path): Unit =
      Files.deleteIfExists(staged)
    override def publishFile(localTmp: Path, target: Path): Unit = {
      blobs.put(key(target), Files.readAllBytes(localTmp))
      stamp(key(target))
      Files.deleteIfExists(localTmp)
    }
  }
}
