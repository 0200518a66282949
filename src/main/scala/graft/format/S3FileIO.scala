package graft.format

import java.io.IOException
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}

/** [[FileIO]] over any S3-compatible object store: the data path and
  * the commit primitive ([[putIfAbsent]], a conditional PUT with
  * `If-None-Match: *`). Built on public protocol specifications only:
  * the S3 REST API (GET/PUT/HEAD/DELETE + ListObjectsV2) signed with
  * AWS Signature V4, on the bare JDK. No vendor SDK ships in this container, so the contract
  * test drives it against a local in-memory HTTP stub; the protocol
  * surface used (conditional PUT, list-type=2 with prefix+delimiter)
  * is the stable, documented core that AWS S3, GCS XML, MinIO and
  * friends share.
  *
  * Paths are abstract keys: `/wh/table/snapshot/snapshot-3` maps to
  * object key `wh/table/snapshot/snapshot-3` via `keyFor`. Parquet/
  * ORC/Avro access rides [[FileIO.stageForRead]]/[[publishFile]] — one
  * download/upload per immutable data file, which is also the access
  * pattern a remote table costs by nature.
  *
  * 100 TB note: data/manifest objects are immutable and written once
  * (UUID names), so eventual LIST consistency only matters for the
  * snapshot listing, where S3's strong read-after-write (since 2020)
  * keeps commits visible; retries stay the
  * caller's concern as with the local implementation.
  */
final class S3FileIO(
    endpoint: URI,
    region: String,
    bucket: String,
    accessKey: String,
    secretKey: String,
    keyFor: Path => String = p => p.toString.stripPrefix("/"),
    clock: () => java.time.Instant = () => java.time.Instant.now())
  extends FileIO {

  // Explicit timeouts: java.net.http defaults to INFINITE connect and
  // response timeouts, so one black-holed connection (NAT reset,
  // dropped pod) would hang the carrying Spark task — and any snapshot
  // commit on it — forever, without ever reaching the retry/backoff
  // path below. A thrown HttpTimeoutException IS an IOException, so it
  // takes the same bounded-retry route as a connection reset.
  private val http = HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(20))
    .build()
  private val mtimeWarned =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  private def host: String =
    Option(endpoint.getAuthority).getOrElse(endpoint.getHost)

  private def send(method: String, key: String,
      query: Seq[(String, String)], body: Array[Byte],
      extraHeaders: Map[String, String] = Map.empty)
      : HttpResponse[Array[Byte]] = {
    val payloadHash =
      if (body == null) SigV4.emptyPayloadHash
      else SigV4.hex(SigV4.sha256(body))
    val canonicalUri = s"/$bucket/" + SigV4.uriEncode(key, keepSlash = true)
    val qs = query.map { case (k, v) =>
      SigV4.uriEncode(k, keepSlash = false) + "=" +
        SigV4.uriEncode(v, keepSlash = false)
    }.sorted.mkString("&")
    val uri = endpoint.resolve(
      if (qs.isEmpty) canonicalUri else s"$canonicalUri?$qs")
    // transient throttles (503 SlowDown) and internal errors (5xx) are
    // expected at scale; a small bounded backoff with jitter retries
    // them here so a single throttle doesn't fail a whole task.
    // GET/HEAD/DELETE and full-object PUT are idempotent — safe to
    // retry after an ambiguous failure. The CONDITIONAL put is not
    // retried: if the first attempt won but its response was lost, a
    // retry would see 412 and misreport this committer as the loser,
    // double-applying the commit one snapshot later. Its caller's
    // conflict loop owns that ambiguity.
    val retriable = !extraHeaders.contains("If-None-Match")
    var attempt = 0
    var resp: HttpResponse[Array[Byte]] = null
    while (resp == null) {
      // sign per attempt: x-amz-date must be fresh after a backoff
      val headers = SigV4.headers(method, canonicalUri, query, host,
        payloadHash, clock(), region, accessKey, secretKey)
      // generous: a data-plane object can be hundreds of MB on a slow
      // link; the point is "finite", not "fast"
      val b = HttpRequest.newBuilder(uri)
        .timeout(java.time.Duration.ofMinutes(5))
        .method(method,
          if (body == null) HttpRequest.BodyPublishers.noBody()
          else HttpRequest.BodyPublishers.ofByteArray(body))
      (headers ++ extraHeaders).foreach { case (k, v) => b.header(k, v) }
      try {
        val r = http.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
        if (r.statusCode() >= 500 && retriable && attempt < MaxRetries) {
          attempt += 1
          Thread.sleep(backoffMillis(attempt))
        } else resp = r
      } catch {
        // transport-level failures (connection reset, read timeout) are
        // at least as common as 503 at scale and carry the same
        // idempotency argument — same bounded backoff. The conditional
        // PUT (retriable=false) still propagates immediately: its
        // first attempt may have won server-side.
        case _: IOException if retriable && attempt < MaxRetries =>
          attempt += 1
          Thread.sleep(backoffMillis(attempt))
      }
    }
    resp
  }

  private val MaxRetries = 4
  private def backoffMillis(attempt: Int): Long = {
    val base = 100L << (attempt - 1) // 100, 200, 400, 800
    base / 2 + java.util.concurrent.ThreadLocalRandom.current()
      .nextLong(base / 2 + 1) // jitter in [base/2, base]
  }

  private def fail(op: String, key: String,
      resp: HttpResponse[Array[Byte]]): Nothing =
    throw new IOException(s"$op s3://$bucket/$key failed: HTTP " +
      s"${resp.statusCode()} ${new String(resp.body(),
        java.nio.charset.StandardCharsets.UTF_8).take(200)}")

  override def readBytes(path: Path): Array[Byte] = {
    val key = keyFor(path)
    val resp = send("GET", key, Seq.empty, null)
    resp.statusCode() match {
      case 200 => resp.body()
      case 404 => throw new java.nio.file.NoSuchFileException(key)
      case _ => fail("GET", key, resp)
    }
  }

  override def readString(path: Path): String =
    new String(readBytes(path), java.nio.charset.StandardCharsets.UTF_8)

  /** Ranged GET — the vectorized parquet reader's byte primitive via
    * [[GraftFileSystem]]; column pruning becomes byte pruning on the
    * store instead of a whole-object download. */
  override def readRange(path: Path, offset: Long, length: Int): Array[Byte] = {
    if (length <= 0) return Array.emptyByteArray
    val key = keyFor(path)
    val resp = send("GET", key, Seq.empty, null,
      Map("Range" -> s"bytes=$offset-${offset + length - 1}"))
    resp.statusCode() match {
      case 206 => resp.body()
      case 200 => // server ignored Range (some stubs do): slice locally
        val all = resp.body()
        // Long-safe: a JVM byte[] body is < 2 GiB, so offset >= length
        // already routes any offset beyond Int.MaxValue to the empty
        // branch; the .toInt below only ever sees offset < all.length.
        if (offset >= all.length.toLong) Array.emptyByteArray
        else java.util.Arrays.copyOfRange(all, offset.toInt,
          math.min(all.length.toLong, offset + length).toInt)
      case 416 => Array.emptyByteArray // range starts beyond EOF
      case 404 => throw new java.nio.file.NoSuchFileException(key)
      case _ => fail("ranged GET", key, resp)
    }
  }

  override def writeAtomic(path: Path, bytes: Array[Byte]): Unit = {
    // a single PUT is atomic on an object store: readers see either
    // nothing or the whole object, never a partial write
    val key = keyFor(path)
    val resp = send("PUT", key, Seq.empty, bytes)
    if (resp.statusCode() != 200 && resp.statusCode() != 201)
      fail("PUT", key, resp)
  }

  override def putIfAbsent(path: Path, content: String): Boolean = {
    val key = keyFor(path)
    val resp = send("PUT", key, Seq.empty,
      content.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      Map("If-None-Match" -> "*"))
    resp.statusCode() match {
      case 200 | 201 => true
      case 412 | 409 => false // conditional-write loser
      case _ => fail("conditional PUT", key, resp)
    }
  }

  /** The one paged-ListObjectsV2 loop every listing verb rides —
    * list/walk/children/hasChildren all parse pages this helper
    * fetches, so a protocol fix (token escaping, truncation handling)
    * lands exactly once. `maxKeys` bounds the probe to a single page
    * (existence checks must never pay a full listing). */
  private def listPages(prefix: String, delimited: Boolean,
      maxKeys: Option[Int] = None)(onPage: String => Unit): Unit = {
    var token: Option[String] = None
    var more = true
    while (more) {
      val query = Seq("list-type" -> "2", "prefix" -> prefix) ++
        (if (delimited) Seq("delimiter" -> "/") else Nil) ++
        maxKeys.map(k => "max-keys" -> k.toString) ++
        token.map("continuation-token" -> _)
      val resp = send("GET", "", query, null)
      if (resp.statusCode() != 200) fail("LIST", prefix, resp)
      val xml = new String(resp.body(),
        java.nio.charset.StandardCharsets.UTF_8)
      onPage(xml)
      token = "<NextContinuationToken>(.*?)</NextContinuationToken>".r
        .findFirstMatchIn(xml).map(m => xmlUnescape(m.group(1)))
      more = maxKeys.isEmpty &&
        xml.contains("<IsTruncated>true</IsTruncated>") && token.isDefined
    }
  }

  private def contentsBlocks(xml: String): Iterator[String] =
    "(?s)<Contents>(.*?)</Contents>".r.findAllMatchIn(xml).map(_.group(1))

  private def keyOf(block: String): Option[String] =
    "<Key>(.*?)</Key>".r.findFirstMatchIn(block)
      .map(km => xmlUnescape(km.group(1)))

  private def sizeOf(block: String): Long =
    "<Size>(\\d+)</Size>".r.findFirstMatchIn(block)
      .flatMap(sm => scala.util.Try(sm.group(1).toLong).toOption)
      .getOrElse(-1L)

  private def mtimeOf(block: String, unknown: Long): Long =
    "<LastModified>(.*?)</LastModified>".r.findFirstMatchIn(block)
      .flatMap { lmm =>
        val parsed = scala.util.Try(
          java.time.Instant.parse(lmm.group(1)).toEpochMilli).toOption
        // warn once per client on an unparseable format: with the
        // MaxValue fallback below, age-gated vacuum would otherwise
        // become a SILENT no-op on such a store
        if (parsed.isEmpty && mtimeWarned.compareAndSet(false, true))
          System.err.println(s"[graft] WARN: unparseable LastModified " +
            s"'${lmm.group(1)}' from $host/$bucket — treating as " +
            "now-infinite; age-gated vacuum will not reclaim such keys")
        parsed
      }.getOrElse(unknown)

  override def list(dir: Path): Seq[String] = {
    // ListObjectsV2, delimiter-rooted at the directory prefix; paged
    val prefix = keyFor(dir).stripSuffix("/") + "/"
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    listPages(prefix, delimited = true) { xml =>
      names ++= "<Key>(.*?)</Key>".r.findAllMatchIn(xml)
        .map(m => xmlUnescape(m.group(1)))
        .filter(_.startsWith(prefix))
        .map(_.drop(prefix.length))
        .filter(n => n.nonEmpty && !n.contains('/'))
    }
    names.toList
  }

  override def walk(dir: Path): Seq[FileIO.FileEntry] = {
    // un-delimited ListObjectsV2: one paged listing covers the whole
    // subtree (object stores have no per-directory recursion), and each
    // <Contents> entry carries the LastModified the vacuum compares.
    // Missing/unparseable LastModified reads as MaxValue: NEVER
    // eligible for age-gated deletion (the in-flight-writer guard).
    val prefix = keyFor(dir).stripSuffix("/") + "/"
    val entries = scala.collection.mutable.ArrayBuffer.empty[FileIO.FileEntry]
    listPages(prefix, delimited = false) { xml =>
      contentsBlocks(xml).foreach { block =>
        keyOf(block)
          .filter(k => k.startsWith(prefix) && k.length > prefix.length)
          .foreach(k => entries += FileIO.FileEntry(k.drop(prefix.length),
            mtimeOf(block, unknown = Long.MaxValue), sizeOf(block)))
      }
    }
    entries.toList
  }

  /** Immediate children from ONE delimited ListObjectsV2 per page —
    * `<Contents>` entries are child files (with Size + LastModified in
    * the same response, so no per-child HEAD), `<CommonPrefixes>` the
    * child "directories". This is what [[GraftFileSystem.listStatus]]
    * rides; the N+1 HEAD pattern it replaces costs a request per key on
    * a million-object prefix. */
  override def children(dir: Path): Seq[FileIO.FileEntry] = {
    val prefix = keyFor(dir).stripSuffix("/") + "/"
    val files = scala.collection.mutable.ArrayBuffer.empty[FileIO.FileEntry]
    // a store may repeat a CommonPrefix across pages — dedupe
    val dirs = scala.collection.mutable.LinkedHashSet.empty[String]
    listPages(prefix, delimited = true) { xml =>
      contentsBlocks(xml).foreach { block =>
        keyOf(block)
          .filter(k => k.startsWith(prefix) && k.length > prefix.length &&
            !k.drop(prefix.length).contains('/'))
          .foreach(k => files += FileIO.FileEntry(k.drop(prefix.length),
            mtimeOf(block, unknown = 0L), sizeOf(block)))
      }
      "(?s)<CommonPrefixes>(.*?)</CommonPrefixes>".r.findAllMatchIn(xml)
        .flatMap(m => "<Prefix>(.*?)</Prefix>".r.findFirstMatchIn(m.group(1)))
        .map(m => xmlUnescape(m.group(1)))
        .filter(p => p.startsWith(prefix) && p.length > prefix.length)
        .map(_.drop(prefix.length).stripSuffix("/"))
        .filter(d => d.nonEmpty && !d.contains('/'))
        .foreach(dirs += _)
    }
    (files ++ dirs.map(d => FileIO.FileEntry(d, 0L, 0L, isDir = true))).toList
  }

  override def hasChildren(dir: Path): Boolean = {
    // bounded probe: one LIST page capped at a single key — existence
    // of a million-child prefix must not cost a thousand LIST pages
    val prefix = keyFor(dir).stripSuffix("/") + "/"
    var found = false
    listPages(prefix, delimited = true, maxKeys = Some(1)) { xml =>
      found = xml.contains("<Key>") || xml.contains("<CommonPrefixes>")
    }
    found
  }

  /** The five named XML entities plus numeric character references —
    * stores emit e.g. `&#x0C;` for control characters in keys, so
    * handling only the named five would corrupt such names. */
  private def xmlUnescape(s: String): String = {
    if (!s.contains('&')) return s
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val end = s.indexOf(';', i + 1)
        val entity = if (end > i) s.substring(i + 1, end) else ""
        val decoded: Option[String] = entity match {
          case "lt" => Some("<")
          case "gt" => Some(">")
          case "quot" => Some("\"")
          case "apos" => Some("'")
          case "amp" => Some("&")
          case e if e.startsWith("#x") || e.startsWith("#X") =>
            scala.util.Try(new String(Character.toChars(
              Integer.parseInt(e.drop(2), 16)))).toOption
          case e if e.startsWith("#") =>
            scala.util.Try(new String(Character.toChars(
              Integer.parseInt(e.drop(1))))).toOption
          case _ => None
        }
        decoded match {
          case Some(d) => out.append(d); i = end + 1
          case None => out.append(c); i += 1 // not an entity: literal &
        }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  override def exists(path: Path): Boolean = {
    val resp = send("HEAD", keyFor(path), Seq.empty, null)
    resp.statusCode() match {
      case 200 => true
      case 404 => false
      case _ => fail("HEAD", keyFor(path), resp)
    }
  }

  override def delete(path: Path): Boolean = {
    val resp = send("DELETE", keyFor(path), Seq.empty, null)
    resp.statusCode() match {
      case 200 | 204 => true
      case 404 => false
      case _ => fail("DELETE", keyFor(path), resp)
    }
  }

  override def size(path: Path): Long = {
    val key = keyFor(path)
    val resp = send("HEAD", key, Seq.empty, null)
    if (resp.statusCode() == 404)
      throw new java.nio.file.NoSuchFileException(key)
    if (resp.statusCode() != 200) fail("HEAD", key, resp)
    val cl = resp.headers().firstValueAsLong("Content-Length")
    // stores always set Content-Length on HEAD; the >0 guard only
    // routes servers that elide it (test stubs) through a GET
    if (cl.isPresent && cl.getAsLong > 0) cl.getAsLong
    else readBytes(path).length.toLong
  }

  override def createDirectories(dir: Path): Unit = () // implicit prefixes

  override def stageForRead(path: Path): Path = {
    // shared staging root (one shutdown sweep), not per-file
    // deleteOnExit — see FileIO.stagingTemp
    val tmp = FileIO.stagingTemp("graft-s3-stage", ".dat")
    Files.write(tmp, readBytes(path))
    tmp
  }

  override def unstage(original: Path, staged: Path): Unit =
    Files.deleteIfExists(staged)

  override def publishFile(localTmp: Path, target: Path): Unit = {
    writeAtomic(target, Files.readAllBytes(localTmp))
    Files.deleteIfExists(localTmp)
  }
}
