package graft.connector

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import graft.core.TableSchema
import graft.format.SnapshotManager
import java.nio.file.Path

/** Base of both snapshot-offset streams (the plain table stream and the
  * retraction changelog): offsets are snapshot ids ([[GraftOffset]]),
  * read through one `SnapshotManager`, optionally recorded as consumer
  * progress. Subclasses supply only `planInputPartitions` and
  * `createReaderFactory`.
  *
  * AvailableNow contract: pin the latest committed snapshot id when the
  * trigger starts, then report the pinned id as the latest offset until
  * the stream drains it and stops. Without this, Spark logs "does not
  * support Trigger.AvailableNow. Falling back to single batch
  * execution" and the drain-everything-then-stop guarantee rests on
  * there being no concurrent commits — with it, a commit landing
  * mid-stream is deterministically excluded (it belongs to the next
  * trigger).
  *
  * A consumer-id names ONE logical pipeline across its restarts —
  * progress is a monotonic max, so two CONCURRENT streams sharing an id
  * would let the faster one unpin the laggard's unread range; run each
  * concurrent stream under its own id.
  *
  * @param maxSnapshotsPerTrigger `max-snapshots-per-trigger` read
  *   option: cap each micro-batch at this many snapshot ids past its
  *   start. At scale a catch-up read over a long snapshot history must
  *   not plan one giant batch (task count and shuffle state
  *   proportional to the WHOLE backlog); capping turns the drain into
  *   bounded batches, each committing its own offset — which also makes
  *   an AvailableNow drain multi-batch, with per-batch durable consumer
  *   progress instead of all-or-nothing. None = drain everything.
  */
abstract class GraftAvailableNowStream(tableDir: Path, schema: TableSchema,
    startSnapshot: Option[Long], consumerId: Option[String],
    maxSnapshotsPerTrigger: Option[Long])
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val io = graft.format.FileIO.resolve(schema.ioSpec)
  protected val sm = new SnapshotManager(tableDir, io = io)

  /** Current latest committed snapshot id (0 when the table is empty). */
  private def currentLatestSnapshotId: Long = sm.latestSnapshotId.getOrElse(0L)

  /** Durable-progress hook for consumer files: `consumedThrough` is the
    * snapshot id everything at or below which has been committed to
    * the SINK. Fired from `latestOffset(start, …)` rather than only
    * `commit(end)` because Spark calls the latter while constructing a
    * FURTHER batch — a single-batch AvailableNow run (the common
    * batch-ish pipeline shape) terminates without it, whereas its
    * final "drained?" admission check still passes the committed
    * offset through here. `start` can only lag true sink progress
    * (first call passes the initial offset), so recording it
    * UNDERSTATES — retention then over-retains, never under-retains.
    * (Caveat: under opt-in asyncProgressTrackingEnabled the offset log
    * itself lags, `start` may exceed the DURABLE checkpoint, and a
    * crash+restart can land before the pin — the failure is the loud
    * expired-snapshot error, not silent data loss; consumer pins
    * assume the default synchronous progress tracking.)
    * Throttled: a tight ProcessingTime stream over an object-store
    * table must not PUT the consumer file on every idle poll — write
    * only on real advances or a minute-stale heartbeat. Monotonic
    * inside [[graft.format.Consumers.record]]; an explicit
    * `fromSnapshot` replay under an existing consumer-id never REWINDS
    * the pin — rewinding is `CALL sys.reset_consumer`.
    */
  @volatile private var lastRecorded: (Long, Long) = (Long.MinValue, 0L)
  private def onDurableProgress(consumedThrough: Long): Unit =
    consumerId.foreach { id =>
      val next = consumedThrough + 1
      val now = System.currentTimeMillis()
      if (next > lastRecorded._1 || now - lastRecorded._2 >= 60000L) {
        graft.format.Consumers.record(tableDir, io, id, next)
        lastRecorded = (math.max(next, lastRecorded._1), now)
      }
    }

  /** First offset: 0 (full replay), a specific snapshot id, or -1 for
    * "latest" (only new commits stream — the scan-from-now mode a
    * large table needs; replaying 100 TB of history is not a default
    * anyone wants by accident, but 0 preserves batch/stream parity).
    * A registered consumer's recorded progress seeds a FRESH
    * checkpoint (this method is only consulted when the checkpoint has
    * no offsets) unless an explicit fromSnapshot overrides it — so a
    * pipeline can relocate its checkpoint without replaying history,
    * exactly what the consumer file is for.
    */
  override def initialOffset(): Offset = GraftOffset(startSnapshot match {
    case Some(-1L) => currentLatestSnapshotId
    case Some(id) => id
    case None => consumerId
      .flatMap(id => graft.format.Consumers.get(tableDir, io, id))
      .fold(0L)(_.nextSnapshot - 1)
  })

  /** Fires only while a further batch is being constructed (never
    * after an AvailableNow drain — onDurableProgress via latestOffset
    * covers that); kept for the freshest possible pin on
    * continuously-triggered streams.
    */
  override def commit(end: Offset): Unit =
    onDurableProgress(end.asInstanceOf[GraftOffset].snapshotId)

  @volatile private var pinned: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    pinned = Some(currentLatestSnapshotId)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  // not called once SupportsAdmissionControl is implemented; Spark
  // routes through latestOffset(start, limit)
  override def latestOffset(): Offset = GraftOffset(currentLatestSnapshotId)

  /** Admission-control latestOffset: the pinned id under AvailableNow,
    * live otherwise (micro-batch triggers also route through this once
    * the source implements SupportsAdmissionControl), capped by
    * `maxSnapshotsPerTrigger`.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftOffset].snapshotId
    onDurableProgress(s)
    val target = pinned.getOrElse(currentLatestSnapshotId)
    GraftOffset(maxSnapshotsPerTrigger match {
      case Some(k) if s + k < target => s + k
      case _ => target
    })
  }

  override def deserializeOffset(json: String): Offset = {
    val id = "\"snapshotId\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(s"Bad offset: $json"))
    GraftOffset(id)
  }

  override def stop(): Unit = ()
}

/** A stream offset: everything up to and including this snapshot id. */
final case class GraftOffset(snapshotId: Long) extends Offset {
  override def json(): String = s"""{"snapshotId":$snapshotId}"""
}

/** Incremental streaming read over the snapshot chain: offsets are
  * snapshot ids, one micro-batch = the data files ADDed by snapshots
  * `(start, end]`. This is the streaming half of the Paimon design the
  * reference's batch-only Python SDK doesn't expose (SURVEY §2.6) but
  * whose format machinery (sequence numbers, RowKind, snapshot chain)
  * exists to serve — re-expressed as a Spark Structured Streaming
  * source.
  *
  * Semantics:
  *  - APPEND snapshots stream their added files exactly once.
  *  - OVERWRITE snapshots are skipped (their file set replaces history;
  *    a consistent changelog would need -D retractions — out of scope).
  *  - PK tables stream the raw upsert rows (+I/+U wins are NOT merged
  *    across batches — downstream dedups per key, e.g. with
  *    `dropDuplicates` or `flatMapGroupsWithState`). Retraction rows
  *    (-U/-D) are NOT surfaced — deletes are invisible here by
  *    contract; consume `$changelog` with `retractions` to see them.
  */
class GraftMicroBatchStream(tableDir: Path, schema: TableSchema,
    required: StructType,
    startSnapshot: Option[Long] = None,
    consumerId: Option[String] = None,
    maxPerTrigger: Option[Long] = None)
  extends GraftAvailableNowStream(tableDir, schema, startSnapshot,
    consumerId, maxPerTrigger) {

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    ScanPlanner.appendDeltas(sm, start.asInstanceOf[GraftOffset].snapshotId,
      end.asInstanceOf[GraftOffset].snapshotId).flatMap(_._2).map(f =>
      GraftInputPartition(Array(tableDir.resolve(f.fileName).toString),
        f.partition.toArray, f.bucket)).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    // per-file raw reads: PK tables stream upsert rows without
    // cross-batch merge (merge=false keeps the KV file layout but skips
    // the dedup). Retraction rows (-U/-D — merge-on-read DML appends
    // them with null non-key columns) are dropped: deletes are
    // documented invisible to the plain stream; `$changelog` with
    // `retractions` carries them as first-class -D/-U events.
    GraftReaderFactory(schema.fields.json, schema.partitionKeys,
      schema.trimmedPrimaryKeys, isPk = schema.isPrimaryKeyTable,
      required.json, merge = false, fieldIds = schema.idMap,
      ioSpec = schema.ioSpec, dropNonAdd = true)
}
