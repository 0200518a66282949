package graft.format

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatchRow
import graft.core.RowKind

/** K-way sort-merge of one bucket's sorted runs — the faithful
  * counterpart of the reference's `SortMergeReader` with
  * `DeduplicateMergeFunction` (`pypaimon/pynative/reader/
  * sort_merge_reader.py:141-271`): entries ordered by (user key,
  * sequence number) group into equal-key runs; the highest-sequence
  * entry of each run wins; non-add kinds drop (`drop_delete_reader.py`).
  * A non-null `mergeFn` folds each equal-key run instead.
  *
  * Runs: one per data file, each sorted by (trimmed pk, seq), so memory
  * is O(open files), not O(bucket rows). A Parquet file is a
  * [[SortMergeReader.BatchRun]], a cursor over the batches of
  * [[ParquetBatchReader]]: the data stays columnar and only the merge
  * walks rows (≙ `columnar_row_iterator.py:28-60`). ORC, Avro and
  * in-memory iterators are [[SortMergeReader.RowRun]]s.
  *
  * Row lifetime: an emitted row is valid until the next `hasNext` or
  * `next` — a consumer that keeps one copies it. Rows view their run's
  * batch, and the merge copies one only when it outlives that batch:
  * the row a run pops just before loading its next batch (it may be the
  * key run's pending winner) and, through [[MergeFunction.retain]], the
  * rows a merge function holds then.
  *
  * Keys compare through a comparator specialised per key type (a
  * primitive compare for a single LONG key) in exactly
  * `Values.compare`'s order: NULLS FIRST (≙ `sort_merge_reader.py:
  * 30-43`), `Double.compare` for -0.0 and NaN, unsigned bytes.
  *
  * Two merge engines, matching the reference's `sort-engine` table
  * option (`reader_converter.py:60-63` maps BOTH
  * `SortMergeReaderWithMinHeap` and `SortMergeReaderWithLoserTree`):
  * `min-heap` (default; ~2 comparisons per level on sift) and
  * `loser-tree` (exactly one comparison per level on replay — the
  * classic k-way-merge win for many sorted runs per bucket).
  */
final class SortMergeReader(
    runs: Array[SortMergeReader.Run],
    keyIdx: Seq[Int],
    keyTypes: Seq[DataType],
    seqIdx: Int,
    kindIdx: Int,
    sortEngine: String,
    // null: the plain deduplicate loop, which pays nothing for the seam
    mergeFn: MergeFunction) extends Iterator[(String, InternalRow)] {

  /** Row runs: one sorted run per iterator, whose rows stay valid. */
  def this(files: Seq[Iterator[(String, InternalRow)]], keyIdx: Seq[Int],
      keyTypes: Seq[DataType], seqIdx: Int, kindIdx: Int,
      sortEngine: String = "min-heap", mergeFn: MergeFunction = null) =
    this(files.map(it => new SortMergeReader.RowRun(it): SortMergeReader.Run)
      .toArray, keyIdx, keyTypes, seqIdx, kindIdx, sortEngine, mergeFn)

  import SortMergeReader._

  private val k = runs.length
  private val ordering = new KeyOrdering(keyIdx.toArray, keyTypes.toArray)
  // a single LONG key compares as cached primitives, read once per row
  private val longKey = keyIdx.length == 1 &&
    (keyTypes.head == LongType || keyTypes.head == TimestampType)
  private val lk = if (longKey) keyIdx.head else -1
  private val keyNull = new Array[Boolean](k)
  private val keyLong = new Array[Long](k)
  private val seqs = new Array[Long](k)
  private val live = new Array[Boolean](k)

  /** Advance run `i` and cache its sequence (and long key). */
  private def step(i: Int): Unit = {
    val r = runs(i)
    live(i) = r.advance()
    if (live(i)) {
      val row = r.row
      seqs(i) = row.getLong(seqIdx)
      if (longKey) {
        keyNull(i) = row.isNullAt(lk)
        if (!keyNull(i)) keyLong(i) = row.getLong(lk)
      }
    }
  }
  (0 until k).foreach(step)

  private def compareKeys(a: Int, b: Int): Int =
    if (longKey) compareLong(keyNull(a), keyLong(a), keyNull(b), keyLong(b))
    else ordering.compare(runs(a).row, runs(b).row)

  /** (key asc, seq asc) — strict "a merges before b". */
  private def before(a: Int, b: Int): Boolean = {
    val c = compareKeys(a, b)
    if (c != 0) c < 0 else seqs(a) < seqs(b)
  }

  /** Both engines expose the same two moves: the run holding the
    * smallest (key, seq), and restoring order after that run advanced.
    */
  private sealed trait MergeQueue {
    def top: Int // -1 when drained
    def fixTop(): Unit
  }

  private final class MinHeap extends MergeQueue {
    private val heap = new Array[Int](k)
    private var size = 0
    private def swap(i: Int, j: Int): Unit = {
      val t = heap(i); heap(i) = heap(j); heap(j) = t
    }
    (0 until k).foreach { i =>
      if (live(i)) {
        heap(size) = i
        var j = size
        size += 1
        while (j > 0 && before(heap(j), heap((j - 1) >> 1))) {
          swap(j, (j - 1) >> 1); j = (j - 1) >> 1
        }
      }
    }
    override def top: Int = if (size == 0) -1 else heap(0)
    override def fixTop(): Unit = {
      if (!live(heap(0))) { size -= 1; heap(0) = heap(size) }
      var j = 0
      var c = 1
      while (c < size) {
        if (c + 1 < size && before(heap(c + 1), heap(c))) c += 1
        if (!before(heap(c), heap(j))) return
        swap(c, j); j = c; c = 2 * j + 1
      }
    }
  }

  /** Tournament loser tree over k leaves: `tree(0)` holds the overall
    * winner's leaf index, internal nodes hold the loser of the match
    * played there. A pop replays ONE root-to-leaf path (one comparison
    * per level). Drained leaves lose every match, so they sink once
    * and never replay.
    */
  private final class LoserTree extends MergeQueue {
    private val n = math.max(k, 1)
    private val tree = new Array[Int](n) // tree(0)=winner; 1..n-1 losers

    /** true iff leaf a beats leaf b (drained leaves always lose). */
    private def wins(a: Int, b: Int): Boolean =
      if (a == -1 || !live(a)) false
      else if (b == -1 || !live(b)) true
      else before(a, b)

    // build: park candidates at empty (-1) nodes, play filled ones
    java.util.Arrays.fill(tree, -1)
    (0 until k).foreach { leaf =>
      var cand = leaf
      var node = (leaf + n) >> 1
      while (node >= 1 && cand != -1) {
        if (tree(node) == -1) { tree(node) = cand; cand = -1 }
        else if (wins(tree(node), cand)) {
          val t = cand; cand = tree(node); tree(node) = t
        }
        node >>= 1
      }
      if (cand != -1) tree(0) = cand
    }

    override def top: Int = {
      val w = tree(0)
      if (w >= 0 && live(w)) w else -1
    }
    override def fixTop(): Unit = {
      var cand = tree(0)
      var node = (cand + n) >> 1
      while (node >= 1) {
        if (wins(tree(node), cand)) {
          val t = cand; cand = tree(node); tree(node) = t
        }
        node >>= 1
      }
      tree(0) = cand
    }
  }

  private val queue: MergeQueue = sortEngine match {
    case "min-heap" => new MinHeap
    case "loser-tree" => new LoserTree
    case other => throw new IllegalArgumentException(
      s"Unsupported sort-engine: $other (expected min-heap or loser-tree)")
  }

  // the last popped entry; every entry of a key run shares its key
  private var lastRow: InternalRow = _
  private var lastFile: String = _
  private var lastKeyNull = false
  private var lastKeyLong = 0L

  /** Take the top run's row (into the merge function, if any), then
    * advance that run.
    */
  private def pop(): Unit = {
    val t = queue.top
    val r = runs(t)
    val outlives = r.lastInBatch
    lastRow = if (outlives) r.row.copy() else r.take()
    lastFile = r.file
    lastKeyNull = keyNull(t)
    lastKeyLong = keyLong(t)
    if (mergeFn != null) {
      if (outlives) mergeFn.retain()
      mergeFn.add(lastFile, lastRow, seqs(t), lastRow.getInt(kindIdx).toByte)
    }
    step(t)
    queue.fixTop()
  }

  private def inLastRun(t: Int): Boolean =
    t >= 0 && (if (longKey)
      compareLong(keyNull(t), keyLong(t), lastKeyNull, lastKeyLong) == 0
    else ordering.compare(runs(t).row, lastRow) == 0)

  private var nextOut: (String, InternalRow) = _
  private var ready = false

  private def advance(): Unit = {
    nextOut = null
    while (nextOut == null && queue.top >= 0) {
      if (mergeFn != null) mergeFn.reset()
      pop()
      while (inLastRun(queue.top)) pop() // ascending seq within the run
      nextOut =
        if (mergeFn != null) mergeFn.result()
        // plain deduplicate: the LAST popped (highest seq) wins
        else if (RowKind.isAdd(lastRow.getInt(kindIdx).toByte)) (lastFile, lastRow)
        else null
    }
  }

  override def hasNext: Boolean = {
    if (!ready) { advance(); ready = true }
    nextOut != null
  }

  override def next(): (String, InternalRow) = {
    if (!hasNext) throw new NoSuchElementException("merge drained")
    ready = false
    nextOut
  }
}

object SortMergeReader {

  /** One sorted input of the merge, walked row by row: [[advance]] to
    * the next row (the first, on the first call; false once drained),
    * [[row]] valid until the next advance, [[take]] a handle on it valid
    * until the run replaces its batch — which the next advance does when
    * [[lastInBatch]]. `file` tags the current row (`_file`).
    */
  abstract class Run extends AutoCloseable {
    def file: String
    def row: InternalRow
    def take(): InternalRow
    def lastInBatch: Boolean
    def advance(): Boolean
    override def close(): Unit = ()

    /** The rows not yet walked; each is valid until the iterator moves. */
    def rows: Iterator[InternalRow] =
      Iterator.continually(advance()).takeWhile(identity).map(_ => row)
  }

  /** Rows of an iterator, each an object of its own. */
  final class RowRun(it: Iterator[(String, InternalRow)],
      closer: AutoCloseable = null) extends Run {
    private var cur: (String, InternalRow) = _
    override def file: String = cur._1
    override def row: InternalRow = cur._2
    override def take(): InternalRow = cur._2
    override def lastInBatch: Boolean = false
    override def advance(): Boolean =
      if (it.hasNext) { cur = it.next(); true } else false
    override def close(): Unit = if (closer != null) closer.close()
  }

  /** One Parquet file, walked over its decoded batches through a
    * [[ColumnarBatchRow]] view — no per-value decode into row objects.
    */
  final class BatchRun(override val file: String, reader: ParquetBatchReader)
      extends Run {
    private val cols =
      (0 until reader.batch.numCols).map(reader.batch.column).toArray
    private val view = new ColumnarBatchRow(cols)
    private var n = 0
    view.rowId = -1
    override def row: InternalRow = view
    override def take(): InternalRow = {
      val r = new ColumnarBatchRow(cols)
      r.rowId = view.rowId
      r
    }
    override def lastInBatch: Boolean = view.rowId == n - 1
    override def advance(): Boolean = {
      view.rowId += 1
      while (view.rowId >= n) {
        if (!reader.nextBatch()) { n = 0; view.rowId = -1; return false }
        n = reader.batch.numRows
        view.rowId = 0
      }
      true
    }
    override def close(): Unit = reader.close()
  }

  /** The run of one data file, read as `columns` (by name, a subset of
    * `fileSchema`): Parquet decodes columnar ([[BatchRun]]), ORC and
    * Avro through their row readers. `filters` only skip Parquet row
    * groups and pages; rows are tagged with `file`.
    */
  def open(file: String, fileSchema: StructType, columns: StructType,
      ids: Map[String, Int], ioSpec: String,
      filters: Seq[Filter] = Seq.empty): Run =
    FormatIO.ofFile(file) match {
      case "parquet" => new BatchRun(file, new ParquetBatchReader(
        GraftFileSystem.uriFor(ioSpec, file), columns, ids, filters))
      case format =>
        val r = FormatIO.reader(format, java.nio.file.Paths.get(file),
          fileSchema, columns, ids, FileIO.resolve(ioSpec))
        new RowRun(r.map(row => (file, row)), r)
    }

  /** NULLS FIRST, then the value order. */
  @inline private def compareLong(an: Boolean, a: Long,
      bn: Boolean, b: Long): Int =
    if (an || bn) (if (an && bn) 0 else if (an) -1 else 1)
    else java.lang.Long.compare(a, b)

  /** Row order over the key ordinals, exactly `Values.compare`'s: one
    * comparator per key column, chosen once by type (unboxed for the
    * common types, `Values.compare` itself for the rest).
    */
  final class KeyOrdering(keyIdx: Array[Int], keyTypes: Array[DataType]) {
    private val cmps: Array[(InternalRow, InternalRow) => Int] =
      keyIdx.indices.map { j =>
        val i = keyIdx(j)
        val values: (InternalRow, InternalRow) => Int = keyTypes(j) match {
          case LongType | TimestampType =>
            (a, b) => java.lang.Long.compare(a.getLong(i), b.getLong(i))
          case IntegerType | DateType =>
            (a, b) => Integer.compare(a.getInt(i), b.getInt(i))
          case DoubleType =>
            (a, b) => java.lang.Double.compare(a.getDouble(i), b.getDouble(i))
          case StringType => (a, b) => a.getUTF8String(i).compareTo(b.getUTF8String(i))
          case dt => (a, b) => graft.connector.Values.compare(dt, a.get(i, dt), b.get(i, dt))
        }
        (a: InternalRow, b: InternalRow) => {
          val (an, bn) = (a.isNullAt(i), b.isNullAt(i))
          if (an || bn) (if (an && bn) 0 else if (an) -1 else 1) else values(a, b)
        }
      }.toArray

    def compare(a: InternalRow, b: InternalRow): Int = {
      var j = 0
      while (j < cmps.length) {
        val c = cmps(j)(a, b)
        if (c != 0) return c
        j += 1
      }
      0
    }
  }
}
