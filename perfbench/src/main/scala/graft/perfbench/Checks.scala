package graft.perfbench

import java.util.zip.CRC32
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.RowKind

/** Generated key/value batches and the state they should leave in a
  * primary-key table, computed on the driver independently of graft's
  * write, merge, scan and commit code.
  *
  * Batch b writes the keys [b·stride, b·stride + rows) (mod keys), in
  * order, so a batch that does not wrap around covers one contiguous key
  * range and a file's key bounds let a key filter prune it; every 20th
  * row (i % 20 == 19) is a delete. Which keys overlap and which rows
  * delete is fixed by the shape, so the number of live rows after any
  * sequence of batches is the same for every seed; the seed picks the
  * values. A row's values are a pure function of the seed and its writer
  * id (b·rows + i), so the expected state needs one int per key.
  */
final class KvGen(seed: Long, val keys: Int, val rows: Int, stride: Int) extends Serializable {
  require(rows <= keys)

  def key(batch: Int, i: Int): Long = (batch.toLong * stride + i) % keys
  def isDelete(i: Int): Boolean = i % 20 == 19
  def writer(batch: Int, i: Int): Int = batch * rows + i

  private def h(w: Int): Long = KvGen.mix(seed * 0x9E3779B97F4A7C15L + w)
  /** A signed 32-bit value, so sums over a million rows cannot overflow. */
  def a(w: Int): Long = h(w) >> 32
  /** A multiple of 1/4 below 2^18, so sums over a million rows are exact. */
  def b(w: Int): Double = (h(w) >>> 44) / 4.0
  def c(w: Int): String = "v" + ((h(w) >>> 1) % 1000000)

  /** Rows [from, until) of batch `bt`, in [[KvGen.WithKind]] layout. */
  def batch(bt: Int, from: Int = 0, until: Int = rows): Iterator[Row] =
    (from until until).iterator.map { i =>
      val w = writer(bt, i)
      Row(key(bt, i), a(w), b(w), c(w), if (isDelete(i)) RowKind.Delete else RowKind.Insert)
    }

  /** Per key, the writer id of its live row, or -1: last write wins and
    * a winning delete removes the key.
    */
  def emptyState: Array[Int] = Array.fill(keys)(-1)

  def apply(state: Array[Int], batch: Int): Unit =
    (0 until rows).foreach { i =>
      state(key(batch, i).toInt) = if (isDelete(i)) -1 else writer(batch, i)
    }

  def row(state: Array[Int], k: Int): Option[Checks.Kv] =
    Option(state(k)).filter(_ >= 0).map(w => (k.toLong, a(w), b(w), c(w)))
}

object KvGen {
  /** k is the primary key; a and b are exact in sums, so aggregates
    * compare exactly.
    */
  val Schema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("a", LongType),
    StructField("b", DoubleType), StructField("c", StringType)))
  val WithKind: StructType = Schema.add(StructField(RowKind.ColumnName, ByteType))

  /** SplitMix64's finaliser. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def crc(s: String): Long = {
    val c = new CRC32
    c.update(s.getBytes("UTF-8"))
    c.getValue
  }
}

object Checks {

  /** (k, a, b, c) of a row of [[KvGen.Schema]]. */
  type Kv = (Long, Long, Double, String)
  def kv(r: Row): Kv = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))

  def liveRows(state: Array[Int]): Int = state.count(_ >= 0)

  /** Whether `rows` hold exactly the expected state, one row per key. */
  def sameState(gen: KvGen, state: Array[Int], rows: Array[Row]): Boolean = {
    val seen = new java.util.BitSet(state.length)
    rows.length == liveRows(state) && rows.forall { r =>
      val k = r.getLong(0)
      k >= 0 && k < state.length && !seen.get(k.toInt) && {
        seen.set(k.toInt)
        gen.row(state, k.toInt).contains(kv(r))
      }
    }
  }

  /** The full-scan aggregate: one row that touches every column. */
  def fullAggregate(df: DataFrame): Seq[Any] =
    df.agg(count(lit(1)), sum(col("k")), sum(col("a")), sum(col("b")),
      sum(crc32(col("c").cast("binary"))))
      .collect().head.toSeq

  /** [[fullAggregate]] of the expected state, computed on the driver (b
    * values are multiples of 1/4, so their sum is exact in any order).
    */
  def expectedAggregate(gen: KvGen, state: Array[Int]): Seq[Any] = {
    var n, sk, sa, sc = 0L
    var sb = 0.0
    state.indices.foreach { k =>
      val w = state(k)
      if (w >= 0) {
        n += 1; sk += k; sa += gen.a(w); sb += gen.b(w); sc += KvGen.crc(gen.c(w))
      }
    }
    Seq(n, sk, sa, sb, sc)
  }

  /** (k, c) pairs of an Arrow IPC stream, decoded with arrow-java
    * rather than graft's own reader.
    */
  def arrowKeyValues(bytes: Array[Byte]): Seq[(Long, String)] = {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.{BigIntVector, VarCharVector}
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(bytes), alloc)
    try {
      val root = reader.getVectorSchemaRoot
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      while (reader.loadNextBatch()) {
        val k = root.getVector("k").asInstanceOf[BigIntVector]
        val c = root.getVector("c").asInstanceOf[VarCharVector]
        (0 until root.getRowCount).foreach(i =>
          out += (k.get(i) -> new String(c.get(i), "UTF-8")))
      }
      out.toSeq
    } finally { reader.close(); alloc.close() }
  }

  /** Whether decoded (k, c) pairs are exactly the expected state's. */
  def sameKeyValues(gen: KvGen, state: Array[Int], kc: Seq[(Long, String)]): Boolean = {
    val seen = new java.util.BitSet(state.length)
    kc.size == liveRows(state) && kc.forall { case (k, c) =>
      k >= 0 && k < state.length && !seen.get(k.toInt) && {
        seen.set(k.toInt)
        state(k.toInt) >= 0 && gen.c(state(k.toInt)) == c
      }
    }
  }
}
