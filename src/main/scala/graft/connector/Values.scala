package graft.connector

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources._

/** Canonical string encoding of partition / key-stat values and the
  * metadata-level filter evaluation used for split pruning.
  *
  * Encoding is unambiguous per type (ints as decimal, timestamps as
  * micros-long, dates as days-int), ≙ the reference's partition value
  * decoding (`pypaimon/pynative/util/reader_convert_func.py:244-265`).
  */
object Values {

  final val NullToken = "__GRAFT_NULL__"

  def encode(dt: DataType, v: Any): String =
    if (v == null) NullToken
    else dt match {
      // hex, 2 chars/byte: unambiguous, and lexicographic hex order ==
      // unsigned byte order, so encoded-string comparisons agree with
      // compare() below (stat bounds, bucket routing stay consistent)
      case BinaryType => toHex(v.asInstanceOf[Array[Byte]])
      case _ => v.toString // UTF8String.toString; micros/days via Long/Int
    }

  private val Hex = java.util.HexFormat.of() // lowercase, 2 chars/byte

  private def toHex(b: Array[Byte]): String = Hex.formatHex(b)

  private def fromHex(s: String): Array[Byte] = Hex.parseHex(s)

  /** Parse canonical string to the Catalyst-internal value. */
  def parse(dt: DataType, s: String): Any =
    if (s == NullToken) null
    else dt match {
      case ByteType => s.toByte
      case ShortType => s.toShort
      case IntegerType | DateType => s.toInt
      case LongType | TimestampType => s.toLong
      case FloatType => s.toFloat
      case DoubleType => s.toDouble
      case BooleanType => s.toBoolean
      case StringType => UTF8String.fromString(s)
      case BinaryType => fromHex(s)
      case other => throw new IllegalArgumentException(s"partition type $other")
    }

  /** A filter literal as an external value of `dt` that [[toInternal]]
    * maps exactly: a number converts only when the conversion loses
    * nothing (Int→Long, a whole Double→Long, a Long→Double that round-
    * trips). None for a lossy or mistyped literal, whose conjunct then
    * stays undecided. Spark coerces DSv2 pushdown literals itself; the
    * facade's `PredicateBuilder` passes on whatever the caller wrote.
    */
  def coerce(dt: DataType, v: Any): Option[Any] = v match {
    case null => Some(null)
    case n: java.lang.Number =>
      // the literal's exact value; NaN, infinities and other Number
      // classes have none, so only a same-typed float passes
      val exact: Option[java.math.BigDecimal] = n match {
        case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
             _: java.lang.Long => Some(java.math.BigDecimal.valueOf(n.longValue))
        case _: java.lang.Float | _: java.lang.Double =>
          Some(n.doubleValue).filter(d => !d.isNaN && !d.isInfinite)
            .map(new java.math.BigDecimal(_))
        case _ => None
      }
      def integral(lo: Long, hi: Long): Option[Long] = exact.flatMap(x =>
        scala.util.Try(x.longValueExact).toOption.filter(l => l >= lo && l <= hi))
      def roundTrips(d: Double): Boolean =
        exact.exists(new java.math.BigDecimal(d).compareTo(_) == 0)
      (dt, n) match {
        case (ByteType, _) => integral(Byte.MinValue, Byte.MaxValue).map(_.toByte)
        case (ShortType, _) => integral(Short.MinValue, Short.MaxValue).map(_.toShort)
        case (IntegerType, _) => integral(Int.MinValue, Int.MaxValue).map(_.toInt)
        case (LongType, _) => integral(Long.MinValue, Long.MaxValue)
        case (FloatType, f: java.lang.Float) => Some(f)
        case (FloatType, _) =>
          exact.map(_.floatValue).filter(f => roundTrips(f.toDouble))
        case (DoubleType, d: java.lang.Double) => Some(d)
        case (DoubleType, _) => exact.map(_.doubleValue).filter(roundTrips)
        case _ => None
      }
    case _ => Some(v).filter(x => (dt, x) match {
      case (StringType, _: String | _: UTF8String) => true
      case (BooleanType, _: java.lang.Boolean) => true
      case (DateType, _: java.sql.Date | _: java.time.LocalDate) => true
      case (TimestampType, _: java.sql.Timestamp | _: java.time.Instant) => true
      case (BinaryType, _: Array[Byte]) => true
      case _ => false
    })
  }

  /** External (Filter literal) value → Catalyst-internal comparable. */
  def toInternal(dt: DataType, v: Any): Any = v match {
    case null => null
    case s: String => UTF8String.fromString(s)
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
    case d: java.time.LocalDate => d.toEpochDay.toInt
    case t: java.sql.Timestamp =>
      // floorDiv, not /: getTime truncates toward zero while getNanos
      // is always the non-negative sub-second part, so pre-epoch
      // values with fractional seconds would otherwise shift +1s
      // (matches Spark's DateTimeUtils.fromJavaTimestamp)
      Math.addExact(Math.multiplyExact(
        Math.floorDiv(t.getTime, 1000L), 1000000L),
        (t.getNanos / 1000L) % 1000000L)
    case t: java.time.Instant =>
      t.getEpochSecond * 1000000L + t.getNano / 1000
    case other => other
  }

  def compare(dt: DataType, a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1 // NULLS FIRST, ≙ sort_merge_reader.py:30-43
    case (_, null) => 1
    case _ => dt match {
      case ByteType => a.asInstanceOf[Byte].compare(b.asInstanceOf[Byte])
      case ShortType => a.asInstanceOf[Short].compare(b.asInstanceOf[Short])
      case IntegerType | DateType => a.asInstanceOf[Int].compare(b.asInstanceOf[Int])
      case LongType | TimestampType => a.asInstanceOf[Long].compare(b.asInstanceOf[Long])
      case FloatType => java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
      case DoubleType => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
      case BooleanType => a.asInstanceOf[Boolean].compare(b.asInstanceOf[Boolean])
      case StringType => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
      case BinaryType =>
        // unsigned lexicographic, ≙ the reference comparator's binary
        // branch (`sort_merge_reader.py:57-62`: pyarrow binary compares
        // bytewise-unsigned)
        val x = a.asInstanceOf[Array[Byte]]; val y = b.asInstanceOf[Array[Byte]]
        val n = math.min(x.length, y.length)
        var i = 0
        while (i < n) {
          val c = (x(i) & 0xff) - (y(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        x.length - y.length
      case other => throw new IllegalArgumentException(s"compare $other")
    }
  }

  /** Evaluate a filter against exact column values (partition pruning).
    * Returns None when the filter references non-partition columns or an
    * unsupported shape — caller keeps the file (pruning stays sound).
    */
  def evalExact(f: Filter, dt: String => Option[DataType],
      value: String => Option[Any]): Option[Boolean] = {

    def cmp(col: String, v: Any): Option[Int] = for {
      d <- dt(col); cur <- value(col)
      if cur != null && v != null
    } yield compare(d, cur, toInternal(d, v))

    f match {
      case EqualTo(c, v) => cmp(c, v).map(_ == 0)
      case EqualNullSafe(c, v) =>
        (dt(c), value(c)) match {
          case (Some(d), Some(cur)) =>
            Some(if (cur == null || v == null) cur == null && v == null
            else compare(d, cur, toInternal(d, v)) == 0)
          case _ => None
        }
      case LessThan(c, v) => cmp(c, v).map(_ < 0)
      case LessThanOrEqual(c, v) => cmp(c, v).map(_ <= 0)
      case GreaterThan(c, v) => cmp(c, v).map(_ > 0)
      case GreaterThanOrEqual(c, v) => cmp(c, v).map(_ >= 0)
      case In(c, vs) =>
        (dt(c), value(c)) match {
          case (Some(d), Some(cur)) if cur != null =>
            if (vs.exists(v => v != null && compare(d, cur, toInternal(d, v)) == 0))
              Some(true)
            // SQL 3VL: `x IN (v..., NULL)` with no match is NULL, not
            // false — returning Some(false) here would flip to TRUE
            // under Not and make `p NOT IN (1, NULL)` prune (or
            // metadata-DELETE) partitions SQL says must not qualify
            else if (vs.contains(null)) None
            else Some(false)
          case _ => None
        }
      case IsNull(c) => value(c).map(_ == null)
      case IsNotNull(c) => value(c).map(_ != null)
      case StringStartsWith(c, p) => value(c).collect {
        case s: UTF8String => s.toString.startsWith(p)
      }
      case StringEndsWith(c, p) => value(c).collect {
        case s: UTF8String => s.toString.endsWith(p)
      }
      case StringContains(c, p) => value(c).collect {
        case s: UTF8String => s.toString.contains(p)
      }
      case And(l, r) =>
        (evalExact(l, dt, value), evalExact(r, dt, value)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true)) => Some(true)
          case _ => None
        }
      case Or(l, r) =>
        (evalExact(l, dt, value), evalExact(r, dt, value)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false)) => Some(false)
          case _ => None
        }
      case Not(c) => evalExact(c, dt, value).map(!_)
      case _: AlwaysTrue => Some(true)
      case _: AlwaysFalse => Some(false)
      case _ => None
    }
  }

  /** May a file with [min,max] bounds on `col` contain matching rows?
    * None = cannot decide → keep. Only sound for key columns of PK
    * tables (post-merge filter on non-key columns must not prune files —
    * SURVEY §4.1 "PK-aware pushdown split").
    */
  def evalRange(f: Filter, dt: String => Option[DataType],
      bounds: String => Option[(String, String)]): Option[Boolean] = {
    // A double-typed stat string may come from a file that predates a
    // float→double widening: Float.toString's shortest decimal ("0.1")
    // parses to a different double than the float it names widens to
    // (0.1f.toDouble). The manifest records no per-file era, so take
    // the conservative side of the two readings — bounds only widen,
    // a mixed-era file is never wrongly pruned.
    def parseBound(d: DataType, s: String, lower: Boolean): Any = d match {
      case DoubleType if s != NullToken =>
        val asD = s.toDouble
        val asF = s.toFloat.toDouble
        if (lower) math.min(asD, asF) else math.max(asD, asF)
      case _ => parse(d, s)
    }
    def rng(c: String, v: Any): Option[(Int, Int)] = for {
      d <- dt(c); (lo, hi) <- bounds(c); if v != null
    } yield (compare(d, parseBound(d, lo, lower = true), toInternal(d, v)),
      compare(d, parseBound(d, hi, lower = false), toInternal(d, v)))

    f match {
      case EqualTo(c, v) => rng(c, v).map { case (lo, hi) => lo <= 0 && hi >= 0 }
      case LessThan(c, v) => rng(c, v).map { case (lo, _) => lo < 0 }
      case LessThanOrEqual(c, v) => rng(c, v).map { case (lo, _) => lo <= 0 }
      case GreaterThan(c, v) => rng(c, v).map { case (_, hi) => hi > 0 }
      case GreaterThanOrEqual(c, v) => rng(c, v).map { case (_, hi) => hi >= 0 }
      case In(c, vs) if vs.nonEmpty =>
        val rs = vs.filter(_ != null).map(v => rng(c, v))
        if (rs.exists(_.isEmpty)) None
        else Some(rs.flatten.exists { case (lo, hi) => lo <= 0 && hi >= 0 })
      case And(l, r) =>
        (evalRange(l, dt, bounds), evalRange(r, dt, bounds)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true)) => Some(true)
          case _ => None
        }
      case Or(l, r) =>
        (evalRange(l, dt, bounds), evalRange(r, dt, bounds)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false)) => Some(false)
          case _ => None
        }
      case _ => None
    }
  }

  /** Stable bucket routing: murmur3 over canonical strings of the
    * trimmed-pk values (seed 42) — deterministic across JVMs/commits.
    */
  def bucketOf(keyValues: Seq[String], numBuckets: Int): Int = {
    val h = scala.util.hashing.MurmurHash3.stringHash(
      keyValues.mkString("\u0000"), 42)
    Math.floorMod(h, numBuckets)
  }

  /** Extract field value from an InternalRow as canonical string. */
  def encodeField(row: InternalRow, ordinal: Int, dt: DataType): String =
    if (row.isNullAt(ordinal)) NullToken
    else dt match {
      case ByteType => row.getByte(ordinal).toString
      case ShortType => row.getShort(ordinal).toString
      case IntegerType | DateType => row.getInt(ordinal).toString
      case LongType | TimestampType => row.getLong(ordinal).toString
      case FloatType => row.getFloat(ordinal).toString
      case DoubleType => row.getDouble(ordinal).toString
      case BooleanType => row.getBoolean(ordinal).toString
      case StringType => row.getUTF8String(ordinal).toString
      case BinaryType => toHex(row.getBinary(ordinal))
      case other => throw new IllegalArgumentException(s"encode $other")
    }
}
