package graft.format

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import graft.connector.Values
import graft.core.RowKind

/** Per-key-run fold, pluggable into [[SortMergeReader]] — the Spark
  * counterpart of the reference's merge-function seam
  * (`pypaimon/pynative/reader/sort_merge_reader.py:78-108`:
  * `DeduplicateMergeFunction(ignore_delete)` behind a
  * `merge_function.add/get_result` protocol). The reference ships only
  * deduplicate; the table format family this engine implements also
  * defines `first-row`, `partial-update` and `aggregation` engines, so
  * all four are first-class here, selected by the `merge-engine` table
  * option (validated at CREATE, see TableSchema.validate).
  *
  * Contract: `reset()` once per equal-key run, `add(...)` per entry in
  * ascending sequence order, `result()` = the surviving row or null.
  * All engines are FIELD-LOCAL folds — merging a projected row subset
  * equals projecting the merged full row — so running them above the
  * reader's pruned schema is exact, and per-bucket results written by
  * compaction fold losslessly with later appends at read time (the
  * partial-aggregate property that makes pre-aggregated storage work
  * at 100 TB: a sum-engine table absorbs upserts map-side at ingest
  * instead of re-scanning the corpus).
  *
  * Row lifetime: a row passed to `add` may view a columnar batch. The
  * reader calls `retain()` just before such a batch is replaced; the
  * function then copies whatever it still holds (rows, strings).
  */
trait MergeFunction {
  def reset(): Unit
  def add(file: String, row: InternalRow, seq: Long, kind: Byte): Unit
  /** Surviving (file, row) of the run, or null when the key drops. */
  def result(): (String, InternalRow)
  /** Copy every row and value held so far out of the batches they view. */
  def retain(): Unit
}

object MergeFunction {

  val Engines: Seq[String] =
    Seq("deduplicate", "first-row", "partial-update", "aggregation")

  val AggFunctions: Seq[String] = Seq("sum", "product", "min", "max",
    "last_value", "last_non_null_value", "first_value",
    "first_non_null_value", "bool_and", "bool_or", "listagg")

  /** Engine spec extracted from table options (pre-validated).
    * `seqField`: LWW ordered by a DATA column instead of commit order
    * (`sequence.field` — the out-of-order-ingest knob: the row with
    * the largest field value wins no matter which commit carried it;
    * ties resolve to the later commit).
    * `seqGroups` (`fields.<g>.sequence-group=a,b`; partial-update
    * only): columns a,b form a group versioned by data column g — an
    * incoming row's group columns apply only when its g is non-null
    * and >= the accumulated g (ties → later entry), so each group
    * absorbs out-of-order partial updates independently.
    */
  final case class Spec(engine: String, ignoreDelete: Boolean,
      aggFns: Map[String, String], seqField: Option[String] = None,
      seqGroups: Map[String, Seq[String]] = Map.empty) {
    /** The built-in fast path in SortMergeReader IS deduplicate. */
    def isPlainDeduplicate: Boolean =
      engine == "deduplicate" && !ignoreDelete && seqField.isEmpty
    /** Data columns the merge itself orders by — the scan must retain
      * them below the merge even when the projection prunes them.
      */
    def orderingColumns: Seq[String] =
      seqField.toSeq ++ seqGroups.keys.toSeq
  }

  /** Member-list parser, shared with the ALTER guards and the
    * commit-time fence — lives in [[graft.core.MergeRuleProps]] so the
    * fence (core) can normalize without a format-package dependency.
    */
  def parseGroupMembers(v: String): Seq[String] =
    graft.core.MergeRuleProps.parseGroupMembers(v)

  def specOf(options: Map[String, String]): Spec = Spec(
    options.getOrElse("merge-engine", "deduplicate"),
    options.get("ignore-delete").exists(_.trim.equalsIgnoreCase("true")),
    options.collect { case (k, v)
        if k.startsWith("fields.") && k.endsWith(".aggregate-function") =>
      k.stripPrefix("fields.").stripSuffix(".aggregate-function") -> v.trim
    },
    options.get("sequence.field").map(_.trim).filter(_.nonEmpty),
    options.collect { case (k, v)
        if k.startsWith("fields.") && k.endsWith(".sequence-group") =>
      k.stripPrefix("fields.").stripSuffix(".sequence-group") ->
        parseGroupMembers(v)
    })

  /** Build the merge function for a run over rows of `rowSchema`
    * (must contain `_SEQUENCE_NUMBER`/`_VALUE_KIND`; possibly
    * projection-pruned). Returns null for plain deduplicate — the
    * caller keeps SortMergeReader's allocation-free LWW loop.
    */
  /** `keepDeletes`: compaction of a `sequence.field` table must WRITE
    * the winning delete back instead of dropping it — the tombstone
    * carries the field value a later out-of-order stale insert has to
    * lose against; dropping it (fine under commit-order LWW, where
    * later commits always outrank) would let compaction timing change
    * the visible state. Read paths keep the default (deletes drop
    * after the merge).
    */
  def create(spec: Spec, rowSchema: StructType, keyIdx: Seq[Int],
      seqIdx: Int, kindIdx: Int,
      keepDeletes: Boolean = false): MergeFunction = {
    if (spec.isPlainDeduplicate) return null
    val keySet = keyIdx.toSet
    // non-key value positions (seq/kind handled explicitly)
    val valueIdx = rowSchema.fields.indices.filter(i =>
      i != seqIdx && i != kindIdx && !keySet.contains(i)).toArray
    spec.engine match {
      case "deduplicate" if spec.seqField.isDefined =>
        val i = rowSchema.fieldIndex(spec.seqField.get)
        new SequenceFieldDeduplicate(i, rowSchema(i).dataType,
          spec.ignoreDelete, keepDeletes)
      case "deduplicate" => new DeduplicateMerge(spec.ignoreDelete)
      case "first-row" => new FirstRowMerge
      case "partial-update" | "aggregation" =>
        // sequence-group columns (the group's version column AND its
        // members) leave the plain per-field fold: they apply together,
        // gated by the group's version comparison
        val groups: Array[(Int, DataType, Array[Int])] =
          spec.seqGroups.toArray.sortBy(_._1).map { case (g, members) =>
            require(rowSchema.fieldNames.contains(g),
              s"sequence-group column $g missing from the merge schema " +
                "(scan retention must keep it below the merge)")
            val gi = rowSchema.fieldIndex(g)
            (gi, rowSchema(gi).dataType,
              // a member pruned from the projection simply isn't folded
              // (group folds are member-local once the gate passes)
              members.filter(rowSchema.fieldNames.contains)
                .map(rowSchema.fieldIndex).toArray)
          }
        val grouped: Set[Int] =
          groups.flatMap(g => g._1 +: g._3.toSeq).toSet
        val plainIdx = valueIdx.filterNot(grouped.contains)
        val fns: Array[FieldAgg] = plainIdx.map { i =>
          if (spec.engine == "partial-update") LastNonNull
          else FieldAgg.of(
            spec.aggFns.getOrElse(rowSchema(i).name,
              graft.core.MergeRuleProps.DefaultAgg),
            rowSchema(i).dataType)
        }
        new AccumulatingMerge(rowSchema.fields.map(_.dataType), plainIdx,
          fns, seqIdx, kindIdx, spec.ignoreDelete, groups)
      case other =>
        throw new IllegalArgumentException(s"Unsupported merge-engine: $other")
    }
  }

  /** Per-field fold of the aggregation engine. `fold` is called for
    * every entry after the first (the first copies the whole row), so
    * first_* semantics key off the accumulated value alone.
    */
  sealed trait FieldAgg {
    def fold(acc: Any, v: Any): Any
  }
  case object LastValue extends FieldAgg {
    def fold(acc: Any, v: Any): Any = v
  }
  case object LastNonNull extends FieldAgg {
    def fold(acc: Any, v: Any): Any = if (v == null) acc else v
  }
  case object FirstValue extends FieldAgg {
    def fold(acc: Any, v: Any): Any = acc
  }
  case object FirstNonNull extends FieldAgg {
    def fold(acc: Any, v: Any): Any = if (acc == null) v else acc
  }
  final case class MinMax(dt: DataType, wantMin: Boolean) extends FieldAgg {
    def fold(acc: Any, v: Any): Any =
      if (v == null) acc
      else if (acc == null) v
      else if (Values.compare(dt, v, acc) < 0 == wantMin) v else acc
  }
  /** SQL-style sum in the column's own type (nulls ignored; integer
    * sums wrap like Spark's non-ANSI sum over the same narrow type).
    */
  final case class Sum(dt: DataType) extends FieldAgg {
    def fold(acc: Any, v: Any): Any =
      if (v == null) acc
      else if (acc == null) v
      else dt match {
        case ByteType => (acc.asInstanceOf[Byte] + v.asInstanceOf[Byte]).toByte
        case ShortType => (acc.asInstanceOf[Short] + v.asInstanceOf[Short]).toShort
        case IntegerType => acc.asInstanceOf[Int] + v.asInstanceOf[Int]
        case LongType => acc.asInstanceOf[Long] + v.asInstanceOf[Long]
        case FloatType => acc.asInstanceOf[Float] + v.asInstanceOf[Float]
        case DoubleType => acc.asInstanceOf[Double] + v.asInstanceOf[Double]
        case other => throw new IllegalArgumentException(s"sum over $other")
      }
  }
  final case class BoolOp(isAnd: Boolean) extends FieldAgg {
    def fold(acc: Any, v: Any): Any =
      if (v == null) acc
      else if (acc == null) v
      else if (isAnd) acc.asInstanceOf[Boolean] && v.asInstanceOf[Boolean]
      else acc.asInstanceOf[Boolean] || v.asInstanceOf[Boolean]
  }
  /** Running product in the column's own type (nulls ignored; integer
    * products wrap, mirroring [[Sum]]'s non-ANSI overflow contract).
    */
  final case class Product(dt: DataType) extends FieldAgg {
    def fold(acc: Any, v: Any): Any =
      if (v == null) acc
      else if (acc == null) v
      else dt match {
        case ByteType => (acc.asInstanceOf[Byte] * v.asInstanceOf[Byte]).toByte
        case ShortType => (acc.asInstanceOf[Short] * v.asInstanceOf[Short]).toShort
        case IntegerType => acc.asInstanceOf[Int] * v.asInstanceOf[Int]
        case LongType => acc.asInstanceOf[Long] * v.asInstanceOf[Long]
        case FloatType => acc.asInstanceOf[Float] * v.asInstanceOf[Float]
        case DoubleType => acc.asInstanceOf[Double] * v.asInstanceOf[Double]
        case other => throw new IllegalArgumentException(s"product over $other")
      }
  }
  /** Comma-delimited string accumulation in physical (key, sequence)
    * order — deterministic because the merge feeds entries ascending.
    * Nulls are skipped, never rendered. The accumulated value grows
    * with every upsert of the key; like every per-key accumulator it
    * is for value-bounded histories, and compaction keeps re-folding
    * the partial so reads stay O(live rows).
    */
  case object ListAgg extends FieldAgg {
    private val Delim =
      org.apache.spark.unsafe.types.UTF8String.fromString(",")
    def fold(acc: Any, v: Any): Any =
      if (v == null) acc
      else if (acc == null) v
      else org.apache.spark.unsafe.types.UTF8String.concat(
        acc.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], Delim,
        v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  }

  object FieldAgg {
    def of(name: String, dt: DataType): FieldAgg = name match {
      case "sum" => Sum(dt)
      case "product" => Product(dt)
      case "listagg" => ListAgg
      case "min" => MinMax(dt, wantMin = true)
      case "max" => MinMax(dt, wantMin = false)
      case "last_value" => LastValue
      case "last_non_null_value" => LastNonNull
      case "first_value" => FirstValue
      case "first_non_null_value" => FirstNonNull
      case "bool_and" => BoolOp(isAnd = true)
      case "bool_or" => BoolOp(isAnd = false)
      case other => throw new IllegalArgumentException(
        s"Unsupported aggregate-function: $other " +
          s"(expected one of ${AggFunctions.mkString(", ")})")
    }

    /** CREATE-time type check. */
    def validFor(name: String, dt: DataType): Boolean = name match {
      case "sum" | "product" => dt match {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType => true
        case _ => false
      }
      case "bool_and" | "bool_or" => dt == BooleanType
      case "listagg" => dt == StringType
      case _ => true
    }
  }

  /** ≙ the reference's `DeduplicateMergeFunction(ignore_delete=True)`:
    * DELETE entries are skipped, the latest surviving entry wins, and
    * the winner still drops downstream unless it is an add kind.
    */
  private final class DeduplicateMerge(ignoreDelete: Boolean)
      extends MergeFunction {
    private var file: String = _
    private var row: InternalRow = _
    private var kind: Byte = _
    private var any = false
    def reset(): Unit = { any = false; row = null; file = null }
    def add(f: String, r: InternalRow, seq: Long, k: Byte): Unit = {
      if (ignoreDelete && k == RowKind.Delete) return
      file = f; row = r; kind = k; any = true
    }
    def result(): (String, InternalRow) =
      if (any && RowKind.isAdd(kind)) (file, row) else null
    def retain(): Unit = if (row != null) row = row.copy()
  }

  /** `sequence.field` deduplicate: the entry with the LARGEST field
    * value wins (NULL smallest, ties → later commit, matching the
    * plain engine). A late-arriving old version — including a -D
    * carrying an old field value — loses to the newer row it could
    * not have retracted, which is exactly the out-of-order contract.
    */
  private final class SequenceFieldDeduplicate(fieldIdx: Int, dt: DataType,
      ignoreDelete: Boolean, keepDeletes: Boolean = false)
      extends MergeFunction {
    private var file: String = _
    private var row: InternalRow = _
    private var kind: Byte = _
    private var best: Any = _
    private var any = false
    def reset(): Unit = { any = false; row = null; file = null; best = null }
    def add(f: String, r: InternalRow, seq: Long, k: Byte): Unit = {
      if (ignoreDelete && k == RowKind.Delete) return
      val v = if (r.isNullAt(fieldIdx)) null else r.get(fieldIdx, dt)
      // >=: entries arrive in ascending physical sequence, so an equal
      // field value from a later commit replaces the earlier one
      if (!any || Values.compare(dt, v, best) >= 0) {
        file = f; row = r; kind = k; best = v; any = true
      }
    }
    def result(): (String, InternalRow) =
      if (any && (keepDeletes || RowKind.isAdd(kind))) (file, row) else null
    def retain(): Unit =
      if (row != null) { row = row.copy(); best = InternalRow.copyValue(best) }
  }

  /** First add wins; retractions are ignored (a first-row table's
    * contract is insert-only — deletes cannot un-see the first row
    * without replaying history, which merge-on-read cannot do).
    */
  private final class FirstRowMerge extends MergeFunction {
    private var file: String = _
    private var row: InternalRow = _
    def reset(): Unit = { row = null; file = null }
    def add(f: String, r: InternalRow, seq: Long, k: Byte): Unit =
      if (row == null && RowKind.isAdd(k)) { file = f; row = r }
    def result(): (String, InternalRow) = if (row == null) null else (file, row)
    def retain(): Unit = if (row != null) row = row.copy()
  }

  /** Shared accumulator of `partial-update` (every field last-non-null)
    * and `aggregation` (per-field [[FieldAgg]]). UPDATE_BEFORE entries
    * are ignored (the paired UPDATE_AFTER carries the new image);
    * DELETE clears the accumulated row (remove-record-on-delete
    * semantics) unless `ignore-delete`. The synthesized result carries
    * the run's max sequence and INSERT kind, so compacted partials
    * keep folding exactly with later appends.
    */
  private final class AccumulatingMerge(types: Array[DataType],
      valueIdx: Array[Int], fns: Array[FieldAgg], seqIdx: Int, kindIdx: Int,
      ignoreDelete: Boolean,
      groups: Array[(Int, DataType, Array[Int])] = Array.empty)
      extends MergeFunction {
    private var acc: GenericInternalRow = _
    private var file: String = _
    def reset(): Unit = { acc = null; file = null }
    def add(f: String, r: InternalRow, seq: Long, k: Byte): Unit = {
      if (k == RowKind.UpdateBefore) return
      if (k == RowKind.Delete) {
        if (!ignoreDelete) reset()
        return
      }
      file = f
      if (acc == null) {
        acc = new GenericInternalRow(types.length)
        var i = 0
        while (i < types.length) {
          acc.update(i,
            if (i == kindIdx) RowKind.Insert.toInt
            else if (r.isNullAt(i)) null
            else r.get(i, types(i)))
          i += 1
        }
        // the version gate applies to the FIRST entry of a run too
        // (including the entry after a DELETE reset): a versionless
        // row must leave its group empty, or merge results would
        // depend on whether the versionless update happened to arrive
        // first — the commit-order dependence groups exist to remove
        var g = 0
        while (g < groups.length) {
          val (gi, _, members) = groups(g)
          if (r.isNullAt(gi)) {
            var m = 0
            while (m < members.length) { acc.update(members(m), null); m += 1 }
          }
          g += 1
        }
      } else {
        var j = 0
        while (j < valueIdx.length) {
          val i = valueIdx(j)
          acc.update(i, fns(j).fold(
            acc.values(i),
            if (r.isNullAt(i)) null else r.get(i, types(i))))
          j += 1
        }
        // sequence-groups: a group's columns apply only when the
        // incoming group-version is non-null and >= the accumulated one
        // (>= because entries arrive in ascending physical sequence, so
        // an equal version from a later entry wins, matching LWW ties);
        // a stale or versionless partial update leaves the whole group
        // untouched — including its non-null member values
        var g = 0
        while (g < groups.length) {
          val (gi, gdt, members) = groups(g)
          if (!r.isNullAt(gi)) {
            val inV = r.get(gi, gdt)
            val accV = acc.values(gi)
            if (accV == null || Values.compare(gdt, inV, accV) >= 0) {
              acc.update(gi, inV)
              var m = 0
              while (m < members.length) {
                val i = members(m)
                // partial within the group too: nulls never overwrite
                if (!r.isNullAt(i)) acc.update(i, r.get(i, types(i)))
                m += 1
              }
            }
          }
          g += 1
        }
        acc.update(seqIdx, seq)
      }
    }
    def result(): (String, InternalRow) = if (acc == null) null else (file, acc)
    // the accumulator owns its slots; only strings may still view a batch
    def retain(): Unit = if (acc != null) acc.values.indices.foreach(i =>
      acc.update(i, InternalRow.copyValue(acc.values(i))))
  }
}
