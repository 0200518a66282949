package org.apache.spark.sql

import java.io.ByteArrayOutputStream

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.arrow.{ArrowBatchStreamWriter, ArrowConverters}

/** Bridge to `private[sql]` conversions between the public `Column` and
  * Catalyst `Expression` in Spark 4 (the `.expr` accessor of Spark 3.x
  * moved behind `org.apache.spark.sql.classic.ExpressionUtils`), and to
  * Spark's Arrow converters. Same shim pattern used by third-party
  * connectors/extension libraries.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `df` as one Arrow IPC stream, built as `collectAsArrowToPython`
    * builds it: executor tasks encode their rows into record batches of
    * at most `maxRowsPerBatch` rows, and the driver frames the batches
    * in partition order. The zone is the literal "UTC", never the
    * session zone. The converter reads a limit <= 0 as "no limit", so
    * callers check it first.
    */
  def arrowIpcStream(df: DataFrame, maxRowsPerBatch: Int): Array[Byte] = {
    val schema = df.schema
    val batches = df.queryExecution.toRdd.mapPartitions { rows =>
      ArrowConverters.toBatchIterator(rows, schema, maxRowsPerBatch.toLong,
        "UTC", errorOnDuplicatedFieldNames = true, largeVarTypes = false,
        context = TaskContext.get())
    }.collect()
    val out = new ByteArrayOutputStream()
    val writer = new ArrowBatchStreamWriter(schema, out, "UTC",
      errorOnDuplicatedFieldNames = true, largeVarTypes = false)
    writer.writeBatches(batches.iterator)
    writer.end()
    out.toByteArray
  }

  /** Translate an UNRESOLVED predicate `Column` (the shapes a facade
    * `PredicateBuilder` constructs) into `sources.Filter` conjuncts
    * for metadata pruning. Spark 4 Columns are ColumnNode trees, so
    * this walks `org.apache.spark.sql.internal` nodes — which is why
    * it lives in the shim. Unknown shapes yield nothing: callers only
    * ever use the result to over-approximate.
    */
  def sourceFilters(c: Column): Seq[sources.Filter] = {
    import org.apache.spark.sql.{internal => in}

    def name(n: in.ColumnNode): Option[String] = n match {
      case a: in.UnresolvedAttribute => Some(a.nameParts.mkString("."))
      case _ => None
    }
    def value(n: in.ColumnNode): Option[Any] = n match {
      case l: in.Literal => Some(l.value)
      case _ => None
    }
    def conjuncts(n: in.ColumnNode): Seq[sources.Filter] = n match {
      case f: in.UnresolvedFunction if f.functionName == "and" =>
        f.arguments.flatMap(conjuncts)
      case other => translate(other).toSeq
    }
    def translate(n: in.ColumnNode): Option[sources.Filter] = n match {
      case f: in.UnresolvedFunction =>
        (f.functionName, f.arguments) match {
          case ("=", Seq(a, v)) =>
            for { nm <- name(a); x <- value(v) } yield sources.EqualTo(nm, x)
          case ("<", Seq(a, v)) =>
            for { nm <- name(a); x <- value(v) } yield sources.LessThan(nm, x)
          case ("<=", Seq(a, v)) =>
            for { nm <- name(a); x <- value(v) } yield
              sources.LessThanOrEqual(nm, x)
          case (">", Seq(a, v)) =>
            for { nm <- name(a); x <- value(v) } yield
              sources.GreaterThan(nm, x)
          case (">=", Seq(a, v)) =>
            for { nm <- name(a); x <- value(v) } yield
              sources.GreaterThanOrEqual(nm, x)
          case ("isNull", Seq(a)) => name(a).map(sources.IsNull)
          case ("isNotNull", Seq(a)) => name(a).map(sources.IsNotNull)
          case ("startswith", Seq(a, v)) =>
            for { nm <- name(a); x <- value(v) } yield
              sources.StringStartsWith(nm, x.toString)
          case ("endswith", Seq(a, v)) =>
            for { nm <- name(a); x <- value(v) } yield
              sources.StringEndsWith(nm, x.toString)
          case ("contains", Seq(a, v)) =>
            for { nm <- name(a); x <- value(v) } yield
              sources.StringContains(nm, x.toString)
          case ("in", a +: vs) if vs.nonEmpty =>
            name(a).flatMap { nm =>
              val xs = vs.flatMap(value)
              if (xs.length == vs.length) Some(sources.In(nm, xs.toArray))
              else None
            }
          case ("!", Seq(inner)) => translate(inner).map(sources.Not)
          case ("not", Seq(inner)) => translate(inner).map(sources.Not)
          case ("or", Seq(l, r)) =>
            for { lf <- translate(l); rf <- translate(r) } yield
              sources.Or(lf, rf)
          case ("and", Seq(l, r)) =>
            for { lf <- translate(l); rf <- translate(r) } yield
              sources.And(lf, rf)
          case _ => None
        }
      case _ => None
    }
    conjuncts(c.node)
  }
}
