package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import graft.connector.{GraftCommitMessage, GraftWriteSupport, ScanPlanner}
import graft.core.{RowKind, TableSchema}
import graft.format.{DataFileMeta, FileStoreCommit, SnapshotManager}
import java.nio.file.{Files, Path, Paths}

/** Thin Scala mirror of the reference's builder API
  * (`pypaimon/api/__init__.py:31-46`): `Catalog → Table → ReadBuilder /
  * BatchWriteBuilder`, with the same pushdown verbs and the same
  * two-phase write (`write → prepareCommit ≙ messages → commit`).
  *
  * Every read verb is sugar over the DSv2 connector: filters /
  * projection / limit become DataFrame operations that Catalyst pushes
  * back into `GraftScanBuilder` — so facade users get the same plans as
  * `spark.sql` users. Sinks map per SURVEY §2.1: `toDF.collect` ≙
  * `to_arrow`, `toLocalIterator` ≙ `to_arrow_batch_reader`,
  * `createTempView` ≙ `to_duckdb`.
  */
final class Catalog private (val spark: SparkSession, val warehouse: Path,
    val catalogName: String) {

  def createDatabase(name: String, ignoreIfExists: Boolean = false): Unit = {
    // the database name becomes a warehouse directory name — same
    // component rules as splitIdent, or "../evil" would quote-parse and
    // create (then later cascade-drop) a directory outside the warehouse
    graft.connector.GraftCatalog.requirePathSafeComponent(name, "database name")
    val ifNot = if (ignoreIfExists) "IF NOT EXISTS " else ""
    spark.sql(s"CREATE NAMESPACE $ifNot$catalogName.${Catalog.bq(name)}")
  }

  /** `db.table` split with a clear error — a dot-less identifier used
    * to surface as an opaque scala.MatchError. Components are also the
    * table's DIRECTORY names under the warehouse, so path separators
    * and dot-components are rejected — a name must never escape the
    * warehouse root.
    */
  private def splitIdent(identifier: String): (String, String) =
    identifier.split("\\.", 2) match {
      case Array(db, tbl) if db.nonEmpty && tbl.nonEmpty =>
        Seq(db, tbl).foreach { part =>
          require(!part.contains("/") && !part.contains("\\") &&
            part != "." && part != ".." &&
            !part.split("\\.", -1).exists(c => c == "" || c == "."),
            s"Invalid identifier component '$part'")
        }
        (db, tbl)
      case _ => throw new IllegalArgumentException(
        s"Invalid table identifier '$identifier' (expected database.table)")
    }

  def createTable(identifier: String, schema: Schema,
      ignoreIfExists: Boolean = false): Unit = {
    val (db, tbl) = splitIdent(identifier)
    val fieldsDdl = schema.fields.map(f =>
      s"${Catalog.bq(f.name)} ${f.dataType.sql}").mkString(", ")
    val partBy = if (schema.partitionKeys.nonEmpty)
      s" PARTITIONED BY (${schema.partitionKeys.map(Catalog.bq)
        .mkString(", ")})" else ""
    val props = schema.options ++
      (if (schema.primaryKeys.nonEmpty)
        Map("primary-key" -> schema.primaryKeys.mkString(",")) else Map.empty)
    // escape quotes like the comment below — an option value holding a
    // quote (a path, a regex) must not break the DDL or inject extra
    // properties past the parser
    def q(s: String): String = s.replace("'", "''")
    val tblProps = if (props.nonEmpty)
      " TBLPROPERTIES (" + props.map { case (k, v) => s"'${q(k)}'='${q(v)}'" }
        .mkString(", ") + ")"
    else ""
    val commentDdl = schema.comment
      .map(c => s" COMMENT '${q(c)}'").getOrElse("")
    // DDL-level IF NOT EXISTS, not a check-then-act probe: two
    // concurrent ignoreIfExists creators must both succeed (the loser
    // of a pre-check race would throw despite asking to ignore)
    val ifNot = if (ignoreIfExists) "IF NOT EXISTS " else ""
    spark.sql(s"CREATE TABLE $ifNot$catalogName.${Catalog.bq(db)}" +
      s".${Catalog.bq(tbl)} ($fieldsDdl)$commentDdl$partBy$tblProps")
  }

  def tableExists(identifier: String): Boolean = {
    val (db, tbl) = splitIdent(identifier)
    Files.isDirectory(warehouse.resolve(s"$db.db/$tbl/schema"))
  }

  def getTable(identifier: String): GraftTableHandle = {
    val (db, tbl) = splitIdent(identifier)
    val dir = warehouse.resolve(s"$db.db/$tbl")
    val ts = TableSchema.load(dir).getOrElse(
      throw new IllegalArgumentException(s"Table $identifier doesn't exist"))
    new GraftTableHandle(spark, catalogName, identifier, dir, ts)
  }
}

object Catalog {
  /** Backtick-quote one DDL identifier component (embedded backticks
    * doubled) — generated DDL must survive reserved words (`order`)
    * and punctuation in names, the same way option values are escaped.
    */
  private[api] def bq(ident: String): String =
    "`" + ident.replace("`", "``") + "`"

  /** ≙ `Catalog.create({'warehouse': dir})` — also registers the DSv2
    * catalog in the session so SQL and facade views coincide.
    */
  def create(spark: SparkSession, options: Map[String, String]): Catalog = {
    val wh = options.getOrElse("warehouse",
      throw new IllegalArgumentException("Catalog requires option 'warehouse'"))
    val name = options.getOrElse("catalog-name", "graft")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.connector.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    new Catalog(spark, Paths.get(wh), name)
  }
}

/** ≙ reference `Schema(pa_schema, partition_keys, primary_keys, options,
  * comment)` (`pypaimon/api/table.py:38-51`).
  */
final case class Schema(
    fields: StructType,
    partitionKeys: Seq[String] = Seq.empty,
    primaryKeys: Seq[String] = Seq.empty,
    options: Map[String, String] = Map.empty,
    comment: Option[String] = None)

object Schema {
  /** Build a [[Schema]] from pyarrow-style `(name, type-name)` pairs, the
    * porting path for reference users whose schemas are `pa.schema(...)`
    * literals. Two widenings mirror the reference's own coercions:
    * `float16`/`halffloat` → FLOAT (`pypaimon/py4j/util/java_utils.py:76-77`
    * — Spark has no half type, same as Paimon) and `null` → STRING with
    * a warning (`java_utils.py:86-91`, also applied by the catalog for
    * Spark `NullType`). Everything else maps 1:1 onto the supported
    * type set; unknown names are rejected with the reference's
    * unsupported-type message.
    */
  def fromTypeNames(fields: Seq[(String, String)],
      partitionKeys: Seq[String] = Seq.empty,
      primaryKeys: Seq[String] = Seq.empty,
      options: Map[String, String] = Map.empty,
      comment: Option[String] = None): Schema = {
    val structFields = fields.map { case (name, typeName) =>
      val dt = typeName.trim.toLowerCase match {
        case "int8" | "tinyint" | "byte" => ByteType
        case "int16" | "smallint" | "short" => ShortType
        case "int32" | "int" | "integer" => IntegerType
        case "int64" | "bigint" | "long" => LongType
        case "float16" | "halffloat" =>
          System.err.println(s"WARN: The type of column '$name' is " +
            "float16, which has no Spark equivalent; it will be widened " +
            "to float.")
          FloatType
        case "float32" | "float" => FloatType
        case "float64" | "double" => DoubleType
        case "bool" | "boolean" => BooleanType
        case "string" | "utf8" | "varchar" | "large_string" => StringType
        case "binary" | "bytes" | "large_binary" => BinaryType
        case "date32" | "date" => DateType
        case t if t == "null" || t == "void" =>
          System.err.println(s"WARN: The type of column '$name' is null, " +
            "and it will be converted to string type by default. Please " +
            "check if the original type is string. If not, please " +
            s"manually specify the type of '$name'.")
          StringType
        case t if t.startsWith("timestamp") => TimestampType
        case other => throw new IllegalArgumentException(
          s"Found unsupported data type $other for field $name")
      }
      StructField(name, dt)
    }
    Schema(StructType(structFields), partitionKeys, primaryKeys, options, comment)
  }
}

final class GraftTableHandle(spark: SparkSession, catalogName: String,
    val identifier: String, val tableDir: Path, val tableSchema: TableSchema) {

  def newReadBuilder(): ReadBuilder = new ReadBuilder(this, spark, catalogName)

  def newBatchWriteBuilder(): BatchWriteBuilder =
    new BatchWriteBuilder(this, spark)

  /** Full compaction: every (partition, bucket) group with more than
    * one live file is rewritten into one (distributed, one task per
    * group) and published as a COMPACT snapshot. Returns the number of
    * groups compacted. See [[graft.format.Compactor]].
    */
  def compact(): Int =
    graft.format.Compactor.compactAll(Some(spark), tableDir, tableSchema)

  /** Expire all but the last `retainLast` snapshots (time travel stays
    * valid within the retained window); returns counts of deleted
    * snapshots/files/manifests. See [[graft.format.Maintenance]].
    */
  def expireSnapshots(retainLast: Int,
      olderThanMillis: Option[Long] = None)
      : graft.format.Maintenance.ExpireResult =
    graft.format.Maintenance.expireSnapshots(tableDir, retainLast,
      ioSpec = tableSchema.ioSpec, olderThanMillis = olderThanMillis)

  /** Delete unreferenced data files older than the given age (aborted
    * writes, stray sidecars); returns the number deleted.
    */
  def vacuum(olderThanMillis: Long = 3600 * 1000L): Int =
    graft.format.Maintenance.vacuumOrphans(tableDir, olderThanMillis,
      ioSpec = tableSchema.ioSpec)

  /** Tag a snapshot (default: latest) under a stable name — a
    * retention pin: the tagged state stays readable as
    * `VERSION AS OF '<name>'` no matter what expireSnapshots retains
    * (the dataset-versioning "freeze corpus v1" primitive). Tags are
    * listed by the `t$tags` system table.
    */
  def createTag(name: String, snapshotId: Option[Long] = None): Unit =
    snapshotManager.createTag(name, snapshotId)

  /** Remove a tag; the snapshot's files become expirable again. */
  def deleteTag(name: String): Boolean =
    snapshotManager.deleteTag(name)

  def listTags(): Seq[(String, Long)] =
    snapshotManager.listTags.map { case (n, s) => (n, s.id) }

  /** The ONE SnapshotManager construction for this handle's table —
    * every facade site routes through here so none can forget the
    * ioSpec and silently fall back to local IO on an object-store
    * table.
    */
  private[api] def snapshotManager: SnapshotManager =
    new SnapshotManager(tableDir,
      io = graft.format.FileIO.resolve(tableSchema.ioSpec))

  private[api] def sqlName: String = s"$catalogName.$identifier"
}

/** ≙ `PredicateBuilder` (`pypaimon/api/predicate.py:29-95`): the 14
  * leaves + and/or, with the reference's unknown-field error text.
  * Predicates wrap Catalyst `Column`s, so they push down like any
  * native filter.
  */
final class PredicateBuilder(schema: StructType) {
  private def check(field: String): String = {
    if (!schema.fieldNames.contains(field))
      throw new IllegalArgumentException(
        s"The field $field is not in field list ${schema.fieldNames.mkString("[", ", ", "]")}.")
    field
  }

  def equal(f: String, v: Any): Predicate = Predicate(col(check(f)) === lit(v))
  def notEqual(f: String, v: Any): Predicate = Predicate(col(check(f)) =!= lit(v))
  def lessThan(f: String, v: Any): Predicate = Predicate(col(check(f)) < lit(v))
  def lessOrEqual(f: String, v: Any): Predicate = Predicate(col(check(f)) <= lit(v))
  def greaterThan(f: String, v: Any): Predicate = Predicate(col(check(f)) > lit(v))
  def greaterOrEqual(f: String, v: Any): Predicate = Predicate(col(check(f)) >= lit(v))
  def isNull(f: String): Predicate = Predicate(col(check(f)).isNull)
  def isNotNull(f: String): Predicate = Predicate(col(check(f)).isNotNull)
  def startswith(f: String, v: String): Predicate = Predicate(col(check(f)).startsWith(v))
  def endswith(f: String, v: String): Predicate = Predicate(col(check(f)).endsWith(v))
  def contains(f: String, v: String): Predicate = Predicate(col(check(f)).contains(v))
  def isIn(f: String, vs: Seq[Any]): Predicate = Predicate(col(check(f)).isin(vs: _*))
  def isNotIn(f: String, vs: Seq[Any]): Predicate = Predicate(!col(check(f)).isin(vs: _*))
  def between(f: String, lo: Any, hi: Any): Predicate =
    Predicate(col(check(f)).between(lit(lo), lit(hi)))
  def and(ps: Seq[Predicate]): Predicate = {
    require(ps.nonEmpty, "and() needs at least one predicate")
    Predicate(ps.map(_.column).reduce(_ && _))
  }
  def or(ps: Seq[Predicate]): Predicate = {
    require(ps.nonEmpty, "or() needs at least one predicate")
    Predicate(ps.map(_.column).reduce(_ || _))
  }
}

final case class Predicate(column: Column)

/** ≙ `ReadBuilder` (`pypaimon/api/read_builder.py`): accumulates
  * pushdown, then `newScan().plan().splits()` for split metadata or
  * `newRead().toDF(...)` for data.
  */
final class ReadBuilder(table: GraftTableHandle, spark: SparkSession,
    catalogName: String) {

  private var filter: Option[Predicate] = None
  private var projection: Option[Seq[String]] = None
  private var limitN: Option[Int] = None

  def newPredicateBuilder(): PredicateBuilder =
    new PredicateBuilder(table.tableSchema.fields)

  def withFilter(p: Predicate): ReadBuilder = {
    filter = Some(filter.map(f => Predicate(f.column && p.column)).getOrElse(p))
    this
  }

  def withProjection(cols: Seq[String]): ReadBuilder = {
    val known = table.tableSchema.fields.fieldNames.toSet
    cols.foreach(c => require(known.contains(c),
      s"The field $c is not in field list ${known.mkString("[", ", ", "]")}."))
    projection = Some(cols); this
  }

  def withLimit(n: Int): ReadBuilder = { limitN = Some(n); this }

  def readType(): StructType = StructType(projection match {
    case Some(cols) => cols.map(c =>
      table.tableSchema.fields(table.tableSchema.fields.fieldIndex(c))).toArray
    case None => table.tableSchema.fields.fields
  })

  def newScan(): TableScan = new TableScan(table, filter, limitN)

  def newRead(): TableRead = new TableRead(this)

  private[api] def toDF(): DataFrame = {
    var df = spark.table(table.sqlName)
    filter.foreach(p => df = df.filter(p.column))
    projection.foreach(cols => df = df.select(cols.map(col): _*))
    limitN.foreach(n => df = df.limit(n))
    df
  }
}

/** Split metadata ≙ `pypaimon/api/split.py:24-35`. */
final case class Split(rowCount: Long, fileSize: Long, filePaths: Seq[String])

/** ≙ `TableScan.plan().splits()`: the latest snapshot's files, picked
  * by the connector's [[graft.connector.ScanPlanner]] (the files the
  * read itself touches), one split per merge unit for PK tables and per
  * file for append tables.
  */
final class TableScan(table: GraftTableHandle,
    filter: Option[Predicate] = None, limit: Option[Int] = None) {
  /** Splits pruned by the builder's filter exactly like the DSv2 scan
    * prunes, and `with_limit` keeps whole splits until their rowCount
    * covers n (the reference's split-granular limit, §2.3).
    */
  def plan(): Plan = {
    val ts = table.tableSchema
    // Spark 4 Columns are ColumnNode trees; the shim walks the exact
    // unresolved shapes PredicateBuilder constructs into
    // sources.Filter conjuncts (unknown shapes → nothing: pruning
    // only over-approximates), their literals coerced to column types
    val srcFilters = ScanPlanner.coerced(ts, filter.toSeq.flatMap(p =>
      org.apache.spark.sql.GraftShims.sourceFilters(p.column)))
    val files = ScanPlanner.prune(ts,
      ScanPlanner.liveFiles(table.snapshotManager, None), srcFilters)
    val all =
      if (ts.isPrimaryKeyTable)
        ScanPlanner.groups(files).values.map { fs =>
          Split(fs.map(_.rowCount).sum, fs.map(_.fileSize).sum,
            fs.map(f => table.tableDir.resolve(f.fileName).toString))
        }.toSeq
      else files.map(f => Split(f.rowCount, f.fileSize,
        Seq(table.tableDir.resolve(f.fileName).toString)))
    // Split-granular limit pruning is sound only where raw file row
    // counts equal emitted rows (append tables). A PK merge group can
    // collapse under last-write-wins (updates/deletes), so counting its
    // pre-merge rowCount against the budget would under-deliver live
    // rows — mirror the reference's append-only limit pushdown.
    val splits = limit match {
      case Some(n) if !ts.isPrimaryKeyTable =>
        var acc = 0L
        all.takeWhile { s => val need = acc < n; acc += s.rowCount; need }
      case _ => all
    }
    Plan(splits)
  }
}

final case class Plan(splits: Seq[Split])

/** ≙ `TableRead` sinks (`pypaimon/api/table_read.py:31-56`). */
final class TableRead(rb: ReadBuilder) {
  /** The whole-snapshot DataFrame — the Spark-native `to_arrow`. */
  def toDF(): DataFrame = rb.toDF()
  /** ≙ `to_arrow` literally: the result as one Arrow IPC stream
    * (schema + record batches), readable by pyarrow/arrow-java. The
    * executors encode the batches with Spark's own Arrow converters
    * (at most `maxRowsPerBatch` rows each, timestamps as
    * `timestamp[us, UTC]`); the driver collects the serialized batches
    * in partition order and frames them. The whole stream lands on the
    * driver, like the reference; use [[toDF]] to keep the result
    * distributed.
    */
  def toArrow(maxRowsPerBatch: Int = 4096): Array[Byte] = {
    require(maxRowsPerBatch > 0, s"maxRowsPerBatch must be > 0: $maxRowsPerBatch")
    org.apache.spark.sql.GraftShims.arrowIpcStream(rb.toDF(), maxRowsPerBatch)
  }
  /** ≙ `to_arrow().to_pandas()` — local rows. */
  def toLocalRows(): Array[org.apache.spark.sql.Row] = rb.toDF().collect()
  /** ≙ `to_arrow_batch_reader` — streaming local iterator. */
  def toLocalIterator(): java.util.Iterator[org.apache.spark.sql.Row] =
    rb.toDF().toLocalIterator()
  /** ≙ `to_duckdb(table_name)`: register + full SQL over the snapshot. */
  def createTempView(name: String): Unit =
    rb.toDF().createOrReplaceTempView(name)
}

/** ≙ `BatchWriteBuilder` (`pypaimon/api/write_builder.py:24-39`). */
final class BatchWriteBuilder(table: GraftTableHandle, spark: SparkSession) {
  private[api] var overwriteSpec: Option[Map[String, String]] = None

  /** `overwrite()` = whole table; `overwrite(Map("pt"->"1"))` = static
    * partition (`test_write_and_read.py:311-383`).
    */
  def overwrite(staticPartition: Map[String, String] = Map.empty): BatchWriteBuilder = {
    overwriteSpec = Some(staticPartition); this
  }

  def newWrite(): BatchTableWrite = new BatchTableWrite(table, spark)

  def newCommit(): BatchTableCommit = new BatchTableCommit(table, overwriteSpec)
}

/** ≙ `BatchTableWrite.write_pandas/write_arrow` + `prepare_commit`:
  * distributed write of a DataFrame into bucket files; returns commit
  * messages without publishing. An optional `_row_kind` byte column
  * carries changelog kinds (≙ Java `GenericRow(RowKind.DELETE, ...)`,
  * `test_write_and_read.py:52-98`); it is stripped from stored values.
  *
  * Schema check ≙ `BytesWriter.java:55-79`: types exact (positional),
  * nullability ignored.
  */
final class BatchTableWrite(table: GraftTableHandle, spark: SparkSession) {
  private val messages = scala.collection.mutable.ArrayBuffer.empty[DataFileMeta]
  // Base for the NEXT write() call's sequence range. Seeded from the
  // latest snapshot on the first call, then advanced to the actual max
  // sequence written by the previous call (+1), so per-commit sequence
  // growth stays proportional to what was written instead of a fixed
  // 2^52-per-call stride (which exhausted the signed-Long space after
  // ~2048 multi-call commits and made strict-sequence mode see one
  // task's calls as unrelated ranges).
  private var nextSeqBase: Option[Long] = None

  def write(df: DataFrame): BatchTableWrite = {
    val ts = table.tableSchema
    val hasKind = df.schema.fieldNames.contains(RowKind.ColumnName)
    if (hasKind) {
      // append tables store plain rows with no KV layout — the writer
      // would silently DROP the kind column and a '-D' batch would
      // read back as live inserts
      require(ts.isPrimaryKeyTable,
        s"${RowKind.ColumnName} requires a primary-key table: append " +
          "tables have no changelog semantics (delete rows via " +
          "DELETE FROM / overwrite instead)")
      val kdt = df.schema(RowKind.ColumnName).dataType
      // the writer reads the kind with getByte — an IntegerType column
      // (the natural lit(2)) would either ClassCastException or
      // silently read a low byte depending on the row representation
      require(kdt == ByteType,
        s"${RowKind.ColumnName} must be TINYINT (ByteType), got " +
          s"${kdt.simpleString} — cast the kind column to byte")
    }
    val dataCols = df.schema.fields.filterNot(_.name == RowKind.ColumnName)
    val expected = ts.fields.fields
    val ok = dataCols.length == expected.length &&
      dataCols.zip(expected).forall { case (a, e) => a.dataType == e.dataType }
    if (!ok) throw new RuntimeException(
      "Input schema isn't consistent with table schema.\n" +
        s"\tTable schema is: ${expected.toSeq}\n" +
        s"\tInput schema is: ${dataCols.toSeq}")

    // align column order/names to table schema (+ optional kind column)
    val aligned = {
      val renamed = dataCols.zip(expected).toIndexedSeq
        .map { case (a, e) => col(a.name).as(e.name) }
      if (hasKind) df.select(renamed :+ col(RowKind.ColumnName): _*)
      else df.select(renamed: _*)
    }

    // DISJOINT sequence ranges per write() CALL: baseSeq comes from the
    // latest snapshot, which does not advance until commit — so two
    // write() calls before one commit would otherwise hand identical
    // (pid << 32) ranges to both, and a key present in both frames
    // would tie on sequence number (merge winner = heap order, not
    // "later write wins"). Each call starts just above the previous
    // call's actual max written sequence (nextSeqBase), so later calls
    // are strictly higher without a per-call 2^52 stride.
    val fresh = GraftWriteSupport.writerFactory(table.tableDir, ts)
    val factory = nextSeqBase.fold(fresh)(b => fresh.copy(baseSeq = b))
    val baseSeq = factory.baseSeq
    val collected: Array[Seq[DataFileMeta]] =
      aligned.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
        val writer = factory.taskWriter(pid, withRowKind = hasKind)
        // a failing task deletes the sorted runs it already spilled,
        // as Spark's DataWriter.abort does on the DSv2 write paths
        val files =
          try {
            rows.foreach(writer.write)
            writer.commit().asInstanceOf[GraftCommitMessage].files
          } catch { case t: Throwable =>
            try writer.abort() catch { case s: Throwable => t.addSuppressed(s) }
            throw t
          }
        Iterator.single(files)
      }.collect()
    val written = collected.toSeq.flatten
    nextSeqBase = Some(
      ((written.map(_.maxSeq) :+ (baseSeq - 1)).max) + 1)
    messages ++= written
    this
  }

  /** ≙ `write_arrow` / `write_arrow_batch` (the reference's write API
    * receives serialized Arrow batches — `pypaimon/api/table_write.py:
    * 27-48` — and decodes them JVM-side, `BytesWriter.java:38-99`):
    * decode an IPC stream on the driver and run it through the same
    * distributed write as [[write]], so the schema check (types exact,
    * nullability ignored) and sequence-range discipline apply
    * identically. Driver-local and bounded like `toArrow` — callers
    * stream big corpora through write(df) instead.
    */
  def writeArrow(ipcStream: Array[Byte]): BatchTableWrite = {
    val (schema, rows) = ArrowSink.fromIpcStream(ipcStream)
    import scala.jdk.CollectionConverters._
    write(spark.createDataFrame(rows.asJava, schema))
  }

  /** ≙ `prepare_commit()` → the accumulated commit messages. */
  def prepareCommit(): Seq[DataFileMeta] = messages.toSeq
}

/** ≙ `BatchTableCommit.commit(messages)` — snapshot publication. */
final class BatchTableCommit(table: GraftTableHandle,
    overwriteSpec: Option[Map[String, String]]) {

  def commit(messages: Seq[DataFileMeta]): Unit =
    GraftWriteSupport.commitFiles(table.tableDir,
      table.tableSchema, messages, overwriteSpec match {
        case None => FileStoreCommit.NoOverwrite
        case Some(m) => FileStoreCommit.StaticOverwrite(m)
      })
}
