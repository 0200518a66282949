package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.api._
import graft.core.RowKind
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Facade API parity with the reference's builder surface
  * (`pypaimon/py4j/tests/`): catalog/table lifecycle, predicate builder
  * incl. unknown-field error, projection reorder, two-phase write with
  * RowKind delete flow (insert-then-delete reads back empty), static
  * overwrite, split metadata, schema-mismatch error shape.
  */
class ApiSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var warehouse: java.nio.file.Path = _
  private var catalog: Catalog = _

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    warehouse = Files.createTempDirectory("graft-api-wh")
    catalog = Catalog.create(spark,
      Map("warehouse" -> warehouse.toString, "catalog-name" -> "gapi"))
    catalog.createDatabase("default")
  }

  override def afterAll(): Unit = spark.stop()

  private val simpleSchema = Schema(StructType(Seq(
    StructField("f0", IntegerType), StructField("f1", StringType))))

  test("create table / exists / getTable") {
    catalog.createTable("default.simple", simpleSchema)
    assert(catalog.tableExists("default.simple"))
    catalog.createTable("default.simple", simpleSchema, ignoreIfExists = true)
    val t = catalog.getTable("default.simple")
    assert(t.tableSchema.fields.fieldNames.toSeq == Seq("f0", "f1"))
  }

  test("identifiers: reserved words quoted, path escapes rejected") {
    // generated DDL backtick-quotes identifier components, so reserved
    // words and punctuation work like any other name
    catalog.createTable("default.order", simpleSchema)
    assert(catalog.tableExists("default.order"))
    val t = catalog.getTable("default.order")
    assert(t.tableSchema.fields.fieldNames.toSeq == Seq("f0", "f1"))
    // components double as warehouse directory names: separators and
    // dot-components must never escape the warehouse root
    Seq("default.a/b", "de/fault.t", "default...", "..\\x.t")
      .foreach { bad =>
        intercept[IllegalArgumentException] {
          catalog.createTable(bad, simpleSchema)
        }
      }
    // ignoreIfExists is DDL-level (IF NOT EXISTS), so a pre-existing
    // table is a clean no-op even without the exists probe
    catalog.createTable("default.order", simpleSchema,
      ignoreIfExists = true)
    // createDatabase takes the same validation: its name becomes a
    // warehouse directory, so "../evil" must be rejected before the
    // backtick quoting lets it parse (and before createNamespace would
    // mkdir outside the warehouse root)
    Seq("../evil", "a/b", "..", ".", "", "x\\y").foreach { bad =>
      intercept[IllegalArgumentException] { catalog.createDatabase(bad) }
    }
    assert(!Files.exists(warehouse.getParent.resolve("evil.db")))
    // the connector itself is reachable via backticked SQL — the choke
    // point in dbDir/tableDir must hold there too
    intercept[Exception] {
      spark.sql("CREATE NAMESPACE gapi.`../evil2`")
    }
    assert(!Files.exists(warehouse.getParent.resolve("evil2.db")))
  }

  test("two-phase write then read round-trip") {
    import spark.implicits._
    val t = catalog.getTable("default.simple")
    val wb = t.newBatchWriteBuilder()
    val w = wb.newWrite()
    w.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("f0", "f1"))
    val msgs = w.prepareCommit()
    assert(msgs.nonEmpty)
    wb.newCommit().commit(msgs)
    val rows = t.newReadBuilder().newRead().toDF().orderBy("f0").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "a"), (2, "b"), (3, "c")))
  }

  test("predicate builder pushdown + unknown field error") {
    val t = catalog.getTable("default.simple")
    val rb = t.newReadBuilder()
    val pb = rb.newPredicateBuilder()
    val p = pb.and(Seq(pb.greaterOrEqual("f0", 2), pb.startswith("f1", "b")))
    val got = rb.withFilter(p).newRead().toDF().collect()
    assert(got.length == 1 && got(0).getInt(0) == 2)
    val e = intercept[IllegalArgumentException] {
      pb.equal("nope", 1)
    }
    assert(e.getMessage.contains("The field nope is not in field list"))
  }

  test("projection subset and reorder via withProjection") {
    val t = catalog.getTable("default.simple")
    val rb = t.newReadBuilder().withProjection(Seq("f1", "f0"))
    assert(rb.readType().fieldNames.toSeq == Seq("f1", "f0"))
    val rows = rb.newRead().toDF().orderBy("f0").collect()
    assert(rows.head.schema.fieldNames.toSeq == Seq("f1", "f0"))
    assert(rows.head.getString(0) == "a")
  }

  test("empty projection yields a zero-column frame (reference case 1)") {
    val t = catalog.getTable("default.simple")
    val df = t.newReadBuilder().withProjection(Seq.empty).newRead().toDF()
    assert(df.columns.isEmpty) // ≙ result1.empty in test_write_and_read.py:490-496
  }

  test("withLimit returns at most n rows") {
    val t = catalog.getTable("default.simple")
    assert(t.newReadBuilder().withLimit(2).newRead().toDF().count() == 2)
  }

  test("split metadata exposes row counts / sizes / paths") {
    val t = catalog.getTable("default.simple")
    val splits = t.newReadBuilder().newScan().plan().splits
    assert(splits.nonEmpty)
    assert(splits.map(_.rowCount).sum == 3)
    assert(splits.forall(_.fileSize > 0))
    assert(splits.forall(_.filePaths.forall(_.endsWith(".parquet"))))
  }

  test("newScan prunes splits by the builder's filter and limit") {
    import spark.implicits._
    catalog.createTable("default.scan_prune", Schema(
      StructType(Seq(StructField("pt", IntegerType),
        StructField("v", StringType))),
      partitionKeys = Seq("pt")))
    val t = catalog.getTable("default.scan_prune")
    val wb = t.newBatchWriteBuilder()
    val w = wb.newWrite()
    w.write(Seq((1, "a"), (1, "b"), (2, "c"), (3, "d")).toDF("pt", "v"))
    wb.newCommit().commit(w.prepareCommit())

    val all = t.newReadBuilder().newScan().plan().splits
    assert(all.map(_.rowCount).sum == 4)
    // partition filter reaches split planning (≙ the reference's
    // predicate-pruned TableScan.plan())
    val rb = t.newReadBuilder()
    val pruned = rb.withFilter(rb.newPredicateBuilder().equal("pt", 2))
      .newScan().plan().splits
    assert(pruned.map(_.rowCount).sum == 1, pruned)
    // split-granular limit: whole splits kept until rowCount covers n
    val limited = t.newReadBuilder().withLimit(1).newScan().plan().splits
    assert(limited.nonEmpty && limited.map(_.rowCount).sum < 4)
  }

  test("two write() calls before one commit: later write wins the merge") {
    import spark.implicits._
    catalog.createTable("default.pk_two_writes", Schema(
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      primaryKeys = Seq("k"), options = Map("bucket" -> "1")))
    val t = catalog.getTable("default.pk_two_writes")
    val wb = t.newBatchWriteBuilder()
    val w = wb.newWrite()
    // the same key in both frames — sequence ranges per write() call
    // must be DISJOINT and increasing, or the winner is heap order
    w.write(Seq((1L, "first"), (2L, "x")).toDF("k", "v"))
    w.write(Seq((1L, "second")).toDF("k", "v"))
    wb.newCommit().commit(w.prepareCommit())
    val got = t.newReadBuilder().newRead().toDF().orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "second"), (2L, "x")), got.toSeq)
  }

  test("non-byte _row_kind column is rejected, not silently misread") {
    import spark.implicits._
    val t = catalog.getTable("default.pk_two_writes")
    val w = t.newBatchWriteBuilder().newWrite()
    val e = intercept[IllegalArgumentException] {
      w.write(Seq((3L, "y")).toDF("k", "v")
        .withColumn(RowKind.ColumnName, lit(2))) // IntegerType
    }
    assert(e.getMessage.contains("TINYINT"), e.getMessage)
  }

  test("dot-less identifiers fail clearly, not with MatchError") {
    val e = intercept[IllegalArgumentException](catalog.getTable("nodot"))
    assert(e.getMessage.contains("Invalid table identifier"), e.getMessage)
  }

  test("PK table: insert then RowKind delete reads back empty") {
    import spark.implicits._
    catalog.createTable("default.pk_del", Schema(
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      primaryKeys = Seq("k"), options = Map("bucket" -> "1")))
    val t = catalog.getTable("default.pk_del")

    val wb1 = t.newBatchWriteBuilder()
    val w1 = wb1.newWrite()
    w1.write(Seq((1L, "x")).toDF("k", "v"))
    wb1.newCommit().commit(w1.prepareCommit())
    assert(t.newReadBuilder().newRead().toDF().count() == 1)

    val wb2 = t.newBatchWriteBuilder()
    val w2 = wb2.newWrite()
    val delDf = Seq((1L, "x")).toDF("k", "v")
      .withColumn(RowKind.ColumnName, lit(RowKind.Delete).cast("byte"))
    w2.write(delDf)
    wb2.newCommit().commit(w2.prepareCommit())
    assert(t.newReadBuilder().newRead().toDF().count() == 0)
  }

  test("schema mismatch error matches reference shape, nullability ignored") {
    import spark.implicits._
    val t = catalog.getTable("default.simple")
    val w = t.newBatchWriteBuilder().newWrite()
    val e = intercept[RuntimeException] {
      w.write(Seq((1L, "a")).toDF("f0", "f1")) // int64 vs int32 column
    }
    assert(e.getMessage.startsWith("Input schema isn't consistent with table schema."))
    // nullability-only difference is accepted
    val nonNull = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(7, "g"))),
      StructType(Seq(StructField("f0", IntegerType, nullable = false),
        StructField("f1", StringType, nullable = false))))
    val wb = t.newBatchWriteBuilder()
    val w2 = wb.newWrite()
    w2.write(nonNull)
    wb.newCommit().commit(w2.prepareCommit())
    assert(t.newReadBuilder().newRead().toDF().where(col("f0") === 7).count() == 1)
  }

  test("static partition overwrite via facade") {
    import spark.implicits._
    catalog.createTable("default.part_ow", Schema(
      StructType(Seq(StructField("pt", IntegerType), StructField("v", StringType))),
      partitionKeys = Seq("pt")))
    val t = catalog.getTable("default.part_ow")
    val wb = t.newBatchWriteBuilder()
    val w = wb.newWrite()
    w.write(Seq((1, "a"), (2, "b")).toDF("pt", "v"))
    wb.newCommit().commit(w.prepareCommit())

    val wb2 = t.newBatchWriteBuilder().overwrite(Map("pt" -> "1"))
    val w2 = wb2.newWrite()
    w2.write(Seq((1, "A")).toDF("pt", "v"))
    wb2.newCommit().commit(w2.prepareCommit())

    val got = t.newReadBuilder().newRead().toDF().orderBy("pt")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(got.toSeq == Seq((1, "A"), (2, "b")))
  }

  test("static overwrite with a non-partition filter column fails loudly") {
    import spark.implicits._
    // silently matching nothing would turn INSERT OVERWRITE into a
    // plain append — the commit must reject the typo instead
    val t = catalog.getTable("default.part_ow")
    val wb = t.newBatchWriteBuilder().overwrite(Map("pt_typo" -> "1"))
    val w = wb.newWrite()
    w.write(Seq((3, "c")).toDF("pt", "v"))
    val e = intercept[Exception] {
      wb.newCommit().commit(w.prepareCommit())
    }
    assert(e.getMessage.contains("pt_typo"), e.getMessage)
    // table unchanged by the failed overwrite
    assert(t.newReadBuilder().newRead().toDF().count() == 2)
  }

  test("temp view sink ≙ to_duckdb: full SQL over the snapshot") {
    val t = catalog.getTable("default.simple")
    t.newReadBuilder().newRead().createTempView("simple_view")
    val n = spark.sql("SELECT count(*) FROM simple_view WHERE f0 < 4")
      .collect()(0).getLong(0)
    assert(n >= 3)
  }

  test("NullType column coerces to STRING (reference test_data_types null)") {
    // ≙ `test_data_types.py:70-73`: a pyarrow `null` column becomes
    // STRING with a warning, not a rejection
    catalog.createTable("default.nulltyped", Schema(StructType(Seq(
      StructField("id", IntegerType), StructField("_null", NullType)))))
    val t = catalog.getTable("default.nulltyped")
    assert(t.tableSchema.fields("_null").dataType == StringType,
      t.tableSchema.fields.treeString)
    // and the coerced column is writable/readable as a string
    import spark.implicits._
    val wb = t.newBatchWriteBuilder()
    val w = wb.newWrite()
    w.write(Seq((1, null: String), (2, "x")).toDF("id", "_null"))
    wb.newCommit().commit(w.prepareCommit())
    val got = t.newReadBuilder().newRead().toDF().orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, null), (2, "x")))
  }

  test("max-workers is accepted, validated, and a no-op (reference knob)") {
    // ≙ `java_implementation.py:315-320`: ported reference configs must
    // round-trip; Spark's task-per-split scheduling supersedes the knob
    catalog.createTable("default.mw",
      Schema(StructType(Seq(StructField("f0", IntegerType))),
        options = Map("max-workers" -> "8")))
    val t = catalog.getTable("default.mw")
    assert(t.tableSchema.options("max-workers") == "8")
    assert(t.newReadBuilder().newRead().toDF().count() == 0L)
    // same validation as the reference: must be a positive int
    val zero = intercept[Exception](catalog.createTable("default.mw0",
      Schema(StructType(Seq(StructField("f0", IntegerType))),
        options = Map("max-workers" -> "0"))))
    assert(zero.getMessage.contains("max_workers must be greater than 0"),
      zero.getMessage)
    val bad = intercept[Exception](catalog.createTable("default.mwx",
      Schema(StructType(Seq(StructField("f0", IntegerType))),
        options = Map("max-workers" -> "abc"))))
    assert(bad.getMessage.contains("max-workers"), bad.getMessage)
  }

  test("toArrow round-trips every supported type vs toDF().collect()") {
    // ≙ `to_arrow` (`table_read.py:31-56`): the IPC stream a facade read
    // emits must decode — via the arrow-java stream reader, i.e. any
    // Arrow implementation — to exactly the rows Spark collects
    catalog.createTable("default.arrow_all", Schema(StructType(Seq(
      StructField("c_byte", ByteType), StructField("c_short", ShortType),
      StructField("c_int", IntegerType), StructField("c_long", LongType),
      StructField("c_float", FloatType), StructField("c_double", DoubleType),
      StructField("c_bool", BooleanType), StructField("c_str", StringType),
      StructField("c_bin", BinaryType), StructField("c_date", DateType),
      StructField("c_ts", TimestampType)))))
    val t = catalog.getTable("default.arrow_all")
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1.toByte, 2.toShort, 3, 4L, 1.5f, 2.5,
          true, "héllo", Array[Byte](1, 2, 3),
          java.sql.Date.valueOf("2024-02-29"),
          java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789")),
        // pre-epoch with fractional seconds: getTime truncates toward
        // zero while getNanos is non-negative — a plain / in the
        // micros conversion shifts this value +1 s
        org.apache.spark.sql.Row(5.toByte, 6.toShort, 0, 7L, 0.5f, 1.25,
          false, "pre-epoch", Array[Byte](9),
          java.sql.Date.valueOf("1969-06-01"),
          java.sql.Timestamp.from(
            java.time.Instant.parse("1969-12-31T23:59:59.500Z"))),
        org.apache.spark.sql.Row(null, null, null, null, null, null,
          null, null, null, null, null)),
      t.tableSchema.fields)
    val wb = t.newBatchWriteBuilder()
    val w = wb.newWrite()
    w.write(df)
    wb.newCommit().commit(w.prepareCommit())

    val read = t.newReadBuilder().newRead()
    val expected = read.toDF().orderBy("c_int").collect()
    // batch size 1 forces the multi-batch path on a 3-row result
    val ipc = t.newReadBuilder().newRead().toArrow(maxRowsPerBatch = 1)

    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(ipc), alloc)
    try {
      val decoded = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
      while (reader.loadNextBatch()) {
        val root = reader.getVectorSchemaRoot
        for (i <- 0 until root.getRowCount)
          decoded += root.getFieldVectors.asScala.toSeq.map(v =>
            if (v.isNull(i)) null else v.getObject(i))
      }
      val rows = decoded.sortBy(r => Option(r(2).asInstanceOf[Integer]).map(_.toInt))
      assert(rows.length == expected.length)
      val exp = expected.map { r =>
        Seq[Any](r.get(0), r.get(1), r.get(2), r.get(3), r.get(4), r.get(5),
          r.get(6), r.get(7),
          Option(r.get(8)).map(_.asInstanceOf[Array[Byte]].toSeq).orNull,
          Option(r.getAs[java.sql.Date](9)).map(_.toLocalDate).orNull,
          Option(r.getAs[java.sql.Timestamp](10))
            .map(ts => ts.toInstant.atZone(java.time.ZoneOffset.UTC)
              .toLocalDateTime).orNull)
      }
      val got = rows.map { r =>
        // TZ-aware timestamp vectors surface getObject as epoch micros
        // in some arrow-java versions and LocalDateTime in others —
        // normalize both to UTC LocalDateTime
        val ts = r(10) match {
          case null => null
          case l: java.lang.Long => java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(l, 1000000L),
            (Math.floorMod(l, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC)
          case other => other
        }
        // date32 getObject is the raw epoch-day Integer
        val date = r(9) match {
          case null => null
          case d: java.lang.Integer => java.time.LocalDate.ofEpochDay(d.toLong)
          case other => other
        }
        Seq[Any](r(0), r(1), r(2), r(3), r(4), r(5), r(6),
          Option(r(7)).map(_.toString).orNull,
          Option(r(8)).map(_.asInstanceOf[Array[Byte]].toSeq).orNull,
          date, ts)
      }
      assert(got.toSeq == exp.toSeq, s"\ngot:      $got\nexpected: $exp")
    } finally { reader.close(); alloc.close() }
  }

  /** An Arrow IPC stream as arrow-java's reference reader sees it: the
    * fields and each batch's rows, a zoned timestamp as its epoch micros.
    */
  private def decodeArrow(ipc: Array[Byte])
      : (Seq[org.apache.arrow.vector.types.pojo.Field], Seq[Seq[Seq[Any]]]) = {
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(ipc), alloc)
    try {
      val root = reader.getVectorSchemaRoot
      val batches = scala.collection.mutable.ArrayBuffer[Seq[Seq[Any]]]()
      while (reader.loadNextBatch())
        batches += (0 until root.getRowCount).map(i =>
          root.getFieldVectors.asScala.toSeq.map {
            case v if v.isNull(i) => null
            case v: org.apache.arrow.vector.TimeStampMicroTZVector => v.get(i)
            case v => v.getObject(i)
          })
      (root.getSchema.getFields.asScala.toSeq, batches.toSeq)
    } finally { reader.close(); alloc.close() }
  }

  test("toArrow: positive batch bound, UTC whatever the session zone, " +
      "partition order, schema-only stream for an empty table") {
    import org.apache.arrow.vector.types.pojo.ArrowType
    import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit}
    catalog.createTable("default.arrow_splits", Schema(StructType(Seq(
      StructField("k", LongType), StructField("ts", TimestampType)))))
    val t = catalog.getTable("default.arrow_splits")
    import spark.implicits._
    // three commits of 7 rows, one file each; pre-epoch instants with
    // fractional seconds among them
    (0 until 3).foreach { c =>
      val wb = t.newBatchWriteBuilder(); val w = wb.newWrite()
      w.write((0 until 7).map { i =>
        val k = c * 7L + i
        (k, java.sql.Timestamp.from(
          java.time.Instant.ofEpochSecond(k * 3600L - 43200L, 250000000L)))
      }.toDF("k", "ts").coalesce(1))
      wb.newCommit().commit(w.prepareCommit())
    }
    assert(t.newReadBuilder().newScan().plan().splits.size >= 3)
    val read = t.newReadBuilder().newRead()
    // Spark's converter reads a limit <= 0 as "no limit"
    intercept[IllegalArgumentException](read.toArrow(maxRowsPerBatch = 0))

    val (fields, batches) = decodeArrow(read.toArrow(maxRowsPerBatch = 3))
    assert(batches.forall(_.size <= 3), batches.map(_.size))
    val expected = read.toDF().collect().toSeq.map(r => Seq[Any](r.getLong(0),
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaTimestamp(r.getTimestamp(1))))
    assert(expected.size == 21)
    assert(batches.flatten == expected)
    assert(fields.map(_.getType) == Seq(new ArrowType.Int(64, true),
      new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC")))

    // the stream's zone is UTC, not the session's
    val zoneKey = "spark.sql.session.timeZone"
    val zone = spark.conf.get(zoneKey)
    spark.conf.set(zoneKey, "America/Los_Angeles")
    val la = try read.toArrow(maxRowsPerBatch = 3)
      finally spark.conf.set(zoneKey, zone)
    assert(decodeArrow(la) == ((fields, batches)))

    // no rows: the schema alone, with Spark's ArrowUtils field types
    catalog.createTable("default.arrow_empty", Schema(StructType(Seq(
      StructField("c_byte", ByteType), StructField("c_short", ShortType),
      StructField("c_int", IntegerType), StructField("c_long", LongType),
      StructField("c_float", FloatType), StructField("c_double", DoubleType),
      StructField("c_bool", BooleanType), StructField("c_str", StringType),
      StructField("c_bin", BinaryType), StructField("c_date", DateType),
      StructField("c_ts", TimestampType)))))
    val (emptyFields, emptyBatches) = decodeArrow(
      catalog.getTable("default.arrow_empty").newReadBuilder().newRead().toArrow())
    assert(emptyBatches.isEmpty)
    assert(emptyFields.map(f => (f.getName, f.getType)) == Seq(
      "c_byte" -> new ArrowType.Int(8, true),
      "c_short" -> new ArrowType.Int(16, true),
      "c_int" -> new ArrowType.Int(32, true),
      "c_long" -> new ArrowType.Int(64, true),
      "c_float" -> new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE),
      "c_double" -> new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE),
      "c_bool" -> ArrowType.Bool.INSTANCE,
      "c_str" -> ArrowType.Utf8.INSTANCE,
      "c_bin" -> ArrowType.Binary.INSTANCE,
      "c_date" -> new ArrowType.Date(DateUnit.DAY),
      "c_ts" -> new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC")))
  }

  test("writeArrow: Arrow IPC in → commit → identical Arrow IPC out") {
    // ≙ `write_arrow` (`table_write.py:27-48` / `BytesWriter.java:38-99`):
    // serialized Arrow batches are a first-class INPUT. Source table →
    // toArrow → writeArrow into a second table → both read identically,
    // covering every supported type including nulls and pre-epoch
    // timestamps (the bytes come from the facade's own encoder, which
    // the previous test pins against arrow-java's reference reader).
    val allTypes = StructType(Seq(
      StructField("c_byte", ByteType), StructField("c_short", ShortType),
      StructField("c_int", IntegerType), StructField("c_long", LongType),
      StructField("c_float", FloatType), StructField("c_double", DoubleType),
      StructField("c_bool", BooleanType), StructField("c_str", StringType),
      StructField("c_bin", BinaryType), StructField("c_date", DateType),
      StructField("c_ts", TimestampType)))
    catalog.createTable("default.arrow_src", Schema(allTypes))
    catalog.createTable("default.arrow_dst", Schema(allTypes))
    val src = catalog.getTable("default.arrow_src")
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1.toByte, 2.toShort, 3, 4L, 1.5f, 2.5,
          true, "héllo", Array[Byte](1, 2, 3),
          java.sql.Date.valueOf("2024-02-29"),
          java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789")),
        org.apache.spark.sql.Row(5.toByte, 6.toShort, 0, 7L, 0.5f, 1.25,
          false, "pre-epoch", Array[Byte](9),
          java.sql.Date.valueOf("1969-06-01"),
          java.sql.Timestamp.from(
            java.time.Instant.parse("1969-12-31T23:59:59.500Z"))),
        org.apache.spark.sql.Row(null, null, null, null, null, null,
          null, null, null, null, null)),
      src.tableSchema.fields)
    val swb = src.newBatchWriteBuilder(); val sw = swb.newWrite()
    sw.write(df); swb.newCommit().commit(sw.prepareCommit())
    // batch size 1 forces writeArrow through the multi-batch path
    val ipc = src.newReadBuilder().newRead().toArrow(maxRowsPerBatch = 1)

    val dst = catalog.getTable("default.arrow_dst")
    val wb = dst.newBatchWriteBuilder(); val w = wb.newWrite()
    w.writeArrow(ipc)
    wb.newCommit().commit(w.prepareCommit())
    def canon(t: graft.api.GraftTableHandle): Seq[Seq[Any]] =
      t.newReadBuilder().newRead().toDF().orderBy("c_int").collect().toSeq
        .map(r => r.toSeq.map {
          case b: Array[Byte] => b.toSeq
          case v => v
        })
    assert(canon(dst) == canon(src))
    // ...and the re-exported IPC stream is byte-identical to the input
    // (same rows, same schema, same batching): full in→out fidelity
    assert(dst.newReadBuilder().newRead().toArrow(maxRowsPerBatch = 1)
      .sameElements(ipc))

    // schema mismatch surfaces the reference's error text against the
    // DECODED batch (types exact, nullability ignored)
    catalog.createTable("default.arrow_badsrc", Schema(StructType(Seq(
      StructField("c_int", LongType)))))
    val bad = catalog.getTable("default.arrow_badsrc")
    val bwb = bad.newBatchWriteBuilder(); val bw = bwb.newWrite()
    import spark.implicits._
    bw.write(Seq(1L).toDF("c_int"))
    bwb.newCommit().commit(bw.prepareCommit())
    val badIpc = bad.newReadBuilder().newRead().toArrow()
    val e = intercept[RuntimeException](
      dst.newBatchWriteBuilder().newWrite().writeArrow(badIpc))
    assert(e.getMessage.contains("Input schema isn't consistent with table schema"),
      e.getMessage)
  }

  test("writeArrow carries _row_kind: a delete batch removes its key") {
    // the reference's bridge writes row KINDS, not just inserts
    // (`GenericRow(RowKind.DELETE, ...)` through the same byte path) —
    // an Arrow batch with a tinyint _row_kind column must behave like
    // write(df) with the same column: decoded as ByteType, stripped
    // from stored values, and applied as a changelog kind
    catalog.createTable("default.arrow_kind", Schema(
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      primaryKeys = Seq("k"), options = Map("bucket" -> "1")))
    val t = catalog.getTable("default.arrow_kind")
    import spark.implicits._
    val wb1 = t.newBatchWriteBuilder(); val w1 = wb1.newWrite()
    w1.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    wb1.newCommit().commit(w1.prepareCommit())
    // build the delete batch DIRECTLY with arrow-java (an external
    // producer's bytes, not the facade's own encoder): schema
    // [k: int64, v: utf8, _row_kind: int8], one row (1, "a", DELETE)
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}
    import scala.jdk.CollectionConverters._
    val aSchema = new ASchema(Seq(
      new Field("k", FieldType.nullable(new ArrowType.Int(64, true)), null),
      new Field("v", FieldType.nullable(ArrowType.Utf8.INSTANCE), null),
      new Field(graft.core.RowKind.ColumnName,
        FieldType.nullable(new ArrowType.Int(8, true)), null)).asJava)
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val ipc = try {
      val root = org.apache.arrow.vector.VectorSchemaRoot.create(aSchema, alloc)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val wr = new org.apache.arrow.vector.ipc.ArrowStreamWriter(
          root, null, java.nio.channels.Channels.newChannel(out))
        wr.start()
        root.allocateNew()
        root.getVector(0).asInstanceOf[org.apache.arrow.vector.BigIntVector]
          .setSafe(0, 1L)
        root.getVector(1).asInstanceOf[org.apache.arrow.vector.VarCharVector]
          .setSafe(0, "a".getBytes("UTF-8"))
        root.getVector(2).asInstanceOf[org.apache.arrow.vector.TinyIntVector]
          .setSafe(0, graft.core.RowKind.Delete)
        root.setRowCount(1)
        wr.writeBatch(); wr.end()
        out.toByteArray
      } finally root.close()
    } finally alloc.close()

    val wb2 = t.newBatchWriteBuilder(); val w2 = wb2.newWrite()
    w2.writeArrow(ipc)
    wb2.newCommit().commit(w2.prepareCommit())
    assert(t.newReadBuilder().newRead().toDF().collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("writeArrow accepts external producers' tz-naive timestamps " +
      "and date64") {
    // pyarrow's DEFAULT pa.timestamp('us') is timezone-NAIVE and dates
    // often travel as date64 (millis) — both must decode, interpreted
    // as UTC instants / epoch days, not fail mid-batch on the vector
    // class the facade's own encoder happens not to emit
    catalog.createTable("default.arrow_ext", Schema(StructType(Seq(
      StructField("c_ts", TimestampType), StructField("c_date", DateType)))))
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}
    import org.apache.arrow.vector.types.{DateUnit, TimeUnit}
    import scala.jdk.CollectionConverters._
    val aSchema = new ASchema(Seq(
      new Field("c_ts", FieldType.nullable(
        new ArrowType.Timestamp(TimeUnit.MICROSECOND, null)), null), // naive
      new Field("c_date", FieldType.nullable(
        new ArrowType.Date(DateUnit.MILLISECOND)), null)).asJava)
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val ipc = try {
      val root = org.apache.arrow.vector.VectorSchemaRoot.create(aSchema, alloc)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val wr = new org.apache.arrow.vector.ipc.ArrowStreamWriter(
          root, null, java.nio.channels.Channels.newChannel(out))
        wr.start(); root.allocateNew()
        // 2024-02-29T12:34:56.789Z + a pre-epoch fractional instant
        val us1 = java.time.Instant.parse("2024-02-29T12:34:56.789Z")
        val us2 = java.time.Instant.parse("1969-12-31T23:59:59.500Z")
        def micros(i: java.time.Instant): Long =
          i.getEpochSecond * 1000000L + i.getNano / 1000L
        val tsVec = root.getVector(0)
          .asInstanceOf[org.apache.arrow.vector.TimeStampMicroVector]
        tsVec.setSafe(0, micros(us1)); tsVec.setSafe(1, micros(us2))
        val dVec = root.getVector(1)
          .asInstanceOf[org.apache.arrow.vector.DateMilliVector]
        dVec.setSafe(0, 19782L * 86400000L) // 2024-02-29 as date64
        dVec.setSafe(1, -214L * 86400000L)  // 1969-06-01
        root.setRowCount(2)
        wr.writeBatch(); wr.end()
        out.toByteArray
      } finally root.close()
    } finally alloc.close()
    val t = catalog.getTable("default.arrow_ext")
    val wb = t.newBatchWriteBuilder(); val w = wb.newWrite()
    w.writeArrow(ipc)
    wb.newCommit().commit(w.prepareCommit())
    val got = t.newReadBuilder().newRead().toDF()
      .orderBy(org.apache.spark.sql.functions.desc("c_ts"))
      .collect().map(r => (r.getTimestamp(0).toInstant.toString,
        r.getDate(1).toLocalDate.toString)).toSeq
    assert(got == Seq(
      ("2024-02-29T12:34:56.789Z", "2024-02-29"),
      ("1969-12-31T23:59:59.500Z", "1969-06-01")), got.toString)
  }

  test("facade guards: kind column misuse, quoted options, empty and()") {
    import spark.implicits._
    // _row_kind on an APPEND table is rejected (the writer stores
    // plain rows — a '-D' batch would silently read back as inserts)
    catalog.createTable("default.g_app", Schema(
      StructType(Seq(StructField("k", LongType)))))
    val wApp = catalog.getTable("default.g_app")
      .newBatchWriteBuilder().newWrite()
    val e1 = intercept[IllegalArgumentException](wApp.write(
      Seq(1L).toDF("k").withColumn(graft.core.RowKind.ColumnName,
        org.apache.spark.sql.functions.lit(graft.core.RowKind.Delete)
          .cast("byte"))))
    assert(e1.getMessage.contains("primary-key table"), e1.getMessage)
    // a NULL kind on a PK table fails loudly instead of writing +I
    catalog.createTable("default.g_pk", Schema(
      StructType(Seq(StructField("k", LongType))),
      primaryKeys = Seq("k"), options = Map("bucket" -> "1")))
    val wPk = catalog.getTable("default.g_pk")
      .newBatchWriteBuilder().newWrite()
    val e2 = intercept[Exception](wPk.write(
      Seq(1L).toDF("k").withColumn(graft.core.RowKind.ColumnName,
        org.apache.spark.sql.functions.lit(null).cast("byte"))))
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).toSeq
    assert(chain(e2).exists(_.contains("must not be NULL")),
      chain(e2).mkString("\n"))
    // an option value with a quote survives the DDL round trip
    catalog.createTable("default.g_q", Schema(
      StructType(Seq(StructField("k", LongType))),
      options = Map("write-only" -> "false", "comment-ish" -> "it's fine")))
    assert(catalog.getTable("default.g_q").tableSchema
      .options("comment-ish") == "it's fine")
    // empty and()/or() is a clear error, not empty.reduceLeft
    val pb = catalog.getTable("default.g_q").newReadBuilder()
      .newPredicateBuilder()
    assert(intercept[IllegalArgumentException](pb.and(Seq.empty))
      .getMessage.contains("at least one"))
    assert(intercept[IllegalArgumentException](pb.or(Seq.empty))
      .getMessage.contains("at least one"))
  }

  test("writeArrow rejects malformed bytes with a clean error") {
    val t = catalog.getTable("default.arrow_dst")
    val w = t.newBatchWriteBuilder().newWrite()
    // truncated/garbage streams must fail loudly (no partial write, no
    // hang); empty input is not a valid IPC stream either
    for (bad <- Seq(Array[Byte](), Array[Byte](1, 2, 3, 4, 5),
        "not arrow at all".getBytes("UTF-8"))) {
      intercept[Exception](w.writeArrow(bad))
    }
    // nothing staged: prepareCommit stays empty after the failures
    assert(w.prepareCommit().isEmpty)
  }

  test("Schema.fromTypeNames: float16 widens to FLOAT, null to STRING") {
    // ≙ `java_utils.py:76-77` (half → float) and `:86-91` (null →
    // string): pyarrow-schema ports round-trip instead of rejecting
    val s = Schema.fromTypeNames(Seq(
      "id" -> "int64", "half" -> "float16", "void_col" -> "null",
      "ts" -> "timestamp[us]", "txt" -> "large_string"))
    assert(s.fields("half").dataType == FloatType)
    assert(s.fields("void_col").dataType == StringType)
    assert(s.fields("id").dataType == LongType)
    assert(s.fields("ts").dataType == TimestampType)
    assert(s.fields("txt").dataType == StringType)
    // a created table carries the widened types
    catalog.createTable("default.half", s)
    assert(catalog.getTable("default.half")
      .tableSchema.fields("half").dataType == FloatType)
    // unknown names keep the reference's unsupported-type error shape
    val bad = intercept[IllegalArgumentException](
      Schema.fromTypeNames(Seq("x" -> "decimal128(10,2)")))
    assert(bad.getMessage.contains("Found unsupported data type"), bad.getMessage)
  }

  test("multi-call commits advance sequences by rows written, not 2^52 strides") {
    import spark.implicits._
    catalog.createTable("default.pk_seq_growth", Schema(
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      primaryKeys = Seq("k"), options = Map("bucket" -> "1")))
    val t = catalog.getTable("default.pk_seq_growth")
    // two commits of three write() calls each — the old per-call
    // callIdx*2^52 stride would leave lastSequenceNumber ≈ 4*2^52 here
    // and overflow Long after ~2048 such commits
    (1 to 2).foreach { round =>
      val wb = t.newBatchWriteBuilder()
      val w = wb.newWrite()
      w.write(Seq((1L, s"a$round"), (2L, s"b$round")).toDF("k", "v").coalesce(1))
      w.write(Seq((1L, s"c$round")).toDF("k", "v").coalesce(1))
      w.write(Seq((3L, s"d$round")).toDF("k", "v").coalesce(1))
      wb.newCommit().commit(w.prepareCommit())
    }
    val sm = new graft.format.SnapshotManager(t.tableDir,
      io = graft.format.FileIO.resolve(t.tableSchema.ioSpec))
    val lastSeq = sm.latestSnapshot.get.lastSequenceNumber
    assert(lastSeq < 1000L, s"sequence space leaked: $lastSeq")
    // and later calls still strictly win the LWW merge
    val got = t.newReadBuilder().newRead().toDF().orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "c2"), (2L, "b2"), (3L, "d2")), got.toSeq)
  }

  test("PK tables skip split-granular limit pruning (merge may collapse rows)") {
    import spark.implicits._
    catalog.createTable("default.pk_limit", Schema(
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      primaryKeys = Seq("k"), options = Map("bucket" -> "2")))
    val t = catalog.getTable("default.pk_limit")
    // two commits of the SAME keys: raw rows = 8, live rows = 4
    (1 to 2).foreach { round =>
      val wb = t.newBatchWriteBuilder()
      val w = wb.newWrite()
      w.write((1L to 4L).map(k => (k, s"v$round")).toDF("k", "v"))
      wb.newCommit().commit(w.prepareCommit())
    }
    val raw = t.newReadBuilder().newScan().plan().splits.map(_.rowCount).sum
    // withLimit must NOT drop merge groups based on pre-merge counts —
    // a pruned plan could under-deliver live rows
    val limited = t.newReadBuilder().withLimit(3).newScan().plan().splits
    assert(limited.map(_.rowCount).sum == raw,
      s"PK plan pruned by raw counts: ${limited.map(_.rowCount).sum} vs $raw")
  }

  test("bucket option tolerates surrounding whitespace end-to-end") {
    import spark.implicits._
    catalog.createTable("default.pk_ws_bucket", Schema(
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      primaryKeys = Seq("k"), options = Map("bucket" -> " 4 ")))
    val t = catalog.getTable("default.pk_ws_bucket")
    assert(t.tableSchema.numBuckets == 4)
    val wb = t.newBatchWriteBuilder()
    val w = wb.newWrite()
    w.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    wb.newCommit().commit(w.prepareCommit())
    assert(t.newReadBuilder().newRead().toDF().count() == 2)
  }

  test("a failing facade write task leaves no spilled run in the bucket dirs") {
    catalog.createTable("default.pk_abort", Schema(
      StructType(Seq(StructField("k", LongType), StructField("v", LongType))),
      primaryKeys = Seq("k"),
      options = Map("bucket" -> "1", "write-buffer-rows" -> "10")))
    val t = catalog.getTable("default.pk_abort")
    // one task: it spills a sorted run every 10 rows, then throws at
    // row 50 — after five runs are already on disk
    val boom = org.apache.spark.sql.functions.udf { (x: Long) =>
      if (x == 50L) throw new IllegalStateException("planted task failure")
      x
    }
    val frame = spark.range(0, 100, 1, 1)
      .select(col("id").as("k"), boom(col("id")).as("v"))
    val wb = t.newBatchWriteBuilder()
    intercept[Exception](wb.newWrite().write(frame))
    val left = Files.walk(t.tableDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("data-")).toList
    assert(Files.isDirectory(t.tableDir.resolve("bucket-0")),
      "the task never spilled: the test would prove nothing")
    assert(left.isEmpty, s"spilled runs left behind: $left")
    // the table still takes a clean write afterwards
    val w = wb.newWrite()
    w.write(spark.range(0, 20, 1, 1).select(col("id").as("k"), col("id").as("v")))
    wb.newCommit().commit(w.prepareCommit())
    assert(t.newReadBuilder().newRead().toDF().count() == 20)
  }
}
