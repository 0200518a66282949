package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.connector.read.SupportsPushDownFilters
import org.apache.spark.sql.connector.write.{RowLevelOperation, RowLevelOperationInfo}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.sources
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.api.{Predicate, PredicateBuilder}
import graft.connector.{GraftInputPartition, GraftScan, GraftTable}
import java.nio.file.Files

/** One planner behind every file-selecting read: the facade's
  * `TableScan.plan()` must select exactly the files the DSv2 scan that
  * runs the same read selects, and a scan must plan every file from the
  * one snapshot it resolved first.
  */
class ScanPlannerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var warehouse: java.nio.file.Path = _
  private var catalog: graft.api.Catalog = _

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    warehouse = Files.createTempDirectory("graft-planner-wh")
    catalog = graft.api.Catalog.create(spark,
      Map("warehouse" -> warehouse.toString, "catalog-name" -> "graft"))
    catalog.createDatabase("default", ignoreIfExists = true)
  }

  override def afterAll(): Unit = spark.stop()

  private def liveFiles(table: String): Set[String] =
    new graft.format.SnapshotManager(warehouse.resolve(s"default.db/$table"))
      .liveFilesLatest.map(f =>
        warehouse.resolve(s"default.db/$table").resolve(f.fileName).toString).toSet

  private def scanFiles(scan: org.apache.spark.sql.connector.read.Scan): Set[String] =
    scan.toBatch.planInputPartitions().flatMap {
      case p: GraftInputPartition => p.filePaths.toSeq
    }.toSet

  /** The files of the GraftScan in the executed plan of `df`. */
  private def dsv2Files(df: DataFrame): Set[String] = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    scanFiles(plan.collectFirst { case b: BatchScanExec => b.scan }
      .getOrElse(fail(s"no BatchScanExec in:\n$plan")))
  }

  /** (facade plan files, DSv2 scan files) for one filtered read. */
  private def planBoth(table: String, p: PredicateBuilder => Predicate)
      : (Set[String], Set[String]) = {
    val rb = catalog.getTable(s"default.$table").newReadBuilder()
    rb.withFilter(p(rb.newPredicateBuilder()))
    (rb.newScan().plan().splits.flatMap(_.filePaths).toSet,
      dsv2Files(rb.newRead().toDF()))
  }

  test("partition equality: facade and DSv2 scan plan the same files") {
    spark.sql("CREATE TABLE graft.default.pp (pt INT, v BIGINT) PARTITIONED BY (pt)")
    (1 to 3).foreach(pt => spark.sql(
      s"INSERT INTO graft.default.pp SELECT $pt, id FROM range(0, 10, 1, 1)"))
    val (facade, dsv2) = planBoth("pp", _.equal("pt", 2))
    assert(facade == dsv2)
    assert(facade.size == 1 && facade.forall(_.contains("pt=2")), facade)
  }

  test("PK key range: facade and DSv2 scan plan the same files") {
    spark.sql("CREATE TABLE graft.default.pk_range (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='2')")
    spark.sql("INSERT INTO graft.default.pk_range " +
      "SELECT id, 'a' FROM range(0, 100, 1, 1)")
    val low = liveFiles("pk_range")
    spark.sql("INSERT INTO graft.default.pk_range " +
      "SELECT id, 'b' FROM range(1000, 1100, 1, 1)")
    val (facade, dsv2) = planBoth("pk_range", _.between("k", 10L, 20L))
    assert(facade == dsv2)
    assert(facade == low, s"only the first commit's files hold keys 10..20: $facade")
  }

  test("IsNull on an append table skips the all-non-null file in both") {
    spark.sql("CREATE TABLE graft.default.nulls (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.default.nulls SELECT id, 'a' FROM range(0, 10, 1, 1)")
    val nonNull = liveFiles("nulls")
    spark.sql("INSERT INTO graft.default.nulls " +
      "SELECT id, IF(id % 2 = 0, NULL, 'b') FROM range(10, 20, 1, 1)")
    val withNulls = liveFiles("nulls") -- nonNull
    assert(nonNull.size == 1 && withNulls.size == 1)
    val (facade, dsv2) = planBoth("nulls", _.isNull("v"))
    assert(facade == dsv2)
    assert(facade == withNulls, facade)
  }

  test("equality on every trimmed-pk field: both plan only the key's bucket") {
    spark.sql("CREATE TABLE graft.default.pk_bucket (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='4')")
    spark.sql("INSERT INTO graft.default.pk_bucket " +
      "SELECT id, 'a' FROM range(0, 100, 1, 1)")
    assert(liveFiles("pk_bucket").size == 4, "one file per bucket")
    val (facade, dsv2) = planBoth("pk_bucket", _.equal("k", 42L))
    assert(facade == dsv2)
    val bucket = graft.connector.Values.bucketOf(Seq("42"), 4)
    assert(facade.size == 1 && facade.head.contains(s"bucket-$bucket/"), facade)
  }

  test("facade literals are coerced to the column type, lossy ones keep files") {
    spark.sql("CREATE TABLE graft.default.pk_lit (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='2')")
    spark.sql("INSERT INTO graft.default.pk_lit SELECT id, 'a' FROM range(0, 10, 1, 1)")
    val low = liveFiles("pk_lit")
    spark.sql("INSERT INTO graft.default.pk_lit " +
      "SELECT id, 'b' FROM range(100, 110, 1, 1)")
    def holding(files: Set[String], k: Long): String = {
      val bucket = graft.connector.Values.bucketOf(Seq(k.toString), 2)
      files.find(_.contains(s"bucket-$bucket/")).get
    }
    def check(p: PredicateBuilder => Predicate, keys: Seq[Long],
        mustKeep: Set[String]): Set[String] = {
      val rb = catalog.getTable("default.pk_lit").newReadBuilder()
      rb.withFilter(p(rb.newPredicateBuilder()))
      val planned = rb.newScan().plan().splits.flatMap(_.filePaths).toSet
      assert(rb.newRead().toLocalRows().map(_.getLong(0)).sorted.toSeq == keys)
      assert(mustKeep.subsetOf(planned), s"dropped ${mustKeep -- planned}")
      planned
    }
    // Int literals on a BIGINT key: exact, so they prune (and bucket-route)
    assert(check(_.equal("k", 5), Seq(5L), Set(holding(low, 5))) ==
      Set(holding(low, 5)))
    val high = liveFiles("pk_lit") -- low
    check(_.isIn("k", Seq(5, 103)), Seq(5L, 103L),
      Set(holding(low, 5), holding(high, 103)))
    // 5.5 has no BIGINT equal: the conjunct is undecided, nothing pruned
    assert(check(_.lessThan("k", 5.5), (0L to 5L),
      (0L to 5L).map(holding(low, _)).toSet) == liveFiles("pk_lit"))
  }

  test("copy-on-write rewrite scans keep a surviving group whole") {
    spark.sql("CREATE TABLE graft.default.cow (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='1','merge-engine'='first-row')")
    spark.sql("INSERT INTO graft.default.cow SELECT id, 'a' FROM range(0, 10, 1, 1)")
    val low = liveFiles("cow")
    spark.sql("INSERT INTO graft.default.cow SELECT id, 'b' FROM range(100, 110, 1, 1)")
    val (facade, dsv2) = planBoth("cow", _.equal("k", 5L))
    assert(facade == dsv2)
    assert(facade == low, facade)

    // the rewrite scan of a DELETE with the same predicate re-merges
    // and replaces the whole (partition, bucket) group
    val table = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array("default"), "cow")).asInstanceOf[GraftTable]
    val op = table.newRowLevelOperationBuilder(new RowLevelOperationInfo {
      override def options(): CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()
      override def command(): RowLevelOperation.Command = RowLevelOperation.Command.DELETE
    }).build()
    val sb = op.newScanBuilder(CaseInsensitiveStringMap.empty())
    sb.asInstanceOf[SupportsPushDownFilters].pushFilters(Array(sources.EqualTo("k", 5L)))
    assert(scanFiles(sb.build()) == liveFiles("cow"))
  }

  test("a scan plans every file from the snapshot it resolved first") {
    spark.sql("CREATE TABLE graft.default.pinned (pt INT, v BIGINT) PARTITIONED BY (pt)")
    spark.sql("INSERT INTO graft.default.pinned VALUES (1, 1), (2, 2)")
    val first = liveFiles("pinned")
    val table = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array("default"), "pinned")).asInstanceOf[GraftTable]
    val scan = table.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      .asInstanceOf[GraftScan]
    assert(scan.estimateStatistics().numRows().getAsLong == 2)
    // a commit into a NEW partition lands before the runtime filter
    spark.sql("INSERT INTO graft.default.pinned VALUES (3, 3)")
    assert(liveFiles("pinned").size > first.size)
    scan.filter(Array[sources.Filter](sources.In("pt", Array(1, 2, 3))))
    val planned = scanFiles(scan)
    assert(planned == first, s"planned files outside snapshot 1: ${planned -- first}")
    assert(scan.description().contains("snapshot=1,"), scan.description())
  }
}
