package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.api._
import graft.core.TableSchema
import graft.format.{Compactor, FileStoreCommit, SnapshotManager}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The commit seam as a whole: every publish caller (data commits,
  * partition DELETE, compaction, copy-on-write DML, streaming epochs,
  * facade commits) leaves snapshots whose accounting agrees with their
  * live files; every data-file writer honours `parquet.block-size`;
  * aborted compactions publish nothing and leave nothing behind.
  */
class CommitPathSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var warehouse: Path = _
  private var catalog: Catalog = _

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    warehouse = Files.createTempDirectory("graft-commit-wh")
    catalog = Catalog.create(spark,
      Map("warehouse" -> warehouse.toString, "catalog-name" -> "graft"))
    catalog.createDatabase("default")
  }

  override def afterAll(): Unit = {
    spark.stop()
    graft.util.Fs.deleteRecursively(warehouse)
  }

  private def dir(name: String): Path = warehouse.resolve(s"default.db/$name")

  /** Every snapshot of the table: its record count is the sum over its
    * live files, its sequence high-water mark covers every live file
    * and never decreases, ids run 1..n, `snapshot/` holds nothing but
    * their files, and (kind, identifier) are as expected.
    */
  private def checkAccounting(name: String,
      expected: Seq[(String, Option[String])]): Unit = {
    val sm = new SnapshotManager(dir(name))
    val snaps = sm.existingSnapshotIds.map(sm.snapshot)
    assert(snaps.map(_.id) == (1L to snaps.size.toLong), name)
    val listed = dir(name).resolve("snapshot").toFile.list().toSet
    assert(listed == snaps.map(s => s"snapshot-${s.id}").toSet,
      s"$name: snapshot/ lists $listed")
    var prevSeq = 0L
    snaps.foreach { s =>
      val live = sm.liveFiles(s)
      assert(s.totalRecordCount == live.map(_.rowCount).sum,
        s"$name snapshot ${s.id}: totalRecordCount ${s.totalRecordCount}")
      live.foreach(f => assert(f.maxSeq <= s.lastSequenceNumber,
        s"$name snapshot ${s.id}: ${f.fileName} maxSeq ${f.maxSeq} > " +
          s"lastSequenceNumber ${s.lastSequenceNumber}"))
      assert(s.lastSequenceNumber >= prevSeq,
        s"$name snapshot ${s.id}: lastSequenceNumber went backwards")
      prevSeq = s.lastSequenceNumber
    }
    assert(snaps.map(s => (s.commitKind, s.commitIdentifier)) == expected,
      name)
  }

  test("snapshot accounting holds across every publish caller") {
    // append table: data commits, partition DELETE, sys.compact,
    // copy-on-write row DELETE, one streaming epoch
    spark.sql("CREATE TABLE graft.default.acc_a (p INT, k BIGINT, v STRING) " +
      "PARTITIONED BY (p)")
    spark.sql("INSERT INTO graft.default.acc_a VALUES " +
      "(1, 1, 'a'), (2, 2, 'b'), (2, 3, 'x')")
    spark.sql("INSERT INTO graft.default.acc_a VALUES (2, 4, 'c'), (3, 5, 'x')")
    spark.sql("DELETE FROM graft.default.acc_a WHERE p = 1")
    spark.sql("CALL graft.sys.compact('default.acc_a')")
    spark.sql("DELETE FROM graft.default.acc_a WHERE v = 'x'")
    spark.sql("CREATE TABLE graft.default.acc_src (p INT, k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.default.acc_src VALUES (3, 6, 'd'), (4, 7, 'e')")
    val ckpt = Files.createTempDirectory("graft-commit-ckpt")
    val q = try {
      val q = spark.readStream.table("graft.default.acc_src").writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .toTable("graft.default.acc_a")
      q.awaitTermination()
      q
    } finally graft.util.Fs.deleteRecursively(ckpt)
    assert(spark.sql("SELECT k FROM graft.default.acc_a ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 4L, 6L, 7L))
    checkAccounting("acc_a", Seq(
      "APPEND" -> None, "APPEND" -> None,
      "OVERWRITE" -> None, // partition DELETE: metadata only
      "COMPACT" -> None,
      "OVERWRITE" -> None, // row DELETE: copy-on-write rewrite
      "APPEND" -> Some(s"${q.id}/0")))

    // PK table: upserts, a merge-on-read DELETE that triggers the
    // commit's second (COMPACT) snapshot, a facade commit, sys.compact
    spark.sql("CREATE TABLE graft.default.acc_b (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='1'," +
      "'compaction.trigger-file-count'='3')")
    spark.sql("INSERT INTO graft.default.acc_b VALUES (1, 10), (2, 20)")
    spark.sql("INSERT INTO graft.default.acc_b VALUES (1, 11), (3, 30)")
    spark.sql("DELETE FROM graft.default.acc_b WHERE k = 2")
    val t = catalog.getTable("default.acc_b")
    val wb = t.newBatchWriteBuilder()
    val w = wb.newWrite()
    import spark.implicits._
    w.write(Seq((4L, 40L), (3L, 31L)).toDF("k", "v"))
    wb.newCommit().commit(w.prepareCommit())
    spark.sql("CALL graft.sys.compact('default.acc_b')")
    assert(spark.sql("SELECT k, v FROM graft.default.acc_b ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 11L), (3L, 31L), (4L, 40L)))
    checkAccounting("acc_b", Seq(
      "APPEND" -> None, "APPEND" -> None,
      "APPEND" -> None, "COMPACT" -> None, // MOR DELETE + its compaction
      "APPEND" -> None, // facade commit
      "COMPACT" -> None))
  }

  test("manifest folding: 55 appends collapse the chain to [full, delta]; " +
      "reads and a resumed stream stay exact across the fold") {
    spark.sql("CREATE TABLE graft.default.fold (k BIGINT)")
    def append(k: Int): Unit =
      spark.sql(s"INSERT INTO graft.default.fold VALUES ($k)")
    val ckpt = Files.createTempDirectory("graft-fold-ckpt")
    val sink = Files.createTempDirectory("graft-fold-sink")
    // one streaming read, resumed from its checkpoint on every call;
    // returns every k its parquet sink holds, sorted
    def drain(): Seq[Long] = {
      spark.readStream.table("graft.default.fold").writeStream
        .format("parquet").option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      spark.read.parquet(sink.toString).collect().map(_.getLong(0)).toSeq.sorted
    }
    try {
      (1 to 45).foreach(append)
      assert(drain() == (1L to 45L))
      (46 to 55).foreach(append) // the 51st commit folds
      assert(drain() == (1L to 55L))
      append(56)
      assert(drain() == (1L to 56L))
    } finally {
      graft.util.Fs.deleteRecursively(ckpt)
      graft.util.Fs.deleteRecursively(sink)
    }

    val sm = new SnapshotManager(dir("fold"))
    val snaps = (1L to 56L).map(sm.snapshot)
    // each commit chains one delta manifest; a base of 50 folds into
    // one full ADD manifest of its live set
    assert(snaps.map(_.manifests.size) ==
      (1 to 50) ++ (51 to 56).map(_ - 49))
    val full = sm.readManifest(snaps(50).manifests.head)
    assert(!snaps(49).manifests.contains(snaps(50).manifests.head))
    assert(full.forall(_.isAdd))
    assert(full.map(_.file.fileName).toSet ==
      sm.liveFiles(snaps(49)).map(_.fileName).toSet)
    // model: the live set of snapshot s is every file the delta
    // manifests of snapshots 1..s added, and it holds k = 1..s
    var model = Set.empty[String]
    snaps.foreach { s =>
      model ++= sm.readManifest(s.manifests.last).map(_.file.fileName)
      val live = sm.liveFiles(s).map(_.fileName)
      assert(live.size == model.size && live.toSet == model, s"snapshot ${s.id}")
      val r = spark.sql("SELECT count(*), sum(k) FROM graft.default.fold " +
        s"VERSION AS OF ${s.id}").collect()(0)
      assert((r.getLong(0), r.getLong(1)) == ((s.id, s.id * (s.id + 1) / 2)),
        s"snapshot ${s.id}")
    }
    checkAccounting("fold", Seq.fill(56)("APPEND" -> None))
  }

  private def rowGroups(file: Path): Int = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRowGroups.size() finally r.close()
  }

  test("facade writes and compaction honour parquet.block-size") {
    catalog.createTable("default.rg", Schema(StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))),
      primaryKeys = Seq("k"),
      options = Map("bucket" -> "1", "parquet.block-size" -> "16384",
        "compaction.trigger-file-count" -> "0")))
    val t = catalog.getTable("default.rg")
    def commit(from: Long, until: Long): Unit = {
      val wb = t.newBatchWriteBuilder()
      val w = wb.newWrite()
      w.write(spark.range(from, until).coalesce(1).select(
        col("id").as("k"), concat(lit("value-"), col("id")).as("v")))
      wb.newCommit().commit(w.prepareCommit())
    }
    commit(0L, 20000L)
    commit(10000L, 30000L)
    val sm = new SnapshotManager(dir("rg"))
    val written = sm.liveFilesLatest
    assert(written.size == 2)
    written.foreach { f =>
      val n = rowGroups(dir("rg").resolve(f.fileName))
      assert(n > 1, s"facade file ${f.fileName}: $n row group(s)")
    }
    assert(t.compact() == 1)
    val Seq(compacted) = sm.liveFilesLatest
    assert(compacted.fileName.contains("/compact-"))
    assert(compacted.rowCount == 30000L)
    val n = rowGroups(dir("rg").resolve(compacted.fileName))
    assert(n > 1, s"compacted file: $n row group(s)")
  }

  private def filesUnder(root: Path, prefix: String): Set[String] =
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith(prefix))
      .map(p => root.relativize(p).toString).toSet

  test("compactGroups reports 0 for stale groups and leaves no rewritten file") {
    spark.sql("CREATE TABLE graft.default.stale (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='1'," +
      "'compaction.trigger-file-count'='0')")
    spark.sql("INSERT INTO graft.default.stale VALUES (1, 10)")
    spark.sql("INSERT INTO graft.default.stale VALUES (2, 20)")
    val d = dir("stale")
    val sm = new SnapshotManager(d)
    val schema = TableSchema.load(d).get
    val groups = sm.liveFilesLatest.groupBy(f => (f.partition, f.bucket)).toSeq
    assert(Compactor.compactGroups(Some(spark), d, schema, groups) == 1)
    val snaps = sm.existingSnapshotIds
    // the same groups again: their inputs are no longer live
    assert(Compactor.compactGroups(Some(spark), d, schema, groups) == 0)
    assert(sm.existingSnapshotIds == snaps, "a stale compaction published")
    assert(filesUnder(d, "compact-") ==
      sm.liveFilesLatest.map(_.fileName).filter(_.contains("compact-")).toSet,
      "an aborted compaction left its rewritten file")
  }

  test("a publish that always loses: compaction leaves no manifest or " +
      "data file, a data commit gives up") {
    spark.sql("CREATE TABLE graft.default.lose (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='1'," +
      "'compaction.trigger-file-count'='0')")
    spark.sql("INSERT INTO graft.default.lose VALUES (1, 10)")
    spark.sql("INSERT INTO graft.default.lose VALUES (2, 20)")
    val d = dir("lose")
    val losing = new SnapshotManager(d, publisher = (_, _) => false)
    val live = losing.liveFilesLatest
    val schemaId = TableSchema.load(d).get.id
    val manifests = filesUnder(d, "manifest-")
    val dataFiles = filesUnder(d.resolve("bucket-0"), "")
    // a rewritten group: a copy of one input under a compact- name
    val src = live.head
    val rel = src.fileName.replaceFirst("data-[^/]*$",
      s"compact-${java.util.UUID.randomUUID()}.parquet")
    Files.copy(d.resolve(src.fileName), d.resolve(rel))
    assert(!Compactor.commit(losing, schemaId, Seq(src.copy(fileName = rel)),
      live.map(_.fileName).toSet, d))
    assert(filesUnder(d, "manifest-") == manifests)
    assert(filesUnder(d.resolve("bucket-0"), "") == dataFiles,
      "a compaction that never published left its rewritten file")

    val e = intercept[IllegalStateException] {
      FileStoreCommit.commit(losing, schemaId, Seq.empty,
        Seq(src.copy(fileName = "bucket-0/data-never.parquet")),
        FileStoreCommit.NoOverwrite)
    }
    assert(e.getMessage.contains("gave up"), e.getMessage)
    assert(filesUnder(d, "manifest-") == manifests)
    assert(losing.existingSnapshotIds.size == 2)
  }
}
