package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.{LocalInputFile, ParquetDecodingException}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.api.Catalog
import graft.format.{FileIO, Maintenance, SnapshotManager}
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._

/** Data-file integrity: Parquet data files are written through `java.nio`
  * with no Hadoop `.crc` sidecar, and the page CRCs parquet-mr stores in
  * the file are what a read verifies, on local and `graftio://` stores
  * alike. Files written with a sidecar by the older Hadoop-filesystem
  * writer still read, and maintenance still deletes their sidecars.
  */
class DataFileIntegritySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var warehouse: Path = _

  lazy val spark: SparkSession = {
    warehouse = Files.createTempDirectory("graft-integrity-wh")
    SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse.toString)
      .getOrCreate()
  }

  private lazy val catalog = Catalog.create(spark,
    Map("warehouse" -> warehouse.toString, "catalog-name" -> "graft"))

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.default")
  }

  override def afterAll(): Unit = spark.stop()

  private def tableDir(name: String): Path = warehouse.resolve(s"default.db/$name")

  private def crcFiles(dir: Path): Seq[String] =
    Files.walk(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".crc")).toSeq

  private def rows(table: String): Seq[(Long, String)] =
    spark.sql(s"SELECT k, v FROM graft.default.$table ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  private def createPk(table: String, extra: String = ""): Unit = {
    spark.sql(s"CREATE TABLE graft.default.$table (k BIGINT, v STRING) " +
      s"TBLPROPERTIES ('primary-key'='k', 'bucket'='1'$extra)")
    spark.sql(s"INSERT INTO graft.default.$table " +
      "SELECT id, concat('v', id) FROM range(0, 2000)")
    spark.sql(s"INSERT INTO graft.default.$table " +
      "SELECT id, concat('w', id) FROM range(1000, 3000)")
  }

  private val expected: Seq[(Long, String)] =
    (0L until 3000L).map(k => (k, if (k < 1000) s"v$k" else s"w$k"))

  /** Offset of the last byte of column `v`'s chunk in the first row
    * group: the end of its last data page's body, so the flip lands in
    * page data the page CRC covers, never in a page header. */
  private def dataPageByte(bytes: Array[Byte]): Int = {
    val tmp = Files.createTempFile("graft-integrity", ".parquet")
    try {
      Files.write(tmp, bytes)
      val r = ParquetFileReader.open(new LocalInputFile(tmp))
      val chunk = try r.getFooter.getBlocks.get(0).getColumns.asScala
        .find(_.getPath.toDotString == "v").get
      finally r.close()
      val last = chunk.getStartingPos + chunk.getTotalSize - 1
      assert(last > chunk.getFirstDataPageOffset)
      last.toInt
    } finally Files.delete(tmp)
  }

  private def flipped(bytes: Array[Byte]): Array[Byte] = {
    val out = bytes.clone()
    val at = dataPageByte(bytes)
    out(at) = (out(at) ^ 0x5a).toByte
    out
  }

  private def assertPageCrcFailure(table: String): Unit = {
    val e = intercept[Exception](rows(table))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists {
      case p: ParquetDecodingException => p.getMessage ==
        "could not verify page integrity, CRC checksum verification failed"
      case _ => false
    }, s"expected a page CRC failure, got: $e")
  }

  test("local PK commits and a compaction leave no .crc sidecar") {
    createPk("nocrc")
    assert(catalog.getTable("default.nocrc").compact() == 1)
    val dir = tableDir("nocrc")
    val data = new SnapshotManager(dir).liveFilesLatest
    assert(data.size == 1 && data.head.fileName.contains("compact-"))
    assert(crcFiles(dir).isEmpty, crcFiles(dir).toString)
    assert(rows("nocrc") == expected)
  }

  test("a flipped data-page byte fails a local scan with the page CRC error") {
    createPk("flip_local")
    val file = tableDir("flip_local")
      .resolve(new SnapshotManager(tableDir("flip_local")).liveFilesLatest.head.fileName)
    Files.write(file, flipped(Files.readAllBytes(file)))
    assertPageCrcFailure("flip_local")
  }

  test("a flipped data-page byte fails a memory: scan (graftio reads) with the page CRC error") {
    createPk("flip_mem", ", 'io'='memory:integrity'")
    val io = FileIO.resolve("memory:integrity")
    val dir = tableDir("flip_mem")
    val file = dir.resolve(new SnapshotManager(dir, io = io).liveFilesLatest.head.fileName)
    assert(!Files.exists(file), "the data plane must not be local")
    io.writeAtomic(file, flipped(io.readBytes(file)))
    assertPageCrcFailure("flip_mem")
  }

  test("a data file with a Hadoop .crc sidecar still reads; vacuum and expire delete the sidecar") {
    createPk("legacy", ", 'compaction.trigger-file-count'='0'")
    val dir = tableDir("legacy")
    val fs = FileSystem.getLocal(new Configuration())
    def sidecar(p: Path): Path = p.resolveSibling("." + p.getFileName + ".crc")
    /** Write `bytes` at `p` the way data files were written before they
      * moved to java.nio: through Hadoop's checksummed local filesystem. */
    def hadoopWrite(p: Path, bytes: Array[Byte]): Unit = {
      val out = fs.create(new HPath(p.toUri), true)
      try out.write(bytes) finally out.close()
      assert(Files.exists(sidecar(p)))
    }
    val live = new SnapshotManager(dir).liveFilesLatest.map(f => dir.resolve(f.fileName))
    assert(live.size == 2)
    live.foreach(p => hadoopWrite(p, Files.readAllBytes(p)))
    assert(rows("legacy") == expected)

    // an orphan of that kind (an aborted write) and a sidecar whose
    // data file is already gone, both past the vacuum's age gate
    val bucket = live.head.getParent
    val orphan = bucket.resolve(s"data-${java.util.UUID.randomUUID}.parquet")
    hadoopWrite(orphan, Files.readAllBytes(live.head))
    val dangling = sidecar(bucket.resolve(s"data-${java.util.UUID.randomUUID}.parquet"))
    Files.copy(sidecar(orphan), dangling)
    val old = FileTime.fromMillis(System.currentTimeMillis() - 3600 * 1000L)
    Seq(orphan, sidecar(orphan), dangling).foreach(Files.setLastModifiedTime(_, old))
    assert(Maintenance.vacuumOrphans(dir, olderThanMillis = 60 * 1000L) == 1)
    Seq(orphan, sidecar(orphan), dangling).foreach(p => assert(!Files.exists(p), p))
    live.foreach(p => assert(Files.exists(p) && Files.exists(sidecar(p)), p))
    assert(rows("legacy") == expected)

    // compaction retires both files; expiring the snapshots that held
    // them deletes each file with its sidecar
    assert(catalog.getTable("default.legacy").compact() == 1)
    assert(Maintenance.expireSnapshots(dir, retainLast = 1).deletedDataFiles == 2)
    live.foreach(p => assert(!Files.exists(p) && !Files.exists(sidecar(p)), p))
    assert(crcFiles(dir).isEmpty, crcFiles(dir).toString)
    assert(rows("legacy") == expected)
  }
}
