package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** Regression (found by the lifecycle fuzz's sequence-group walks,
  * seeds 29/83): a copy-on-write DML on one key must not rewind OTHER
  * keys' later deltas. File-granular zone-map pruning used to run on
  * the COW rewrite scan, so the rewrite re-merged only the files whose
  * key stats covered the DML predicate — group-mates holding other
  * keys' newest versions were skipped, and the replacement rows' fresh
  * top sequences outranked them at every later read (silent sequence
  * rewind). A PK rewrite scan may prune whole groups only.
  */
class CowGroupRewriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var warehouse: java.nio.file.Path = _

  lazy val spark: SparkSession = {
    warehouse = Files.createTempDirectory("graft-cowr-wh")
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse.toString)
      .getOrCreate()
  }

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.default")
  }

  override def afterAll(): Unit = spark.stop()

  test("COW DML on one key keeps other keys' later deltas and replaces " +
      "the whole merge group") {
    spark.sql("CREATE TABLE graft.default.cowr " +
      "(k BIGINT, g BIGINT, a BIGINT, d STRING) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='1'," +
      "'merge-engine'='partial-update','fields.g.sequence-group'='a')")
    spark.sql("INSERT INTO graft.default.cowr VALUES " +
      "(4, 10, 100, 'x'), (5, 1, 1, 'y')")
    // COW #1 rewrites the group into one merged file
    spark.sql("UPDATE graft.default.cowr SET d = 'u' WHERE k = 4")
    // a NEWER delta for key 4 lands in its own file — the file a
    // k = 5 zone map would prune
    spark.sql("INSERT INTO graft.default.cowr VALUES (4, 12, 200, 'z')")
    // COW #2 (point predicate on key 5) must re-merge BOTH live files
    spark.sql("DELETE FROM graft.default.cowr WHERE k = 5")
    val got = spark.sql(
      "SELECT k, g, a, d FROM graft.default.cowr ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(got == Seq((4L, 12L, 200L, "z")), got)
    // the replacement is group-atomic: exactly one live file remains
    val sm = new graft.format.SnapshotManager(
      warehouse.resolve("default.db/cowr"))
    assert(sm.liveFilesLatest.size == 1)
    // same shape through UPDATE: the rewrite keeps the version gate's
    // state for the untouched key
    spark.sql("INSERT INTO graft.default.cowr VALUES (5, 2, 7, 'y2')")
    spark.sql("INSERT INTO graft.default.cowr VALUES (4, 13, 300, 'w')")
    spark.sql("UPDATE graft.default.cowr SET d = 'u5' WHERE k = 5")
    val got2 = spark.sql(
      "SELECT k, g, a, d FROM graft.default.cowr ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(got2 == Seq((4L, 13L, 300L, "w"), (5L, 2L, 7L, "u5")), got2)
  }

  test("group-granular zone maps still skip untouched groups on COW DML") {
    // partitioned PK table: a range predicate (no bucket or partition
    // pruning applies) must rewrite only the groups whose key stats
    // admit it — the other partition's file survives BYTE-identical,
    // not re-merged (at 100 TB a point DML must not rewrite the table
    // when the runtime _file group filter doesn't arrive)
    spark.sql("CREATE TABLE graft.default.cowp " +
      "(p INT, k BIGINT, v STRING) PARTITIONED BY (p) " +
      "TBLPROPERTIES ('primary-key'='p,k','bucket'='1'," +
      "'merge-engine'='first-row')")
    spark.sql("INSERT INTO graft.default.cowp VALUES " +
      "(1, 10, 'a'), (1, 11, 'b')")
    spark.sql("INSERT INTO graft.default.cowp VALUES " +
      "(2, 90, 'c'), (2, 91, 'd')")
    val sm = new graft.format.SnapshotManager(
      warehouse.resolve("default.db/cowp"))
    val before = sm.liveFilesLatest.map(_.fileName).toSet
    // k >= 90 admits only partition 2's group by key stats
    spark.sql("DELETE FROM graft.default.cowp WHERE k >= 91")
    val after = sm.liveFilesLatest.map(_.fileName).toSet
    val p1Files = before.filter(_.startsWith("p=1"))
    assert(p1Files.nonEmpty && p1Files.subsetOf(after),
      s"partition 1's group must survive unrewritten: $before -> $after")
    assert(spark.sql("SELECT k FROM graft.default.cowp ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(10L, 11L, 90L))

    // a point DELETE rewrites exactly one of 16 (partition, bucket)
    // groups, with Spark's runtime _file group filter and without it
    // (then the scan's own partition/bucket pruning alone bounds it)
    spark.sql("CREATE TABLE graft.default.cowg " +
      "(p INT, k BIGINT, v STRING) PARTITIONED BY (p) " +
      "TBLPROPERTIES ('primary-key'='p,k','bucket'='4'," +
      "'merge-engine'='first-row')")
    spark.sql("INSERT INTO graft.default.cowg " +
      "SELECT CAST(id % 4 AS INT), id, 'x' FROM range(0, 400)")
    val gsm = new graft.format.SnapshotManager(
      warehouse.resolve("default.db/cowg"))
    def groups(): Map[(Seq[String], Int), Set[String]] =
      gsm.liveFilesLatest.groupBy(f => (f.partition, f.bucket))
        .map { case (g, fs) => g -> fs.map(_.fileName).toSet }
    assert(groups().size == 16)
    def pointDelete(k: Long): Set[(Seq[String], Int)] = {
      val before = groups()
      spark.sql(s"DELETE FROM graft.default.cowg WHERE p = ${k % 4} AND k = $k")
      val after = groups()
      (before.keySet ++ after.keySet).filter(g => before.get(g) != after.get(g))
    }
    val on = pointDelete(123L)
    assert(on.size == 1 && on.head._1 == Seq("3"), on)
    val groupFilter =
      "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled"
    spark.conf.set(groupFilter, "false")
    val off = try pointDelete(205L) finally spark.conf.unset(groupFilter)
    assert(off.size == 1 && off.head._1 == Seq("1"), off)
    assert(spark.table("graft.default.cowg").count() == 398)
  }
}
