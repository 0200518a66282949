package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** End-to-end connector behavior through Spark SQL, reproducing the
  * reference's test semantics (FIXTURES.md; `pypaimon/py4j/tests/`):
  * append round-trip, PK upsert merge-on-read across commits, predicate
  * NULL semantics, projection reorder, overwrite modes, split-granular
  * limit, partitioned PK tables.
  */
class ConnectorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var warehouse: java.nio.file.Path = _

  lazy val spark: SparkSession = {
    warehouse = Files.createTempDirectory("graft-wh")
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

  test("F1: append table round-trip") {
    spark.sql("CREATE TABLE graft.default.t_append (f0 INT, f1 STRING)")
    spark.sql("INSERT INTO graft.default.t_append VALUES (1,'a'), (2,'b'), (3,'c')")
    val got = spark.sql("SELECT * FROM graft.default.t_append ORDER BY f0")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(got.toSeq == Seq((1, "a"), (2, "b"), (3, "c")))
  }

  test("F1: three commits accumulate (3 x 3 = 9 rows)") {
    spark.sql("CREATE TABLE graft.default.t_acc (f0 INT, f1 STRING)")
    spark.sql("INSERT INTO graft.default.t_acc VALUES (1,'a'), (2,'b'), (3,'c')")
    spark.sql("INSERT INTO graft.default.t_acc VALUES (4,'d'), (5,'e'), (6,'f')")
    spark.sql("INSERT INTO graft.default.t_acc VALUES (7,'g'), (8,'h'), (9,'i')")
    assert(spark.table("graft.default.t_acc").count() == 9)
    assert(spark.sql("SELECT sum(f0) FROM graft.default.t_acc")
      .collect()(0).getLong(0) == 45)
  }

  test("empty table reads as empty") {
    spark.sql("CREATE TABLE graft.default.t_empty (f0 INT, f1 STRING)")
    assert(spark.table("graft.default.t_empty").count() == 0)
  }

  test("F2: predicate semantics incl. not_equal drops NULL") {
    spark.sql("CREATE TABLE graft.default.t_pred (f0 BIGINT, f1 STRING)")
    spark.sql("INSERT INTO graft.default.t_pred VALUES " +
      "(1,'abc'), (2,'abbc'), (3,'bc'), (4,'d'), (5, NULL)")
    def q(where: String): Seq[Long] =
      spark.sql(s"SELECT f0 FROM graft.default.t_pred WHERE $where ORDER BY f0")
        .collect().map(_.getLong(0)).toSeq
    assert(q("f1 <> 'abc'") == Seq(2, 3, 4)) // NULL dropped, like the reference
    assert(q("f1 IS NULL") == Seq(5))
    assert(q("f1 IS NOT NULL") == Seq(1, 2, 3, 4))
    assert(q("f1 LIKE 'ab%'") == Seq(1, 2))
    assert(q("f1 LIKE '%bb%'") == Seq(2))
    assert(q("f0 BETWEEN 1 AND 3") == Seq(1, 2, 3))
    assert(q("f0 IN (1, 4)") == Seq(1, 4))
    assert(q("f0 NOT IN (1, 4)") == Seq(2, 3, 5))
  }

  test("projection subset and reorder") {
    val rows = spark.sql("SELECT f1, f0 FROM graft.default.t_pred ORDER BY f0")
      .collect()
    assert(rows.map(_.schema.fieldNames.toSeq).head == Seq("f1", "f0"))
    assert(rows.head.getString(0) == "abc" && rows.head.getLong(1) == 1L)
  }

  test("PK table: upserts across two commits merge last-write-wins") {
    spark.sql("CREATE TABLE graft.default.t_pk (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key'='k', 'bucket'='2')")
    spark.sql("INSERT INTO graft.default.t_pk VALUES (1,'x1'), (2,'x2'), (3,'x3')")
    spark.sql("INSERT INTO graft.default.t_pk VALUES (2,'y2'), (4,'y4')")
    val got = spark.sql("SELECT * FROM graft.default.t_pk ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "x1"), (2L, "y2"), (3L, "x3"), (4L, "y4")))
  }

  test("PK table: same key twice in one commit keeps the later row") {
    spark.sql("CREATE TABLE graft.default.t_pk1 (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key'='k', 'bucket'='1')")
    spark.sql("INSERT INTO graft.default.t_pk1 SELECT * FROM VALUES " +
      "(1,'first'), (1,'second') AS t(k, v)")
    val got = spark.table("graft.default.t_pk1").collect()
    assert(got.length == 1)
    assert(got(0).getString(1) == "second")
  }

  test("PK table requires fixed bucket (dynamic rejected like reference)") {
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft.default.t_dyn (k INT, v STRING) " +
        "TBLPROPERTIES ('primary-key'='k')")
    }
    assert(e.getMessage.contains("dynamic bucket"))
  }

  test("nested types rejected at create like reference") {
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft.default.t_bad (f0 INT, f1 ARRAY<INT>)")
    }
    assert(e.getMessage.contains("unsupported data type"))
  }

  test("INSERT OVERWRITE replaces whole unpartitioned table") {
    spark.sql("CREATE TABLE graft.default.t_ow (f0 INT, f1 STRING)")
    spark.sql("INSERT INTO graft.default.t_ow VALUES (1,'a'), (2,'b')")
    spark.sql("INSERT OVERWRITE graft.default.t_ow VALUES (9,'z')")
    val got = spark.table("graft.default.t_ow").collect()
    assert(got.length == 1 && got(0).getInt(0) == 9)
  }

  test("static partition overwrite touches only that partition") {
    spark.sql("CREATE TABLE graft.default.t_part (f0 INT, f1 STRING) " +
      "PARTITIONED BY (f0)")
    spark.sql("INSERT INTO graft.default.t_part VALUES (1,'a'), (2,'b')")
    spark.sql("INSERT OVERWRITE graft.default.t_part PARTITION (f0=1) VALUES ('A')")
    val got = spark.sql("SELECT f0, f1 FROM graft.default.t_part ORDER BY f0")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(got.toSeq == Seq((1, "A"), (2, "b")))
  }

  test("dynamic partition overwrite keeps untouched partitions") {
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("CREATE TABLE graft.default.t_dynow (f0 INT, f1 STRING) " +
        "PARTITIONED BY (f0)")
      spark.sql("INSERT INTO graft.default.t_dynow VALUES (1,'a'), (2,'b'), (3,'c')")
      spark.sql("INSERT OVERWRITE TABLE graft.default.t_dynow VALUES (2,'B2'), (2,'B'), (9,'i')")
      val got = spark.sql("SELECT f0, f1 FROM graft.default.t_dynow ORDER BY f0, f1")
        .collect().map(r => (r.getInt(0), r.getString(1)))
      assert(got.toSeq == Seq((1, "a"), (2, "B"), (2, "B2"), (3, "c"), (9, "i")))
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
  }

  test("partitioned PK table with bucket=2, upsert across commits") {
    spark.sql("CREATE TABLE graft.default.t_ppk (pt INT, k BIGINT, v STRING) " +
      "PARTITIONED BY (pt) TBLPROPERTIES ('primary-key'='pt,k', 'bucket'='2')")
    spark.sql("INSERT INTO graft.default.t_ppk VALUES " +
      "(1, 10, 'a'), (1, 11, 'b'), (2, 10, 'c')")
    spark.sql("INSERT INTO graft.default.t_ppk VALUES (1, 10, 'A'), (2, 12, 'd')")
    val got = spark.sql(
      "SELECT pt, k, v FROM graft.default.t_ppk ORDER BY pt, k")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq((1, 10L, "A"), (1, 11L, "b"), (2, 10L, "c"), (2, 12L, "d")))
  }

  test("append scan bin-packs small files into bounded splits") {
    // many tiny commits → many tiny files: the scan must not plan one
    // task per file (the small-file task storm at corpus scale), and
    // packing must not lose or duplicate rows
    spark.sql("CREATE TABLE graft.default.t_pack (id BIGINT) " +
      "TBLPROPERTIES ('compaction.trigger-file-count'='1000')")
    (1 to 12).foreach(i =>
      spark.sql(s"INSERT INTO graft.default.t_pack VALUES ($i)"))
    val df = spark.sql("SELECT * FROM graft.default.t_pack")
    val n = df.rdd.getNumPartitions
    assert(n <= spark.sparkContext.defaultParallelism,
      s"12 tiny files must pack into <= parallelism splits, got $n")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (1L to 12L))
  }

  test("partition pruning: scan of one partition plans fewer input files") {
    val all = spark.sql("SELECT * FROM graft.default.t_ppk").rdd.getNumPartitions
    val pruned = spark.sql("SELECT * FROM graft.default.t_ppk WHERE pt = 1")
      .rdd.getNumPartitions
    assert(pruned < all || all == 1)
  }

  test("filter on non-key column of PK table sees merged rows only") {
    // overwritten value 'a' for (1,10) must NOT resurrect under v='a'
    val got = spark.sql(
      "SELECT count(*) FROM graft.default.t_ppk WHERE v = 'a'").collect()(0).getLong(0)
    assert(got == 0)
  }

  test("timestamp/date/double columns round-trip") {
    spark.sql("CREATE TABLE graft.default.t_types " +
      "(i TINYINT, s SMALLINT, f FLOAT, d DOUBLE, b BOOLEAN, " +
      "dt DATE, ts TIMESTAMP, bin BINARY)")
    spark.sql("INSERT INTO graft.default.t_types VALUES " +
      "(CAST(1 AS TINYINT), CAST(10 AS SMALLINT), CAST(1.5 AS FLOAT), 2.5, true, " +
      "DATE'2024-03-01', TIMESTAMP'2024-03-01 12:34:56.789', CAST('xy' AS BINARY))")
    val r = spark.table("graft.default.t_types").collect()(0)
    assert(r.getByte(0) == 1 && r.getShort(1) == 10)
    assert(r.getFloat(2) == 1.5f && r.getDouble(3) == 2.5 && r.getBoolean(4))
    assert(r.getDate(5).toString == "2024-03-01")
    assert(r.getTimestamp(6).getTime == java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789").getTime)
    assert(new String(r.getAs[Array[Byte]](7)) == "xy")
  }

  test("limit pushdown is split-granular but exact after Spark trims") {
    spark.sql("CREATE TABLE graft.default.t_lim (f0 INT)")
    (1 to 4).foreach(i =>
      spark.sql(s"INSERT INTO graft.default.t_lim VALUES ($i)"))
    assert(spark.sql("SELECT * FROM graft.default.t_lim LIMIT 1").count() == 1)
    assert(spark.table("graft.default.t_lim").count() == 4)
  }

  test("source.split.target-size drives split packing (reference knob)") {
    // four single-row files per table; a tiny target keeps each file
    // its own split (reference test_pynative_reader.py:167 semantics),
    // a large explicit target packs everything into ONE split — unlike
    // the adaptive default, which floors split count at parallelism
    Seq("t_split_small" -> " TBLPROPERTIES ('source.split.target-size'='1kb')",
        "t_split_big" -> " TBLPROPERTIES ('source.split.target-size'='64mb')",
        "t_split_dflt" -> "").foreach { case (t, props) =>
      spark.sql(s"CREATE TABLE graft.default.$t (f0 INT, f1 STRING)$props")
      (1 to 4).foreach(i =>
        spark.sql(s"INSERT INTO graft.default.$t VALUES ($i,'v$i')"))
    }
    def nsplits(t: String) = spark.table(s"graft.default.$t").rdd.getNumPartitions
    assert(nsplits("t_split_small") == 4,
      s"tiny target should keep 4 file-splits, got ${nsplits("t_split_small")}")
    assert(nsplits("t_split_big") == 1,
      s"64mb target should pack 4 small files into 1 split, got ${nsplits("t_split_big")}")
    assert(nsplits("t_split_dflt") == 4,
      s"default keeps the parallelism floor, got ${nsplits("t_split_dflt")}")
    // the option changes packing, never results
    assert(spark.table("graft.default.t_split_big").count() == 4)
    // malformed size strings fail at CREATE, not at first scan
    val e = intercept[IllegalArgumentException](spark.sql(
      "CREATE TABLE graft.default.t_split_bad (f0 INT) " +
        "TBLPROPERTIES ('source.split.target-size'='huge')"))
    assert(e.getMessage.contains("source.split.target-size"), e.getMessage)
    // same CREATE-time guard for the hot-bucket warning threshold
    val e2 = intercept[IllegalArgumentException](spark.sql(
      "CREATE TABLE graft.default.t_warn_bad (k BIGINT) TBLPROPERTIES " +
        "('primary-key'='k','bucket'='1'," +
        "'bucket.rows-warning-threshold'='lots')"))
    assert(e2.getMessage.contains("bucket.rows-warning-threshold"),
      e2.getMessage)
  }

  test("append-table zone maps skip files on any filtered column") {
    spark.sql("CREATE TABLE graft.default.t_zone (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.default.t_zone " +
      "SELECT id, concat('a', id) FROM range(0, 100, 1, 1)")   // file 1: 0..99
    spark.sql("INSERT INTO graft.default.t_zone " +
      "SELECT id, concat('b', id) FROM range(1000, 1100, 1, 1)") // file 2: 1000..1099
    def scannedFiles(sql: String): Int = {
      val plan = spark.sql(sql).queryExecution.executedPlan
      plan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.partitions.size
      }.getOrElse(fail(s"no BatchScanExec in:\n$plan"))
    }
    assert(scannedFiles("SELECT * FROM graft.default.t_zone") == 2)
    assert(scannedFiles(
      "SELECT * FROM graft.default.t_zone WHERE id < 100") == 1)
    assert(scannedFiles(
      "SELECT * FROM graft.default.t_zone WHERE id BETWEEN 500 AND 600") == 0)
    // string zone map prunes too (non-key, non-partition column)
    assert(scannedFiles(
      "SELECT * FROM graft.default.t_zone WHERE v >= 'b'") == 1)
    // exact null counts: no file has NULL v, so IS NULL scans nothing
    assert(scannedFiles(
      "SELECT * FROM graft.default.t_zone WHERE v IS NULL") == 0)
    // and results stay exact
    assert(spark.sql("SELECT count(*) FROM graft.default.t_zone " +
      "WHERE id >= 1000").collect()(0).getLong(0) == 100)
  }

  test("storage-partitioned join: co-bucketed PK tables join shuffle-free") {
    spark.sql("CREATE TABLE graft.default.spj_a (k BIGINT, va STRING) " +
      "TBLPROPERTIES ('primary-key'='k', 'bucket'='4')")
    spark.sql("CREATE TABLE graft.default.spj_b (k BIGINT, vb STRING) " +
      "TBLPROPERTIES ('primary-key'='k', 'bucket'='4')")
    spark.sql("INSERT INTO graft.default.spj_a " +
      "SELECT id, concat('a', id) FROM range(0, 100)")
    spark.sql("INSERT INTO graft.default.spj_b " +
      "SELECT id, concat('b', id) FROM range(50, 150)")
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql("""SELECT a.k, a.va, b.vb
        FROM graft.default.spj_a a JOIN graft.default.spj_b b ON a.k = b.k
        ORDER BY a.k""")
      val rows = df.collect()
      assert(rows.length == 50)
      assert(rows.head.getLong(0) == 50 && rows.last.getLong(0) == 99)
      assert(rows.head.getString(1) == "a50" && rows.head.getString(2) == "b50")
      // the join itself must not shuffle either side (the only exchange
      // allowed is the ORDER BY's range partitioning above the join)
      val joinPlan = df.queryExecution.executedPlan.toString
        .split("SortMergeJoin|ShuffledHashJoin").last
      assert(!joinPlan.contains("Exchange hashpartitioning"),
        s"join inputs must be storage-partitioned, got:\n$joinPlan")
      assert(joinPlan.contains("BatchScan"),
        s"expected scans under the join:\n$joinPlan")

      // partitioned PK tables: keys = identity(pt) ++ bucket(pk)
      spark.sql("CREATE TABLE graft.default.spj_pa (pt INT, k BIGINT, v BIGINT) " +
        "PARTITIONED BY (pt) TBLPROPERTIES ('primary-key'='pt,k', 'bucket'='2')")
      spark.sql("CREATE TABLE graft.default.spj_pb (pt INT, k BIGINT, w BIGINT) " +
        "PARTITIONED BY (pt) TBLPROPERTIES ('primary-key'='pt,k', 'bucket'='2')")
      spark.sql("INSERT INTO graft.default.spj_pa " +
        "SELECT id % 3, id, id * 10 FROM range(0, 90)")
      spark.sql("INSERT INTO graft.default.spj_pb " +
        "SELECT id % 3, id, id * 100 FROM range(0, 90)")
      val pj = spark.sql("""SELECT sum(a.v + b.w) FROM graft.default.spj_pa a
        JOIN graft.default.spj_pb b ON a.pt = b.pt AND a.k = b.k""")
      assert(pj.collect()(0).getLong(0) == (0L until 90L).map(i => i * 110).sum)
      val pjJoin = pj.queryExecution.executedPlan.toString
        .split("SortMergeJoin|ShuffledHashJoin").last
      assert(!pjJoin.contains("Exchange hashpartitioning"),
        s"partitioned-PK join inputs must be storage-partitioned:\n$pjJoin")

      // co-partitioned APPEND tables: clustered by identity(pt) alone
      spark.sql("CREATE TABLE graft.default.spj_aa (pt INT, v BIGINT) " +
        "PARTITIONED BY (pt)")
      spark.sql("CREATE TABLE graft.default.spj_ab (pt INT, w BIGINT) " +
        "PARTITIONED BY (pt)")
      spark.sql("INSERT INTO graft.default.spj_aa " +
        "SELECT id % 3, id FROM range(0, 30, 1, 1)")
      spark.sql("INSERT INTO graft.default.spj_ab " +
        "SELECT id % 3, id FROM range(0, 30, 1, 1)")
      val aj = spark.sql("""SELECT count(*) FROM graft.default.spj_aa a
        JOIN graft.default.spj_ab b ON a.pt = b.pt""")
      assert(aj.collect()(0).getLong(0) == 300) // 3 partitions x 10 x 10
      val ajJoin = aj.queryExecution.executedPlan.toString
        .split("SortMergeJoin|ShuffledHashJoin").last
      assert(!ajJoin.contains("Exchange hashpartitioning"),
        s"co-partitioned append join must not shuffle:\n$ajJoin")
      // reported output ordering lets the SMJ skip its Sort nodes
      assert(!pjJoin.contains("+- Sort "),
        s"scan-reported pk ordering should remove join-side sorts:\n$pjJoin")
    }
  }

  private def withConfs(kvs: (String, String)*)(f: => Unit): Unit = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("NULL partition values under fully-pushed partition predicates") {
    // partition-only conjuncts carry no residual Filter — the strict
    // pruning IS the filter, so NULL semantics must be exact here
    spark.sql("CREATE TABLE graft.default.t_np (pt INT, v INT) " +
      "PARTITIONED BY (pt)")
    spark.sql("INSERT INTO graft.default.t_np VALUES (1, 10), (NULL, 20)")
    def vals(where: String): Seq[Int] =
      spark.sql(s"SELECT v FROM graft.default.t_np WHERE $where")
        .collect().map(_.getInt(0)).toSeq.sorted
    assert(vals("pt IS NULL") == Seq(20))
    assert(vals("pt IS NOT NULL") == Seq(10))
    assert(vals("pt = 1") == Seq(10))
    assert(vals("pt <> 1") == Seq.empty) // NULL fails <>, like SQL says
    assert(vals("pt = 1 OR pt IS NULL") == Seq(10, 20))
    assert(vals("NOT (pt = 1)") == Seq.empty)
  }

  test("runtime filters prune partitions on star joins (DPP)") {
    spark.sql("CREATE TABLE graft.default.t_fact (pt INT, v BIGINT) " +
      "PARTITIONED BY (pt)")
    spark.sql("INSERT INTO graft.default.t_fact " +
      "SELECT id % 4, id FROM range(0, 400)")
    // the dim must be a real table — a LocalRelation's filter gets
    // constant-folded away before the DPP rule can see it
    spark.sql("CREATE TABLE graft.default.t_dim (pt INT, tag STRING)")
    spark.sql("INSERT INTO graft.default.t_dim VALUES " +
      "(0,'keep'), (1,'drop'), (2,'drop'), (3,'drop')")
    val df = spark.sql("""SELECT sum(f.v) FROM graft.default.t_fact f
      JOIN graft.default.t_dim d ON f.pt = d.pt WHERE d.tag = 'keep'""")
    val expected = (0L until 400L).filter(_ % 4 == 0).sum
    assert(df.collect()(0).getLong(0) == expected)
    assert(df.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("dynamicpruning"),
      "join on the partition column should plan a runtime filter")
  }

  test("COUNT(*)/MIN/MAX on append tables answer from metadata only") {
    spark.sql("CREATE TABLE graft.default.t_agg (id BIGINT, v STRING, d DOUBLE)")
    spark.sql("INSERT INTO graft.default.t_agg " +
      "SELECT id, concat('v', id), id * 1.5 FROM range(0, 1000)")
    spark.sql("INSERT INTO graft.default.t_agg VALUES (5000, NULL, NULL)")
    val df = spark.sql(
      "SELECT count(*), min(id), max(id), max(d), count(v), count(d) " +
        "FROM graft.default.t_agg")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftAggScan"), s"expected metadata-only scan in:\n$plan")
    assert(!plan.contains("HashAggregate"),
      "complete pushdown must remove the aggregation")
    val r = df.collect()(0)
    assert(r.getLong(0) == 1001 && r.getLong(1) == 0 && r.getLong(2) == 5000)
    assert(r.getDouble(3) == 999 * 1.5)
    // COUNT(col) = sum(rowCount - nullCount): the (5000, NULL, NULL) row
    assert(r.getLong(4) == 1000 && r.getLong(5) == 1000)
    // string MIN/MAX can't be proven exact from stats → normal scan path
    val sPlan = spark.sql("SELECT min(v) FROM graft.default.t_agg")
      .queryExecution.executedPlan.toString
    assert(!sPlan.contains("GraftAggScan"))
    // filters block the metadata path (residuals must be evaluated)
    val fPlan = spark.sql(
      "SELECT count(*) FROM graft.default.t_agg WHERE id > 10")
      .queryExecution.executedPlan.toString
    assert(!fPlan.contains("GraftAggScan"))
    // GROUP BY a partition column: per-partition rollup from manifests
    spark.sql("CREATE TABLE graft.default.t_aggp (pt INT, v BIGINT) " +
      "PARTITIONED BY (pt)")
    spark.sql("INSERT INTO graft.default.t_aggp " +
      "SELECT id % 3, id FROM range(0, 300)")
    val g = spark.sql("SELECT pt, count(*), max(v) FROM graft.default.t_aggp " +
      "GROUP BY pt ORDER BY pt")
    assert(g.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    val rows = g.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((0, 100L, 297L), (1, 100L, 298L), (2, 100L, 299L)))
    // partition-only filters are enforced by pruning (no residual
    // Filter node), so partition-restricted aggregates stay metadata-only
    val fg = spark.sql(
      "SELECT count(*), max(v) FROM graft.default.t_aggp WHERE pt = 1")
    assert(fg.queryExecution.executedPlan.toString.contains("GraftAggScan"),
      "partition-restricted aggregate should stay metadata-only")
    val fr = fg.collect()(0)
    assert(fr.getLong(0) == 100 && fr.getLong(1) == 298)
    // and plain partition-filtered scans carry no residual Filter
    val pf = spark.sql("SELECT v FROM graft.default.t_aggp WHERE pt = 2")
    assert(!pf.queryExecution.executedPlan.toString.contains("Filter "),
      "partition-only predicate should be fully pushed")
    assert(pf.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 300L).filter(_ % 3 == 2).sorted.toSeq)
    // grouping on a NON-partition column cannot push
    assert(!spark.sql(
      "SELECT v % 2, count(*) FROM graft.default.t_aggp GROUP BY v % 2")
      .queryExecution.executedPlan.toString.contains("GraftAggScan"))
    // PK tables never push (pre-merge metadata counts overwritten rows)
    spark.sql("CREATE TABLE graft.default.t_agg_pk (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('primary-key'='k', 'bucket'='1')")
    spark.sql("INSERT INTO graft.default.t_agg_pk VALUES (1, 1), (2, 2)")
    spark.sql("INSERT INTO graft.default.t_agg_pk VALUES (2, 20)")
    val pk = spark.sql("SELECT count(*) FROM graft.default.t_agg_pk")
    assert(!pk.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    assert(pk.collect()(0).getLong(0) == 2)
  }

  test("append-table scans decode columnar; PK merge scans stay row-wise") {
    spark.sql("CREATE TABLE graft.default.t_colr (p STRING, f0 INT, f1 DOUBLE) " +
      "PARTITIONED BY (p)")
    spark.sql("INSERT INTO graft.default.t_colr VALUES ('x', 1, 1.5), ('y', 2, 2.5)")
    val df = spark.sql(
      "SELECT p, f0, f1 FROM graft.default.t_colr WHERE p = 'x'")
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "append parquet scan should report columnar batches")
    val r = df.collect()(0)
    assert(r.getString(0) == "x" && r.getInt(1) == 1 && r.getDouble(2) == 1.5)
    // metadata col via constant vector, interleaved column order
    val withFile = spark.sql(
      "SELECT f1, _file, p FROM graft.default.t_colr ORDER BY f0").collect()
    assert(withFile.length == 2 && withFile(0).getString(1).endsWith(".parquet"))
    // PK tables keep the row-wise merge reader
    spark.sql("CREATE TABLE graft.default.t_rowr (k INT, v INT) " +
      "TBLPROPERTIES ('primary-key'='k', 'bucket'='1')")
    spark.sql("INSERT INTO graft.default.t_rowr VALUES (1, 10)")
    assert(!spark.table("graft.default.t_rowr")
      .queryExecution.executedPlan.toString.contains("ColumnarToRow"))
  }

  test("write-buffer-rows spills sorted L0 runs; merged read stays LWW") {
    spark.sql("CREATE TABLE graft.default.t_spill (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('primary-key'='k', 'bucket'='1', " +
      "'write-buffer-rows'='25', 'compaction.trigger-file-count'='5')")
    // ONE insert of 100 rows with a 25-row buffer: the single bucket's
    // task flushes ≥4 sorted L0 runs inside a single commit
    spark.sql("INSERT INTO graft.default.t_spill " +
      "SELECT id, id FROM range(100)")
    val files = Files.walk(warehouse.resolve("default.db/t_spill"))
      .filter(p => p.getFileName.toString.startsWith("data-")).count()
    assert(files > 1, s"expected multiple spilled runs, got $files file(s)")
    // keys split across runs must still merge to one row each
    assert(spark.table("graft.default.t_spill").count() == 100)
    val sm = new graft.format.SnapshotManager(
      warehouse.resolve("default.db/t_spill"))
    def kinds = sm.existingSnapshotIds.map(sm.snapshot(_).commitKind)
    assert(kinds == Seq("APPEND") && sm.liveFilesLatest.size == 4,
      s"100 rows / 25-row buffer: 4 runs, under the trigger: $kinds")
    // second commit overwrites even keys — LWW across spilled runs. Its
    // 2 runs take the bucket to 6 >= 5 live files: the same commit
    // publishes a COMPACT snapshot leaving one file per bucket
    spark.sql("INSERT INTO graft.default.t_spill " +
      "SELECT id * 2, id * 2 + 1000 FROM range(50)")
    assert(kinds == Seq("APPEND", "APPEND", "COMPACT"), kinds)
    assert(sm.liveFilesLatest.groupBy(_.bucket).values.forall(_.size == 1))
    val got = spark.sql(
      "SELECT count(*), " +
        "sum(CASE WHEN k % 2 = 0 AND v = k + 1000 THEN 1 ELSE 0 END), " +
        "sum(CASE WHEN k % 2 = 1 AND v = k THEN 1 ELSE 0 END) " +
        "FROM graft.default.t_spill").collect()(0)
    assert(got.getLong(0) == 100 && got.getLong(1) == 50 && got.getLong(2) == 50)
  }
}
