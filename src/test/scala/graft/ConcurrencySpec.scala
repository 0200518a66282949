package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global
import scala.jdk.CollectionConverters._

/** Optimistic-commit contention: parallel INSERTs race on snapshot ids;
  * the retry loop must serialize them without losing a commit.
  */
class ConcurrencySpec extends AnyFunSuite {

  test("16 concurrent commits all land; snapshot chain is contiguous") {
    val warehouse = Files.createTempDirectory("graft-conc-wh")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse.toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      spark.sql("CREATE NAMESPACE graft.c")
      spark.sql("CREATE TABLE graft.c.t (k BIGINT, who INT)")
      val futures = (1 to 16).map { i =>
        Future(spark.sql(s"INSERT INTO graft.c.t VALUES ($i, $i)"))
      }
      Await.result(Future.sequence(futures), 120.seconds)

      // every commit landed exactly once
      val rows = spark.sql("SELECT k FROM graft.c.t ORDER BY k")
        .collect().map(_.getLong(0))
      assert(rows.toSeq == (1L to 16L))
      // snapshot ids are a contiguous chain (retries re-based, no holes)
      val sm = new graft.format.SnapshotManager(
        warehouse.resolve("c.db/t"))
      assert(sm.existingSnapshotIds == (1L to 16L))
      assert(sm.latestSnapshot.get.totalRecordCount == 16)
      // loser-side manifests are cleaned up: under 16-way contention the
      // retry loops wrote many manifests whose publish lost — every
      // manifest left on disk must be referenced by some snapshot, or
      // contended tables would accumulate unbounded manifest/ garbage
      // no maintenance path ever reclaims
      val referenced = sm.existingSnapshotIds
        .flatMap(id => sm.snapshot(id).manifests).toSet
      val onDisk = java.nio.file.Files.list(
        warehouse.resolve("c.db/t/manifest"))
      val orphans =
        try onDisk.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("manifest-") && !referenced.contains(n))
          .toSeq
        finally onDisk.close()
      assert(orphans.isEmpty, s"orphan loser manifests left: $orphans")
    } finally spark.stop()
  }

  test("commit depends only on the AtomicPublisher contract (object-store seam)") {
    // simulated conditional PUT: CAS on a shared key table decides the
    // winner (what S3 If-None-Match / GCS if-generation-match=0 give
    // you), no hard links — the primitive an object-store backend has
    val claimed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val condPut = new graft.format.AtomicPublisher {
      override def putIfAbsent(target: java.nio.file.Path,
          content: String): Boolean =
        if (!claimed.add(target.toString)) false
        else { Files.writeString(target, content); true }
    }
    val dir = Files.createTempDirectory("graft-condput")
    def sm = new graft.format.SnapshotManager(dir, condPut)
    val winners = new java.util.concurrent.atomic.AtomicInteger
    val futures = (1 to 16).map { i =>
      Future {
        // every thread retries until its payload lands on SOME id
        var id = 1L
        var done = false
        while (!done) {
          val snap = graft.format.Snapshot(id, 0L, "APPEND",
            timeMillis = i, manifests = Seq.empty,
            lastSequenceNumber = i, totalRecordCount = i)
          if (sm.tryCommitSnapshot(snap)) { winners.incrementAndGet(); done = true }
          else id += 1
        }
      }
    }
    Await.result(Future.sequence(futures), 60.seconds)
    assert(winners.get == 16)
    assert(sm.existingSnapshotIds == (1L to 16L)) // contiguous, none lost
    // every published snapshot is intact JSON with a unique payload
    assert((1L to 16L).map(sm.snapshot).map(_.timeMillis).toSet.size == 16)
  }

  test("S3Publisher: SigV4 conditional PUT against an in-process object store") {
    // JDK HttpServer standing in for any S3-compatible endpoint:
    // PUT + If-None-Match:* → 200 first writer, 412 after — the exact
    // store-side behavior S3 conditional writes / MinIO / GCS XML give
    import com.sun.net.httpserver.HttpServer
    val store = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val auths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      val key = exchange.getRequestURI.getPath
      val body = new String(exchange.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      auths.add(Option(exchange.getRequestHeaders.getFirst("Authorization")).getOrElse(""))
      val created =
        if ("*" == exchange.getRequestHeaders.getFirst("If-None-Match"))
          store.putIfAbsent(key, body) == null
        else { store.put(key, body); true }
      exchange.sendResponseHeaders(if (created) 200 else 412, -1)
      exchange.close()
    })
    server.start()
    try {
      val pub = new graft.format.S3FileIO(
        endpoint = java.net.URI.create(
          s"http://127.0.0.1:${server.getAddress.getPort}"),
        region = "us-east-1", bucket = "lake",
        accessKey = "test-access", secretKey = "test-secret")
      val p = java.nio.file.Paths.get("/wh/t/snapshot/snapshot-1")
      assert(pub.putIfAbsent(p, "{\"id\":1}"), "first conditional PUT must win")
      assert(!pub.putIfAbsent(p, "{\"id\":1,\"other\":true}"),
        "second PUT on the same key must observe 412 and report false")
      assert(store.get("/lake/wh/t/snapshot/snapshot-1") == "{\"id\":1}",
        "store must hold the WINNER's payload")
      assert(auths.peek().startsWith("AWS4-HMAC-SHA256 Credential=test-access/"),
        s"requests must carry a SigV4 Authorization header, got ${auths.peek()}")

      // 16-way race on one key through real HTTP: exactly one winner
      val key2 = java.nio.file.Paths.get("/wh/t/snapshot/snapshot-2")
      val wins = new java.util.concurrent.atomic.AtomicInteger
      Await.result(Future.sequence((1 to 16).map(i => Future {
        if (pub.putIfAbsent(key2, s"payload-$i")) wins.incrementAndGet()
      })), 60.seconds)
      assert(wins.get == 1, s"expected exactly one winner, got ${wins.get}")

      // the full commit machinery runs against the HTTP publisher
      val dir = Files.createTempDirectory("graft-s3pub")
      // mirror into the local dir so reads (which go through the
      // filesystem) see what the store accepted
      val mirrored = new graft.format.AtomicPublisher {
        override def putIfAbsent(t: java.nio.file.Path, c: String): Boolean = {
          val won = pub.putIfAbsent(t, c)
          if (won) Files.writeString(t, c)
          won
        }
      }
      val sm = new graft.format.SnapshotManager(dir, mirrored)
      val s1 = graft.format.Snapshot(1L, 0L, "APPEND", timeMillis = 1L,
        manifests = Seq.empty, lastSequenceNumber = 1L, totalRecordCount = 1L)
      assert(sm.tryCommitSnapshot(s1))
      assert(!sm.tryCommitSnapshot(s1.copy(timeMillis = 2L)),
        "id collision must lose at the store, not silently overwrite")
      assert(sm.snapshot(1L).timeMillis == 1L)
    } finally server.stop(0)
  }

  test("conflicting PK commits: the LATER COMMIT wins via re-sequencing") {
    val warehouse = Files.createTempDirectory("graft-conc3-wh")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      import spark.implicits._
      import graft.api._
      val catalog = Catalog.create(spark,
        Map("warehouse" -> warehouse.toString, "catalog-name" -> "graft"))
      catalog.createDatabase("c")
      catalog.createTable("c.pk", Schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.StringType))),
        primaryKeys = Seq("k"), options = Map("bucket" -> "1")))
      val t = catalog.getTable("c.pk")

      // two writers snapshot the SAME base: overlapping sequence ranges
      val wbA = t.newBatchWriteBuilder(); val wA = wbA.newWrite()
      val wbB = t.newBatchWriteBuilder(); val wB = wbB.newWrite()
      wA.write(Seq((1L, "from-A")).toDF("k", "v"))
      wB.write(Seq((1L, "from-B")).toDF("k", "v"))
      val msgsA = wA.prepareCommit()
      val msgsB = wB.prepareCommit()
      assert(msgsA.map(_.minSeq).min == msgsB.map(_.minSeq).min) // genuine overlap

      wbA.newCommit().commit(msgsA) // snapshot 1
      wbB.newCommit().commit(msgsB) // snapshot 2 — re-sequenced above A

      val got = spark.table("graft.c.pk").collect()
      assert(got.length == 1)
      assert(got(0).getString(1) == "from-B",
        s"later commit must win, got ${got(0).getString(1)}")
    } finally spark.stop()
  }

  test("concurrent PK upserts on the same key resolve to one winner") {
    val warehouse = Files.createTempDirectory("graft-conc2-wh")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse.toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      spark.sql("CREATE NAMESPACE graft.c")
      spark.sql("CREATE TABLE graft.c.pk (k BIGINT, v INT) " +
        "TBLPROPERTIES ('primary-key'='k','bucket'='1')")
      val futures = (1 to 8).map { i =>
        Future(spark.sql(s"INSERT INTO graft.c.pk VALUES (42, $i)"))
      }
      Await.result(Future.sequence(futures), 120.seconds)
      val rows = spark.table("graft.c.pk").collect()
      assert(rows.length == 1) // merged to a single winner
      assert((1 to 8).contains(rows(0).getInt(1)))
    } finally spark.stop()
  }

  test("concurrent row-level UPDATEs on disjoint keys all land (MoR deltas)") {
    val warehouse = Files.createTempDirectory("graft-conc5-wh")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse.toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      spark.sql("CREATE NAMESPACE graft.c")
      spark.sql("CREATE TABLE graft.c.updpk (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('primary-key'='k','bucket'='2')")
      spark.sql("INSERT INTO graft.c.updpk SELECT id, 0 FROM range(0, 64)")
      // 8 racing delta commits; optimistic retry + conflict
      // re-sequencing must serialize them without losing an update
      val futures = (0 until 8).map { i =>
        Future(spark.sql(
          s"UPDATE graft.c.updpk SET v = ${i + 1} WHERE k % 8 = $i"))
      }
      Await.result(Future.sequence(futures), 120.seconds)
      val got = spark.table("graft.c.updpk").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == 64)
      got.foreach { case (k, v) =>
        assert(v == k % 8 + 1, s"k=$k lost its update: v=$v")
      }
    } finally spark.stop()
  }

  test("commit.strict-sequence accepts merge-on-read DML (-U/+U one task)") {
    val warehouse = Files.createTempDirectory("graft-conc6-wh")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse.toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      spark.sql("CREATE NAMESPACE graft.c")
      spark.sql("CREATE TABLE graft.c.strictpk (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('primary-key'='k','bucket'='1'," +
        "'commit.strict-sequence'='true')")
      spark.sql("INSERT INTO graft.c.strictpk VALUES (1,'a'), (2,'b')")
      // an UPDATE writes -U/+U for the same key in ONE task with
      // consecutive sequences — well-ordered, so the strict guard
      // must accept it; ditto a DELETE's single -D
      spark.sql("UPDATE graft.c.strictpk SET v = 'A' WHERE k = 1")
      spark.sql("DELETE FROM graft.c.strictpk WHERE k = 2")
      val got = spark.table("graft.c.strictpk").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(got.toSeq == Seq((1L, "A")), got.toSeq)
    } finally spark.stop()
  }

  test("commit.strict-sequence fails ambiguous same-key multi-task commits") {
    val warehouse = Files.createTempDirectory("graft-conc4-wh")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      import graft.api._
      import org.apache.spark.sql.types._
      val catalog = Catalog.create(spark,
        Map("warehouse" -> warehouse.toString, "catalog-name" -> "graft"))
      catalog.createDatabase("c")
      val fields = StructType(Seq(
        StructField("k", LongType), StructField("v", StringType)))
      def twoTaskDf(rows: (Long, String)*) = {
        // one row per RDD slice: the facade write turns each input
        // partition into one writer task with its own sequence block
        val rdd = spark.sparkContext.parallelize(rows, rows.size)
        spark.createDataFrame(rdd.map(r =>
          org.apache.spark.sql.Row(r._1, r._2)), fields)
      }

      // default (no option): same key from two tasks commits silently,
      // ordered by task id — existing behavior must not change
      catalog.createTable("c.lax", Schema(fields,
        primaryKeys = Seq("k"), options = Map("bucket" -> "1")))
      val lax = catalog.getTable("c.lax")
      val wbL = lax.newBatchWriteBuilder(); val wL = wbL.newWrite()
      wL.write(twoTaskDf((1L, "t0"), (1L, "t1")))
      wbL.newCommit().commit(wL.prepareCommit())
      assert(spark.table("graft.c.lax").count() == 1L)

      // strict: the same shape fails the commit with the ordering error
      catalog.createTable("c.strict", Schema(fields,
        primaryKeys = Seq("k"),
        options = Map("bucket" -> "1", "commit.strict-sequence" -> "true")))
      val st = catalog.getTable("c.strict")
      val wb1 = st.newBatchWriteBuilder(); val w1 = wb1.newWrite()
      w1.write(twoTaskDf((1L, "t0"), (1L, "t1")))
      val boom = intercept[IllegalStateException](
        wb1.newCommit().commit(w1.prepareCommit()))
      assert(boom.getMessage.contains("commit.strict-sequence"), boom.getMessage)
      assert(st.newReadBuilder().newRead().toDF().count() == 0L,
        "failed commit must publish nothing")

      // strict with DISJOINT keys across tasks: no ambiguity, commits
      val wb2 = st.newBatchWriteBuilder(); val w2 = wb2.newWrite()
      w2.write(twoTaskDf((1L, "a"), (2L, "b")))
      wb2.newCommit().commit(w2.prepareCommit())
      assert(spark.table("graft.c.strict").count() == 2L)

      // strict single-task upsert of an existing key: cross-commit
      // order is re-sequencing's job, not strict mode's — must commit
      val wb3 = st.newBatchWriteBuilder(); val w3 = wb3.newWrite()
      w3.write(twoTaskDf((1L, "later")))
      wb3.newCommit().commit(w3.prepareCommit())
      val got = spark.table("graft.c.strict").orderBy("k").collect()
      assert(got.map(_.getString(1)).toSeq == Seq("later", "b"))
    } finally spark.stop()
  }

  test("streaming epochs racing batch INSERTs: all land, later commits win") {
    // the streaming sink's per-epoch commits share the optimistic
    // publish + re-sequencing path with batch writers; interleaving
    // both on one PK table must lose nothing and keep commit order
    // authoritative for shared keys
    val warehouse = Files.createTempDirectory("graft-conc6-wh")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse.toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      spark.sql("CREATE NAMESPACE graft.c")
      spark.sql("CREATE TABLE graft.c.swsrc (k BIGINT, v STRING)")
      spark.sql("CREATE TABLE graft.c.swdst (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('primary-key'='k','bucket'='2')")
      // disjoint keyspaces: stream writes 0-99, batch writers 100-107
      spark.sql("INSERT INTO graft.c.swsrc " +
        "SELECT id, concat('s', id) FROM range(0, 100)")
      val ck = Files.createTempDirectory("graft-conc6-ck").toString
      val stream = Future {
        val q = spark.readStream.table("graft.c.swsrc")
          .writeStream.option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("graft.c.swdst")
        q.awaitTermination()
      }
      val batches = (100 to 107).map { i =>
        Future(spark.sql(s"INSERT INTO graft.c.swdst VALUES ($i, 'b$i')"))
      }
      Await.result(Future.sequence(stream +: batches), 180.seconds)
      assert(spark.table("graft.c.swdst").count() == 108L)
      // a shared key written by batch AFTER the stream drained: batch wins
      spark.sql("INSERT INTO graft.c.swdst VALUES (5, 'batch-final')")
      assert(spark.sql("SELECT v FROM graft.c.swdst WHERE k = 5")
        .collect()(0).getString(0) == "batch-final")
      // snapshot chain contiguous despite the race
      val sm = new graft.format.SnapshotManager(
        warehouse.resolve("c.db/swdst"))
      val ids = sm.existingSnapshotIds
      assert(ids == (ids.min to ids.max), s"holes in chain: $ids")
    } finally spark.stop()
  }

  test("merge-rule ALTER fence: in-flight old-schema commits are rejected") {
    // the r15 TOCTOU: a write planned under schema 0's fold rules
    // commits AFTER an ALTER changed the fold — its rows would re-fold
    // under rules the writer never saw. The fence must reject it.
    val warehouse = Files.createTempDirectory("graft-fence-wh")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse.toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      spark.sql("CREATE NAMESPACE graft.c")
      spark.sql("CREATE TABLE graft.c.fence1 (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('primary-key'='k', 'bucket'='1', " +
        "'merge-engine'='aggregation')")
      val dir = warehouse.resolve("c.db/fence1")
      val sm = new graft.format.SnapshotManager(dir)
      // a writer snapshots schema 0 (fold = default last_non_null_value)
      // and starts producing files...
      val inFlight = graft.format.DataFileMeta("bucket-0/f.parquet", 10L,
        3L, Seq.empty, 0, 0L, 2L, Map.empty)
      // ...meanwhile the fold changes (legal: no committed history) —
      // schema 1 lands plus a SCHEMA marker snapshot
      spark.sql("ALTER TABLE graft.c.fence1 SET TBLPROPERTIES " +
        "('fields.v.aggregate-function'='sum')")
      assert(graft.core.TableSchema.listIds(dir) == Seq(0L, 1L))
      assert(sm.latestSnapshot.exists(s =>
        s.commitKind == "SCHEMA" && s.schemaId == 1L))
      // the stale writer's commit must be fenced, not silently land
      val e = intercept[IllegalStateException] {
        graft.format.FileStoreCommit.commit(sm, schemaId = 0L,
          partitionKeys = Seq.empty, newFiles = Seq(inFlight),
          mode = graft.format.FileStoreCommit.NoOverwrite)
      }
      assert(e.getMessage.contains("Commit fenced"))
      assert(e.getMessage.contains("fields.v.aggregate-function"))
      // whereas a NON-merge-rule schema advance (ADD COLUMN) does not
      // fence stale writers — that's ordinary schema evolution
      spark.sql("ALTER TABLE graft.c.fence1 ADD COLUMN w BIGINT")
      assert(graft.core.TableSchema.listIds(dir) == Seq(0L, 1L, 2L))
      val snap = graft.format.FileStoreCommit.commit(sm, schemaId = 2L,
        partitionKeys = Seq.empty, newFiles = Seq(inFlight),
        mode = graft.format.FileStoreCommit.NoOverwrite)
      assert(snap.commitKind == "APPEND")
    } finally spark.stop()
  }

  test("merge-rule ALTER fence: a semantic no-op SET fences nobody") {
    // A config-management push that re-states the engine default on an
    // unconfigured column, or re-spells a sequence-group's member list,
    // is deemed a noop by the catalog's guard — but the option spelling
    // is still persisted, so the schema id bumps. The commit-time fence
    // compares NORMALIZED rules, so the bump must not fence in-flight
    // writers, abort compactions, or block rollback.
    val warehouse = Files.createTempDirectory("graft-fence-noop-wh")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse.toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      spark.sql("CREATE NAMESPACE graft.c")
      spark.sql("CREATE TABLE graft.c.fnoop (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('primary-key'='k', 'bucket'='1', " +
        "'merge-engine'='aggregation')")
      spark.sql("INSERT INTO graft.c.fnoop VALUES (1, 10)")
      val dir = warehouse.resolve("c.db/fnoop")
      val sm = new graft.format.SnapshotManager(dir)
      // a writer plans under schema 0 while a noop ALTER lands (bumps
      // the schema id; allowed despite committed history precisely
      // because the guard deems it a no-op)
      spark.sql("ALTER TABLE graft.c.fnoop SET TBLPROPERTIES " +
        "('fields.v.aggregate-function'='last_non_null_value')")
      assert(graft.core.TableSchema.listIds(dir) == Seq(0L, 1L))
      // the stale writer's commit sails through — net rules unchanged
      val snap = graft.format.FileStoreCommit.commit(sm, schemaId = 0L,
        partitionKeys = Seq.empty,
        newFiles = Seq(graft.format.DataFileMeta("bucket-0/n.parquet",
          10L, 1L, Seq.empty, 0, 100L, 100L, Map.empty)),
        mode = graft.format.FileStoreCommit.NoOverwrite)
      assert(snap.commitKind == "APPEND")
      // and rollback to a PRE-noop-SET snapshot stays allowed — the
      // rollback fence does the same net-rule comparison, so a config
      // push can no longer permanently wall off earlier history
      val preSetSnap = 1L // the INSERT's snapshot, planned at schema 0
      graft.format.Maintenance.rollbackTo(dir, preSetSnap,
        graft.format.FileIO.resolve("local"))
      assert(spark.sql("SELECT v FROM graft.c.fnoop WHERE k = 1")
        .collect()(0).getLong(0) == 10L)
      // UNSET of the explicitly-stored default is the symmetric noop
      // and fences nobody either
      spark.sql("ALTER TABLE graft.c.fnoop UNSET TBLPROPERTIES " +
        "('fields.v.aggregate-function')")
      val ok = graft.format.FileStoreCommit.commit(sm, schemaId = 0L,
        partitionKeys = Seq.empty,
        newFiles = Seq(graft.format.DataFileMeta("bucket-0/n2.parquet",
          10L, 1L, Seq.empty, 0, 101L, 101L, Map.empty)),
        mode = graft.format.FileStoreCommit.NoOverwrite)
      assert(ok.commitKind == "APPEND")
      // sequence-group member lists are SETS: a respelling in different
      // order/spacing persists the new spelling (schema bump) but must
      // not fence a stale writer either
      spark.sql("CREATE TABLE graft.c.fnoop2 (k BIGINT, g BIGINT, " +
        "a BIGINT, b BIGINT) TBLPROPERTIES ('primary-key'='k', " +
        "'bucket'='1', 'merge-engine'='partial-update', " +
        "'fields.g.sequence-group'='a,b')")
      spark.sql("INSERT INTO graft.c.fnoop2 VALUES (1, 1, 1, 1)")
      val dir2 = warehouse.resolve("c.db/fnoop2")
      spark.sql("ALTER TABLE graft.c.fnoop2 SET TBLPROPERTIES " +
        "('fields.g.sequence-group'='b, a')")
      assert(graft.core.TableSchema.listIds(dir2) == Seq(0L, 1L))
      val sm2 = new graft.format.SnapshotManager(dir2)
      val ok2 = graft.format.FileStoreCommit.commit(sm2, schemaId = 0L,
        partitionKeys = Seq.empty,
        newFiles = Seq(graft.format.DataFileMeta("bucket-0/n3.parquet",
          10L, 1L, Seq.empty, 0, 100L, 100L, Map.empty)),
        mode = graft.format.FileStoreCommit.NoOverwrite)
      assert(ok2.commitKind == "APPEND")
    } finally spark.stop()
  }

  test("merge-rule ALTER fence: a commit racing the schema save aborts the ALTER") {
    // the reverse interleaving: the writer's fence check passed BEFORE
    // the ALTER saved its schema, and its snapshot publishes first. The
    // ALTER's marker-publish revalidation must then see the new rows,
    // delete the saved schema, and fail — old-fold data stays valid.
    val warehouse = Files.createTempDirectory("graft-fence2-wh")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse.toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      spark.sql("CREATE NAMESPACE graft.c")
      spark.sql("CREATE TABLE graft.c.fence2 (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('primary-key'='k', 'bucket'='1', " +
        "'merge-engine'='aggregation')")
      val dir = warehouse.resolve("c.db/fence2")
      val sm = new graft.format.SnapshotManager(dir)
      // hook between schema save and marker publish: a racing commit
      // (fence check already passed at schema 0) publishes its snapshot
      // directly — exactly what a writer that won the snapshot-id race
      // looks like to the ALTER
      graft.connector.GraftCatalog.alterFenceTestHook = () => {
        val meta = graft.format.DataFileMeta("bucket-0/r.parquet", 10L,
          2L, Seq.empty, 0, 0L, 1L, Map.empty)
        val mf = sm.writeManifest(
          Seq(graft.format.ManifestEntry("ADD", meta)))
        assert(sm.tryCommitSnapshot(graft.format.Snapshot(1L, 0L,
          "APPEND", timeMillis = 1L, manifests = Seq(mf),
          lastSequenceNumber = 1L, totalRecordCount = 2L)))
      }
      try {
        val e = intercept[Exception] {
          spark.sql("ALTER TABLE graft.c.fence2 SET TBLPROPERTIES " +
            "('fields.v.aggregate-function'='sum')")
        }
        assert(e.getMessage.contains("committed history"),
          s"unexpected: ${e.getMessage}")
      } finally graft.connector.GraftCatalog.alterFenceTestHook = () => ()
      // the ALTER rolled back by COUNTER-SCHEMA (schema files are
      // immutable — deletion would dangle any in-flight writer that
      // loaded the retracted id): lineage gained the retracted schema 1
      // AND the restoring schema 2, the effective options carry no
      // fold, the racer's data survives, and the counter's own marker
      // is the chain head so late retracted-schema writers re-read the
      // lineage and reject
      assert(graft.core.TableSchema.listIds(dir) == Seq(0L, 1L, 2L))
      val eff = graft.core.TableSchema.load(dir).get
      assert(eff.id == 2L &&
        !eff.options.contains("fields.v.aggregate-function"))
      assert(sm.latestSnapshot.exists(s =>
        s.commitKind == "SCHEMA" && s.schemaId == 2L &&
          s.totalRecordCount == 2L))
      // a writer that loaded the RETRACTED schema 1 is fenced by the
      // counter-schema's lineage diff
      val e2 = intercept[IllegalStateException] {
        graft.format.FileStoreCommit.commit(sm, schemaId = 1L,
          partitionKeys = Seq.empty,
          newFiles = Seq(graft.format.DataFileMeta("bucket-0/w2.parquet",
            10L, 1L, Seq.empty, 0, 2L, 2L, Map.empty)),
          mode = graft.format.FileStoreCommit.NoOverwrite)
      }
      assert(e2.getMessage.contains("Commit fenced"))
      // ...but a long-running writer still planned under the ORIGINAL
      // schema 0 commits fine: the fence compares NET rules (schema 0
      // vs the counter schema 2 — identical), so the aborted ALTER's
      // retracted+counter pair in the lineage fences nobody whose
      // rules didn't actually change
      val ok = graft.format.FileStoreCommit.commit(sm, schemaId = 0L,
        partitionKeys = Seq.empty,
        newFiles = Seq(graft.format.DataFileMeta("bucket-0/w0.parquet",
          10L, 1L, Seq.empty, 0, 3L, 3L, Map.empty)),
        mode = graft.format.FileStoreCommit.NoOverwrite)
      assert(ok.commitKind == "APPEND")
    } finally spark.stop()
  }

  test("merge-rule ALTER fence: racers judged by the schema they wrote under") {
    // A commit racing the marker publish that already carries the NEW
    // schema id is a writer that loaded the saved schema — no conflict,
    // the ALTER must succeed (and must NOT delete a schema that commit
    // references). If an old-schema commit slipped in TOO, the ALTER
    // fails but the schema stays, because rolling it back would dangle
    // the new-schema snapshot's evolution mapping.
    val warehouse = Files.createTempDirectory("graft-fence4-wh")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse.toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      spark.sql("CREATE NAMESPACE graft.c")
      def snapOf(sm: graft.format.SnapshotManager, id: Long, schemaId: Long,
          tag: String): graft.format.Snapshot = {
        val meta = graft.format.DataFileMeta(s"bucket-0/$tag.parquet", 10L,
          2L, Seq.empty, 0, 0L, 1L, Map.empty)
        val mf = sm.writeManifest(
          Seq(graft.format.ManifestEntry("ADD", meta)))
        graft.format.Snapshot(id, schemaId, "APPEND", timeMillis = 1L,
          manifests = Seq(mf), lastSequenceNumber = 1L,
          totalRecordCount = 2L)
      }

      // case 1: new-schema racer only -> ALTER succeeds
      spark.sql("CREATE TABLE graft.c.fence4 (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('primary-key'='k', 'bucket'='1', " +
        "'merge-engine'='aggregation')")
      val dir4 = warehouse.resolve("c.db/fence4")
      val sm4 = new graft.format.SnapshotManager(dir4)
      graft.connector.GraftCatalog.alterFenceTestHook =
        () => assert(sm4.tryCommitSnapshot(snapOf(sm4, 1L, 1L, "new")))
      try spark.sql("ALTER TABLE graft.c.fence4 SET TBLPROPERTIES " +
        "('fields.v.aggregate-function'='sum')")
      finally graft.connector.GraftCatalog.alterFenceTestHook = () => ()
      assert(graft.core.TableSchema.listIds(dir4) == Seq(0L, 1L))
      assert(graft.core.TableSchema.load(dir4).get.options
        .get("fields.v.aggregate-function").contains("sum"))
      // the marker landed ON TOP of the racer
      assert(sm4.latestSnapshot.exists(s =>
        s.id == 2L && s.commitKind == "SCHEMA" && s.schemaId == 1L))

      // case 2: both an old-schema and a new-schema racer -> ALTER
      // fails but the referenced schema stays
      spark.sql("CREATE TABLE graft.c.fence5 (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('primary-key'='k', 'bucket'='1', " +
        "'merge-engine'='aggregation')")
      val dir5 = warehouse.resolve("c.db/fence5")
      val sm5 = new graft.format.SnapshotManager(dir5)
      graft.connector.GraftCatalog.alterFenceTestHook = () => {
        assert(sm5.tryCommitSnapshot(snapOf(sm5, 1L, 0L, "old")))
        assert(sm5.tryCommitSnapshot(snapOf(sm5, 2L, 1L, "new")))
      }
      try {
        val e = intercept[Exception] {
          spark.sql("ALTER TABLE graft.c.fence5 SET TBLPROPERTIES " +
            "('fields.v.aggregate-function'='sum')")
        }
        assert(e.getMessage.contains("already wrote under the retracted " +
          "rules"), s"unexpected: ${e.getMessage}")
      } finally graft.connector.GraftCatalog.alterFenceTestHook = () => ()
      // the retracted schema 1 SURVIVES (the new-schema racer's
      // snapshot references it) and the counter-schema 2 restores the
      // original rules
      assert(graft.core.TableSchema.listIds(dir5) == Seq(0L, 1L, 2L))
      assert(!graft.core.TableSchema.load(dir5).get.options
        .contains("fields.v.aggregate-function"))
    } finally spark.stop()
  }

  test("concurrent DDLs computing the same schema id: loser fails loudly") {
    // TableSchema.save is create-exclusive: two ALTERs that loaded the
    // same base schema both compute id N+1 — a replacing save would
    // let the loser silently overwrite the winner's contents while
    // both report success
    val warehouse = Files.createTempDirectory("graft-ddl-wh")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse.toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      spark.sql("CREATE NAMESPACE graft.c")
      spark.sql("CREATE TABLE graft.c.ddl (k BIGINT, v BIGINT)")
      val dir = warehouse.resolve("c.db/ddl")
      // both "ALTERs" loaded schema 0 and computed id 1; the second
      // save must fail loudly, not replace the winner's contents
      val ts = graft.core.TableSchema.load(dir).get
      graft.core.TableSchema.save(dir,
        ts.copy(id = 1L, comment = Some("winner")))
      val e = intercept[IllegalStateException] {
        graft.core.TableSchema.save(dir,
          ts.copy(id = 1L, comment = Some("loser")))
      }
      assert(e.getMessage.contains("concurrent DDL"),
        s"unexpected: ${e.getMessage}")
      val after = graft.core.TableSchema.load(dir).get
      assert(after.id == 1L && after.comment.contains("winner"))
      // and the public ALTER path simply builds on the winner (id 2)
      spark.sql("ALTER TABLE graft.c.ddl ADD COLUMN w BIGINT")
      assert(graft.core.TableSchema.load(dir).get.id == 2L)
    } finally spark.stop()
  }

  test("merge-rule ALTER vs concurrent commits: exactly one side wins") {
    // free-running race, many rounds: an honest writer (planned at
    // schema 0) and a fold ALTER start together; the fence must let
    // exactly one through in every interleaving
    val warehouse = Files.createTempDirectory("graft-fence3-wh")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse.toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      spark.sql("CREATE NAMESPACE graft.c")
      val rnd = new scala.util.Random(42)
      (0 until 8).foreach { i =>
        spark.sql(s"CREATE TABLE graft.c.race$i (k BIGINT, v BIGINT) " +
          "TBLPROPERTIES ('primary-key'='k', 'bucket'='1', " +
          "'merge-engine'='aggregation')")
        val dir = warehouse.resolve(s"c.db/race$i")
        val sm = new graft.format.SnapshotManager(dir)
        val aJitter = rnd.nextInt(4)
        val bJitter = rnd.nextInt(4)
        val alter = Future {
          Thread.sleep(aJitter)
          try {
            spark.sql(s"ALTER TABLE graft.c.race$i SET TBLPROPERTIES " +
              "('fields.v.aggregate-function'='sum')")
            true
          } catch { case _: Exception => false }
        }
        val commit = Future {
          Thread.sleep(bJitter)
          try {
            graft.format.FileStoreCommit.commit(sm, schemaId = 0L,
              partitionKeys = Seq.empty,
              newFiles = Seq(graft.format.DataFileMeta(
                "bucket-0/c.parquet", 10L, 2L, Seq.empty, 0, 0L, 1L,
                Map.empty)),
              mode = graft.format.FileStoreCommit.NoOverwrite)
            true
          } catch { case _: IllegalStateException => false }
        }
        val (alterOk, commitOk) = Await.result(
          alter.zip(commit), 60.seconds)
        assert(alterOk != commitOk,
          s"round $i: alterOk=$alterOk commitOk=$commitOk (must be " +
            "exactly one)")
        // loser left no trace: fold configured iff the ALTER won
        val folded = graft.core.TableSchema.load(dir).get.options
          .contains("fields.v.aggregate-function")
        assert(folded == alterOk)
        // data present iff the commit won
        val rows = sm.latestSnapshot.map(_.totalRecordCount).getOrElse(0L)
        assert((rows == 2L) == commitOk)
      }
    } finally spark.stop()
  }

  test("consumer progress races are bounded and self-healing") {
    // Consumers.record is read-then-writeAtomic LWW with a driver-side
    // max — deliberately NOT serialized per id (decision note in
    // Consumers.scala). This pins the invariants the documented bound
    // rests on under a real writer race: the file never tears (every
    // interleaving leaves parseable JSON), the final offset is one
    // some writer actually computed (never fabricated, never below the
    // floor a lone writer would leave), and a single live heartbeat
    // afterwards restores the global max — the "at most one heartbeat
    // of over-retention" claim.
    val tableDir = Files.createTempDirectory("graft-consumer-race")
    val io = graft.format.FileIO.resolve("local")
    import graft.format.Consumers
    val nThreads = 8
    val perThread = 50
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    try {
      val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
      val fs = (0 until nThreads).map { t =>
        Future {
          // each incarnation advances its own monotone schedule; the
          // interleaving of 8 incarnations is the zombie scenario
          (1 to perThread).foreach { i =>
            Consumers.record(tableDir, io, "pipe",
              (i * nThreads + t).toLong)
          }
        }(ec)
      }
      Await.result(Future.sequence(fs), 60.seconds)
      val afterRace = Consumers.get(tableDir, io, "pipe")
      val globalMax = (perThread * nThreads + nThreads - 1).toLong
      // parseable, present, within the written domain, and at least
      // the FINAL offset of some thread's schedule: each thread's own
      // writes are sequential, so the chronologically last write is
      // some thread's i=perThread value (>= perThread*nThreads), and
      // record's max() can only raise it — a rewind past one race
      // width would mean the monotonic guard broke
      assert(afterRace.exists(c =>
        c.nextSnapshot >= (perThread * nThreads).toLong &&
          c.nextSnapshot <= globalMax),
        s"torn, out-of-domain, or rewound consumer state: $afterRace")
      // one live heartbeat re-advances to the true max — over-retention
      // lasted at most until this write
      assert(Consumers.record(tableDir, io, "pipe", globalMax)
        .nextSnapshot == globalMax)
      assert(Consumers.get(tableDir, io, "pipe")
        .exists(_.nextSnapshot == globalMax))
      // and the monotonic guard still holds after the storm: an old
      // zombie offset refreshes the heartbeat but cannot rewind
      assert(Consumers.record(tableDir, io, "pipe", 1L)
        .nextSnapshot == globalMax)
    } finally pool.shutdownNow()
  }
}
