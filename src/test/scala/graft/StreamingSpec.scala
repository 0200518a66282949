package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** Structured Streaming over the snapshot chain: each commit becomes a
  * micro-batch; OVERWRITE snapshots are skipped; windowed/stateful
  * processing composes on top.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var warehouse: java.nio.file.Path = _

  lazy val spark: SparkSession = {
    warehouse = Files.createTempDirectory("graft-stream-wh")
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

  test("incremental micro-batches follow commits; overwrite skipped") {
    spark.sql("CREATE TABLE graft.default.s_ev (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.default.s_ev VALUES (1,'a'), (2,'b')")

    val q = spark.readStream
      .table("graft.default.s_ev")
      .writeStream
      .format("memory")
      .queryName("s_ev_sink")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.sql("SELECT count(*) FROM s_ev_sink").collect()(0).getLong(0) == 2)

    // commit 2 arrives as a new batch on restart from checkpoint-free sink
    spark.sql("INSERT INTO graft.default.s_ev VALUES (3,'c')")
    val q2 = spark.readStream
      .table("graft.default.s_ev")
      .writeStream
      .format("memory")
      .queryName("s_ev_sink2")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination(60000)
    assert(spark.sql("SELECT count(*) FROM s_ev_sink2").collect()(0).getLong(0) == 3)

    // an OVERWRITE snapshot streams nothing; a later append still does
    spark.sql("INSERT OVERWRITE graft.default.s_ev VALUES (9,'z')")
    spark.sql("INSERT INTO graft.default.s_ev VALUES (10,'p')")
    val q3 = spark.readStream
      .table("graft.default.s_ev")
      .writeStream
      .format("memory")
      .queryName("s_ev_sink3")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q3.awaitTermination(60000)
    assert(spark.sql("SELECT id FROM s_ev_sink3 ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 10L))
  }

  test("flatMapGroupsWithState sessionization closes sessions across commits") {
    spark.sql("CREATE TABLE graft.default.s_sess (ts TIMESTAMP, user_id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.default.s_sess VALUES " +
      "(TIMESTAMP'2024-01-01 00:00:00', 1, 10), " +
      "(TIMESTAMP'2024-01-01 00:03:00', 1, 5), " +
      "(TIMESTAMP'2024-01-01 00:00:00', 2, 7)")
    val ckpt = Files.createTempDirectory("graft-sess-ckpt")
    val sink = Files.createTempDirectory("graft-sess-sink")
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def run(): Unit = {
      val in = spark.readStream.table("graft.default.s_sess")
        .withWatermark("ts", "1 minute")
        .select(col("user_id"), col("ts"), col("v").as("weight"))
        .as[graft.streaming.Sessionize.Ev]
      val q = graft.streaming.Sessionize.sessions(in, gapSeconds = 600)
        .writeStream.format("parquet").option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    run() // batch 1: both sessions still open -> nothing emitted
    assert(spark.read.parquet(sink.toString).count() == 0)

    // commit 2: events an hour later close both open sessions
    spark.sql("INSERT INTO graft.default.s_sess VALUES " +
      "(TIMESTAMP'2024-01-01 01:00:00', 1, 1), " +
      "(TIMESTAMP'2024-01-01 01:00:00', 2, 2)")
    run()
    val got = spark.read.parquet(sink.toString)
      .orderBy("user_id", "session_start").collect()
    assert(got.length == 2, got.mkString(";"))
    assert(got(0).getLong(0) == 1 && got(0).getLong(3) == 2 &&
      got(0).getLong(4) == 15, got(0).toString) // user 1: 2 events, 10+5
    assert(got(1).getLong(0) == 2 && got(1).getLong(3) == 1 &&
      got(1).getLong(4) == 7, got(1).toString) // user 2: single event
    assert(got(0).getTimestamp(1).toString.startsWith("2024-01-01 00:00") &&
      got(0).getTimestamp(2).toString.startsWith("2024-01-01 00:03"))
  }

  test("sessionization: late in-gap events extend session_start backward") {
    spark.sql("CREATE TABLE graft.default.s_sess_late " +
      "(ts TIMESTAMP, user_id BIGINT, v BIGINT)")
    // batch 1 opens a session at 00:10
    spark.sql("INSERT INTO graft.default.s_sess_late VALUES " +
      "(TIMESTAMP'2024-01-01 00:10:00', 1, 10)")
    val ckpt = Files.createTempDirectory("graft-sess-late-ckpt")
    val sink = Files.createTempDirectory("graft-sess-late-sink")
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def run(): Unit = {
      val in = spark.readStream.table("graft.default.s_sess_late")
        .withWatermark("ts", "2 hours") // late events stay in scope
        .select(col("user_id"), col("ts"), col("v").as("weight"))
        .as[graft.streaming.Sessionize.Ev]
      val q = graft.streaming.Sessionize.sessions(in, gapSeconds = 600)
        .writeStream.format("parquet").option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    run()
    // batch 2: a LATE event at 00:05 (within gap of the open session's
    // 00:10 start) must merge AND pull session_start back — the batch
    // gap rule would put both in one session starting 00:05
    spark.sql("INSERT INTO graft.default.s_sess_late VALUES " +
      "(TIMESTAMP'2024-01-01 00:05:00', 1, 3)")
    run()
    // batch 3: an event far later closes the session
    spark.sql("INSERT INTO graft.default.s_sess_late VALUES " +
      "(TIMESTAMP'2024-01-01 03:00:00', 1, 1)")
    run()
    val got = spark.read.parquet(sink.toString)
      .orderBy("session_start").collect()
    assert(got.nonEmpty, "no session closed")
    val first = got(0)
    assert(first.getTimestamp(1).toString.startsWith("2024-01-01 00:05"),
      s"late in-gap event must extend the start: $first")
    assert(first.getLong(3) == 2 && first.getLong(4) == 13, first.toString)
  }

  test("sessionization: consecutive too-late events merge into ONE " +
      "late session") {
    // two events an hour older than the open session's start, 5s
    // apart: the batch gap rule would fold them into one session —
    // per-event singletons would misreport n_events/sum_weight
    spark.sql("CREATE TABLE graft.default.s_sess_late2 " +
      "(ts TIMESTAMP, user_id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.default.s_sess_late2 VALUES " +
      "(TIMESTAMP'2024-01-01 01:00:00', 1, 10)")
    val ckpt = Files.createTempDirectory("graft-sess-late2-ckpt")
    val sink = Files.createTempDirectory("graft-sess-late2-sink")
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def run(): Unit = {
      val in = spark.readStream.table("graft.default.s_sess_late2")
        .withWatermark("ts", "4 hours")
        .select(col("user_id"), col("ts"), col("v").as("weight"))
        .as[graft.streaming.Sessionize.Ev]
      val q = graft.streaming.Sessionize.sessions(in, gapSeconds = 600)
        .writeStream.format("parquet").option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    run() // opens the 01:00 session
    spark.sql("INSERT INTO graft.default.s_sess_late2 VALUES " +
      "(TIMESTAMP'2024-01-01 00:00:00', 1, 3), " +
      "(TIMESTAMP'2024-01-01 00:00:05', 1, 4)")
    run() // both too late to merge with 01:00 — ONE late session
    val late = spark.read.parquet(sink.toString)
      .orderBy("session_start").collect()
    assert(late.length == 1, s"expected one merged late session: " +
      late.mkString(";"))
    assert(late(0).getLong(3) == 2 && late(0).getLong(4) == 7,
      late(0).toString)
    assert(late(0).getTimestamp(1).toString.startsWith("2024-01-01 00:00:00") &&
      late(0).getTimestamp(2).toString.startsWith("2024-01-01 00:00:05"))
  }

  test("sessionization: a below-watermark event is dropped, never a crash") {
    // Pins the operator semantics Sessionize's timeout clamp documents:
    // Spark 4.1's FlatMapGroupsWithStateExec drops input rows BELOW the
    // event-time watermark before the function runs (they neither crash
    // the query via a below-watermark setTimeoutTimestamp — an
    // IllegalArgumentException that kills the stream — nor resurrect
    // closed sessions). Batch 1 advances the watermark ~10 hours past
    // key 1's territory; batch 2 delivers key 1 an event 9 hours below
    // the watermark.
    spark.sql("CREATE TABLE graft.default.s_sess_wmcl " +
      "(ts TIMESTAMP, user_id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.default.s_sess_wmcl VALUES " +
      "(TIMESTAMP'2024-01-01 00:00:00', 1, 1), " +
      "(TIMESTAMP'2024-01-01 10:00:00', 2, 1)")
    val ckpt = Files.createTempDirectory("graft-sess-wmcl-ckpt")
    val sink = Files.createTempDirectory("graft-sess-wmcl-sink")
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def run(): Unit = {
      val in = spark.readStream.table("graft.default.s_sess_wmcl")
        .withWatermark("ts", "10 minutes")
        .select(col("user_id"), col("ts"), col("v").as("weight"))
        .as[graft.streaming.Sessionize.Ev]
      val q = graft.streaming.Sessionize.sessions(in, gapSeconds = 600)
        .writeStream.format("parquet").option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      // a swallowed stream exception would make this a false pass
      assert(q.exception.isEmpty, s"query failed: ${q.exception}")
    }
    run() // watermark now ~09:50; key 1's 00:00 session times out
    spark.sql("INSERT INTO graft.default.s_sess_wmcl VALUES " +
      "(TIMESTAMP'2024-01-01 01:00:00', 1, 5)")
    run() // 9h-late event: dropped by the operator, query stays healthy
    spark.sql("INSERT INTO graft.default.s_sess_wmcl VALUES " +
      "(TIMESTAMP'2024-01-01 11:00:00', 2, 1)")
    run() // watermark advances again; no zombie state fires
    val k1 = spark.read.parquet(sink.toString)
      .filter(col("user_id") === 1).collect()
    // exactly the original session closed; the dropped event created
    // no session and resurrected none
    assert(k1.length == 1 && k1(0).getLong(3) == 1 &&
      k1(0).getLong(4) == 1, s"unexpected k1 sessions: ${k1.mkString(";")}")
  }

  test("QuotaCap carries the budget across commits and admits a prefix") {
    spark.sql("CREATE TABLE graft.default.s_quota (k STRING, id BIGINT, w BIGINT)")
    spark.sql("INSERT INTO graft.default.s_quota VALUES " +
      "('a', 1, 4), ('a', 2, 3), ('b', 1, 10)")
    val ckpt = Files.createTempDirectory("graft-quota-ckpt")
    val sink = Files.createTempDirectory("graft-quota-sink")
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def run(): Unit = {
      val in = spark.readStream.table("graft.default.s_quota")
        .select(col("k").as("key"), col("id"), col("w").as("weight"))
        .as[graft.streaming.QuotaCap.In]
      val q = graft.streaming.QuotaCap.cap(in, budget = 10L)
        .writeStream.format("parquet").option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    run() // batch 1: a has 7/10 used, b exactly fills its 10
    // commit 2: a's id 3 (w=3) fits exactly; id 4 overflows; b is full
    spark.sql("INSERT INTO graft.default.s_quota VALUES " +
      "('a', 3, 3), ('a', 4, 1), ('b', 2, 1)")
    run()
    val got = spark.read.parquet(sink.toString)
      .orderBy("key", "id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // prefix rule: a admits 1,2 (batch 1) then 3 (cum=10); a:4 pushes
    // cum to 11 and b:2 to 11 -> both dropped, even though w=1 "fits"
    assert(got.toSeq == Seq(("a", 1L, 4L), ("a", 2L, 3L), ("a", 3L, 3L),
      ("b", 1L, 10L)), got.mkString(";"))
  }

  test("stream-stream interval join of two graft streams") {
    spark.sql("CREATE TABLE graft.default.ss_click (cts TIMESTAMP, user_id BIGINT)")
    spark.sql("CREATE TABLE graft.default.ss_buy (bts TIMESTAMP, user_id BIGINT)")
    spark.sql("INSERT INTO graft.default.ss_click VALUES " +
      "(TIMESTAMP'2024-01-01 00:00:00', 1), (TIMESTAMP'2024-01-01 00:00:00', 2)")
    spark.sql("INSERT INTO graft.default.ss_buy VALUES " +
      "(TIMESTAMP'2024-01-01 00:30:00', 1), " + // within 1h of click -> match
      "(TIMESTAMP'2024-01-01 00:45:00', 1), " + // second match
      "(TIMESTAMP'2024-01-01 02:00:00', 2)")    // outside the hour -> no match
    import org.apache.spark.sql.functions.expr
    val clicks = spark.readStream.table("graft.default.ss_click")
      .withWatermark("cts", "10 minutes")
    val buys = spark.readStream.table("graft.default.ss_buy")
      .withWatermark("bts", "10 minutes")
    // both sides watermarked + the time-range bound makes the join
    // state PRUNABLE: a click older than watermark - 1h can never match
    // a future buy and is evicted (bounded state on unbounded streams)
    val joined = clicks.join(buys,
      expr("""ss_click.user_id = ss_buy.user_id AND
        bts BETWEEN cts AND cts + INTERVAL 1 HOUR"""))
      .selectExpr("ss_click.user_id AS user_id", "cts", "bts")
    val q = joined.writeStream.format("memory").queryName("ss_join_sink")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql(
      "SELECT user_id FROM ss_join_sink ORDER BY user_id, bts").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 1L),
      s"expected user 1 twice, got ${got.mkString(",")}")
  }

  test("streaming aggregation with watermark over a graft table") {
    spark.sql("CREATE TABLE graft.default.s_ts (ts TIMESTAMP, user_id BIGINT, value DOUBLE)")
    spark.sql("INSERT INTO graft.default.s_ts VALUES " +
      "(TIMESTAMP'2024-01-01 00:01:00', 1, 10.0), " +
      "(TIMESTAMP'2024-01-01 00:02:00', 1, 5.0), " +
      "(TIMESTAMP'2024-01-01 00:12:00', 2, 7.0)")
    import org.apache.spark.sql.functions._
    val agg = spark.readStream.table("graft.default.s_ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("user_id"))
      .agg(sum("value").as("total"))
    val q = agg.writeStream.format("memory").queryName("s_ts_sink")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql(
      "SELECT user_id, total FROM s_ts_sink ORDER BY user_id").collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 15.0), (2L, 7.0)))
  }

  test("watermarked dedup evicts state once the watermark passes") {
    // the 100 TB dedup-at-ingest shape: dropDuplicatesWithinWatermark
    // bounds state by the lateness window instead of the key space.
    // Two commits → two AvailableNow micro-batches; commit 1 spans 3h
    // of event time, commit 2 arrives 3h later — with a 10-minute
    // delay, batch 2 must evict (nearly all of) batch 1's key state.
    spark.sql("CREATE TABLE graft.default.s_wmd (ts TIMESTAMP, user_id BIGINT)")
    spark.sql("INSERT INTO graft.default.s_wmd " +
      "SELECT TIMESTAMP'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*36), " +
      " id % 100 FROM range(300)") // 300 events over 3h, 100 keys
    spark.sql("INSERT INTO graft.default.s_wmd " +
      "SELECT TIMESTAMP'2024-01-01 06:00:00' + make_interval(0,0,0,0,0,0,id*36), " +
      " 1000 + id % 10 FROM range(100)") // 10 fresh keys, 3h later
    val q = spark.readStream.table("graft.default.s_wmd")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id")
      .writeStream.format("memory").queryName("s_wmd_sink")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // every first-seen key row was emitted...
    assert(spark.sql("SELECT count(DISTINCT user_id) FROM s_wmd_sink")
      .collect()(0).getLong(0) == 110)
    // ...but the final state holds only keys the watermark hasn't
    // passed — batch 1's 100 keys are gone, not retained forever
    val finalState = q.recentProgress.lastOption
      .filter(_.stateOperators.nonEmpty)
      .orElse(q.recentProgress.reverse.find(_.stateOperators.nonEmpty))
      .map(_.stateOperators(0).numRowsTotal)
    assert(finalState.exists(_ <= 20L),
      s"state must be bounded by the lateness window, got $finalState " +
        s"(progress: ${q.recentProgress.map(_.stateOperators.mkString).mkString("; ")})")
    spark.sql("DROP TABLE IF EXISTS s_wmd_sink")
  }

  test("exact dedup keeps one state row per key forever (documented bound)") {
    // the contract c_stream_dedup ships under: plain dropDuplicates
    // state is O(distinct keys) and NEVER evicts — correct only when
    // the key space is value-bounded (an enum × a bounded id domain).
    // This pins the growth behavior so the bound stays a documented
    // fact, not an assumption: state equals the distinct-key count
    // after each drain, including across a second commit that adds
    // keys. Corpus-scale key spaces must use the watermarked shape
    // (previous test) instead.
    spark.sql("CREATE TABLE graft.default.s_xd (et STRING, user_id BIGINT)")
    spark.sql("INSERT INTO graft.default.s_xd " +
      "SELECT concat('t', id % 3), id % 40 FROM range(200)")
    def drain(): Long = {
      // parquet sink: memory sinks cannot resume from a checkpoint,
      // and the second drain must continue the FIRST run's state
      val q = spark.readStream.table("graft.default.s_xd")
        .dropDuplicates("et", "user_id")
        .writeStream.format("parquet")
        .option("path", warehouse.resolve("s_xd_out").toString)
        .option("checkpointLocation",
          warehouse.resolve("s_xd_chk").toString)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
        .map(_.stateOperators(0).numRowsTotal).getOrElse(-1L)
    }
    // 3 types × 40 users = 120 distinct keys, all retained as state
    assert(drain() == 120L)
    // a second commit with 10 fresh keys: state GROWS to 130 — nothing
    // from the first drain was evicted (the no-watermark contract)
    spark.sql("INSERT INTO graft.default.s_xd " +
      "SELECT 't0', 1000 + id FROM range(10)")
    assert(drain() == 130L)
  }

  test("$changelog view streams the input changelog (kind + sequence)") {
    spark.sql("CREATE TABLE graft.default.s_cl (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='1')")
    spark.sql("INSERT INTO graft.default.s_cl VALUES (1,'a')")
    spark.sql("INSERT INTO graft.default.s_cl VALUES (1,'b')")
    val q = spark.readStream.table("graft.default.`s_cl$changelog`")
      .writeStream.format("memory").queryName("s_cl_sink")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql(
      "SELECT k, v, _row_kind, _sequence_number FROM s_cl_sink ORDER BY _sequence_number")
      .collect()
    assert(rows.length == 2)
    assert(rows.map(_.getString(1)).toSeq == Seq("a", "b"))
    assert(rows.forall(_.getInt(2) == 0)) // both inserts (+I)
    assert(rows(0).getLong(3) < rows(1).getLong(3))
    // batch read of the same view; merged table shows only the winner
    assert(spark.sql("SELECT count(*) FROM graft.default.`s_cl$changelog`")
      .collect()(0).getLong(0) == 2)
    assert(spark.table("graft.default.s_cl").count() == 1)
    // writes rejected
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft.default.`s_cl$changelog` VALUES (9,'z',0,0)")
    }
    assert(e.getMessage.contains("changelog"))
  }

  test("retraction changelog synthesizes -U/+U/-D against prior state") {
    spark.sql("CREATE TABLE graft.default.s_ret (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='1')")
    spark.sql("INSERT INTO graft.default.s_ret VALUES (1,'a'), (2,'b')")
    spark.sql("INSERT INTO graft.default.s_ret VALUES (1,'A'), (3,'c')")
    // merge-on-read DML: the DELETE appends a -D row in an ordinary
    // APPEND snapshot, so the retraction stream surfaces it (the old
    // copy-on-write path published an OVERWRITE snapshot the changelog
    // had to skip — deletes were invisible to streams)
    spark.sql("DELETE FROM graft.default.s_ret WHERE k = 2")
    spark.sql("INSERT INTO graft.default.s_ret VALUES (3,'C')")

    val q = spark.readStream
      .option("retractions", "true")
      .table("graft.default.`s_ret$changelog`")
      .writeStream.format("memory").queryName("s_ret_sink")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.sql(
      "SELECT k, v, _row_kind FROM s_ret_sink ORDER BY _sequence_number, _row_kind")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    // batch1: +I(1,a) +I(2,b); batch2: -U(1,a)+U(1,A), +I(3,c);
    // batch3: -D(2,b) from the merge-on-read DELETE;
    // batch4: -U(3,c)+U(3,C)
    assert(got.toSeq == Seq(
      (1L, "a", 0), (2L, "b", 0),
      (1L, "a", 1), (1L, "A", 2), (3L, "c", 0),
      (2L, "b", 3),
      (3L, "c", 1), (3L, "C", 2)))
  }

  test("MoR DML streams: UPDATE reads -U/+U, plain stream never sees " +
      "retraction rows") {
    spark.sql("CREATE TABLE graft.default.s_dml (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='1')")
    spark.sql("INSERT INTO graft.default.s_dml VALUES (1,'a'), (2,'b')")
    spark.sql("UPDATE graft.default.s_dml SET v = 'A' WHERE k = 1")
    spark.sql("DELETE FROM graft.default.s_dml WHERE k = 2")

    // retraction changelog: the UPDATE must read as a -U/+U pair (not
    // delete+insert), the DELETE as -D carrying the prior values
    val q = spark.readStream
      .option("retractions", "true")
      .table("graft.default.`s_dml$changelog`")
      .writeStream.format("memory").queryName("s_dml_cl")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val cl = spark.sql(
      "SELECT k, v, _row_kind FROM s_dml_cl ORDER BY _sequence_number, _row_kind")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(cl.toSeq == Seq(
      (1L, "a", 0), (2L, "b", 0),   // inserts
      (1L, "a", 1), (1L, "A", 2),   // UPDATE: -U(prev)/+U(new)
      (2L, "b", 3)),                // DELETE: -D with prior values
      cl.toSeq)

    // plain micro-batch stream: only add rows; no phantom (k, NULL)
    // rows from the -U/-D deltas
    val q2 = spark.readStream.table("graft.default.s_dml")
      .writeStream.format("memory").queryName("s_dml_raw")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    val raw = spark.sql("SELECT k, v FROM s_dml_raw ORDER BY k")
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(raw.forall(_._2.nonEmpty), s"phantom null-valued rows: ${raw.toSeq}")
    assert(raw.toSeq == Seq((1L, Some("a")), (1L, Some("A")), (2L, Some("b"))),
      raw.toSeq)
  }

  test("incremental batch read over a snapshot range") {
    spark.sql("CREATE TABLE graft.default.s_inc (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='1')")
    spark.sql("INSERT INTO graft.default.s_inc VALUES (1,'a')")        // snap 1
    spark.sql("INSERT INTO graft.default.s_inc VALUES (2,'b'), (1,'A')") // snap 2
    spark.sql("INSERT INTO graft.default.s_inc VALUES (3,'c')")        // snap 3

    val inc = spark.read
      .option("fromSnapshot", "1").option("toSnapshot", "2")
      .table("graft.default.`s_inc$changelog`")
      .orderBy("_sequence_number")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(inc.toSeq == Seq((2L, "b"), (1L, "A"))) // only snapshot 2's rows

    val tail = spark.read.option("fromSnapshot", "2")
      .table("graft.default.`s_inc$changelog`")
      .collect().map(_.getLong(0))
    assert(tail.toSeq == Seq(3L)) // open-ended: everything after snap 2

    val e = intercept[Exception] {
      spark.read.option("fromSnapshot", "1")
        .table("graft.default.s_inc").collect()
    }
    assert(e.getMessage.contains("changelog"))
  }

  test("incremental batch read over an expired range fails like the streams") {
    spark.sql("CREATE TABLE graft.default.s_inc_exp (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='1')")
    (1 to 3).foreach(i =>
      spark.sql(s"INSERT INTO graft.default.s_inc_exp VALUES ($i,'v$i')"))
    val expired = spark.sql(
      "CALL graft.sys.expire_snapshots('default.s_inc_exp', 1)")
      .collect()(0).getInt(0)
    assert(expired == 2, s"retaining 1 of 3 snapshots expires 2: $expired")
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // (1, 3] needs snapshot 2: the batch read must not silently return
    // snapshot 3's rows alone
    val e = intercept[Exception] {
      spark.read.option("fromSnapshot", "1")
        .table("graft.default.`s_inc_exp$changelog`").collect()
    }
    assert(messages(e).exists(_.contains(
      "Snapshot 2 needed by this read was expired from the table's retention")),
      s"expected a retention error, got: ${messages(e).mkString(" | ")}")
    // the retained suffix still reads
    val tail = spark.read.option("fromSnapshot", "2")
      .table("graft.default.`s_inc_exp$changelog`")
      .collect().map(_.getLong(0))
    assert(tail.toSeq == Seq(3L))
  }

  test("fromSnapshot=-1 streams only new commits (scan-from-latest)") {
    spark.sql("CREATE TABLE graft.default.s_latest (k BIGINT)")
    spark.sql("INSERT INTO graft.default.s_latest VALUES (1)")
    spark.sql("INSERT INTO graft.default.s_latest VALUES (2)")
    val ckpt = Files.createTempDirectory("graft-latest-ckpt")
    val sink = Files.createTempDirectory("graft-latest-sink")
    def run(): Long = {
      val q = spark.readStream.option("fromSnapshot", "-1")
        .table("graft.default.s_latest")
        .writeStream.format("parquet").option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      try spark.read.parquet(sink.toString).count()
      catch { case _: Exception => 0L }
    }
    assert(run() == 0L) // history NOT replayed
    spark.sql("INSERT INTO graft.default.s_latest VALUES (3)")
    assert(run() == 1L) // only the new commit
  }

  test("PK table streams raw upsert rows (no cross-batch merge)") {
    spark.sql("CREATE TABLE graft.default.s_pk (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='1')")
    spark.sql("INSERT INTO graft.default.s_pk VALUES (1,'x')")
    spark.sql("INSERT INTO graft.default.s_pk VALUES (1,'y')")
    val q = spark.readStream.table("graft.default.s_pk")
      .writeStream.format("memory").queryName("s_pk_sink")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // changelog view: both versions stream; batch view: merged single row
    assert(spark.sql("SELECT count(*) FROM s_pk_sink").collect()(0).getLong(0) == 2)
    assert(spark.table("graft.default.s_pk").count() == 1)
  }

  test("AvailableNow runs natively: no single-batch fallback warning") {
    // capture WARN output during an AvailableNow run; before the
    // sources implemented SupportsTriggerAvailableNow, Spark logged
    // "... does not support Trigger.AvailableNow. Falling back to
    // single batch execution" here
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.lang.StringBuilder
    val app = new AbstractAppender("graft-capture", null, null, false,
        Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        seen.synchronized { seen.append(e.getMessage.getFormattedMessage).append('\n') }
    }
    app.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(app, org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
    try {
      spark.sql("CREATE TABLE graft.default.s_nofb (id BIGINT)")
      spark.sql("INSERT INTO graft.default.s_nofb VALUES (1), (2)")
      val q = spark.readStream.table("graft.default.s_nofb")
        .writeStream.format("memory").queryName("s_nofb_sink")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      assert(spark.sql("SELECT count(*) FROM s_nofb_sink")
        .collect()(0).getLong(0) == 2)
    } finally {
      root.removeAppender("graft-capture")
      ctx.updateLoggers()
      app.stop()
    }
    assert(!seen.toString.contains("Falling back to single batch"),
      "source must support Trigger.AvailableNow natively")
  }

  test("AvailableNow pins the end offset: mid-stream commit excluded") {
    spark.sql("CREATE TABLE graft.default.s_pin (id BIGINT)")
    spark.sql("INSERT INTO graft.default.s_pin VALUES (1)")
    val tableDir = warehouse.resolve("default.db").resolve("s_pin")
    val schema = graft.core.TableSchema.load(tableDir).get
    import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow}
    val stream = new graft.connector.GraftMicroBatchStream(
      tableDir, schema, schema.fields)
    // both sources advertise the capability, so Spark does NOT log the
    // "Falling back to single batch execution" path for either
    assert(stream.isInstanceOf[SupportsTriggerAvailableNow])
    assert(new graft.connector.GraftChangelogStream(tableDir, schema,
      schema.fields).isInstanceOf[SupportsTriggerAvailableNow])

    stream.prepareForTriggerAvailableNow() // pin at snapshot 1
    spark.sql("INSERT INTO graft.default.s_pin VALUES (2)") // lands mid-stream
    val end = stream.latestOffset(stream.initialOffset(),
      ReadLimit.allAvailable()).asInstanceOf[graft.connector.GraftOffset]
    assert(end.snapshotId == 1L,
      s"pinned offset must exclude the mid-stream commit, got $end")
    // the excluded commit belongs to the NEXT trigger: a fresh stream
    // (new prepare call) sees both commits
    val stream2 = new graft.connector.GraftMicroBatchStream(
      tableDir, schema, schema.fields)
    stream2.prepareForTriggerAvailableNow()
    assert(stream2.latestOffset(stream2.initialOffset(),
      ReadLimit.allAvailable())
      .asInstanceOf[graft.connector.GraftOffset].snapshotId == 2L)
  }

  test("streaming WRITE: graft source -> transform -> graft PK sink") {
    // the full streaming pipeline over the format: commits on the
    // source become micro-batches, each epoch publishes one snapshot
    // on the sink through the shared commit recipe (clustered writes,
    // re-sequencing, trailing COMPACT)
    spark.sql("CREATE TABLE graft.default.sw_src (k BIGINT, v BIGINT)")
    spark.sql("CREATE TABLE graft.default.sw_dst (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('primary-key'='k', 'bucket'='2')")
    spark.sql("INSERT INTO graft.default.sw_src VALUES (1, 10), (2, 20)")
    spark.sql("INSERT INTO graft.default.sw_src VALUES (1, 11), (3, 30)")
    val ckpt = Files.createTempDirectory("graft-swck").toString
    def drain(): Unit = {
      val q = spark.readStream.table("graft.default.sw_src")
        .selectExpr("k", "v * 2 AS v")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable("graft.default.sw_dst")
      q.awaitTermination()
    }
    drain()
    // PK sink upserts: k=1 resolved to the LAST commit's value
    assert(spark.sql("SELECT k, v FROM graft.default.sw_dst ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 22L), (2L, 40L), (3L, 60L)))
    // resume from the checkpoint: only NEW source commits flow
    spark.sql("INSERT INTO graft.default.sw_src VALUES (2, 25)")
    drain()
    assert(spark.sql("SELECT v FROM graft.default.sw_dst WHERE k = 2")
      .collect()(0).getLong(0) == 50L)
    // epoch identities are recorded on the sink's snapshots
    val sm = new graft.format.SnapshotManager(
      warehouse.resolve("default.db/sw_dst"))
    val idents = sm.existingSnapshotIds.map(sm.snapshot)
      .flatMap(_.commitIdentifier)
    assert(idents.nonEmpty, "streaming commits must carry epoch identifiers")

    // an aggregation sink folds at ingest: one epoch per source commit
    // trips commit-triggered compaction, and the sums stay exact
    spark.sql("CREATE TABLE graft.default.sw_sum " +
      "(k BIGINT, total BIGINT, n BIGINT) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='1'," +
      "'merge-engine'='aggregation'," +
      "'fields.total.aggregate-function'='sum'," +
      "'fields.n.aggregate-function'='sum'," +
      "'compaction.trigger-file-count'='2')")
    spark.readStream.option("max-snapshots-per-trigger", "1")
      .table("graft.default.sw_src")
      .selectExpr("k", "v AS total", "CAST(1 AS BIGINT) AS n")
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-swsum").toString)
      .trigger(Trigger.AvailableNow())
      .toTable("graft.default.sw_sum")
      .awaitTermination()
    assert(spark.sql("SELECT k, total, n FROM graft.default.sw_sum ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 21L, 2L), (2L, 45L, 2L), (3L, 30L, 1L)))
    val sumSm = new graft.format.SnapshotManager(
      warehouse.resolve("default.db/sw_sum"))
    assert(sumSm.existingSnapshotIds.map(sumSm.snapshot(_).commitKind)
      .contains("COMPACT"))
  }

  test("streaming WRITE: a replayed epoch commit is skipped, not doubled") {
    // drive the StreamingWrite protocol directly: the same epoch
    // committed twice (the crash-between-sink-commit-and-checkpoint
    // replay) must publish ONE snapshot — on an aggregation table a
    // double commit would double-count
    spark.sql("CREATE TABLE graft.default.sw_agg (k BIGINT, total BIGINT) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='1'," +
      "'merge-engine'='aggregation'," +
      "'fields.total.aggregate-function'='sum')")
    val tableDir = warehouse.resolve("default.db/sw_agg")
    val schema = graft.core.TableSchema.fromJson(java.nio.file.Files.readString(
      java.nio.file.Files.list(tableDir.resolve("schema")).iterator().next()))
    val sw = new graft.connector.GraftStreamingWrite(
      tableDir, schema, graft.format.FileStoreCommit.NoOverwrite, "q-test")
    def writeEpoch(epoch: Long, vals: Seq[(Long, Long)]): Unit = {
      val info = new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
        override def numPartitions(): Int = 1
      }
      val w = sw.createStreamingWriterFactory(info).createWriter(0, 0L, epoch)
      vals.foreach { case (k, v) =>
        val row = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](k, v))
        w.write(row)
      }
      sw.commit(epoch, Array(w.commit()))
    }
    writeEpoch(0L, Seq((1L, 5L), (2L, 7L)))
    writeEpoch(0L, Seq((1L, 5L), (2L, 7L))) // replay of epoch 0
    writeEpoch(1L, Seq((1L, 3L)))
    val got = spark.sql("SELECT k, total FROM graft.default.sw_agg ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 8L), (2L, 7L)), s"replayed epoch double-counted: $got")
    val sm = new graft.format.SnapshotManager(tableDir)
    assert(sm.existingSnapshotIds.size == 2,
      s"expected 2 snapshots (epoch 0 + epoch 1), got ${sm.existingSnapshotIds}")
  }

  test("consumer-id records progress, pins retention, and seeds fresh " +
      "checkpoints; reset_consumer rewinds or deletes the pin") {
    spark.sql("CREATE TABLE graft.default.s_cons (id BIGINT, v STRING)")
    Seq("a", "b", "c").zipWithIndex.foreach { case (v, i) =>
      spark.sql(s"INSERT INTO graft.default.s_cons VALUES (${i + 1}, '$v')")
    }
    // each drain uses a FRESH implicit checkpoint: resume comes from
    // the consumer file alone, the relocated-checkpoint scenario
    def drain(sink: String): Seq[String] = {
      val q = spark.readStream
        .option("consumer-id", "pipe1")
        .table("graft.default.s_cons")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.sql(s"SELECT v FROM $sink ORDER BY v").collect()
        .map(_.getString(0)).toSeq
    }
    assert(drain("s_cons_sink1") == Seq("a", "b", "c"))
    def consumers(): Seq[(String, Long)] = spark.sql(
      "SELECT consumer_id, next_snapshot_id FROM " +
        "graft.default.`s_cons$consumers`").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(consumers() == Seq(("pipe1", 4L)),
      s"drained through snapshot 3, expected nextSnapshot 4: ${consumers()}")

    // retention would keep only snapshot 6, but the consumer floor (4)
    // keeps the reader's unread range alive — from floor-1, so a
    // retraction stream's pre-commit baseline stays resolvable too
    Seq("d", "e", "f").zipWithIndex.foreach { case (v, i) =>
      spark.sql(s"INSERT INTO graft.default.s_cons VALUES (${i + 4}, '$v')")
    }
    val expired = spark.sql(
      "CALL graft.sys.expire_snapshots('default.s_cons', 1)")
      .collect()(0).getInt(0)
    assert(expired == 2, s"consumer floor 4 should expire only 1..2: $expired")
    val ids = spark.sql("SELECT snapshot_id FROM " +
      "graft.default.`s_cons$snapshots` ORDER BY 1").collect()
      .map(_.getLong(0)).toSeq
    assert(ids == Seq(3L, 4L, 5L, 6L))

    // fresh checkpoint + same consumer-id: starts at the recorded
    // offset — exactly the retained range, no expired-snapshot error
    assert(drain("s_cons_sink2") == Seq("d", "e", "f"))
    assert(consumers() == Seq(("pipe1", 7L)))

    // operator rewind: replay from snapshot 5 into a fresh pipeline
    spark.sql(
      "CALL graft.sys.reset_consumer('default.s_cons', 'pipe1', 5)")
    assert(drain("s_cons_sink3") == Seq("e", "f"))

    // delete the consumer: the pin lapses and retention tightens
    spark.sql("CALL graft.sys.reset_consumer('default.s_cons', 'pipe1')")
    assert(consumers().isEmpty)
    val expired2 = spark.sql(
      "CALL graft.sys.expire_snapshots('default.s_cons', 1)")
      .collect()(0).getInt(0)
    assert(expired2 == 3, s"unpinned, 3..5 should expire: $expired2")
  }

  test("max-snapshots-per-trigger splits an AvailableNow drain into " +
      "batches; consumer progress lands per batch, not only at the end") {
    // commit() never fires on a single-batch AvailableNow run (Spark
    // calls it only while constructing a FURTHER batch), which is why
    // durable progress hooks latestOffset(start). This drives the
    // multi-batch shape: 3 committed snapshots drained one per batch
    // must record the consumer pin on EVERY batch boundary — a crash
    // mid-drain then resumes from the last finished batch instead of
    // replaying the whole backlog.
    spark.sql("CREATE TABLE graft.default.s_multi (id BIGINT, v STRING)")
    (1 to 3).foreach(i =>
      spark.sql(s"INSERT INTO graft.default.s_multi VALUES ($i, 'v$i')"))
    val tableDir = warehouse.resolve("default.db/s_multi")
    val io = graft.format.FileIO.local
    def pin: Option[Long] =
      graft.format.Consumers.get(tableDir, io, "mb").map(_.nextSnapshot)
    val observed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = spark.readStream
      .option("consumer-id", "mb")
      .option("max-snapshots-per-trigger", "1")
      .table("graft.default.s_multi")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        // the pin visible WHILE batch `id` runs was recorded at this
        // batch's admission — durable before the batch completes
        observed.synchronized { observed += ((id, pin.getOrElse(-1L))) }
        df.count(); ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val byBatch = observed.sortBy(_._1).toSeq
    assert(byBatch.map(_._1) == Seq(0L, 1L, 2L),
      s"expected 3 one-snapshot batches, got $byBatch")
    // batch N drains snapshot N+1; its admission recorded next = N+1
    // (the start offset's progress — understates, never overstates)
    assert(byBatch.map(_._2) == Seq(1L, 2L, 3L),
      s"consumer pin must advance at every batch boundary: $byBatch")
    // the final drained admission check records the full progress
    assert(pin.contains(4L), s"final pin: $pin")
    val drained = spark.sql("SELECT count(*) FROM graft.default.s_multi")
      .collect()(0).getLong(0)
    assert(drained == 3L)
  }

  test("retraction changelog stream under a consumer-id survives expiry: " +
      "the pre-commit baseline of its first unread snapshot is retained") {
    spark.sql("CREATE TABLE graft.default.s_ccons (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('primary-key'='k', 'bucket'='1')")
    (1 to 3).foreach(i =>
      spark.sql(s"INSERT INTO graft.default.s_ccons VALUES (1, $i)"))
    def drain(sink: String): Seq[(Int, Long)] = {
      val q = spark.readStream
        .option("retractions", "true").option("consumer-id", "cpipe")
        .table("graft.default.`s_ccons$changelog`")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.sql(s"SELECT _row_kind, v FROM $sink ORDER BY _sequence_number," +
        " _row_kind").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    }
    // drains 1..3, records nextSnapshot=4
    assert(drain("s_ccons_sink1").nonEmpty)
    spark.sql("INSERT INTO graft.default.s_ccons VALUES (1, 9)")
    spark.sql("INSERT INTO graft.default.s_ccons VALUES (1, 11)")
    // retain_last=1 alone would keep only the tip; the consumer keeps
    // everything from 3 — snapshot 3 being the BASELINE the next batch
    // merges against (a trailing COMPACT snapshot may also exist)
    spark.sql("CALL graft.sys.expire_snapshots('default.s_ccons', 1)")
    val ids = spark.sql("SELECT snapshot_id FROM " +
      "graft.default.`s_ccons$snapshots` ORDER BY 1").collect()
      .map(_.getLong(0)).toSeq
    assert(ids.min == 3L && ids.contains(4L) && ids.contains(5L),
      s"floor 4 must retain from 3 (the baseline): $ids")
    // fresh checkpoint resumes from the consumer file and synthesizes
    // the -U/+U pairs against the retained baseline (old value 3)
    val got = drain("s_ccons_sink2")
    assert(got == Seq((1, 3L), (2, 9L), (1, 9L), (2, 11L)),
      s"expected -U old / +U new pairs for snapshots 4 and 5: $got")
  }
}
