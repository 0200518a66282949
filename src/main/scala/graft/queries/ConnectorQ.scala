package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import Tables._

/** Driver-checkable queries that read through the graft CONNECTOR
  * (DSv2 catalog → GraftScan → SortMergeReader → FileStoreCommit)
  * instead of raw parquet — the surface every other query family
  * bypasses. Each fn materializes the sf `events` parquet into temp
  * graft tables once per (session, dir) ([[ArtifactCache]]), then
  * returns a pure read whose result is reproducible by DuckDB SQL over
  * the SAME parquet:
  *
  *  - PK merge across two commits ≙ last-write-wins by sequence
  *    (`pypaimon/pynative/tests/test_pynative_reader.py:185-208`):
  *    commit 1 holds each key's arg-max over the first half of
  *    `event_id`, commit 2 over the second half; since `event_id` is
  *    monotone, the merged table IS the global arg-max per key — an
  *    oracle DuckDB can state without seeing the table format.
  *  - Partitioned PK + bucketing (`:272-315`), post-merge filtering
  *    (`:236-257`), time travel, partition pruning, dynamic
  *    partition overwrite (`py4j/tests/test_write_and_read.py:311-383`),
  *    and row-level DELETE all get the same treatment.
  *
  * Writes happen in `setup` (eager, once); the returned DataFrames are
  * pure scans, so Bench times the connector READ path.
  */
object ConnectorQ {

  final private case class Setup(ns: String, mid: Long, minUser: Long)

  /** Spark-SQL exact-cents of `value` — same expression as sqlCents. */
  private val C = "CAST(ROUND(value*100, 0) AS BIGINT)"

  /** DuckDB-side first-half cutoff (Spark side inlines the number). */
  private val sqlMid =
    "(SELECT CAST(FLOOR(MAX(event_id)/2.0) AS BIGINT) FROM events)"

  /** Size a stateful stream's STATE partitioning explicitly: a fresh
    * checkpoint pins its state-store count to
    * `spark.sql.shuffle.partitions` at first-batch planning, and every
    * store costs a file-per-batch commit plus a loaded provider — pure
    * per-partition overhead when per-key state is KB-scale. 8 is the
    * deliberate local choice (a cluster deployment sizes this to
    * executors×cores before the first run, exactly like this); the
    * session value is restored for the batch rows. Bench rows run
    * serially, so the temporary session-level override cannot leak
    * into a concurrent batch plan.
    */
  private def withStreamStateParts[T](s: SparkSession)(f: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", 8)
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Test hook: the live namespace a (session, dir) setup owns. */
  private[graft] def activeNamespace(s: SparkSession,
      dir: String): Option[String] =
    ArtifactCache.peek[Setup](s, dir, "connector.setup").map(_.ns)

  /** Drop a setup's namespace (tables + temp-warehouse bytes) so a
    * long-lived session sweeping many dirs doesn't accumulate one
    * warehouse's worth of graft tables per dir. The next query against
    * the same dir re-runs setup from scratch. */
  private def dropSetup(s: SparkSession)(st: Setup): Unit = {
    try s.sql(s"DROP NAMESPACE IF EXISTS graft_c.${st.ns} CASCADE")
    catch { case _: Throwable => () }
    // stream checkpoints + file-sink output are keyed by ns too: a
    // re-setup of the SAME dir rebuilds its tables with fresh
    // snapshot ids, and a restarted stream must not resume from the
    // dropped incarnation's offsets (or re-serve its sink files)
    import java.nio.file.{Files, Paths}
    s.conf.getOption("spark.sql.catalog.graft_c.warehouse").foreach { w =>
      val streams = Paths.get(w, "_streams")
      if (Files.exists(streams)) {
        // close the listing stream: one leaked directory fd per
        // release otherwise — and release runs at every bench
        // family boundary for the session's whole life
        val ls = Files.list(streams)
        try ls.filter(p => p.getFileName.toString.endsWith("_" + st.ns))
          .forEach(p => graft.util.Fs.deleteRecursively(p))
        finally ls.close()
      }
    }
  }

  /** Guarded, failure-atomic seed of the `doc_fp` fingerprint STORE
    * (the durable PK table the ingest-dedup story hinges on): batch A
    * (even doc_ids) seeds commit 1, batch B (odd) admits its unseen
    * fps in commit 2 — so the final store holds every distinct corpus
    * fingerprint with first_doc provenance. A half-seeded store
    * (CREATE + first INSERT ok, second INSERT thrown) must not survive
    * the guard — later runs in this JVM would silently reuse it and
    * report zero late admissions; same contract as the artifact
    * cache's "a build that throws stores nothing". Shared by
    * `c_dedup_ingest` and `c_stream_changelog_dedup`. Returns
    * (store table, per-doc fingerprint view).
    */
  private def seededDocFpStore(s: SparkSession, dir: String,
      ns: String): (String, String) = {
    val tbl = s"graft_c.$ns.doc_fp"
    val view = s"docs_fp_$ns"
    locally {
      import org.apache.spark.sql.functions.col
      t(s, dir, "documents")
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .createOrReplaceTempView(view)
    }
    ConnectorQ.synchronized {
      if (!s.catalog.tableExists(tbl)) {
        try {
          s.sql(s"""CREATE TABLE $tbl (fp STRING, first_doc BIGINT)
            TBLPROPERTIES ('primary-key'='fp', 'bucket'='2')""")
          s.sql(s"""INSERT INTO $tbl
            SELECT fp, MIN(doc_id) FROM $view
            WHERE doc_id % 2 = 0 GROUP BY fp""")
          s.sql(s"""INSERT INTO $tbl
            SELECT fp, MIN(doc_id) FROM $view
            WHERE doc_id % 2 = 1
              AND fp NOT IN (SELECT fp FROM $tbl)
            GROUP BY fp""")
        } catch { case t: Throwable =>
          try s.sql(s"DROP TABLE IF EXISTS $tbl")
          catch { case _: Throwable => () }
          throw t
        }
      }
    }
    (tbl, view)
  }

  private def setup(s: SparkSession, dir: String): Setup =
    ArtifactCache(s, dir, "connector.setup", dropSetup(s))(
        ConnectorQ.synchronized {
      if (!s.conf.getOption("spark.sql.catalog.graft_c").exists(_.nonEmpty)) {
        val wh = java.nio.file.Files.createTempDirectory("graft-qwh")
        // releases drop namespaces, but the per-JVM warehouse root
        // itself must not accumulate in the system temp dir across runs
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          graft.util.Fs.deleteRecursively(wh)))
        s.conf.set("spark.sql.catalog.graft_c", "graft.connector.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft_c.warehouse", wh.toString)
      }
      // the session token keeps two sessions SHARING a warehouse
      // (inherited catalog conf) out of each other's tables, matching
      // the cache key — and unlike an identity hash it is never reused
      // after a session dies, so a successor can't collide into a
      // dead session's namespace
      val ns = s"c${SessionKey.shortId(s)}" +
        s"_${math.floorMod(dir.hashCode, 1 << 30)}"
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft_c.$ns")
      setupBody(s, dir, ns)
    })

  /** The actual table builds, failure-ATOMIC: any thrown statement
    * drops the whole namespace before rethrowing, so a later retry (the
    * cache stores nothing on throw) re-runs against a clean slate
    * instead of hitting TableAlreadyExists forever — the same contract
    * the guarded seed rows (c_dedup_ingest, c_api_arrow) implement.
    */
  private def setupBody(s: SparkSession, dir: String, ns: String): Setup =
    try {
      t(s, dir, "events").createOrReplaceTempView("ev_src")
      val Array(mid, minUser) = s.sql(
        "SELECT CAST(FLOOR(MAX(event_id)/2.0) AS BIGINT), MIN(user_id) FROM ev_src")
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray

      // NOTE: measured at sf0.1 — inserting from a cached per-half
      // arg-max view was ~2x SLOWER per statement than recomputing the
      // aggregate inline (InMemoryRelation scan + extra materialization
      // jobs beat the 200k-row codegen agg), so the halves stay inline.
      def argmaxInsert(table: String, where: String): Unit =
        s.sql(s"""INSERT INTO $table
          SELECT user_id, MAX(event_id), MAX_BY(event_type, event_id),
                 MAX_BY($C, event_id)
          FROM ev_src WHERE $where GROUP BY user_id""")

      // Each target table is an independent statement GROUP; groups run
      // concurrently (slowest group ≈ wall time, not the sum — commit
      // thread safety is ConcurrencySpec's contract), while statements
      // WITHIN a group stay ordered: commit order fixes the LWW
      // sequence, so "second half beats first half" depends on it.
      def argmaxTable(table: String, props: String): Unit = {
        s.sql(s"""CREATE TABLE $table
          (user_id BIGINT, last_event_id BIGINT, last_type STRING, last_cents BIGINT)
          $props""")
        argmaxInsert(table, s"event_id <= $mid")
        argmaxInsert(table, s"event_id > $mid")
      }
      val pkProps = "TBLPROPERTIES ('primary-key'='user_id', 'bucket'='4')"
      val groups: Seq[() => Unit] = Seq(
        // PK table, 2 commits (merge-on-read across files); the first
        // commit is tagged 'half1' for the tag-name time-travel row
        () => {
          s.sql(s"""CREATE TABLE graft_c.$ns.ev_pk
            (user_id BIGINT, last_event_id BIGINT, last_type STRING, last_cents BIGINT)
            $pkProps""")
          argmaxInsert(s"graft_c.$ns.ev_pk", s"event_id <= $mid")
          new graft.format.SnapshotManager(java.nio.file.Paths.get(
            s.conf.get("spark.sql.catalog.graft_c.warehouse"),
            s"$ns.db", "ev_pk")).createTag("half1")
          argmaxInsert(s"graft_c.$ns.ev_pk", s"event_id > $mid")
        },

        // same shape + row-level DELETE (merge-on-read -D appends)
        () => {
          argmaxTable(s"graft_c.$ns.ev_pk_del", pkProps)
          s.sql(s"DELETE FROM graft_c.$ns.ev_pk_del WHERE user_id % 10 = 3")
        },

        // partitioned append table (partition pruning / plain scan)
        () => {
          s.sql(s"""CREATE TABLE graft_c.$ns.ev_part
            (event_type STRING, user_id BIGINT, event_id BIGINT, cents BIGINT)
            PARTITIONED BY (event_type)""")
          s.sql(s"""INSERT INTO graft_c.$ns.ev_part
            SELECT event_type, user_id, event_id, $C FROM ev_src""")
        },

        // append table whose DATA PLANE lives on the in-memory
        // object-store stand-in: the benched read of this table
        // measures the storage-seam overhead (graftio:// columnar
        // path over FileIO.readRange) every round, not just in specs
        () => {
          s.sql(s"""CREATE TABLE graft_c.$ns.ev_io
            (event_type STRING, user_id BIGINT, event_id BIGINT, cents BIGINT)
            PARTITIONED BY (event_type)
            TBLPROPERTIES ('io'='memory:bench_$ns')""")
          s.sql(s"""INSERT INTO graft_c.$ns.ev_io
            SELECT event_type, user_id, event_id, $C FROM ev_src""")
        },

        // partitioned PK table, bucket=2, 2 commits
        () => {
          s.sql(s"""CREATE TABLE graft_c.$ns.ev_ppk
            (event_type STRING, user_id BIGINT, last_event_id BIGINT, last_cents BIGINT)
            PARTITIONED BY (event_type)
            TBLPROPERTIES ('primary-key'='event_type,user_id', 'bucket'='2')""")
          def ppkInsert(where: String): Unit =
            s.sql(s"""INSERT INTO graft_c.$ns.ev_ppk
              SELECT event_type, user_id, MAX(event_id), MAX_BY($C, event_id)
              FROM ev_src WHERE $where GROUP BY event_type, user_id""")
          ppkInsert(s"event_id <= $mid")
          ppkInsert(s"event_id > $mid")
        },

        // PK table whose second commit trips commit-triggered compaction
        // (trigger-file-count=2): the same commit publishes a COMPACT
        // snapshot and the bucket collapses to one file
        () => argmaxTable(s"graft_c.$ns.ev_pkc",
          """TBLPROPERTIES ('primary-key'='user_id', 'bucket'='4',
            'compaction.trigger-file-count'='2')"""),

        // UPDATE: merge-on-read -U/+U appends; the after-images win
        // the subsequent merge by sequence number
        () => {
          argmaxTable(s"graft_c.$ns.ev_pk_upd", pkProps)
          s.sql(s"""UPDATE graft_c.$ns.ev_pk_upd
            SET last_cents = last_cents * 2 WHERE user_id % 7 = 0""")
        },

        // MERGE INTO: update + delete + insert through one statement
        () => {
          argmaxTable(s"graft_c.$ns.ev_pk_mrg", pkProps)
          s.sql(s"""MERGE INTO graft_c.$ns.ev_pk_mrg t
            USING (SELECT DISTINCT user_id FROM ev_src WHERE user_id % 5 = 0
                   UNION ALL
                   SELECT (SELECT MAX(user_id) FROM ev_src) + 1) s
            ON t.user_id = s.user_id
            WHEN MATCHED AND t.user_id % 10 = 5 THEN DELETE
            WHEN MATCHED THEN UPDATE SET last_type = 'merged'
            WHEN NOT MATCHED THEN INSERT (user_id, last_event_id, last_type, last_cents)
              VALUES (s.user_id, -1, 'inserted', 0)""")
        },

        // ORC / Avro PK tables: same 2-commit arg-max content, so the
        // merge-on-read path runs end-to-end through OrcIO / AvroIO —
        // the reference randomizes file.format in its predicate tests
        // (pypaimon/py4j/tests/test_preicates.py:36-55), making
        // format-agnostic reads part of the contract, not a bonus.
        () => argmaxTable(s"graft_c.$ns.ev_pk_orc",
          """TBLPROPERTIES ('primary-key'='user_id', 'bucket'='2',
            'file.format'='orc')"""),
        () => argmaxTable(s"graft_c.$ns.ev_pk_avro",
          """TBLPROPERTIES ('primary-key'='user_id', 'bucket'='2',
            'file.format'='avro')"""),

        // schema evolution across commits: first half written under the
        // ORIGINAL schema (cnt INT), then ADD + RENAME + widening TYPE,
        // second half written under the evolved schema — reads must
        // null-fill / remap / upcast the old files by field id
        () => {
          s.sql(s"CREATE TABLE graft_c.$ns.ev_evo (user_id BIGINT, cnt INT)")
          s.sql(s"""INSERT INTO graft_c.$ns.ev_evo
            SELECT user_id, CAST(COUNT(*) AS INT) FROM ev_src
            WHERE event_id <= $mid GROUP BY user_id""")
          s.sql(s"ALTER TABLE graft_c.$ns.ev_evo ADD COLUMN sum_cents BIGINT")
          s.sql(s"ALTER TABLE graft_c.$ns.ev_evo RENAME COLUMN cnt TO n_events")
          s.sql(s"ALTER TABLE graft_c.$ns.ev_evo ALTER COLUMN n_events TYPE BIGINT")
          s.sql(s"""INSERT INTO graft_c.$ns.ev_evo
            SELECT user_id, COUNT(*), SUM($C) FROM ev_src
            WHERE event_id > $mid GROUP BY user_id""")
        },

        // dedicated victim for snapshot expiry + vacuum (mutating other
        // rows' tables would break their time travel)
        () => argmaxTable(s"graft_c.$ns.ev_pk_exp", pkProps),

        // created but never written: reads must plan ZERO input
        // partitions (no snapshot yet) while still exposing the schema
        () => s.sql(s"""CREATE TABLE graft_c.$ns.ev_empty
          (user_id BIGINT, last_event_id BIGINT, last_type STRING, last_cents BIGINT)
          TBLPROPERTIES ('primary-key'='user_id', 'bucket'='4')"""),

        // event-time table for the windowed streaming aggregate
        () => {
          s.sql(s"CREATE TABLE graft_c.$ns.ev_ts (ts TIMESTAMP, user_id BIGINT, cents BIGINT)")
          s.sql(s"""INSERT INTO graft_c.$ns.ev_ts
            SELECT ts, user_id, $C FROM ev_src WHERE event_id <= $mid""")
          s.sql(s"""INSERT INTO graft_c.$ns.ev_ts
            SELECT ts, user_id, $C FROM ev_src WHERE event_id > $mid""")
        },

        // merge-engine family (deduplicate is every PK table above).
        // first-row: commit 1 carries the SECOND half's per-user
        // arg-max, commit 2 the first half's — the engine keeps the
        // EARLIEST committed row per key, so the merged table is
        // "second-half row if the user has one, else first-half row":
        // a statement DuckDB can make without seeing the format
        () => {
          s.sql(s"""CREATE TABLE graft_c.$ns.ev_pk_fr
            (user_id BIGINT, last_event_id BIGINT, last_type STRING, last_cents BIGINT)
            TBLPROPERTIES ('primary-key'='user_id', 'bucket'='4',
              'merge-engine'='first-row')""")
          argmaxInsert(s"graft_c.$ns.ev_pk_fr", s"event_id > $mid")
          argmaxInsert(s"graft_c.$ns.ev_pk_fr", s"event_id <= $mid")
        },

        // sequence.field: commits arrive OUT of order (second half
        // first), but LWW ranks by the last_event_id DATA column, so
        // the merge still lands on the GLOBAL arg-max per key — the
        // exact oracle c_pk_merge_read states for in-order commits.
        // Plain commit-order LWW would keep the first half's stale
        // rows for every shared user; this table proves it doesn't.
        () => {
          s.sql(s"""CREATE TABLE graft_c.$ns.ev_pk_sf
            (user_id BIGINT, last_event_id BIGINT, last_type STRING, last_cents BIGINT)
            TBLPROPERTIES ('primary-key'='user_id', 'bucket'='4',
              'sequence.field'='last_event_id')""")
          argmaxInsert(s"graft_c.$ns.ev_pk_sf", s"event_id > $mid")
          argmaxInsert(s"graft_c.$ns.ev_pk_sf", s"event_id <= $mid")
        },

        // partial-update: each half-commit fills ITS column and NULLs
        // the other; the merge stitches both per key — the
        // column-stitching shape feature stores use this engine for
        () => {
          s.sql(s"""CREATE TABLE graft_c.$ns.ev_pk_pu
            (user_id BIGINT, cents_first BIGINT, cents_second BIGINT)
            TBLPROPERTIES ('primary-key'='user_id', 'bucket'='4',
              'merge-engine'='partial-update')""")
          s.sql(s"""INSERT INTO graft_c.$ns.ev_pk_pu
            SELECT user_id, SUM($C), CAST(NULL AS BIGINT) FROM ev_src
            WHERE event_id <= $mid GROUP BY user_id""")
          s.sql(s"""INSERT INTO graft_c.$ns.ev_pk_pu
            SELECT user_id, CAST(NULL AS BIGINT), SUM($C) FROM ev_src
            WHERE event_id > $mid GROUP BY user_id""")
        },

        // aggregation: per-half partial aggregates fold AT READ into
        // whole-corpus totals — pre-aggregated storage, the shape that
        // absorbs upserts map-side instead of rescanning the corpus
        () => {
          s.sql(s"""CREATE TABLE graft_c.$ns.ev_pk_ag
            (user_id BIGINT, total_cents BIGINT, n_events BIGINT, max_event BIGINT)
            TBLPROPERTIES ('primary-key'='user_id', 'bucket'='4',
              'merge-engine'='aggregation',
              'fields.total_cents.aggregate-function'='sum',
              'fields.n_events.aggregate-function'='sum',
              'fields.max_event.aggregate-function'='max')""")
          def agIns(where: String): Unit =
            s.sql(s"""INSERT INTO graft_c.$ns.ev_pk_ag
              SELECT user_id, SUM($C), COUNT(*), MAX(event_id) FROM ev_src
              WHERE $where GROUP BY user_id""")
          agIns(s"event_id <= $mid")
          agIns(s"event_id > $mid")
        },

        // partial-update + sequence-groups: (a) versioned by v1 and (b)
        // by v2 absorb out-of-order updates INDEPENDENTLY — commits land
        // in scrambled version order (i = 1, 2, 0), and per group the
        // row with the largest version must win regardless. Versions
        // are built ≡ i (mod 3), so no ties and the expected state is a
        // pure per-group argmax the oracle restates with ARG_MAX.
        () => {
          s.sql(s"""CREATE TABLE graft_c.$ns.ev_pk_sg
            (user_id BIGINT, v1 BIGINT, a BIGINT, v2 BIGINT, b BIGINT)
            TBLPROPERTIES ('primary-key'='user_id', 'bucket'='4',
              'merge-engine'='partial-update',
              'fields.v1.sequence-group'='a',
              'fields.v2.sequence-group'='b')""")
          def sgIns(i: Int): Unit =
            s.sql(s"""INSERT INTO graft_c.$ns.ev_pk_sg
              SELECT user_id,
                3 * ((MAX(event_id) + $i * 17) % 1000) + $i,
                MAX(event_id) * 10 + $i,
                3 * ((MAX(event_id) * 7 + $i * 29) % 1000) + $i,
                MAX(event_id) * 100 + $i
              FROM ev_src GROUP BY user_id""")
          sgIns(1); sgIns(2); sgIns(0)
        })
      locally {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration._
        // Dedicated pool (not the global ForkJoinPool, which Spark
        // action threads also contend for), DAEMON threads (an
        // abnormal interrupt must not pin the JVM open), and a very
        // generous finite deadline: hours-scale so a slow-but-correct
        // setup at large sf never trips it, but a genuine deadlock
        // fails with a stack-bearing TimeoutException instead of
        // hanging the bench silently forever.
        //
        // Pool WIDTH is capped at cores/4, not groups.size: every group
        // is a full Spark statement wanting `shuffle.partitions` task
        // slots, so 14 simultaneous statements on a 32-slot scheduler
        // queue ~450 tasks and thrash (measured 13.4s wall vs 4.6-5.8s
        // at width 6-10 for the identical statement set at sf0.1).
        // Matches how a real deployment throttles concurrent table
        // builds against one cluster.
        val tf = new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger
          override def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-setup-${n.incrementAndGet()}")
            t.setDaemon(true)
            t
          }
        }
        val width = math.min(groups.size,
          math.max(2, s.sparkContext.defaultParallelism / 4))
        val pool =
          java.util.concurrent.Executors.newFixedThreadPool(width, tf)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        try Await.result(Future.sequence(groups.map(g => Future(g()))), 6.hours)
        finally pool.shutdown()
      }

      // dynamic partition overwrite: 'click' partition replaced
      // wholesale. Sequential ON PURPOSE: it flips the session-wide
      // partitionOverwriteMode conf, which must not leak into the
      // concurrent groups above.
      s.sql(s"""CREATE TABLE graft_c.$ns.ev_ow
        (event_type STRING, user_id BIGINT, n BIGINT)
        PARTITIONED BY (event_type)""")
      s.sql(s"""INSERT INTO graft_c.$ns.ev_ow
        SELECT event_type, user_id, COUNT(*) FROM ev_src GROUP BY 1, 2""")
      val prevMode = s.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try s.sql(s"""INSERT OVERWRITE TABLE graft_c.$ns.ev_ow
        SELECT event_type, user_id, SUM($C) FROM ev_src
        WHERE event_type = 'click' GROUP BY 1, 2""")
      finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)

      Setup(ns, mid, minUser)
    } catch { case t: Throwable =>
      // half-created tables must not strand the namespace: drop it all
      // so the retry's CREATEs start clean (warehouse dir is per-JVM
      // and swept by the shutdown hook)
      try s.sql(s"DROP NAMESPACE IF EXISTS graft_c.$ns CASCADE")
      catch { case _: Throwable => () }
      throw t
    }

  private val sqlArgmax =
    """SELECT user_id, MAX(event_id) AS last_event_id,
      ARG_MAX(event_type, event_id) AS last_type,
      ARG_MAX(%s, event_id) AS last_cents
      FROM events %s GROUP BY user_id ORDER BY user_id"""
      .format(sqlCents("value"), "%s")

  val defs: Seq[QueryDef] = Seq(
    // Eager one-time materialization of the temp graft tables every
    // other c_* query reads. Sorts FIRST in the bench's alphabetical
    // order ('_' < 'a'), so the write-path cost lands on this row and
    // the remaining c_* rows time pure connector READS. The returned
    // row counts re-read each table through the DSv2 catalog, so the
    // oracle still checks real connector output.
    QueryDef("c__setup_writes",
      (s, dir) => {
        val st = setup(s, dir)
        def n(t: String) = s"(SELECT COUNT(*) FROM graft_c.${st.ns}.$t)"
        s.sql(s"""SELECT ${n("ev_pk")} AS n_pk, ${n("ev_pk_del")} AS n_pk_del,
          ${n("ev_part")} AS n_part, ${n("ev_ppk")} AS n_ppk,
          ${n("ev_ow")} AS n_ow, ${n("ev_pkc")} AS n_pkc,
          ${n("ev_pk_orc")} AS n_orc, ${n("ev_pk_avro")} AS n_avro,
          ${n("ev_evo")} AS n_evo, ${n("ev_pk_upd")} AS n_upd,
          ${n("ev_pk_mrg")} AS n_mrg, ${n("ev_ts")} AS n_ts,
          ${n("ev_pk_exp")} AS n_exp, ${n("ev_pk_fr")} AS n_fr,
          ${n("ev_pk_pu")} AS n_pu, ${n("ev_pk_ag")} AS n_ag,
          ${n("ev_pk_sf")} AS n_sf""")
      },
      Some(s"""SELECT
          (SELECT COUNT(DISTINCT user_id) FROM events) AS n_pk,
          (SELECT COUNT(DISTINCT user_id) FROM events
             WHERE user_id % 10 <> 3) AS n_pk_del,
          (SELECT COUNT(*) FROM events) AS n_part,
          (SELECT COUNT(DISTINCT (event_type, user_id)) FROM events) AS n_ppk,
          (SELECT COUNT(DISTINCT (event_type, user_id)) FROM events) AS n_ow,
          (SELECT COUNT(DISTINCT user_id) FROM events) AS n_pkc,
          (SELECT COUNT(DISTINCT user_id) FROM events) AS n_orc,
          (SELECT COUNT(DISTINCT user_id) FROM events) AS n_avro,
          (SELECT COUNT(DISTINCT user_id) FROM events
             WHERE event_id <= $sqlMid)
          + (SELECT COUNT(DISTINCT user_id) FROM events
             WHERE event_id > $sqlMid) AS n_evo,
          (SELECT COUNT(DISTINCT user_id) FROM events) AS n_upd,
          (SELECT COUNT(DISTINCT user_id) FROM events
             WHERE user_id % 10 <> 5) + 1 AS n_mrg,
          (SELECT COUNT(*) FROM events) AS n_ts,
          (SELECT COUNT(DISTINCT user_id) FROM events) AS n_exp,
          (SELECT COUNT(DISTINCT user_id) FROM events) AS n_fr,
          (SELECT COUNT(DISTINCT user_id) FROM events) AS n_pu,
          (SELECT COUNT(DISTINCT user_id) FROM events) AS n_ag,
          (SELECT COUNT(DISTINCT user_id) FROM events) AS n_sf""")),

    // sequence.field: out-of-order commits, LWW by the data column —
    // the merged table equals the global arg-max, same statement as
    // the in-order c_pk_merge_read table
    QueryDef("c_pk_seq_field",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"SELECT * FROM graft_c.${st.ns}.ev_pk_sf ORDER BY user_id")
      },
      Some(sqlArgmax.format(""))),

    // partial-update + sequence-groups: group (v1 -> a) and (v2 -> b)
    // each resolve to THEIR version's argmax although the three
    // commits landed in scrambled order (1, 2, 0) — the oracle
    // reconstructs the same three candidate rows per user and takes
    // per-group ARG_MAX
    QueryDef("c_pk_seq_group",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"SELECT user_id, v1, a, v2, b " +
          s"FROM graft_c.${st.ns}.ev_pk_sg ORDER BY user_id")
      },
      Some {
        val cand = (0 to 2).map(i => s"""SELECT user_id,
            3 * ((f + $i * 17) % 1000) + $i AS v1, f * 10 + $i AS a,
            3 * ((f * 7 + $i * 29) % 1000) + $i AS v2, f * 100 + $i AS b
          FROM m""").mkString(" UNION ALL ")
        s"""WITH m AS (
            SELECT user_id, MAX(event_id) AS f FROM events GROUP BY user_id)
          SELECT user_id, MAX(v1) AS v1, ARG_MAX(a, v1) AS a,
            MAX(v2) AS v2, ARG_MAX(b, v2) AS b
          FROM ($cand) GROUP BY user_id ORDER BY user_id"""
      }),

    // first-row engine: earliest committed row per key survives.
    // Setup wrote the SECOND half first, so per user: second-half
    // arg-max if present, else first-half arg-max.
    QueryDef("c_pk_first_row",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"SELECT * FROM graft_c.${st.ns}.ev_pk_fr ORDER BY user_id")
      },
      Some {
        val halves = Seq(s"event_id > $sqlMid", s"event_id <= $sqlMid")
          .map(w => s"""SELECT user_id, MAX(event_id) AS last_event_id,
            ARG_MAX(event_type, event_id) AS last_type,
            ARG_MAX(${sqlCents("value")}, event_id) AS last_cents
            FROM events WHERE $w GROUP BY user_id""")
        s"""WITH h2 AS (${halves(0)}), h1 AS (${halves(1)})
          SELECT * FROM h2
          UNION ALL
          SELECT * FROM h1 WHERE user_id NOT IN (SELECT user_id FROM h2)
          ORDER BY user_id"""
      }),

    // partial-update engine: the merged row stitches each half's
    // column (per-field last non-null) == a FULL OUTER JOIN of the
    // two half aggregates
    QueryDef("c_pk_partial_update",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"SELECT * FROM graft_c.${st.ns}.ev_pk_pu ORDER BY user_id")
      },
      Some(s"""WITH h1 AS (
          SELECT user_id, CAST(SUM(${sqlCents("value")}) AS BIGINT) AS cents_first
          FROM events WHERE event_id <= $sqlMid GROUP BY user_id),
        h2 AS (
          SELECT user_id, CAST(SUM(${sqlCents("value")}) AS BIGINT) AS cents_second
          FROM events WHERE event_id > $sqlMid GROUP BY user_id)
        SELECT user_id, cents_first, cents_second
        FROM h1 FULL OUTER JOIN h2 USING (user_id) ORDER BY user_id""")),

    // aggregation engine: per-half partials fold at read == the
    // whole-corpus per-user aggregate
    QueryDef("c_pk_agg",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"SELECT * FROM graft_c.${st.ns}.ev_pk_ag ORDER BY user_id")
      },
      Some(s"""SELECT user_id,
          CAST(SUM(${sqlCents("value")}) AS BIGINT) AS total_cents,
          COUNT(*) AS n_events, MAX(event_id) AS max_event
        FROM events GROUP BY user_id ORDER BY user_id""")),

    // merged read across two PK commits == global arg-max per key
    QueryDef("c_pk_merge_read",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"SELECT * FROM graft_c.${st.ns}.ev_pk ORDER BY user_id")
      },
      Some(sqlArgmax.format(""))),

    // snapshot 1 == first-half arg-max only
    QueryDef("c_time_travel",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"SELECT * FROM graft_c.${st.ns}.ev_pk VERSION AS OF 1 " +
          "ORDER BY user_id")
      },
      Some(sqlArgmax.format(s"WHERE event_id <= $sqlMid"))),

    // TIMESTAMP AS OF resolves through the snapshot chain's commit
    // times to the same snapshot-1 state (the timestamp is read from
    // the $snapshots system table, so the row is deterministic)
    QueryDef("c_time_travel_ts",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val st = setup(s, dir)
        val ts1 = s.table(s"graft_c.${st.ns}.`ev_pk$$snapshots`")
          .filter(col("snapshot_id") === 1)
          .select("commit_time").collect()(0).getTimestamp(0)
        // Spark parses the literal under spark.sql.session.timeZone
        // (UTC here), so render the instant in UTC explicitly —
        // Timestamp.toString uses the JVM default zone, which names a
        // different instant on non-UTC hosts.
        val utc = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
          .withZone(java.time.ZoneOffset.UTC)
          .format(ts1.toInstant)
        s.sql(s"SELECT * FROM graft_c.${st.ns}.ev_pk " +
          s"TIMESTAMP AS OF '$utc' ORDER BY user_id")
      },
      Some(sqlArgmax.format(s"WHERE event_id <= $sqlMid"))),

    // tag-name time travel: 'half1' is pinned on snapshot 1 by setup;
    // the tagged read equals the first-half arg-max — same oracle as
    // c_time_travel, resolved through the tag file instead of the id
    QueryDef("c_time_travel_tag",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"SELECT * FROM graft_c.${st.ns}.ev_pk " +
          "VERSION AS OF 'half1' ORDER BY user_id")
      },
      Some(sqlArgmax.format(s"WHERE event_id <= $sqlMid"))),

    // bucket + key-stats pruned point lookup through the merge
    QueryDef("c_point_lookup",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"SELECT * FROM graft_c.${st.ns}.ev_pk " +
          s"WHERE user_id = ${st.minUser} ORDER BY user_id")
      },
      Some(sqlArgmax.format(
        "WHERE user_id = (SELECT MIN(user_id) FROM events)"))),

    // row-level DELETE then merged read
    QueryDef("c_pk_delete_read",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"SELECT * FROM graft_c.${st.ns}.ev_pk_del ORDER BY user_id")
      },
      Some(sqlArgmax.format("WHERE user_id % 10 <> 3"))),

    // partition-pruned aggregate over the append table
    QueryDef("c_partition_prune",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"""SELECT user_id, COUNT(*) AS n_events,
            SUM(cents) AS sum_cents
          FROM graft_c.${st.ns}.ev_part WHERE event_type = 'click'
          GROUP BY user_id ORDER BY user_id""")
      },
      Some(s"""SELECT user_id, COUNT(*) AS n_events,
          CAST(SUM(${sqlCents("value")}) AS BIGINT) AS sum_cents
        FROM events WHERE event_type = 'click'
        GROUP BY user_id ORDER BY user_id""")),

    // full append-table scan + aggregate
    QueryDef("c_append_scan",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"""SELECT event_type, COUNT(*) AS n_events,
            SUM(cents) AS sum_cents
          FROM graft_c.${st.ns}.ev_part
          GROUP BY event_type ORDER BY event_type""")
      },
      Some(s"""SELECT event_type, COUNT(*) AS n_events,
          CAST(SUM(${sqlCents("value")}) AS BIGINT) AS sum_cents
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // the c_append_scan aggregate through the memory: data plane — the
    // per-round measurement of the storage seam (graftio:// vectorized
    // read over ranged FileIO); identical results, different bytes path
    QueryDef("c_io_remote_scan",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"""SELECT event_type, COUNT(*) AS n_events,
            SUM(cents) AS sum_cents
          FROM graft_c.${st.ns}.ev_io
          GROUP BY event_type ORDER BY event_type""")
      },
      Some(s"""SELECT event_type, COUNT(*) AS n_events,
          CAST(SUM(${sqlCents("value")}) AS BIGINT) AS sum_cents
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // the STREAMING deployment shape over the remote data plane — an
    // AvailableNow stream drains the memory:-io table through the same
    // graftio:// ranged-read path the batch scan above uses, closing
    // the last storage×engine combination the bench measures per round
    // (batch/local, batch/remote, stream/local were already covered).
    // ev_io has one commit → one micro-batch, so the streamed aggregate
    // equals the batch answer.
    QueryDef("c_io_stream_scan",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.streaming.Trigger
        val st = setup(s, dir)
        val sink = s"c_io_stream_scan_${st.ns}"
        withStreamStateParts(s) {
          val q = s.readStream.table(s"graft_c.${st.ns}.ev_io")
            .groupBy("event_type")
            .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
            .writeStream.format("memory").queryName(sink)
            .outputMode("complete").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        s.table(sink).orderBy("event_type")
      },
      Some(s"""SELECT event_type, COUNT(*) AS n_events,
          CAST(SUM(${sqlCents("value")}) AS BIGINT) AS sum_cents
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // partitioned PK table: merge is bucket-local WITHIN each partition
    QueryDef("c_pk_partitioned",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"SELECT * FROM graft_c.${st.ns}.ev_ppk " +
          "ORDER BY event_type, user_id")
      },
      Some(s"""SELECT event_type, user_id, MAX(event_id) AS last_event_id,
          ARG_MAX(${sqlCents("value")}, event_id) AS last_cents
        FROM events GROUP BY event_type, user_id
        ORDER BY event_type, user_id""")),

    // metadata-only aggregate: plan must be a GraftAggScan (manifest
    // row counts + zone maps), zero data files read
    QueryDef("c_meta_agg",
      (s, dir) => {
        val st = setup(s, dir)
        val df = s.sql(s"""SELECT COUNT(*) AS n_rows,
            MIN(user_id) AS min_user, MAX(user_id) AS max_user,
            MIN(event_id) AS min_event, MAX(event_id) AS max_event,
            MIN(cents) AS min_cents, MAX(cents) AS max_cents
          FROM graft_c.${st.ns}.ev_part""")
        require(df.queryExecution.executedPlan.toString.contains("GraftAggScan"),
          "c_meta_agg must be served from metadata")
        df
      },
      Some(s"""SELECT COUNT(*) AS n_rows,
          MIN(user_id) AS min_user, MAX(user_id) AS max_user,
          MIN(event_id) AS min_event, MAX(event_id) AS max_event,
          MIN(${sqlCents("value")}) AS min_cents,
          MAX(${sqlCents("value")}) AS max_cents
        FROM events""")),

    // storage-partitioned join: ev_pk ⋈ ev_pk_del are co-bucketed
    // (pk user_id, bucket 4) — the plan must carry NO hash-partition
    // exchange; buckets zip directly and the merge's sort order feeds
    // the join
    QueryDef("c_spj_join",
      (s, dir) => {
        val st = setup(s, dir)
        val prev = Seq(
          "spark.sql.sources.v2.bucketing.enabled" ->
            s.conf.getOption("spark.sql.sources.v2.bucketing.enabled"),
          "spark.sql.autoBroadcastJoinThreshold" ->
            s.conf.getOption("spark.sql.autoBroadcastJoinThreshold"))
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val df = s.sql(s"""SELECT a.user_id, a.last_cents AS cents_all,
              b.last_cents AS cents_kept
            FROM graft_c.${st.ns}.ev_pk a
            JOIN graft_c.${st.ns}.ev_pk_del b ON a.user_id = b.user_id
            ORDER BY a.user_id""")
          // force planning under the SPJ confs, and prove it engaged
          require(!df.queryExecution.executedPlan.toString
            .contains("Exchange hashpartitioning"),
            "c_spj_join must plan a storage-partitioned join")
          df
        } finally prev.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      },
      Some(s"""WITH am AS (${sqlArgmax.format("")}),
          amd AS (${sqlArgmax.format("WHERE user_id % 10 <> 3")})
        SELECT am.user_id, am.last_cents AS cents_all,
          amd.last_cents AS cents_kept
        FROM am JOIN amd ON am.user_id = amd.user_id
        ORDER BY am.user_id""")),

    // incremental batch read: ONLY the second commit's upserts through
    // the t$changelog system table == the second-half arg-max set
    QueryDef("c_incremental",
      (s, dir) => {
        val st = setup(s, dir)
        // fromSnapshot is the exclusive base: (snap 1, snap 2]
        s.read.option("fromSnapshot", "1").option("toSnapshot", "2")
          .table(s"graft_c.${st.ns}.`ev_pk$$changelog`")
          .select("user_id", "last_event_id", "last_type", "last_cents")
          .orderBy("user_id")
      },
      Some(sqlArgmax.format(s"WHERE event_id > $sqlMid"))),

    // read AFTER commit-triggered compaction: the data commit's own
    // COMPACT snapshot must exist, and the merged read is unchanged
    QueryDef("c_compact_read",
      (s, dir) => {
        val st = setup(s, dir)
        val kinds = s.table(s"graft_c.${st.ns}.`ev_pkc$$snapshots`")
          .select("commit_kind").collect().map(_.getString(0))
        require(kinds.contains("COMPACT"),
          s"expected a COMPACT snapshot, got ${kinds.mkString(",")}")
        s.sql(s"SELECT * FROM graft_c.${st.ns}.ev_pkc ORDER BY user_id")
      },
      Some(sqlArgmax.format(""))),

    // Structured Streaming through the connector, driver-checked: an
    // AvailableNow stream over the 2-commit partitioned PK table sees
    // each commit as one micro-batch of RAW upsert rows (PK streaming
    // does not merge across batches), so the aggregate equals the union
    // of the two per-half arg-max sets — which DuckDB can restate from
    // `events` without seeing the table format or the stream.
    QueryDef("c_stream_agg",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.streaming.Trigger
        val st = setup(s, dir)
        val sink = s"c_stream_agg_${st.ns}"
        // CAUTION: the memory sink collects every output row to the
        // driver. Fine here (the aggregate is 5 rows); for any result
        // proportional to the data, write a parquet/table sink instead.
        withStreamStateParts(s) {
          val q = s.readStream.table(s"graft_c.${st.ns}.ev_ppk")
            .groupBy("event_type")
            .agg(count(lit(1)).as("n_upserts"),
              sum(col("last_event_id")).as("sum_last"))
            .writeStream.format("memory").queryName(sink)
            .outputMode("complete").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        s.table(sink).orderBy("event_type")
      },
      Some(s"""WITH h1 AS (
          SELECT event_type, user_id, MAX(event_id) AS last_event_id
          FROM events WHERE event_id <= $sqlMid GROUP BY 1, 2),
        h2 AS (
          SELECT event_type, user_id, MAX(event_id) AS last_event_id
          FROM events WHERE event_id > $sqlMid GROUP BY 1, 2),
        u AS (SELECT * FROM h1 UNION ALL SELECT * FROM h2)
        SELECT event_type, COUNT(*) AS n_upserts,
          CAST(SUM(last_event_id) AS BIGINT) AS sum_last
        FROM u GROUP BY event_type ORDER BY event_type""")),

    // read after UPDATE: matched keys carry doubled cents, everything
    // else is the untouched arg-max
    QueryDef("c_update_read",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"SELECT * FROM graft_c.${st.ns}.ev_pk_upd ORDER BY user_id")
      },
      Some(s"""WITH am AS (${sqlArgmax.format("")})
        SELECT user_id, last_event_id, last_type,
          CAST(CASE WHEN user_id % 7 = 0 THEN last_cents * 2
               ELSE last_cents END AS BIGINT) AS last_cents
        FROM am ORDER BY user_id""")),

    // read after MERGE INTO: %10=5 keys deleted, other %5=0 keys
    // re-typed 'merged', one brand-new key inserted
    QueryDef("c_merge_into",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"SELECT * FROM graft_c.${st.ns}.ev_pk_mrg ORDER BY user_id")
      },
      Some(s"""WITH am AS (${sqlArgmax.format("")})
        SELECT user_id, last_event_id,
          CASE WHEN user_id % 5 = 0 THEN 'merged' ELSE last_type END AS last_type,
          last_cents
        FROM am WHERE user_id % 10 <> 5
        UNION ALL
        SELECT (SELECT MAX(user_id) FROM events) + 1,
          CAST(-1 AS BIGINT), 'inserted', CAST(0 AS BIGINT)
        ORDER BY user_id""")),

    // merged PK read where the data files are ORC — same arg-max
    // answer as c_pk_merge_read, but through OrcIO end-to-end
    QueryDef("c_format_orc",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"SELECT * FROM graft_c.${st.ns}.ev_pk_orc ORDER BY user_id")
      },
      Some(sqlArgmax.format(""))),

    // same through AvroIO (row-oriented format, no column pruning in
    // the file itself — projection happens in the reader)
    QueryDef("c_format_avro",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"SELECT * FROM graft_c.${st.ns}.ev_pk_avro ORDER BY user_id")
      },
      Some(sqlArgmax.format(""))),

    // read across schema eras: old files lack sum_cents (null-filled),
    // carry n_events under its pre-rename name and pre-widening INT
    // type — the field-id mapping reconciles all three
    QueryDef("c_evolution",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"SELECT * FROM graft_c.${st.ns}.ev_evo " +
          "ORDER BY user_id, sum_cents")
      },
      Some(s"""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
          CAST(NULL AS BIGINT) AS sum_cents
        FROM events WHERE event_id <= $sqlMid GROUP BY user_id
        UNION ALL
        SELECT user_id, COUNT(*) AS n_events,
          CAST(SUM(${sqlCents("value")}) AS BIGINT) AS sum_cents
        FROM events WHERE event_id > $sqlMid GROUP BY user_id
        ORDER BY user_id, sum_cents NULLS FIRST""")),

    // the reference's primary user surface — Catalog.create →
    // getTable → ReadBuilder.withFilter.withProjection →
    // TableRead.toDF — as a driver-checked row; the require proves
    // both pushdowns reached the scan (partition filter in pruneBy,
    // unused event_id column absent from the whole plan)
    QueryDef("c_api_read",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val st = setup(s, dir)
        val wh = s.conf.get(s"spark.sql.catalog.graft_c.warehouse")
        val cat = graft.api.Catalog.create(s,
          Map("warehouse" -> wh, "catalog-name" -> "graft_c"))
        val rb = cat.getTable(s"${st.ns}.ev_part").newReadBuilder()
        val pb = rb.newPredicateBuilder()
        val df = rb.withFilter(pb.equal("event_type", "view"))
          .withProjection(Seq("user_id", "cents"))
          .newRead().toDF()
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("GraftScan") && plan.contains("event_type"),
          "c_api_read: partition filter must reach the scan")
        require(!plan.contains("event_id"),
          "c_api_read: projection must prune event_id everywhere")
        df.groupBy("user_id")
          .agg(sum("cents").as("sum_cents"), count(lit(1)).as("n_events"))
          .orderBy("user_id")
      },
      Some(s"""SELECT user_id,
          CAST(SUM(${sqlCents("value")}) AS BIGINT) AS sum_cents,
          COUNT(*) AS n_events
        FROM events WHERE event_type = 'view'
        GROUP BY user_id ORDER BY user_id""")),

    // the reference's remaining three sink verbs in one driver row:
    // `to_duckdb` ≙ createTempView + full SQL over the registered
    // snapshot (the result the row returns), and the require drains the
    // `to_arrow_batch_reader` / record-generator analogue — a streaming
    // toLocalIterator that must NOT need a full collect to yield rows
    QueryDef("c_api_sql",
      (s, dir) => {
        val st = setup(s, dir)
        val wh = s.conf.get("spark.sql.catalog.graft_c.warehouse")
        val cat = graft.api.Catalog.create(s,
          Map("warehouse" -> wh, "catalog-name" -> "graft_c"))
        val read = cat.getTable(s"${st.ns}.ev_part").newReadBuilder().newRead()
        val it = read.toLocalIterator()
        var drained = 0
        while (it.hasNext && drained < 10) { it.next(); drained += 1 }
        require(drained == 10,
          s"c_api_sql: local iterator yielded $drained rows, expected 10")
        val view = s"api_sql_${st.ns}"
        read.createTempView(view)
        s.sql(s"""SELECT event_type, COUNT(*) AS n_events,
            SUM(cents) AS sum_cents
          FROM $view GROUP BY event_type ORDER BY event_type""")
      },
      Some(s"""SELECT event_type, COUNT(*) AS n_events,
          CAST(SUM(${sqlCents("value")}) AS BIGINT) AS sum_cents
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // Write-side Arrow IPC ingestion (≙ `write_arrow`,
    // `pypaimon/api/table_write.py:27-48`, decoded JVM-side in
    // `BytesWriter.java:38-99`): the per-type revenue rollup is staged
    // into an append table, exported as an Arrow IPC stream
    // (`to_arrow`), ingested THROUGH writeArrow into a separate
    // primary-key table, and the row returns the PK table's merged
    // read — green only if the bytes survive encode → decode → schema
    // check → distributed write → merge read. Seeding is guarded +
    // failure-atomic like c_dedup_ingest, so re-runs in one JVM reuse
    // the committed result.
    QueryDef("c_api_arrow",
      (s, dir) => {
        val st = setup(s, dir)
        val wh = s.conf.get("spark.sql.catalog.graft_c.warehouse")
        val cat = graft.api.Catalog.create(s,
          Map("warehouse" -> wh, "catalog-name" -> "graft_c"))
        val stage = s"graft_c.${st.ns}.arrow_stage"
        val ingest = s"graft_c.${st.ns}.arrow_ingest"
        ConnectorQ.synchronized {
          if (!s.catalog.tableExists(ingest)) {
            try {
              s.sql(s"""CREATE TABLE $stage
                (event_type STRING, n_events BIGINT, sum_cents BIGINT)""")
              s.sql(s"""INSERT INTO $stage
                SELECT event_type, COUNT(*), SUM(cents)
                FROM graft_c.${st.ns}.ev_part GROUP BY event_type""")
              s.sql(s"""CREATE TABLE $ingest
                (event_type STRING, n_events BIGINT, sum_cents BIGINT)
                TBLPROPERTIES ('primary-key'='event_type', 'bucket'='1')""")
              // batch size 2 forces the multi-batch decode path
              val ipc = cat.getTable(s"${st.ns}.arrow_stage")
                .newReadBuilder().newRead().toArrow(maxRowsPerBatch = 2)
              val tIn = cat.getTable(s"${st.ns}.arrow_ingest")
              val wb = tIn.newBatchWriteBuilder()
              val w = wb.newWrite()
              w.writeArrow(ipc)
              wb.newCommit().commit(w.prepareCommit())
            } catch { case t: Throwable =>
              try {
                s.sql(s"DROP TABLE IF EXISTS $stage")
                s.sql(s"DROP TABLE IF EXISTS $ingest")
              } catch { case _: Throwable => () }
              throw t
            }
          }
        }
        s.sql(s"""SELECT event_type, n_events, sum_cents
          FROM $ingest ORDER BY event_type""")
      },
      Some(s"""SELECT event_type, COUNT(*) AS n_events,
          CAST(SUM(${sqlCents("value")}) AS BIGINT) AS sum_cents
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // streaming dedup-at-ingest, EXACT shape. CONTRACT: dropDuplicates
    // holds one state row per distinct (event_type, user_id) forever —
    // state is O(|event-type enum| x |user domain|) and never evicts
    // (StreamingSpec "exact dedup keeps one state row per key forever"
    // pins the growth). Use it only when that product is value-bounded,
    // as here (a small enum x the bounded user domain); a corpus-scale
    // key space at 100 TB must use the watermarked shape below
    // (c_stream_dedup_wm), whose state is bounded by the lateness
    // window instead. The per-type distinct-user rollup is
    // arrival-order-invariant, so the oracle is a plain COUNT DISTINCT
    QueryDef("c_stream_dedup",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.streaming.Trigger
        val st = setup(s, dir)
        val sink = s"c_stream_dedup_${st.ns}"
        withStreamStateParts(s) {
          val q = s.readStream.table(s"graft_c.${st.ns}.ev_part")
            .dropDuplicates("event_type", "user_id")
            .groupBy("event_type")
            .agg(count(lit(1)).as("n_distinct_users"))
            .writeStream.format("memory").queryName(sink)
            .outputMode("complete").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        s.table(sink).orderBy("event_type")
      },
      Some("""SELECT event_type,
          COUNT(DISTINCT user_id) AS n_distinct_users
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // the WATERMARKED shape of c_stream_dedup — the 100 TB scale story:
    // dropDuplicatesWithinWatermark bounds dedup state by the lateness
    // window instead of the key space (StreamingSpec pins the actual
    // eviction with a short delay). Here the delay exceeds the data's
    // whole time span, so nothing evicts mid-run and the result equals
    // plain DISTINCT — which keeps the row deterministic and DuckDB-
    // restatable (a short delay would make the answer depend on which
    // commit a duplicate landed in). Dedup emits first-seen rows
    // immediately in append mode, so AvailableNow flushes everything.
    QueryDef("c_stream_dedup_wm",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.streaming.Trigger
        val st = setup(s, dir)
        // FILE sink, not memory: the dedup stream emits one row per
        // distinct (hour, user) — corpus-sized, not value-bounded
        // (~96k rows at sf0.1; ~all keys at 100 TB). A memory sink
        // would collect that to the driver; the parquet sink keeps the
        // output distributed, which is the shape an ingest-dedup
        // pipeline actually ships. Lives under the setup warehouse so
        // the existing shutdown cleanup owns the bytes; AvailableNow
        // over the same checkpoint is a no-op on re-runs, so the read
        // below stays idempotent within a JVM.
        val wh = s.conf.get("spark.sql.catalog.graft_c.warehouse")
        val out = s"$wh/_streams/dedup_wm_${st.ns}"
        // Skip the trailing NO-DATA micro-batch (measured 0.69 s of
        // pure machinery: state-store reload+commit × partitions,
        // empty sink commit). It exists to evict state eagerly after
        // the watermark advances — dedup in append mode emits
        // first-seen rows IMMEDIATELY, so the no-data batch never
        // contributes an output row, and a terminal AvailableNow run
        // discards its state at termination anyway. A long-running
        // production stream keeps the default (eager eviction bounds
        // state between data batches); rows whose OUTPUT depends on
        // the no-data batch (append-mode windowed aggs emit final
        // windows there — c_stream_window) must never set this.
        val prevNoData =
          s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
        s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        try withStreamStateParts(s) {
          val q = s.readStream.table(s"graft_c.${st.ns}.ev_ts")
            .withWatermark("ts", "365 days")
            .withColumn("hour_start", date_trunc("hour", col("ts")))
            .dropDuplicatesWithinWatermark("hour_start", "user_id")
            .select("hour_start", "user_id")
            .writeStream.format("parquet")
            .option("path", s"$out/data")
            .option("checkpointLocation", s"$out/chk")
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        } finally s.conf.set(
          "spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
        s.read.parquet(s"$out/data").groupBy("hour_start")
          .agg(count(lit(1)).as("n_distinct_users"))
          .orderBy("hour_start")
      },
      Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
          COUNT(DISTINCT user_id) AS n_distinct_users
        FROM events GROUP BY 1 ORDER BY hour_start""")),

    // Streaming WRITE sink + aggregation engine, driver-checked: raw
    // events stream INTO a PK aggregation table, so the per-user sums
    // come out of the FORMAT's merge — no stateful streaming aggregate,
    // no update-mode sink, state is O(keys) files instead of a state
    // store. Each source commit is one epoch = one sink snapshot with
    // an idempotent '<queryId>/<epochId>' identity; AvailableNow over
    // the fixed checkpoint makes re-runs no-ops, so the read below is
    // idempotent within a JVM. The oracle restates the whole thing as
    // a plain GROUP BY over events.
    QueryDef("c_stream_sink",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.streaming.Trigger
        val st = setup(s, dir)
        val wh = s.conf.get("spark.sql.catalog.graft_c.warehouse")
        val out = s"$wh/_streams/sink_${st.ns}"
        val sinkTable = s"graft_c.${st.ns}.ev_sink_agg"
        s.sql(s"""CREATE TABLE IF NOT EXISTS $sinkTable
          (user_id BIGINT, total_cents BIGINT, n_events BIGINT)
          TBLPROPERTIES ('primary-key'='user_id', 'bucket'='4',
            'merge-engine'='aggregation',
            'fields.total_cents.aggregate-function'='sum',
            'fields.n_events.aggregate-function'='sum')""")
        withStreamStateParts(s) {
          val q = s.readStream.table(s"graft_c.${st.ns}.ev_ts")
            .select(col("user_id"), col("cents").as("total_cents"),
              lit(1L).as("n_events"))
            .writeStream
            .option("checkpointLocation", s"$out/chk")
            .trigger(Trigger.AvailableNow())
            .toTable(sinkTable)
          q.awaitTermination()
        }
        s.sql(s"SELECT * FROM $sinkTable ORDER BY user_id")
      },
      Some(s"""SELECT user_id,
          CAST(SUM(${sqlCents("value")}) AS BIGINT) AS total_cents,
          COUNT(*) AS n_events
        FROM events GROUP BY user_id ORDER BY user_id""")),

    // Budget-capped ingest ([[graft.streaming.QuotaCap]]): per
    // event_type, admit events in event_id order while the running
    // cents total stays within a 100k-cent budget — the "stop pulling
    // from a source once its quota fills" step of a curation pipeline,
    // as a stateful stream (one Long of state per key). ev_part is a
    // single commit, so AvailableNow delivers one batch and the
    // admitted set equals the batch prefix-sum window bit-for-bit
    // (see QuotaCap's determinism note). The admitted set is
    // budget-bounded by construction (~tens of rows per key), which is
    // what justifies the memory sink.
    QueryDef("c_stream_quota",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.streaming.Trigger
        val st = setup(s, dir)
        val sink = s"c_stream_quota_${st.ns}"
        import s.implicits._
        val in = s.readStream.table(s"graft_c.${st.ns}.ev_part")
          .select(col("event_type").as("key"), col("event_id").as("id"),
            col("cents").as("weight"))
          .as[graft.streaming.QuotaCap.In]
        withStreamStateParts(s) {
          val q = graft.streaming.QuotaCap.cap(in, 100000L)
            .writeStream.format("memory").queryName(sink)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        s.table(sink).groupBy(col("key").as("event_type"))
          .agg(count(lit(1)).as("n_admitted"),
            sum("weight").as("cents_admitted"),
            max("id").as("last_admitted_id"))
          .orderBy("event_type")
      },
      Some(s"""WITH c AS (
          SELECT event_type, event_id, ${sqlCents("value")} AS cents
          FROM events),
        cum AS (
          SELECT event_type, event_id, cents,
            SUM(cents) OVER (PARTITION BY event_type ORDER BY event_id
              ROWS UNBOUNDED PRECEDING) AS run
          FROM c)
        SELECT event_type, COUNT(*) AS n_admitted,
          CAST(SUM(cents) AS BIGINT) AS cents_admitted,
          MAX(event_id) AS last_admitted_id
        FROM cum WHERE run <= 100000
        GROUP BY event_type ORDER BY event_type""")),

    // Streaming-read consumer lifecycle end-to-end: commits 1-2 are
    // drained under a consumer-id, commit 3 lands while the pipeline
    // is down, retention tightens to retain_last=1 — the consumer
    // floor keeps the unread commit AND its pre-commit baseline
    // (floor-1) alive — and a FRESH-checkpoint resume seeded by the
    // consumer file reads EXACTLY commit 3, which DuckDB restates as
    // the user_id % 3 = 2 slice of events. (The "stream" in the row
    // name opts it into Bench.cleanupAfter: the resume memory sink's
    // collected rows are dropped after the timed window.)
    QueryDef("c_stream_consumer_pin",
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        val st = setup(s, dir)
        val ns = st.ns
        val tbl = s"graft_c.$ns.ev_consp"
        val view = s"ev_consp_src_$ns"
        t(s, dir, "events").createOrReplaceTempView(view)
        val resumeSink = s"c_stream_consumer_pin_resume_$ns"
        ConnectorQ.synchronized {
          if (!s.catalog.tableExists(tbl)) {
            try {
              s.sql(s"CREATE TABLE $tbl (user_id BIGINT, n BIGINT)")
              def ins(k: Int): Unit = s.sql(s"""INSERT INTO $tbl
                SELECT user_id, COUNT(*) FROM $view
                WHERE user_id % 3 = $k GROUP BY user_id""")
              // the first drain exists only to advance the consumer —
              // a noop sink keeps its data-proportional rows off the
              // driver heap; the resume drain's result IS the answer
              def drain(sink: Option[String]): Unit =
                withStreamStateParts(s) {
                  val w = s.readStream.option("consumer-id", "pin")
                    .table(tbl).writeStream
                  val q = sink.fold(w.format("noop"))(n =>
                      w.format("memory").queryName(n))
                    .outputMode("append").trigger(Trigger.AvailableNow())
                    .start()
                  q.awaitTermination()
                }
              ins(0); ins(1)
              drain(None) // through snapshot 2, consumer next=3
              ins(2) // snapshot 3, unread while "down"
              val wh = s.conf.get("spark.sql.catalog.graft_c.warehouse")
              val cat = graft.api.Catalog.create(s,
                Map("warehouse" -> wh, "catalog-name" -> "graft_c"))
              cat.getTable(s"$ns.ev_consp").expireSnapshots(retainLast = 1)
              val minId = s.table(s"graft_c.$ns.`ev_consp$$snapshots`")
                .agg(org.apache.spark.sql.functions.min("snapshot_id"))
                .collect()(0).getLong(0)
              require(minId == 2L, s"consumer floor 3 must retain from " +
                s"2 (the baseline); oldest retained was $minId")
              val next = s.table(s"graft_c.$ns.`ev_consp$$consumers`")
                .collect().map(_.getLong(1)).toSeq
              require(next == Seq(3L),
                s"expected consumer 'pin' at nextSnapshot 3, got $next")
              // fresh checkpoint, seeded at offset 2 by the consumer
              drain(Some(resumeSink))
            } catch { case e: Throwable =>
              try s.sql(s"DROP TABLE IF EXISTS $tbl")
              catch { case _: Throwable => () }
              throw e
            }
          }
        }
        s.sql(s"SELECT user_id, n FROM $resumeSink ORDER BY user_id")
      },
      Some("""SELECT user_id, COUNT(*) AS n FROM events
        WHERE user_id % 3 = 2 GROUP BY user_id ORDER BY user_id""")),

    // expire history down to the latest snapshot, vacuum unreferenced
    // files, then read: the merged state is unchanged (idempotent, so
    // repeat runs in one JVM are safe); the require proves the history
    // is actually gone
    QueryDef("c_expire_vacuum",
      (s, dir) => {
        val st = setup(s, dir)
        val wh = s.conf.get("spark.sql.catalog.graft_c.warehouse")
        val cat = graft.api.Catalog.create(s,
          Map("warehouse" -> wh, "catalog-name" -> "graft_c"))
        val h = cat.getTable(s"${st.ns}.ev_pk_exp")
        h.expireSnapshots(retainLast = 1)
        h.vacuum(olderThanMillis = 0L)
        val snaps = s.table(s"graft_c.${st.ns}.`ev_pk_exp$$snapshots`").count()
        require(snaps == 1, s"expected 1 retained snapshot, got $snaps")
        s.sql(s"SELECT * FROM graft_c.${st.ns}.ev_pk_exp ORDER BY user_id")
      },
      Some(sqlArgmax.format(""))),

    // scan of a table with no snapshot: zero input partitions, full
    // schema, empty result — matching the oracle's empty relation
    QueryDef("c_empty_scan",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"SELECT * FROM graft_c.${st.ns}.ev_empty ORDER BY user_id")
      },
      Some(sqlArgmax.format("WHERE 1 = 0"))),

    // tumbling event-time windows over the connector stream: the
    // windowed aggregate runs inside Structured Streaming (complete
    // mode — the AvailableNow fallback executes one batch, so append
    // mode would flush nothing before termination); window.start is
    // exactly date_trunc('hour', ts), which DuckDB restates from the
    // same parquet. Memory sink is fine: one row per distinct hour.
    QueryDef("c_stream_window",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.streaming.Trigger
        val st = setup(s, dir)
        val sink = s"c_stream_window_${st.ns}"
        withStreamStateParts(s) {
          val q = s.readStream.table(s"graft_c.${st.ns}.ev_ts")
            .groupBy(window(col("ts"), "1 hour"))
            .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
            .select(col("window.start").as("hour_start"),
              col("n_events"), col("sum_cents"))
            .writeStream.format("memory").queryName(sink)
            .outputMode("complete").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        s.table(sink).orderBy("hour_start")
      },
      Some(s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
          COUNT(*) AS n_events,
          CAST(SUM(${sqlCents("value")}) AS BIGINT) AS sum_cents
        FROM events GROUP BY 1 ORDER BY hour_start""")),

    // Ingestion dedup against a PERSISTENT fingerprint store — the
    // production shape that ties the lakehouse layer to the dedup
    // family: document fingerprints live in a primary-key graft table
    // (bucketed BY the fingerprint, so the admit check is an equi-join
    // on the PK — co-partitioned by bucket at scale, no corpus
    // shuffle), each new batch admits only fps absent from the store,
    // and the store itself is the durable state (survives restarts,
    // compacts under LWW — unlike stream state, it is queryable and
    // time-travelable). Batch A (even doc_ids) seeds commit 1; batch B
    // (odd) admits its unseen fps in commit 2; provenance = first_doc
    // parity, so the rollup is derivable from the final store alone
    // and the row is idempotent within a JVM (re-runs skip the
    // already-seeded table and re-read the same snapshot chain).
    QueryDef("c_dedup_ingest",
      (s, dir) => {
        val st = setup(s, dir)
        val (tbl, view) = seededDocFpStore(s, dir, st.ns)
        // ONE conditional-aggregate scan of the store instead of four
        // scalar-subquery scans (each planned its own merge-on-read
        // pass over the PK table), plus the one odd-batch distinct
        // count over the source view (guide §2.4 — same rows out).
        s.sql(s"""SELECT n_store_fps, n_seeded, n_admitted_late,
            n_odd_fps - n_admitted_late AS n_rejected_dupes
          FROM (SELECT COUNT(*) AS n_store_fps,
                  COUNT(CASE WHEN first_doc % 2 = 0 THEN 1 END) AS n_seeded,
                  COUNT(CASE WHEN first_doc % 2 = 1 THEN 1 END)
                    AS n_admitted_late
                FROM $tbl) st
          CROSS JOIN (SELECT COUNT(DISTINCT fp) AS n_odd_fps
                      FROM $view WHERE doc_id % 2 = 1) src""")
      },
      Some(s"""WITH f AS (
          SELECT doc_id, ${sqlFingerprint("text")} AS fp
          FROM documents),
        a AS (SELECT DISTINCT fp FROM f WHERE doc_id % 2 = 0),
        b AS (SELECT DISTINCT fp FROM f WHERE doc_id % 2 = 1),
        nw AS (SELECT fp FROM b WHERE fp NOT IN (SELECT fp FROM a))
        SELECT
          (SELECT COUNT(*) FROM a) + (SELECT COUNT(*) FROM nw) AS n_store_fps,
          (SELECT COUNT(*) FROM a) AS n_seeded,
          (SELECT COUNT(*) FROM nw) AS n_admitted_late,
          (SELECT COUNT(*) FROM b) - (SELECT COUNT(*) FROM nw)
            AS n_rejected_dupes""")),

    // INCREMENTAL dedup over the changelog STREAM — the marriage of the
    // streaming layer with d_exact's durable PK store: two "crawl"
    // commits land in a raw PK table (batch 1 re-crawls the even half,
    // mutating every 3rd doc; batch 2 the odd half, with overlap into
    // batch 1's mutations), a consumer streams the table's $changelog,
    // fingerprints map-side, anti-joins the seeded doc_fp STORE
    // (stream-static join — the store is the durable dedup state, not
    // stream state), and folds min(batch) per new fingerprint. Output:
    // how many genuinely-new fingerprints each crawl batch contributed.
    // Arrival-order invariant (min(batch), not first-seen), so DuckDB
    // restates it without seeing the stream. Scale contract: the
    // streaming state is one row per NEW fingerprint (complete-mode
    // agg) — value-bounded here; a corpus-scale keyspace writes
    // admitted fps back to the store per epoch (foreachBatch MERGE)
    // instead of holding them in state, exactly what the store's
    // PK merge engine is for (see c_dedup_ingest).
    QueryDef("c_stream_changelog_dedup",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.streaming.Trigger
        val st = setup(s, dir)
        val (store, _) = seededDocFpStore(s, dir, st.ns)
        val raw = s"graft_c.${st.ns}.doc_raw"
        val srcView = s"docs_raw_src_${st.ns}"
        t(s, dir, "documents").createOrReplaceTempView(srcView)
        ConnectorQ.synchronized {
          // failure-atomic like the store seed: a half-built raw table
          // must not survive for later runs to misread
          if (!s.catalog.tableExists(raw)) {
            try {
              s.sql(s"""CREATE TABLE $raw (doc_id BIGINT, batch INT,
                  text STRING)
                TBLPROPERTIES ('primary-key'='doc_id', 'bucket'='2')""")
              s.sql(s"""INSERT INTO $raw
                SELECT doc_id + 10000000, 1,
                  CASE WHEN doc_id % 3 = 0 THEN text || ' v2'
                       ELSE text END
                FROM $srcView WHERE doc_id % 2 = 0""")
              s.sql(s"""INSERT INTO $raw
                SELECT doc_id + 20000000, 2,
                  CASE WHEN doc_id % 3 = 0 THEN text || ' v2'
                       WHEN doc_id % 3 = 1 THEN text || ' v3'
                       ELSE text END
                FROM $srcView WHERE doc_id % 2 = 1""")
            } catch { case t: Throwable =>
              try s.sql(s"DROP TABLE IF EXISTS $raw")
              catch { case _: Throwable => () }
              throw t
            }
          }
        }
        val sink = s"c_stream_cl_dedup_${st.ns}"
        withStreamStateParts(s) {
          val q = s.readStream
            .table(s"graft_c.${st.ns}.`doc_raw$$changelog`")
            .withColumn("fp", fingerprint(col("text")))
            .join(s.table(store).select("fp"), Seq("fp"), "left_anti")
            .groupBy("fp").agg(min("batch").as("first_batch"))
            .writeStream.format("memory").queryName(sink)
            .outputMode("complete").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        s.table(sink).groupBy("first_batch")
          .agg(count(lit(1)).as("n_new_fps"))
          .orderBy("first_batch")
      },
      Some(s"""WITH f AS (
          SELECT doc_id, ${sqlFingerprint("text")} AS fp FROM documents),
        store AS (SELECT DISTINCT fp FROM f),
        raw AS (
          SELECT 1 AS batch, ${sqlFingerprint(
            "CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END")} AS fp
          FROM documents WHERE doc_id % 2 = 0
          UNION ALL
          SELECT 2 AS batch, ${sqlFingerprint(
            "CASE WHEN doc_id % 3 = 0 THEN text || ' v2' " +
              "WHEN doc_id % 3 = 1 THEN text || ' v3' ELSE text END")} AS fp
          FROM documents WHERE doc_id % 2 = 1),
        nw AS (SELECT fp, MIN(batch) AS first_batch FROM raw
          WHERE fp NOT IN (SELECT fp FROM store) GROUP BY fp)
        SELECT first_batch, COUNT(*) AS n_new_fps FROM nw
        GROUP BY first_batch ORDER BY first_batch""")),

    // Metadata system tables as a driver-checked row: $schemas walks
    // ev_evo's full lineage (CREATE + ADD + RENAME + TYPE = ids 0..3),
    // $options exposes ev_pk_ag's three per-field fold configs, and
    // $manifests shows ev_pk's two-commit chain (no compaction
    // configured → exactly 2 manifests, adds only). All counts are
    // determined by the setup DDL alone, so DuckDB states them as
    // constants — the row is green only if the catalog serves the
    // metadata views exactly.
    QueryDef("c_meta_tables",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"""SELECT
          (SELECT COUNT(*) FROM graft_c.${st.ns}.`ev_evo$$schemas`)
            AS n_schemas,
          (SELECT MAX(schema_id) FROM graft_c.${st.ns}.`ev_evo$$schemas`)
            AS max_schema,
          (SELECT COUNT(*) FROM graft_c.${st.ns}.`ev_pk_ag$$options`
             WHERE key LIKE 'fields.%') AS n_fold_options,
          (SELECT COUNT(*) FROM graft_c.${st.ns}.`ev_pk$$manifests`)
            AS n_manifests,
          (SELECT SUM(num_deleted_files)
             FROM graft_c.${st.ns}.`ev_pk$$manifests`) AS n_deleted""")
      },
      Some("""SELECT CAST(4 AS BIGINT) AS n_schemas,
          CAST(3 AS BIGINT) AS max_schema,
          CAST(3 AS BIGINT) AS n_fold_options,
          CAST(2 AS BIGINT) AS n_manifests,
          CAST(0 AS BIGINT) AS n_deleted""")),

    // dynamic overwrite replaced only the 'click' partition
    QueryDef("c_dynamic_overwrite",
      (s, dir) => {
        val st = setup(s, dir)
        s.sql(s"SELECT * FROM graft_c.${st.ns}.ev_ow " +
          "ORDER BY event_type, user_id")
      },
      Some(s"""SELECT event_type, user_id, COUNT(*) AS n
          FROM events WHERE event_type <> 'click' GROUP BY 1, 2
        UNION ALL
        SELECT event_type, user_id,
            CAST(SUM(${sqlCents("value")}) AS BIGINT) AS n
          FROM events WHERE event_type = 'click' GROUP BY 1, 2
        ORDER BY event_type, user_id"""))
  )
}
