package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._
import graft.api.{Catalog, GraftTableHandle, Plan, Schema}
import graft.format.{DataFileMeta, FileIO, SnapshotManager, SortMergeReader}

/** Helpers shared by the two table workloads. */
object TableOps {

  /** Batches `bs` of `gen`, in order, as one frame with `parts` input
    * partitions per batch. The rows are generated in the tasks; a write
    * gives later partitions higher sequence numbers, so a later batch
    * wins as if it had been committed later.
    */
  def frame(spark: SparkSession, gen: KvGen, bs: Seq[Int], parts: Int): DataFrame = {
    val n = bs.size * parts
    val rdd = spark.sparkContext.parallelize(0 until n, n).flatMap { p =>
      val from = p % parts * gen.rows / parts
      gen.batch(bs(p / parts), from, from + gen.rows / parts)
    }
    spark.createDataFrame(rdd, KvGen.WithKind)
  }

  def catalog(env: Env, rep: Int): Catalog = {
    val wh = env.work.resolve(s"warehouse-$rep")
    Files.createDirectories(wh)
    val cat = Catalog.create(env.spark,
      Map("warehouse" -> wh.toString, "catalog-name" -> s"bench$rep"))
    cat.createDatabase("b", ignoreIfExists = true)
    cat
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** write + prepareCommit + commit, each call in its own span; returns
    * the files the write added.
    */
  def upsert(tr: Tracer, t: GraftTableHandle, df: DataFrame): Seq[DataFileMeta] = {
    val wb = t.newBatchWriteBuilder()
    val w = tr.span("api", "write")(wb.newWrite().write(df))
    val msgs = tr.span("api", "prepare_commit")(w.prepareCommit())
    tr.span("api", "commit")(wb.newCommit().commit(msgs))
    msgs
  }

  def snapshots(t: GraftTableHandle): SnapshotManager =
    new SnapshotManager(t.tableDir, io = FileIO.resolve(t.tableSchema.ioSpec))

  def dirBytes(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** Storage-layer counts of a table, read after the measured window. */
  def formatState(t: GraftTableHandle, liveRows: Int): Map[String, Double] = {
    val sm = snapshots(t)
    val manifests = t.tableDir.resolve("manifest")
    Map(
      "format.snapshots" -> sm.existingSnapshotIds.size.toDouble,
      "format.manifest_files" -> (if (Files.isDirectory(manifests))
        Files.list(manifests).count().toDouble else 0.0),
      "format.live_files" -> sm.liveFilesLatest.size.toDouble,
      "format.stored_bytes_per_live_row" -> dirBytes(t.tableDir).toDouble / liveRows)
  }

  /** Pruning and size counts of a read's plan, recorded for its op. */
  def planCounts(tr: Tracer, s: OpSample, plan: Plan, liveFiles: Int): Unit = {
    val files = plan.splits.map(_.filePaths.size).sum
    tr.count(s, "format.files_per_read", files)
    tr.count(s, "format.files_pruned_ratio", 1.0 - files.toDouble / liveFiles)
    tr.count(s, "format.bytes_per_read", plan.splits.map(_.fileSize).sum.toDouble)
    tr.count(s, "format.premerge_rows_per_read", plan.splits.map(_.rowCount).sum.toDouble)
  }

  /** format.sortmerge_rows_per_s: `SortMergeReader` drained over one
    * bucket's worth of in-memory sorted runs shaped like mor_read's
    * (MorRead.Runs runs of a quarter of MorRead.RunRows rows, over a
    * quarter of its key space): input rows per second, median of five
    * drains after five untimed ones. Taken in mor_read only, after its
    * window: the JIT compiles the reader for the call sites the workload
    * before it used, and after upsert_ingest or inventory the same drains
    * read 1.2M to 3.3M rows/s from run to run.
    */
  def sortMergeRowsPerS(seed: Long): Double = {
    val gen = new KvGen(seed, MorRead.Keys / 4, MorRead.RunRows / 4, MorRead.RunRows / 4)
    val data: Seq[Array[InternalRow]] = (0 until MorRead.Runs).map { r =>
      (0 until gen.rows).sortBy(gen.key(r, _)).map { i =>
        val w = gen.writer(r, i)
        new GenericInternalRow(Array[Any](w.toLong, if (gen.isDelete(i)) 1 else 0,
          gen.key(r, i), gen.a(w), gen.b(w), UTF8String.fromString(gen.c(w)))): InternalRow
      }.toArray
    }
    def drain(): Double = {
      val t0 = System.nanoTime()
      val it = new SortMergeReader(data.map(_.iterator.map(r => ("f", r))),
        Seq(2), Seq(LongType), 0, 1)
      while (it.hasNext) it.next()
      (System.nanoTime() - t0) / 1e9
    }
    (0 until 5).foreach(_ => drain())
    MorRead.Runs.toDouble * gen.rows / Stats.median((0 until 5).map(_ => drain()))
  }
}

import TableOps._

/** upsert_ingest: upsert batches (5% deletes) into a bucket=4
  * primary-key table with the default compaction trigger (five files
  * per bucket). Each batch arrives in two input partitions, so a commit
  * runs two write tasks (one per task thread) and adds two files per
  * bucket: from a compacted bucket (one file), the first commit leaves
  * three files and the second reaches five and compacts. The cycle is
  * those two commits (`upsert`, `upsert_compacting`) and a maintenance
  * op (expireSnapshots + vacuum), which is not a kind of op_p50_ms but
  * counts in ops_per_s. Loads the writer, `FileStoreCommit`, `Compactor`
  * and `Maintenance`; reads happen only inside compaction.
  */
object UpsertIngest {
  val Setups = 12 // set-ups per run; setup_s is the median of the last six
  val Keys = 1 << 17
  // large enough that the two write tasks, not job launch, take most of
  // a plain commit
  val BatchRows = 1 << 16
  val Batches = 4 // distinct batches, applied round-robin; each overlaps its neighbours by half
  val Retain = 3 // snapshots each maintenance op keeps
  val Kinds = Seq("upsert", "upsert_compacting")

  def run(env: Env): Outcome = {
    val spark = env.spark
    val tr = env.tracer
    val gen = new KvGen(env.seed, Keys, BatchRows, Keys / Batches)
    // the input batches are materialised once, in Spark's cache; each
    // set-up creates a table and commits the first batch
    val batches = (0 until Batches).map { b =>
      val df = frame(spark, gen, Seq(b), 2).cache()
      df.count()
      df
    }
    def setUp(rep: Int): (GraftTableHandle, Double) = timed {
      val cat = catalog(env, rep)
      cat.createTable("b.upserts", Schema(KvGen.Schema, primaryKeys = Seq("k"),
        options = Map("bucket" -> "4")))
      val t = cat.getTable("b.upserts")
      upsert(tr, t, batches(0))
      t.newReadBuilder().newScan().plan()
      t
    }
    // the window runs on the first set-up's table; the other set-ups run
    // after the window and its checks, because the tables they leave in
    // the JVM slow the window's commits (with eleven more before it,
    // compacting commits took 1.6 times as long as with six)
    val (table, firstSetup) = setUp(0)
    val state = gen.emptyState
    gen.apply(state, 0)
    var commits = 1
    var writtenRows = 0L
    var writtenBytes = 0L
    var lastSnap = snapshots(table).latestSnapshotId.getOrElse(0L)
    val compactBytes = scala.collection.mutable.ArrayBuffer.empty[Double]

    def commit(kind: String): Unit = {
      val b = commits % Batches
      env.attempt(kind)(upsert(tr, table, batches(b))).foreach { case (msgs, _) =>
        gen.apply(state, b)
        // traced runs only: reading snapshots between ops would lengthen
        // the window of an untraced run
        if (tr.enabled) {
          val sm = snapshots(table)
          val ids = sm.existingSnapshotIds.filter(_ > lastSnap)
          if (tr.measuring) {
            writtenRows += BatchRows
            writtenBytes += msgs.map(_.fileSize).sum
            compactBytes ++= ids.map(sm.snapshot).filter(_.commitKind == "COMPACT").map(s =>
              sm.readManifest(s.manifests.last).filter(_.isAdd).map(_.file.fileSize).sum.toDouble)
          }
          lastSnap = ids.lastOption.getOrElse(lastSnap)
        }
      }
      commits += 1
    }

    env.closedLoop(cycle = 3, minWarm = 2, maxWarm = 2) { i =>
      i % 3 match {
        case 0 => commit("upsert")
        case 1 => commit("upsert_compacting")
        case 2 =>
          env.attempt("maintenance")(tr.span("api", "maintenance") {
            table.expireSnapshots(Retain)
            table.vacuum(0L)
          })
      }
    }
    val ops = tr.ops
    // the table must hold exactly the last-write-wins state of every
    // batch committed so far, warm-up included; a wrong state fails
    // every measured op
    val stateOk = Checks.sameState(gen, state, table.newReadBuilder().newRead().toLocalRows())
    val bad = env.runChecks()
    val setup = firstSetup +: (1 until Setups).map(setUp(_)._2)
    batches.foreach(_.unpersist(blocking = true))
    val live = Checks.liveRows(state)
    val detail = if (!tr.enabled) Map.empty[String, Double] else
      formatState(table, live) ++ Map(
        "format.bytes_written_per_row" -> writtenBytes.toDouble / writtenRows,
        "format.compactions" -> compactBytes.size.toDouble,
        "format.compaction_bytes_rewritten" ->
          (if (compactBytes.isEmpty) 0.0 else compactBytes.sum / compactBytes.size))
    Outcome(setup, Kinds, if (stateOk) bad.size else ops.size,
      Seq(("live_rows", live.toDouble, "count")),
      detail, if (stateOk) Nil else Seq("table state differs from last-write-wins"))
  }
}

/** mor_read: a bucket=4, write-only primary-key table holding 8
  * overlapping sorted runs per bucket, about 1M pre-merge rows of which
  * about a quarter are live. Even runs cover the lower half of the key
  * space and odd runs the upper half, so every key is in four runs and a
  * key filter that stays within one half prunes the other half's files.
  * The cycle runs each kind in turn: a full scan aggregating every
  * column, a key lookup, a key-range read and a projected Arrow export.
  * Nothing is committed, so sort-merge reading, Parquet decode, pruning
  * and Arrow encoding carry the time.
  */
object MorRead {
  // set-ups per run; setup_s is the second. Two, because one writes a
  // million rows
  val Setups = 2
  val Keys = 1 << 18
  val Runs = 8
  val RunRows = Keys / 2 // run r covers half r % 2 of the keys
  val RangeWidth = 1024
  val Cycle = IndexedSeq("full_scan", "lookup", "range_read", "arrow_export")

  def gen(seed: Long): KvGen = new KvGen(seed, Keys, RunRows, RunRows)

  def run(env: Env): Outcome = {
    val spark = env.spark
    val tr = env.tracer
    val gen = MorRead.gen(env.seed)
    def setUp(rep: Int): (GraftTableHandle, Double) = timed {
      val cat = catalog(env, rep)
      cat.createTable("b.runs", Schema(KvGen.Schema, primaryKeys = Seq("k"),
        options = Map("bucket" -> "4", "write-only" -> "true")))
      val t = cat.getTable("b.runs")
      // one input partition per run: each run becomes one sorted file
      // per bucket, all in one commit
      upsert(tr, t, frame(spark, gen, 0 until Runs, 1))
      t.newReadBuilder().newScan().plan()
      t
    }
    // as in upsert_ingest, the window runs on the first set-up's table
    // and the second set-up runs after the window and its checks
    val (table, firstSetup) = setUp(0)
    val state = gen.emptyState
    (0 until Runs).foreach(gen.apply(state, _))
    val live = Checks.liveRows(state)
    val expectedAgg = Checks.expectedAggregate(gen, state)
    val liveFiles = snapshots(table).liveFilesLatest.size
    val keys = new java.util.SplittableRandom(env.seed ^ 0x5eedL)

    def read[T](kind: String, filter: Option[graft.api.ReadBuilder => graft.api.Predicate],
        project: Option[Seq[String]])(sink: graft.api.TableRead => T): Option[(T, OpSample)] =
      env.attempt(kind) {
        val rb = table.newReadBuilder()
        filter.foreach(f => rb.withFilter(f(rb)))
        project.foreach(rb.withProjection)
        val plan = tr.span("api", "plan")(rb.newScan().plan())
        (plan, tr.span("api", "read")(sink(rb.newRead())))
      }.map { case ((plan, v), s) =>
        planCounts(tr, s, plan, liveFiles)
        (v, s)
      }

    // one warm-up cycle: the second cycle of a run is already within a
    // few percent of the rest, and a cycle takes five seconds
    env.closedLoop(cycle = Cycle.size, minWarm = 1, maxWarm = 1) { i =>
      Cycle(i % Cycle.size) match {
        case "full_scan" =>
          read("full_scan", None, None)(r => Checks.fullAggregate(r.toDF())).foreach {
            case (agg, s) =>
              tr.count(s, "format.merge_ratio", live.toDouble / (Runs * RunRows))
              env.check(s, agg == expectedAgg)
          }
        case "arrow_export" =>
          read("arrow_export", None, Some(Seq("k", "c")))(_.toArrow()).foreach {
            case (bytes, s) =>
              env.check(s, Checks.sameKeyValues(gen, state, Checks.arrowKeyValues(bytes)))
          }
        case "lookup" =>
          val key = keys.nextInt(Keys)
          read("lookup", Some(rb => rb.newPredicateBuilder().equal("k", key.toLong)), None)(
            _.toLocalRows()).foreach { case (rows, s) =>
              env.check(s, rows.map(Checks.kv).toSeq == gen.row(state, key).toSeq)
            }
        case "range_read" =>
          // within one half, so every range read plans the same files
          val lo = keys.nextInt(2) * RunRows + keys.nextInt(RunRows - RangeWidth + 1)
          val hi = lo + RangeWidth - 1
          read("range_read", Some(rb => rb.newPredicateBuilder().between("k", lo.toLong, hi.toLong)),
            None)(_.toLocalRows()).foreach { case (rows, s) =>
              env.check(s, rows.map(Checks.kv).sortBy(_._1).toSeq ==
                (lo to hi).flatMap(gen.row(state, _)))
            }
      }
    }
    val bad = env.runChecks()
    val setup = firstSetup +: (1 until Setups).map(setUp(_)._2)
    val detail = if (!tr.enabled) Map.empty[String, Double] else
      formatState(table, live) + ("format.sortmerge_rows_per_s" -> sortMergeRowsPerS(env.seed))
    Outcome(setup, Cycle, bad.size,
      Seq(("pre_merge_rows", (Runs * RunRows).toDouble, "count"),
        ("live_rows", live.toDouble, "count")),
      detail, Nil)
  }
}
