package graft.tools

import graft.queries.{ArtifactCache, Dedup, Similarity, Sketches}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Plans and timings of inventory rows, in the session `graft.Verify`
  * uses (`local[$SPARK_GRAFT_CPUS]`, default 4).
  *
  * {{{
  * sbt "runMain graft.tools.Inspect plan <sfDir> <out.md> [q1,q2,...]"
  * sbt "runMain graft.tools.Inspect time <sfDir> <query>"
  * }}}
  *
  * `plan` writes the formatted physical plan of each name to one
  * markdown file, one `## <name>` section per name. A name is an
  * inventory row or one of the internal lazy [[Frames]]. With no names
  * it writes the [[Headliners]] with their notes: that is PLANS.md. A
  * before/after pair is two `plan` runs, diffed.
  *
  * `time` runs the query cold, then twice warm, and prints each run's
  * wall time, rows and shuffle bytes written and read, then the last
  * run's stage log (wall time, tasks, call site) and streaming batch
  * progress (`StreamingQueryProgress.durationMs`; earlier runs' batches
  * too, for a stream that resumes a checkpoint). For a config A/B,
  * pass a `spark.*` system property through `run / javaOptions`.
  */
object Inspect {

  def main(args: Array[String]): Unit = args.toList match {
    case "plan" :: dir :: out :: rest =>
      val names = rest.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      val spark = graft.Verify.session()
      try {
        val title = if (names.isEmpty) " of the headline queries" else ""
        val cmd = ("plan" +: dir +: Paths.get(out).getFileName.toString +:
          rest).mkString(" ")
        val md = s"# PLANS — formatted physical plans$title\n\n" +
          s"Generated by `sbt \"runMain graft.tools.Inspect $cmd\"`.\n" +
          "AQE leaves `isFinalPlan=false` at explain time; runtime " +
          "re-planning (broadcast conversion, skew splitting) happens on " +
          "top of these shapes.\n" + plan(spark, dir, names)
        Files.writeString(Paths.get(out), md)
        println(s"wrote $out (${md.length} chars)")
      } finally spark.stop()
    case "time" :: dir :: query :: Nil =>
      val fn = graft.SparkEntry.queries.getOrElse(query,
        throw new IllegalArgumentException(s"unknown query $query"))
      val spark = graft.Verify.session()
      try {
        val runs = time(spark, 3)(fn(spark, dir))
        runs.zipWithIndex.foreach { case (r, i) =>
          println(f"run ${i + 1}: ${r.seconds}%.2f s, ${r.rows} rows, shuffle " +
            f"write ${r.shuffleWrite / 1048576.0}%.2f MiB / read " +
            f"${r.shuffleRead / 1048576.0}%.2f MiB" +
            (if (r.settled) "" else " (listener did not settle; partial)"))
        }
        // a stream that resumes a finished checkpoint has no batches in
        // the warm runs: show the earlier runs' batches too
        runs.init.zipWithIndex.foreach { case (r, i) =>
          val batches = r.log.filter(_.startsWith("batch"))
          if (batches.nonEmpty) println(s"=== batches of run ${i + 1} ===")
          batches.foreach(println)
        }
        println(s"=== stages and batches of run ${runs.size} ===")
        runs.last.log.foreach(println)
      } finally {
        ArtifactCache.release(spark, dir)
        spark.stop()
      }
    case _ =>
      System.err.println("usage: Inspect plan <sfDir> <out.md> [q1,q2,...]\n" +
        "       Inspect time <sfDir> <query>")
      sys.exit(2)
  }

  // ---------------------------------------------------------------- plan

  /** PLANS.md: the headline rows, each with the note printed above its
    * plan. */
  private val Headliners: Seq[(String, String)] = Seq(
    "q5_region_revenue" -> ("TPC-H Q5 join tree: lineitem joined to " +
      "sf-proportional dims; AQE picks broadcast for the small sides"),
    "q_salted_skew_join" -> "hot-key join with explicit salt fan-out",
    "c_pk_merge_read" -> ("DSv2 merge-on-read: PK-only conjuncts pushed " +
      "below the LWW merge, residual filters above it"),
    "c_partition_prune" -> "partition filter reaching split planning",
    "d_minhash_lsh" -> ("MinHash+LSH pair pipeline: map-side signatures " +
      "(MinHashSigs), band equi-join, bounded-bucket skew guard"),
    "d_dup_spans" -> "12-token span fingerprints: one window shuffle",
    "crossSourceOverlapAgg" -> ("one-pass totals+pairs fold, join-free " +
      "(the internal aggregate; the QueryDef collects its bounded output)"),
    "s_ivf_search" -> ("IVF serving: cell equi-join, probe-side " +
      "broadcast, salted two-level top-k"),
    "q_hll_distinct_users" -> "HLL register build: one aggregation pass",
    "q_cms_heavy_hitters" -> "CMS: 256-counter broadcast vs top-k probes",
    "t_bpe_encode" -> "map-side tokenizer apply, one per-source fold",
    "c_pk_agg" -> ("aggregation merge engine: per-half partials fold " +
      "at read inside the bucket merge — no shuffle above the scan"),
    "t_bm25_topk" -> ("BM25 retrieval: map-side array-filter tf (no " +
      "explode), 1-row stats broadcast, TakeOrdered top-20"),
    "t_tokenizer_fertility" -> ("per-language token-budget stats: " +
      "map-side counts, one partial-agged shuffle on the lang enum"),
    "d_substring_spans" -> ("character-level ExactSubstr spans: " +
      "positional 40-char window hashes (chunked Generate — max 64Ki " +
      "positions materialized per row, so one giant document can't " +
      "blow a task; chunk rows spread across cores when the scan " +
      "planned fewer splits than half the cores — r18, no-op at real " +
      "split counts), occurrence-count window on the 8-byte hash, " +
      "per-doc gap-merge — two data shuffles, no join. Cost class is " +
      "O(corpus chars) shuffle rows, the same class as a suffix " +
      "array; MEASURED at sf0.1 (cold/warm timer, 1.49M corpus chars " +
      "-> ~1.45M position rows): 16.0 MiB shuffle write / 16.0 MiB " +
      "read per run, ~11 bytes per position row per exchange — at " +
      "100 TB of text this is the suite's heaviest shuffle by design, " +
      "scaling linearly with corpus bytes"),
    "d_simhash" -> ("60-bit SimHash per doc in ONE map-side codegen " +
      "kernel (SimHash60, r18 — replaces explode + md5-per-token + " +
      "60-conditional-SUM aggregate); one bounded shuffle on the " +
      "16-bit band"),
    "s_pq_rerank" -> ("two-stage IVF-PQ serving: ADC shortlist over " +
      "stored codes, exact int8 re-rank of the rank-bounded " +
      "shortlist only — no corpus-side broadcast; the final top-k " +
      "over the probes x R shortlist is a single window (r18 — the " +
      "salted two-level shape bought nothing on a bounded input) and " +
      "the ADC distance table is memoized with the codebook"),
    "d_url_dedup" -> ("CCNet-style URL canonicalization dedup: " +
      "map-side regex chain, ONE window shuffle on the canonical key, " +
      "per-source rollup — no join anywhere"),
    "d_paragraph_neardup" -> ("paragraph-granular near-dup: the " +
      "shared lshVerifiedPairs machinery keyed by packed " +
      "(doc_id, paragraph) — map-side signatures, band equi-join " +
      "with the 1000-key bucket guard, Jaccard verify on the " +
      "KB-scale candidate set; no corpus-wide join. r18: the pair " +
      "subtree is referenced ONCE (explode of both endpoints, not a " +
      "union that planned the verify tail twice) and the rollup is a " +
      "single broadcast-join + two-level aggregation chain. The " +
      "QueryDef collects its |sources|-row rollup, so the plan below " +
      "is the already-computed local result"))

  private def explain(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  /** Internal lazy frames, by name, behind rows whose QueryDef collects
    * its bounded result on the driver (so the row's own plan is a local
    * relation); `s_pq_rerank` and `s_ivf_search` name theirs directly.
    * Each entry returns the explained plan, so a frame with a cache
    * handle releases it once explained.
    */
  private val Frames: Map[String, (SparkSession, String) => String] = Map(
    "crossSourceOverlapAgg" -> ((s, d) =>
      explain(Dedup.crossSourceOverlapAgg(s, d))),
    "pqRerankTopK" -> ((s, d) => explain(Similarity.pqRerankTopK(s, d))),
    "s_pq_rerank" -> ((s, d) => explain(Similarity.pqRerankTopK(s, d))),
    "s_ivf_search" -> ((s, d) => explain(Similarity.ivfSearchTopK(s, d))),
    "pqSearchTopK" -> ((s, d) => explain(Similarity.pqSearchTopK(s, d))),
    "ivfRecallTagged" -> ((s, d) => explain(Similarity.ivfRecallTagged(s, d))),
    "bloomUnionAgg" -> ((s, d) => explain(Sketches.bloomUnionAgg(s, d))),
    "lshPairsPlanForDump" -> ((s, d) =>
      explain(Dedup.lshPairsPlanForDump(s, d))),
    "paragraphNeardupAgg" -> { (s, d) =>
      val (agg, paras) = Dedup.paragraphNeardupAgg(s, d)
      try explain(agg) finally Dedup.safeUnpersist(paras)
    })

  /** One `## <name>` markdown section per name, in order, each holding
    * the formatted physical plan; no names means the [[Headliners]].
    * Releases the session's artifacts for `dir` afterwards.
    */
  def plan(spark: SparkSession, dir: String, names: Seq[String]): String = {
    val notes = Headliners.toMap
    val wanted = if (names.isEmpty) Headliners.map(_._1) else names
    val queries = graft.SparkEntry.queries
    val unknown = wanted.filterNot(n => Frames.contains(n) || queries.contains(n))
    require(unknown.isEmpty, s"unknown names: ${unknown.mkString(", ")}")
    try wanted.map { name =>
      val txt = Frames.get(name).map(_(spark, dir))
        .getOrElse(explain(queries(name)(spark, dir)))
      val note = notes.get(name).fold("")(n => s"$n\n\n")
      s"\n## $name\n\n$note```\n$txt```\n"
    }.mkString
    finally ArtifactCache.release(spark, dir)
  }

  // ---------------------------------------------------------------- time

  /** One timed run: wall seconds (build plus count), rows, shuffle
    * bytes its tasks wrote and read, its completed stages and streaming
    * batches in listener order, and whether all its jobs were seen to
    * end before the timeout. */
  final case class Run(seconds: Double, rows: Long, shuffleWrite: Long,
      shuffleRead: Long, log: Seq[String], settled: Boolean)

  /** Local property that tags a run's jobs; threads the run starts
    * (stream executions, setup pools, broadcasts) inherit it. */
  private val RunTag = "graft.inspect.run"

  /** Evaluate and count `build` `runs` times in a row. Each run's jobs
    * carry their own tag, task metrics are attributed by stage id to
    * the run whose job started that stage, and a run is read only once
    * every job it started has ended, so a late event is counted in its
    * own run and never in the next one.
    */
  def time(spark: SparkSession, runs: Int)(build: => DataFrame): Seq[Run] = {
    val sc = spark.sparkContext
    val log = new RunLog
    sc.addSparkListener(log)
    try (1 to runs).map { i =>
      val tag = s"${java.util.UUID.randomUUID()}/$i"
      val t0 = System.nanoTime()
      val rows = tagged(sc, tag)(build.count())
      val sec = (System.nanoTime() - t0) / 1e9
      val settled = log.settle(sc, tag, timeoutMs = 60000L)
      val a = log.run(tag)
      Run(sec, rows, a.write.get, a.read.get, a.lines.asScala.toSeq, settled)
    } finally sc.removeSparkListener(log)
  }

  private def tagged[T](sc: SparkContext, tag: String)(f: => T): T = {
    val prev = sc.getLocalProperty(RunTag)
    sc.setLocalProperty(RunTag, tag)
    try f finally sc.setLocalProperty(RunTag, prev)
  }

  final private class Acc {
    val write = new AtomicLong
    val read = new AtomicLong
    val lines = new ConcurrentLinkedQueue[String]
    val open = ConcurrentHashMap.newKeySet[Int]() // started, not ended
  }

  final private class RunLog extends SparkListener {
    private val runs = new ConcurrentHashMap[String, Acc]
    private val byJob = new ConcurrentHashMap[Int, Acc]
    private val byStage = new ConcurrentHashMap[Int, Acc]
    // a SQL stage runs on a planner thread, so its own name is that
    // thread's frame: the call site is the SQL execution's description
    private val sqlSite = new ConcurrentHashMap[String, String]
    private val stageSite = new ConcurrentHashMap[Int, String]
    // stream executions set their job group to the query's run id
    private val byStream = new ConcurrentHashMap[String, Acc]

    def run(tag: String): Acc = runs.computeIfAbsent(tag, _ => new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      for (p <- Option(e.properties); tag <- Option(p.getProperty(RunTag))) {
        val a = run(tag)
        a.open.add(e.jobId)
        byJob.put(e.jobId, a)
        e.stageIds.foreach(byStage.put(_, a))
        Option(p.getProperty("spark.sql.execution.id")).flatMap(id =>
          Option(sqlSite.get(id))).foreach(site =>
          e.stageIds.foreach(stageSite.put(_, site)))
        if (p.getProperty("sql.streaming.queryId") != null)
          Option(p.getProperty("spark.jobGroup.id")).foreach(byStream.put(_, a))
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(byJob.remove(e.jobId)).foreach { a =>
        a.open.remove(e.jobId)
        synchronized(notifyAll())
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (a <- Option(byStage.get(e.stageId)); m <- Option(e.taskMetrics)) {
        a.write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      Option(byStage.get(s.stageId)).foreach { a =>
        val ms = (for (b <- s.submissionTime; c <- s.completionTime)
          yield c - b).getOrElse(-1L)
        a.lines.add(f"stage ${s.stageId}%4d ${ms / 1000.0}%7.2f s " +
          f"${s.numTasks}%5d tasks  ${stageSite.getOrDefault(s.stageId, s.name)}")
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        sqlSite.put(x.executionId.toString, x.description)
      case q: QueryProgressEvent =>
        val p = q.progress
        Option(byStream.get(p.runId.toString)).foreach(_.lines.add(
          s"batch ${p.batchId}: rows=${p.numInputRows} " +
            s"durations=${p.durationMs.asScala.toSeq.sortBy(_._1).mkString(", ")}"))
      case _ => ()
    }

    /** Wait, at most `timeoutMs`, until every job started under `tag`
      * has ended. A one-task fence job submitted after the run bounds
      * "every job started": the bus delivers events in order, so once
      * the fence has ended, every job the run submitted has been seen
      * starting.
      */
    def settle(sc: SparkContext, tag: String, timeoutMs: Long): Boolean = {
      val fence = s"$tag/fence"
      tagged(sc, fence)(sc.parallelize(Seq(0), 1).count())
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      def done = Option(runs.get(fence)).exists(_.open.isEmpty) &&
        run(tag).open.isEmpty
      synchronized {
        while (!done && System.nanoTime() < deadline)
          wait(math.max(1L, (deadline - System.nanoTime()) / 1000000L))
      }
      done
    }
  }
}
