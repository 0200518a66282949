package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Runs one workload in this JVM and writes its result as JSON; the
  * launcher (`run.py`) turns that into the benchmark's output line.
  *
  * {{{ Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *          --work <scratch dir> --out <result.json> --data <dir> }}}
  */
object Main {

  private val t0 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2fs $msg")

  def main(args: Array[String]): Unit =
    try { run(args); System.exit(0) }
    catch { case t: Throwable => t.printStackTrace(); System.exit(1) }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work"))
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    log("spark session up")
    val tracer = new Tracer(traced, spark.sparkContext)
    val env = new Env(spark, tracer, work, opts("seed").toLong, opts("seconds").toDouble)
    val out = workload match {
      case "upsert_ingest" => UpsertIngest.run(env)
      case "mor_read" => MorRead.run(env)
      case "inventory" => Inventory.run(env, opts("data"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    log("checked")
    Heap.measure()
    tracer.drain()
    val ops = tracer.ops
    val okMs = ops.filter(_.ok).map(o => o.kind -> o.ms)
    val e2e = Seq(
      ("setup_s", Stats.setupSeconds(out.setupS), "s"),
      ("op_p50_ms", Stats.kindGeomean(out.kinds, okMs), "ms"),
      ("ops_per_s", Stats.windowRate(ops.map(_.start), env.cycleBounds), "1/s"),
      ("live_heap_mb", Heap.liveMb, "MiB"))
    // every kind's median and the tail its samples support: printed, not gated
    val perKind = ops.map(_.kind).distinct.sorted.flatMap { k =>
      val ms = okMs.collect { case (`k`, v) => v }
      if (ms.isEmpty) Nil
      else Seq((s"kind.$k.p50_ms", Stats.median(ms), "ms"),
        (s"kind.$k.samples", ms.size.toDouble, "count")) ++
        Stats.tail(ms).toSeq.flatMap { case (v, p) =>
          Seq((s"kind.$k.tail_ms", v, "ms"), (s"kind.$k.tail_pct", p, "%"))
        }
    }
    // every per-layer figure of a traced run, per kind too; run.py reports
    // the ones BENCHMARK.json lists
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val l = tracer.listener.get
        Breakdown.compute(ops, tracer.spans, l.jobs, l.tasks, tracer.counters) ++ out.detail ++
          Map("jvm.gc_ms_per_op" -> Gc.millis / ops.size)
      }
    val result = Map(
      "workload" -> workload, "seed" -> env.seed, "trace" -> traced,
      "correct" -> (out.failed == 0 && out.notes.isEmpty),
      "attempted" -> ops.size, "failed" -> out.failed,
      "end_to_end" -> e2e.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "named" -> (e2e ++ perKind ++ out.named ++ Seq(
        ("cycles", (env.cycleBounds.size - 1).toDouble, "count")))
        .map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "setup_runs_s" -> out.setupS,
      "layers" -> layers,
      "notes" -> out.notes)
    implicit val fmt: DefaultFormats.type = DefaultFormats
    Files.writeString(Paths.get(opts("out")), Serialization.write(result))
    if (traced) Files.writeString(Paths.get(opts("out") + ".spans"),
      Serialization.write(Map(
        "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
          "layer" -> s.layer, "op" -> s.op, "parent" -> s.parent,
          "start_ns" -> s.start, "end_ns" -> s.end)),
        "jobs" -> tracer.listener.get.jobs.map(j => Map("id" -> j.id, "group" -> j.group,
          "start_ns" -> j.start, "end_ns" -> j.end, "stages" -> j.stages)),
        "ops" -> ops.map(o => Map("id" -> o.id, "kind" -> o.kind,
          "start_ns" -> o.start, "end_ns" -> o.end, "ok" -> o.ok)))))
    spark.stop()
    log("done")
  }
}
