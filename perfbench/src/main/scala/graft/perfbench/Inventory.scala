package graft.perfbench

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.{Bench, SparkEntry}

/** inventory: rows of `SparkEntry.queries` over the committed test
  * tables, in name order as `graft.Bench` runs them, with each family's
  * shared state released (untimed) after its last row. Each row is its
  * own op kind. The only load on `queries` and `functions`, on Spark
  * exchanges and on driver-side collect/fold steps; it bypasses the
  * table write path. Its inputs are fixed, so the seed changes nothing.
  * Set-up resolves every test table (footer and schema).
  *
  * An op builds the row's DataFrame and its executed plan (the
  * `queries.plan` span), then collects it (`queries.exec`). The first
  * result of each row, from the first warm-up pass, is written out with
  * the row's DuckDB `oracleSql` in the layout of the project's oracle
  * gate (`tools/check_oracle.py`), which `run.py` runs after this JVM
  * exits. Every measured result must reproduce the first one's hash,
  * row order included.
  */
object Inventory {
  /** A family-stratified subset: one cheap row of each family that has
    * DuckDB oracles. The `c_*` rows are left out: their `c__setup_writes`
    * set-up alone takes longer than a whole run.
    */
  val Subset: Seq[String] = Seq(
    "d_exact", "m_upsert_drop_delete", "mm_bytes_by_type", "p_between",
    "q3_shipping_priority", "q_math_funcs", "s_cell_stats", "t_token_count").sorted
  val Setups = 3 // set-ups per run; setup_s is the median of the last two
  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Digest of a result, rows in their returned order (the oracle gate
    * compares rows in order too).
    */
  def digest(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.orderedHash(rows.toSeq.map(_.toString))

  def run(env: Env, data: String): Outcome = {
    val spark = env.spark
    val tr = env.tracer
    val queries = SparkEntry.queries
    val setup = (0 until Setups).map { _ =>
      TableOps.timed(Tables.foreach(t => graft.queries.Tables.t(spark, data, t).schema))._2
    }
    val dumps = env.work.resolve("inventory")
    val digests = mutable.Map.empty[String, Int]
    val executions = mutable.Map.empty[String, Int].withDefaultValue(0)

    // a row's first run in a JVM compiles its generated code (the first
    // pass takes about three times a warm one); two whole passes warm up.
    // The first measured pass is still about 10% slower than the rest, so
    // the window holds four passes at least: with three, a kind's median
    // follows that pass whenever a pass takes over a third of --seconds,
    // and op_p50_ms split into two modes by the number of passes
    env.closedLoop(cycle = Subset.size, minWarm = 2, maxWarm = 2, minCycles = 4) { i =>
      val q = Subset(i % Subset.size)
      env.attempt(q) {
        val df = tr.span("queries", "plan") {
          val df = queries(q)(spark, data)
          df.queryExecution.executedPlan
          df
        }
        (df.schema, tr.span("queries", "exec")(df.collect()))
      }.foreach { case ((schema, rows), s) =>
        val d = digest(rows)
        digests.get(q) match {
          case None =>
            digests(q) = d
            spark.createDataFrame(rows.toList.asJava, schema)
              .coalesce(1).write.mode("overwrite").parquet(dumps.resolve(q).toString)
          case Some(first) => env.check(s, d == first)
        }
        if (tr.measuring) executions(q) += 1
      }
      val next = Subset((i + 1) % Subset.size)
      if (Bench.familyOf(next) != Bench.familyOf(q))
        Bench.releaseFamily(spark, Bench.familyOf(q), data)
    }
    val bad = env.runChecks()
    implicit val fmt: DefaultFormats.type = DefaultFormats
    Files.writeString(dumps.resolve("oracle_sql.json"),
      Serialization.write(Subset.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    Files.writeString(dumps.resolve("executions.json"), Serialization.write(executions.toMap))
    Outcome(setup, Subset, bad.size, Nil, Map.empty, Nil)
  }
}
