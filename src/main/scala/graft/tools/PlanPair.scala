package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `explain("formatted")` for the round-18 optimization targets
  * into `<outDir>/<query>_<suffix>.txt` — run once on the baseline
  * tree (`suffix = before`) and once on the optimized tree
  * (`suffix = after`) so plan-shape claims in OPTIMIZATION_r18.md are
  * checkable without running Spark.
  *
  * {{{ sbt "runMain graft.tools.PlanPair <outDir> <suffix> [sfDir]" }}}
  *
  * Queries that materialize eagerly (collect a bounded result inside
  * the QueryDef) are dumped via their exposed internal lazy frame
  * where one exists; otherwise the dump is the returned local plan,
  * which is still evidence of WHERE the boundary sits.
  */
object PlanPair {
  def main(args: Array[String]): Unit = {
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val dir = args.lift(2).getOrElse("/root/testdata/sf0.001")
    java.nio.file.Files.createDirectories(outDir)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        outDir.resolve(s"${name}_$suffix.txt"), txt)
      println(s"dumped $name")
    }
    val direct = Seq("d_substring_spans", "d_simhash", "q_quantile_sketch",
      "d_dup_spans", "d_dup_span_trim", "q_quantile_union",
      "t_langid_eval", "q_hll_distinct_users", "q_hll_union")
    direct.foreach { n =>
      try dump(n, graft.SparkEntry.queries(n)(spark, dir))
      catch { case t: Throwable =>
        println(s"SKIP $n: ${t.getClass.getSimpleName}: ${t.getMessage}")
      }
    }
    // eagerly-materializing / driver-folding rows whose interesting
    // plan is the INTERNAL distributed frame (the QueryDef's own
    // explain shows only the post-collect local relation)
    dump("s_pq_rerank", graft.queries.Similarity.pqRerankTopK(spark, dir))
    dump("s_pq_search", graft.queries.Similarity.pqSearchTopK(spark, dir))
    dump("s_ivf_recall", graft.queries.Similarity.ivfRecallTagged(spark, dir))
    dump("d_cross_source_overlap",
      graft.queries.Dedup.crossSourceOverlapAgg(spark, dir))
    dump("q_bloom_union", graft.queries.Sketches.bloomUnionAgg(spark, dir))
    dump("d_minhash_lsh", graft.queries.Dedup.lshPairsPlanForDump(spark, dir))
    locally {
      val (agg, paras) = graft.queries.Dedup.paragraphNeardupAgg(spark, dir)
      dump("d_paragraph_neardup", agg)
      graft.queries.Dedup.safeUnpersist(paras)
    }
    graft.queries.ArtifactCache.release(spark, dir)
    spark.stop()
  }
}
