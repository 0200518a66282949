package graft.tools

import org.apache.spark.sql.SparkSession

/** The training-data curation funnel, end to end, driven entirely by
  * the engine's oracled operators: profile → exact dedup → near-dup
  * clustering → cross-source audit → benchmark decontamination →
  * quality filtering → mixture sampling → context packing, plus the
  * embedding-side index lifecycle (train → search → recall eval).
  *
  * Every stage below is a `SparkEntry.queries` entry, so what this
  * demo narrates is exactly what the DuckDB differential checks each
  * round — there is no demo-only code path.
  *
  * {{{ sbt "runMain graft.tools.CurationDemo [sfDir]" }}}
  */
object CurationDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def stage(name: String, note: String, rows: Int = 8): Unit = {
      println(s"\n== $name — $note")
      graft.SparkEntry.queries(name)(spark, dir).show(rows, false)
    }

    println(s"Training-data curation funnel over $dir")

    println("\n#1 PROFILE the corpus")
    stage("t_lang_profile", "what languages, how much of each")
    stage("t_rep_signals", "repetition quality signals (Gopher-style)")

    println("\n#2 EXACT dedup (byte-identical documents)")
    stage("d_exact", "duplicate groups by content fingerprint")
    stage("d_exact_apply", "keep one per group: per-source kept counts")

    println("\n#3 NEAR-dup dedup (MinHash+LSH → clusters → apply)")
    stage("d_minhash_lsh", "verified near-duplicate pairs")
    stage("d_dup_clusters", "connected-component cluster census")
    stage("d_dedup_apply", "keep one representative per cluster")

    println("\n#4 AUDIT sources against each other")
    stage("d_cross_source_overlap", "shared-shingle Jaccard per source pair")

    println("\n#5 DECONTAMINATE against the held-out benchmark")
    stage("d_decontaminate", "corpus docs sharing 5-grams with the eval set")

    println("\n#6 FILTER on quality")
    stage("t_quality_filter_pipeline", "length/punct/stopword gates")

    println("\n#7 SAMPLE the training mixture")
    stage("t_stratified_sample", "per-source keep rates, re-shard stable")

    println("\n#8 PACK into context windows")
    stage("t_pack_context_windows", "concat-and-chunk window counts")

    println("\n#9 TOKENIZER lifecycle (train → encode)")
    stage("t_bpe_train", "BPE merge table from distributed word counts")
    stage("t_bpe_encode", "corpus encoded under the merges, per source")

    println("\n#10 EMBEDDING index lifecycle (train → search → eval)")
    stage("s_ivf_train", "coarse quantizer: cell sizes + inertia")
    stage("s_ivf_search", "top-5 per probe under nprobe=2 routing", 5)
    stage("s_ivf_recall", "recall@5 vs exact brute force")

    println("\n#11 PROFILE at scale with mergeable sketches")
    stage("q_hll_distinct_users", "HLL cardinality vs exact, per group")
    stage("q_hll_union", "per-group sketches merged -> union estimate")
    stage("q_cms_heavy_hitters", "Count-Min estimates vs the exact top-10")

    println("\n#12 INGEST-dedup against the persistent fingerprint store")
    stage("c_dedup_ingest", "PK-table store: seeded, admitted, rejected")

    // the stages share session-scoped artifacts (connector tables,
    // dedup frames, the IVF model) — release them the same way the
    // bench does at family boundaries
    graft.queries.ArtifactCache.release(spark, dir)
    spark.stop()
  }
}
