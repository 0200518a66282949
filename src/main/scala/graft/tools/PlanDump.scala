package graft.tools

import org.apache.spark.sql.SparkSession

/** Regenerate PLANS.md: the formatted physical plans of the headline
  * queries, so plan-shape review (pushdown reaching the scan,
  * broadcast sides, shuffle counts) doesn't require running anything.
  * {{{ sbt "runMain graft.tools.PlanDump" }}}  (writes /root/repo/PLANS.md)
  */
object PlanDump {
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
      "array; MEASURED at sf0.1 (QueryTimer, 1.49M corpus chars -> " +
      "~1.45M position rows): 16.0 MiB shuffle write / 16.0 MiB read " +
      "per run, ~11 bytes per position row per exchange — at 100 TB " +
      "of text this is the suite's heaviest shuffle by design, " +
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

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("/root/repo/PLANS.md")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans of the headline queries\n\n"
    sb ++= s"Generated by `sbt \"runMain graft.tools.PlanDump\"` over `$dir`.\n"
    sb ++= "AQE leaves `isFinalPlan=false` at explain time; runtime " +
      "re-planning (broadcast conversion, skew splitting) happens on " +
      "top of these shapes.\n"
    Headliners.foreach { case (name, note) =>
      val df =
        if (name == "crossSourceOverlapAgg")
          graft.queries.Dedup.crossSourceOverlapAgg(spark, dir)
        else if (name == "s_pq_rerank")
          // the QueryDef collects its constant-size output eagerly;
          // the interesting plan is the internal lazy one
          graft.queries.Similarity.pqRerankTopK(spark, dir)
        else graft.SparkEntry.queries(name)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb ++= s"\n## $name\n\n$note\n\n```\n$txt```\n"
    }
    // eagerly-materializing rows (est-error, recall evals) return local
    // results whose interesting plan is internal — covered by
    // PlanAuditSpec instead of this dump
    graft.queries.ArtifactCache.release(spark, dir)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.result())
    println(s"wrote $out (${sb.length} chars)")
    spark.stop()
  }
}
