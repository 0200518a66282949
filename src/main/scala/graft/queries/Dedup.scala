package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import Tables._

/** Deduplication family over `documents`: exact (hash-group), MinHash+LSH
  * (shingle → per-seed min → band → bucket-join), SimHash, and n-gram
  * Jaccard.
  *
  * Shape chosen for 100 TB: shingles come from the codegen
  * [[graft.functions.WordShingles]] expression, signatures from explode
  * + codegen'd hash/agg (NOT higher-order-function lambdas, which Spark
  * evaluates interpretively — measured ~10x slower at sf0.1), one
  * shuffle keyed by doc_id for the signature fold; the quadratic pair
  * space exists only within an LSH band bucket.
  */
object Dedup {

  // codegen byte-level tokenizer == regexp_extract_all(lower, '[a-z]+')
  // (equivalence pinned in FunctionsSpec); the oracles keep the regex form
  private def tokens = graft.functions.TextFunctions.ascii_words(col("text"))

  private val K = 16 // minhash signature length
  private val R = 4 // rows per LSH band -> B = K/R = 4 bands

  private val SpanW = 12 // d_dup_spans window width in tokens
  private val SubK = 40 // d_substring_spans window width in CHARS
  private val ParaW = 15 // d_paragraph_neardup paragraph width in tokens

  /** Paragraph-id packing width for `d_paragraph_neardup`'s scalar key
    * `doc_id * ParaCap + p`: paragraphs past the cap are dropped (a doc
    * would need ~1M tokens to reach it) so two documents can never
    * collide into one key.
    */
  private val ParaCap = 65536L

  /** Positions-per-Generate bound for [[windowPositions]]: one
    * `sequence(1, len-k+1)` over a pathological multi-hundred-MB
    * document would materialize O(doc chars) ints as a single array in
    * one task before the Generate streams it — chunking caps any
    * materialized position array at this many elements (512 KB of
    * ints) regardless of document length. At normal document sizes
    * every doc is a single chunk, so the plan shape is unchanged.
    */
  private[graft] val SubChunk = 65536

  /** Character positions `1..len(text)-k+1` for every document, built
    * in chunks of at most `chunk` positions per Generate row (outer
    * explode = chunk ids, inner explode = positions within the chunk).
    * Exactly equivalent to one big `sequence(1, len-k+1)` — same rows,
    * no overlap, no gap — but no single array ever exceeds `chunk`
    * elements, so one giant document can't blow a task's memory.
    * Returns `(doc_id, text, p)`.
    */
  private[graft] def windowPositions(docs: org.apache.spark.sql.DataFrame,
      k: Int, chunk: Int): org.apache.spark.sql.DataFrame = {
    val chunks = docs.filter(length(col("text")) >= k)
      .select(col("doc_id"), col("text"),
        // SQL `div` yields BIGINT — int() keeps p's type the plain INT
        // a single sequence(1, len-k+1) produced (len is int, so every
        // position fits)
        explode(expr(s"sequence(0, int((length(text) - $k) div $chunk))"))
          .as("ck"))
    // The per-position consumer pays ~one md5 PER CHARACTER of text —
    // orders of magnitude more map CPU per input byte than the
    // tokenize-class kernels tBalanced's byte gate was measured on. If
    // the scan planned fewer splits than half the cores (one small file
    // → ONE task doing the whole corpus's per-char hashing serially —
    // measured 2.2 s of a 3.1 s row at sf0.1), spread the chunk rows
    // across the cluster first; the exchange moves each text once per
    // 64 KiB chunk, trivially amortized by the downstream work (guide
    // §2.5 "input skew", §1.2 step 1). At scale the scan plans
    // thousands of splits and this is a no-op. Deterministic hash key
    // (doc_id, ck) — never rand() — so retried tasks re-produce the
    // same placement (guide §2.5, SPARK-38388).
    val spark = docs.sparkSession
    val parallelism = spark.sparkContext.defaultParallelism
    val spread =
      if (chunks.rdd.getNumPartitions * 2 < parallelism)
        chunks.repartition(parallelism, col("doc_id"), col("ck"))
      else chunks
    spread
      .select(col("doc_id"), col("text"),
        explode(expr(s"sequence(ck * $chunk + 1, " +
          s"least(ck * $chunk + $chunk, length(text) - ${k - 1}))"))
          .as("p"))
  }
  // the oracle's 12-term concat_ws(' ', toks[i], toks[i+1], …)
  private val sqlSpanTerms =
    (0 until SpanW).map(j => if (j == 0) "toks[i]" else s"toks[i+$j]")
      .mkString(", ")

  /** Cross-query artifact: `d_minhash_lsh` and `d_dup_clusters` share
    * the pair computation; within one session+dir the persisted result
    * is computed once (pipeline-stage reuse, not a cache of query
    * results — the pair set is a few KB). Released with the rest of
    * the (session, dir)'s artifacts ([[ArtifactCache.release]]); the
    * next request for the same dir simply recomputes.
    */
  def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    ArtifactCache(s, dir, "dedup.pairs", safeUnpersist)(
      computeNearDupPairs(s, dir))

  /** A frame can outlive its session (the owner stopped without
    * releasing); unpersisting against a stopped context NPEs, and there
    * is nothing left to release then anyway. */
  private[graft] def safeUnpersist(df: DataFrame): Unit =
    try {
      if (!df.sparkSession.sparkContext.isStopped) df.unpersist(blocking = true)
    } catch { case _: Throwable => () } // racing stop: storage already gone

  /** Confirmed near-duplicate pairs (a < b, shingle-Jaccard >= 0.5) via
    * MinHash + LSH banding + exact verification.
    *
    * One shingle pass, persisted: the plan references the shingle set
    * twice (the band chain and the verify join — see
    * [[lshVerifiedPairs]]) and Catalyst does not dedupe common subtrees
    * across branches — without the persist the shingle construction
    * runs once per reference. The cached set is one array per doc, and
    * the verify reference depends on the band chain's output, so the
    * cache population is never raced (exactly one computation).
    *
    * Skew guard: band buckets larger than [[MaxBucket]] are excluded
    * from pair generation — at corpus scale a boilerplate-heavy shingle
    * profile can collapse thousands of docs into one bucket and turn
    * the in-bucket pair space quadratic; such groups are exactly the
    * ones exact dedup (`d_exact`) already catches, so dropping them
    * loses little recall while bounding the join (standard LSH
    * practice).
    */
  private val MaxBucket = 1000

  /** MinHash signatures → LSH band hashes → bucket-guarded candidate
    * generation → exact shingle-Jaccard verification, over a (persisted)
    * `(k, sh)` frame — the pair machinery shared by the doc-granular
    * pipeline ([[computeNearDupPairs]], k = doc_id) and the
    * paragraph-granular `d_paragraph_neardup` row (k = packed
    * (doc_id, paragraph) key). One definition so the two granularities
    * cannot drift.
    *
    * Kirsch-Mitzenmacher double hashing: ONE md5 per shingle split
    * into two 56-bit halves h1/h2; seed i's hash is h1 + i*h2
    * (max 2^56 + 15*2^56 = 2^60 — no 64-bit overflow, so DuckDB's
    * checked BIGINT arithmetic computes the identical value). The
    * codegen MinHashSigs kernel folds ALL K per-seed mins inside the
    * task holding the shingle set — map-side, replacing the previous
    * explode → md5 → K-column min-aggregate (a corpus×shingles
    * shuffle input and the largest generated-code stage in the
    * pipeline); bit-identical to the oracle's conv(substr(md5))
    * per-seed MIN fold (FunctionsSpec pins it).
    *
    * Plan shape (guide §2.4 — every branch consumed ONCE, so nothing
    * needs a persist and nothing races a cache population):
    *
    *  - the band rows flow into ONE exchange keyed (band, bhash);
    *    the bucket-size skew guard is a count window over that same
    *    partitioning and in-bucket pairs come from a sorted
    *    collect_list + pair expansion (arrays bounded ≤ [[MaxBucket]]
    *    by the guard BEFORE collection) — this replaces the previous
    *    persisted band frame with THREE consumers (count-agg for the
    *    mega-bucket guard, both sides of a bucket self-join), whose
    *    AQE leaf stages raced the cache population and re-computed
    *    the md5-heavy signature subtree per branch;
    *  - verification references the shingle cache ONCE: each
    *    candidate pair explodes to its two endpoints, joins the
    *    shingle frame a single time, and the pair's two shingle sets
    *    meet again in a pair-keyed aggregate (candidate-scale rows —
    *    KB–MB — cross that exchange, never the corpus). The previous
    *    two-sided join planned the corpus-scale shingle scan twice.
    *
    * Scale note: a degenerate bucket (≫ MaxBucket rows under one band
    * hash) is handled by the window's external sort on one task —
    * slower than the old map-side partial count for that one bucket,
    * but spill-safe and bounded; such corpora have quadratic exact-dup
    * structure that `d_exact` removes upstream anyway.
    *
    * Returns verified pairs `(a, b)` with a < b — the caller
    * materializes the pairs and then unpersists its own shingle cache.
    */
  private def lshVerifiedPairs(shingled: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sigs = shingled
      .select(col("k"),
        graft.functions.HashFunctions.minhash_sigs(col("sh"), K).as("ms"))
      .select(col("k") +:
        (0 until K).map(i => element_at(col("ms"), i + 1).as(s"m$i")): _*)
    // band hash over its R signature slots — no arrays, pure codegen
    val bandCols = (0 until K / R).map { b =>
      val slots = (b * R until (b + 1) * R).map(i => col(s"m$i").cast("string"))
      struct(lit(b).as("band"),
        h60s(concat_ws("#", slots :+ lit(b).cast("string"): _*)).as("bhash"))
    }
    val allBands = sigs
      .select(col("k"), explode(array(bandCols: _*)).as("bb"))
      .select(col("k"), col("bb.band").as("band"), col("bb.bhash").as("bhash"))
    // one exchange: bucket size via count window (same partitioning as
    // the collect), skew guard BEFORE collection bounds every array at
    // MaxBucket; sorted list ⇒ positional pairs are value-ordered a <= b
    val cand = allBands
      .withColumn("bn", count(lit(1)).over(Window.partitionBy("band", "bhash")))
      .filter(col("bn") > 1 && col("bn") <= MaxBucket)
      .groupBy("band", "bhash")
      .agg(array_sort(collect_list(col("k"))).as("ks"))
      .select(explode(expr(
        """flatten(transform(ks, (x, i) ->
             transform(slice(ks, i + 2, size(ks)),
               y -> named_struct('a', x, 'b', y))))""")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      // strict: a key twice in one bucket (a doc_id on two rows) would
      // pair with itself and verify at Jaccard 1.0
      .filter(col("a") < col("b"))
      .distinct()
    // verify candidates with exact shingle-set Jaccard
    // array_intersect is hash-based O(n+m) codegen (and sh is already
    // distinct, so set semantics match the oracle's list_filter); the
    // previous filter+array_contains lambda was O(n*m) interpreted and
    // dominated the verify stage. Both verify references read the
    // shingle cache. They wait for `cand` (and so cannot race the
    // band chain's population of that cache) only when the planner
    // chooses broadcast joins with `cand` as the build side; no
    // broadcast() hint forces that, and under sort-merge joins the
    // verify scans may run beside the band chain. A
    // single-reference variant (explode endpoints → one join →
    // collect_list per pair) was measured WORSE at sf0.1: it shuffles
    // every candidate's shingle ARRAY (~18 MiB vs 0) where the
    // broadcast joins stream the cache in place.
    val pairs = cand
      .join(shingled.as("ta"), col("a") === col("ta.k"))
      .join(shingled.as("tb"), col("b") === col("tb.k"))
      .withColumn("inter",
        size(array_intersect(col("ta.sh"), col("tb.sh"))))
      .withColumn("uni",
        size(col("ta.sh")) + size(col("tb.sh")) - col("inter"))
      .filter(col("inter").cast("double") / col("uni") >= 0.5)
      .select(col("a"), col("b"))
    pairs
  }

  /** The per-doc distinct shingle sets (un-persisted plan). */
  private def docShingles(s: SparkSession, dir: String): DataFrame =
    tBalanced(s, dir, "documents")
      .select(col("doc_id").as("k"), tokens.as("toks"))
      .select(col("k"), array_distinct(
        graft.functions.TextFunctions.word_shingles(col("toks"), 3)).as("sh"))
      .filter(size(col("sh")) > 0)

  /** The UN-memoized doc-level pair-pipeline plan — the `Inspect plan`
    * frame (the production path is [[nearDupPairs]], which persists,
    * materializes and memoizes; its explain shows only the cache).
    */
  private[graft] def lshPairsPlanForDump(s: SparkSession,
      dir: String): DataFrame =
    lshVerifiedPairs(docShingles(s, dir))

  private def computeNearDupPairs(s: SparkSession, dir: String): DataFrame = {
    // Serialized + spill-to-disk: this cache is roughly corpus-sized
    // (one string array per doc), so deserialized MEMORY_ONLY would
    // evict under pressure and force a 4x shingle recompute — at 100 TB
    // the only viable levels are the spillable serialized ones.
    val shingled = docShingles(s, dir)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val pairs = lshVerifiedPairs(shingled).persist()
    // Materialize the (KB-scale) pair set NOW so the heavy per-doc
    // shingle cache can be released — otherwise `shingled` (one string
    // array per document, the largest intermediate in the repo) stays
    // pinned in executor storage for the life of the session and every
    // later query inherits the memory pressure. A FAILED count must
    // release `pairs` too: the artifact cache stores nothing on throw, so
    // a retry would re-persist on top of the leaked cache.
    try pairs.count()
    catch { case t: Throwable =>
      pairs.unpersist(blocking = false); throw t
    } finally {
      // blocking: the next query in a bench run starts immediately,
      // and an async release lets this corpus-scale cache contend with
      // (and evict) the caches that query builds — the r6
      // d_dup_clusters 4.4x regression was exactly this contention.
      shingled.unpersist(blocking = true)
    }
    pairs
  }

  /** The distributed rollup behind `d_paragraph_neardup` (one row per
    * source, ready to collect) plus the persisted paragraph shingle
    * cache backing it. Exposed `private[graft]` so `Inspect plan` can dump
    * the real distributed plan — the QueryDef itself returns a local
    * relation after the driver fold, whose `explain` shows only a
    * LocalTableScan. The caller MUST materialize the returned frame
    * and then [[safeUnpersist]] the cache handle.
    */
  private[graft] def paragraphNeardupAgg(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    // tSpreadHeavy: same rationale as computeNearDupPairs — the
    // paragraph cache feeds the md5-heavy MinHash/band pipeline
    val paras = tSpreadHeavy(s, dir, "documents", "doc_id")
      .select(col("doc_id"), col("source"), tokens.as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("source"), col("toks"),
        explode(expr(s"sequence(0, int((size(toks) - 1) div $ParaW))"))
          .as("p"))
      .filter(col("p") < ParaCap)
      .select(col("doc_id"), col("source"), col("p"),
        expr(s"slice(toks, p * $ParaW + 1, $ParaW)").as("chunk"))
      .filter(size(col("chunk")) >= 3)
      .select(col("doc_id"), col("source"),
        (col("doc_id") * ParaCap + col("p")).as("k"),
        array_distinct(graft.functions.TextFunctions
          .word_shingles(col("chunk"), 3)).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val pairs = lshVerifiedPairs(paras.select("k", "sh"))
    val cross = pairs.filter(expr(s"a DIV $ParaCap <> b DIV $ParaCap"))
    // ONE reference to the (un-persisted) pair subtree: explode
    // emits both endpoints map-side — the previous
    // union(cross.a, cross.b) planned the whole verify-join
    // tail TWICE (Catalyst does not dedupe common subtrees
    // across union branches), doubling the candidate-join work
    // and its AQE stage cascade (guide §2.4/§7.2; measured
    // 3.5 s -> 2.6 s warm on this row at sf0.1).
    val dup = cross
      .select(explode(array(col("a"), col("b"))).as("k")).distinct()
      .withColumn("is_dup", lit(1))
    // Rollup in ONE aggregation chain instead of two aggregates
    // joined: mark each paragraph via the KB-scale dup set
    // (broadcast left join), fold per (source, doc) first, then
    // per source — two narrow exchanges, no distinct-rewrite
    // Expand, no agg-agg join (guide §2.4). Identical output:
    // nd counts marked paragraphs, ndd counts docs with any
    // marked paragraph.
    val agg = paras.select("k", "doc_id", "source")
      .join(broadcast(dup), Seq("k"), "left")
      .groupBy("source", "doc_id")
      .agg(count(lit(1)).as("np"), count(col("is_dup")).as("ndp"))
      .groupBy("source")
      .agg(sum("np").as("n_paras"),
        sum("ndp").as("n_dup_paras"),
        sum(when(col("ndp") > 0, 1L).otherwise(0L)).as("n_dup_docs"))
      .select(col("source"), col("n_paras"),
        col("n_dup_paras"),
        col("n_dup_docs"),
        floor(lit(1000) * col("n_dup_paras")
          / col("n_paras")).as("milli_dup"))
      .orderBy("source")
    (agg, paras)
  }

  /** The whole MinHash+LSH pair pipeline as DuckDB CTEs (same
    * tokenizer, same shingles, same md5-derived [[Tables.h60]] hashes,
    * same band construction and skew guard) — shared by the
    * `d_minhash_lsh` and `d_dup_clusters` oracles. Ends with a
    * `pairs(a, b)` CTE of verified near-duplicate pairs.
    */
  /** The LSH pipeline as DuckDB CTEs over a `($key, sh)` shingle
    * relation `$rel` — the SQL mirror of [[lshVerifiedPairs]], shared by
    * the doc-granular ([[sqlPairsCte]]) and paragraph-granular
    * (`d_paragraph_neardup`) oracles so the two granularities cannot
    * drift. Emits ex/exh/seeds/sig/bands/big/small/cand/pairs with
    * `pairs(a, b)` keyed by `$key`.
    */
  private def sqlLshCtes(rel: String, key: String): String =
    s"""ex AS (SELECT $key, unnest(sh) AS g FROM $rel),
    exh AS (
      SELECT $key,
        CAST('0x' || substr(md5(g), 1, 14) AS BIGINT) AS h1,
        CAST('0x' || substr(md5(g), 15, 14) AS BIGINT) AS h2
      FROM ex),
    seeds AS (SELECT unnest(range(0, $K)) AS seed),
    sig AS (
      SELECT $key, seed, MIN(h1 + seed * h2) AS m
      FROM exh CROSS JOIN seeds GROUP BY $key, seed),
    bands AS (
      SELECT $key, band,
        ${sqlH60s("string_agg(CAST(m AS VARCHAR), '#' ORDER BY seed)" +
          " || '#' || CAST(band AS VARCHAR)")} AS bhash
      FROM (SELECT $key, seed, m, CAST(seed // $R AS INTEGER) AS band
            FROM sig) s
      GROUP BY $key, band),
    big AS (
      SELECT band, bhash FROM bands GROUP BY band, bhash
      HAVING COUNT(*) > $MaxBucket),
    small AS (
      SELECT bands.* FROM bands WHERE NOT EXISTS (
        SELECT 1 FROM big
        WHERE big.band = bands.band AND big.bhash = bands.bhash)),
    cand AS (
      SELECT DISTINCT x.$key AS a, y.$key AS b
      FROM small x JOIN small y
        ON x.band = y.band AND x.bhash = y.bhash AND x.$key < y.$key),
    pairs AS (
      SELECT a, b FROM cand
      JOIN $rel sa ON cand.a = sa.$key
      JOIN $rel sb ON cand.b = sb.$key
      WHERE CAST(len(list_filter(sa.sh, g -> list_contains(sb.sh, g))) AS DOUBLE)
            / (len(sa.sh) + len(sb.sh)
               - len(list_filter(sa.sh, g -> list_contains(sb.sh, g)))) >= 0.5)"""

  val sqlPairsCte: String = {
    s"""tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
      FROM documents),
    shing AS (
      SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
          i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
      FROM tok WHERE len(toks) >= 3),
    ${sqlLshCtes("shing", "doc_id")}"""
  }

  /** The d_cross_source_overlap frames: the lazy pair/Jaccard result
    * plus the persisted per-shingle source-set frame backing it
    * (caller must unpersist after materializing). Exposed for
    * PlanAuditSpec.
    *
    * One row per distinct shingle with its sorted source set;
    * collect_set dedupes (source, shingle) within the group, so no
    * separate distinct shuffle is needed. Shingles are h60-hashed
    * BEFORE the shuffle — 8-byte keys instead of ~30-byte strings —
    * and the oracle hashes with the same md5-derived h60, so the
    * per-pair counts agree exactly on both engines even in the
    * (2^-60) collision case. Persisted because both the pair counts
    * and the per-source totals read it.
    */
  /** One-pass cross-source overlap aggregate. Each per-shingle source
    * set emits BOTH its singleton rows (`sb` NULL — these fold into
    * per-source distinct-shingle totals) and its unordered pairs
    * (`sa < sb` lexicographically, matching the oracle's
    * `a.source < b.source`), so the whole computation is one
    * tokenize+shingle scan and exactly two shuffles (shingle agg, pair
    * agg) with NO executor cache and NO join: the previous shape
    * persisted the corpus-scale shingle sets and re-read them from a
    * serialized cache for the totals and pair passes — the cache write
    * plus two deserializing reads cost ~4x the recompute at sf0.1, and
    * at 100 TB the single-subtree form is strictly less state to
    * manage. Output is <= |sources| + C(|sources|, 2) rows — a
    * constant-size aggregate the caller collects.
    */
  private[graft] def crossSourceOverlapAgg(s: SparkSession,
      dir: String): DataFrame =
    // tSpreadHeavy: h60s (md5) per 5-gram shingle ≈ md5 per token —
    // the serial one-split map stage measured 0.5-1.7 s of this row
    tSpreadHeavy(s, dir, "documents", "doc_id")
      .select(col("source"), tokens.as("toks"))
      .select(col("source"), explode(array_distinct(
        graft.functions.TextFunctions.word_shingles(col("toks"), 5)))
        .as("gstr"))
      .select(col("source"), h60s(col("gstr")).as("g"))
      .groupBy("g")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .select(explode(expr(
        """concat(
             transform(srcs, x ->
               named_struct('sa', x, 'sb', CAST(NULL AS STRING))),
             flatten(transform(srcs, (x, i) ->
               transform(slice(srcs, i + 2, size(srcs)),
                 y -> named_struct('sa', x, 'sb', y)))))""")).as("p"))
      .groupBy(col("p.sa").as("sa"), col("p.sb").as("sb"))
      .agg(count(lit(1)).as("n"))

  val defs: Seq[QueryDef] = Seq(
    // Exact dedup: hash-groupBy on a normalized fingerprint.
    QueryDef("d_exact",
      (s, dir) => t(s, dir, "documents")
        .select(fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"),
          (count(lit(1)) - countDistinct(col("fp"))).as("n_dups")),
      Some(s"""SELECT COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_unique,
          COUNT(*) - COUNT(DISTINCT fp) AS n_dups
        FROM (SELECT ${sqlFingerprint("text")} AS fp
              FROM documents) q""")),

    // Exact dedup, keep-first: group-size histogram.
    QueryDef("d_exact_keep_first",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .groupBy("fp").agg(min(col("doc_id")).as("keep_doc_id"),
          count(lit(1)).as("group_size"))
        .groupBy("group_size").agg(count(lit(1)).as("n_groups"))
        .orderBy("group_size"),
      Some(s"""SELECT group_size, COUNT(*) AS n_groups FROM (
          SELECT fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS group_size
          FROM (SELECT doc_id, ${sqlFingerprint("text")} AS fp
            FROM documents) q GROUP BY fp) g
        GROUP BY group_size ORDER BY group_size""")),

    // APPLY exact dedup: keep the first (min doc_id) of each
    // fingerprint group, rolled up per source — the map-side decision a
    // corpus pipeline actually executes (the histogram above describes
    // it; this row materializes it). A min-over-window on the
    // fingerprint costs ONE shuffle; the groupBy+self-join alternative
    // would shuffle twice.
    QueryDef("d_exact_apply",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val fp = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            fingerprint(col("text")).as("fp"))
        fp.withColumn("keep_doc_id",
            min("doc_id").over(Window.partitionBy("fp")))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("doc_id") === col("keep_doc_id"), 1L).otherwise(0L))
              .as("n_kept"))
          .orderBy("source")
      },
      Some(s"""WITH f AS (SELECT doc_id, source,
            ${sqlFingerprint("text")} AS fp
          FROM documents),
        k AS (SELECT fp, MIN(doc_id) AS keep_doc_id FROM f GROUP BY fp)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN doc_id = keep_doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept
        FROM f JOIN k USING (fp)
        GROUP BY source ORDER BY source""")),

    // URL-canonicalized dedup keys — the CCNet-style normalization pass
    // every crawl pipeline runs BEFORE content dedup: scheme, leading
    // 'www.', default port, query string, fragment, trailing slash and
    // case are presentation noise, so raw URLs that differ only there
    // must collapse to one canonical key, and keep-first picks the
    // lowest doc_id per key. The documents table carries no URL column,
    // so the raw URLs are SYNTHESIZED in-query (deterministically, four
    // presentation variants per canonical group of 4 doc_ids) — both
    // engines derive the same bytes, so the differential checks the
    // CANONICALIZATION, which is the operator. Scale shape: map-side
    // regex chain, one window shuffle on the canonical key (the dedup
    // key — exactly the shuffle the operator exists to key), one
    // per-source rollup.
    QueryDef("d_url_dedup",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val urls = tBalanced(s, dir, "documents")
          .select(col("doc_id"), col("source"))
          .withColumn("host", expr(
            "concat('example', CAST((doc_id DIV 4) % 977 AS STRING), '.com')"))
          .withColumn("pth", expr(
            "concat('/docs/', CAST((doc_id DIV 4) DIV 977 AS STRING))"))
          .withColumn("url", expr("""CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN concat('https://', host, pth)
            WHEN 1 THEN concat('HTTP://WWW.', upper(host), pth, '/')
            WHEN 2 THEN concat('https://', host, ':443', pth,
              '?utm_source=feed&ref=x')
            ELSE concat('http://www.', host, pth, '#section-2') END"""))
        // order matters: fragment and query go first (a '#'/'?' can
        // hide a port or slash), then scheme/www/port, then the
        // trailing slash. replace() for ports (no regex groups — the
        // replacement syntax differs between Java and RE2); anchored
        // regexes elsewhere, so replace-first (DuckDB) == replace-all
        // (Spark).
        val canon0 = regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(
            lower(col("url")), "#.*$", ""), "\\?.*$", ""),
          "^https?://", ""), "^www\\.", ""), "/$", "")
        val w = Window.partitionBy("canon")
        urls
          .withColumn("canon0", canon0)
          .withColumn("canon",
            regexp_replace(expr("replace(canon0, ':443/', '/')"),
              ":(?:443|80)$", ""))
          .withColumn("keeper", min("doc_id").over(w))
          .groupBy("source")
          .agg(count(lit(1)).as("n_urls"),
            countDistinct("canon").as("n_canonical"),
            sum(when(col("doc_id") === col("keeper"), 1L).otherwise(0L))
              .as("n_kept"),
            sum(when(col("doc_id") === col("keeper"), 0L).otherwise(1L))
              .as("n_dup_dropped"))
          .orderBy("source")
      },
      Some("""WITH u AS (
          SELECT doc_id, source,
            CASE CAST(doc_id % 4 AS INT)
              WHEN 0 THEN concat('https://', host, pth)
              WHEN 1 THEN concat('HTTP://WWW.', upper(host), pth, '/')
              WHEN 2 THEN concat('https://', host, ':443', pth,
                '?utm_source=feed&ref=x')
              ELSE concat('http://www.', host, pth, '#section-2') END AS url
          FROM (SELECT doc_id, source,
              concat('example', CAST((doc_id // 4) % 977 AS VARCHAR),
                '.com') AS host,
              concat('/docs/', CAST((doc_id // 4) // 977 AS VARCHAR)) AS pth
            FROM documents) b),
        c AS (
          SELECT doc_id, source,
            regexp_replace(replace(
              regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                regexp_replace(lower(url), '#.*$', ''),
                '\?.*$', ''),
                '^https?://', ''),
                '^www\.', ''),
                '/$', ''),
              ':443/', '/'), ':(?:443|80)$', '') AS canon
          FROM u),
        k AS (
          SELECT doc_id, source, canon,
            MIN(doc_id) OVER (PARTITION BY canon) AS keeper
          FROM c)
        SELECT source, COUNT(*) AS n_urls,
          COUNT(DISTINCT canon) AS n_canonical,
          CAST(SUM(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END) AS BIGINT)
            AS n_kept,
          CAST(SUM(CASE WHEN doc_id = keeper THEN 0 ELSE 1 END) AS BIGINT)
            AS n_dup_dropped
        FROM k GROUP BY source ORDER BY source""")),

    // MinHash + LSH banding, hashed with the engine-portable md5-derived
    // h60 → the whole pipeline (shingle → per-seed min → band → bucket
    // join → Jaccard verify) replays in DuckDB as the oracle.
    // FunctionsSpec additionally asserts planted near-duplicates found.
    QueryDef("d_minhash_lsh",
      (s, dir) => nearDupPairs(s, dir)
        .agg(count(lit(1)).as("n_neardup_pairs")),
      Some(s"""WITH RECURSIVE $sqlPairsCte
        SELECT CAST(COUNT(*) AS BIGINT) AS n_neardup_pairs FROM pairs""")),

    // PARAGRAPH-granular near-dup — the granularity production corpus
    // cleaning actually runs (boilerplate paragraphs repeat across
    // pages whose documents as a whole are distinct, so doc-level
    // MinHash misses them). Paragraph = non-overlapping 15-token
    // window; the pair machinery is the SAME [[lshVerifiedPairs]] the
    // doc pipeline uses, keyed by the packed (doc_id, paragraph)
    // scalar, so the two granularities cannot drift. Only CROSS-doc
    // pairs mark a paragraph as duplicated (same-doc repetition is
    // d_dup_spans' business). Scale shape: paragraphs multiply the key
    // count by ~docs/4 but every stage stays the LSH pipeline's —
    // map-side signatures, band equi-join with the bucket guard, pair
    // verify on the KB-scale candidate set; the rollup output is one
    // row per source. Output collected (bounded: |sources| rows) so
    // the paragraph shingle cache can be released eagerly.
    QueryDef("d_paragraph_neardup",
      (s, dir) => {
        val (agg, paras) = paragraphNeardupAgg(s, dir)
        try {
          val rows = agg.collect().toSeq
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4)))
          val s2 = s
          import s2.implicits._
          rows.toDF("source", "n_paras", "n_dup_paras", "n_dup_docs",
            "milli_dup")
        } finally safeUnpersist(paras)
      },
      Some(s"""WITH RECURSIVE paras AS (
          SELECT doc_id, source, doc_id * $ParaCap + p AS k,
            list_distinct(list_transform(range(1, len(chunk) - 1),
              i -> concat_ws(' ', chunk[i], chunk[i+1], chunk[i+2]))) AS sh
          FROM (
            SELECT doc_id, source, p,
              toks[p * $ParaW + 1 : p * $ParaW + $ParaW] AS chunk
            FROM (SELECT doc_id, source, toks,
                    unnest(range(0,
                      CAST((len(toks) - 1) // $ParaW AS BIGINT) + 1)) AS p
                  FROM (SELECT doc_id, source,
                          regexp_extract_all(lower(text), '[a-z]+') AS toks
                        FROM documents) t
                  WHERE len(toks) >= 3) u
            WHERE p < $ParaCap) c
          WHERE len(chunk) >= 3),
        ${sqlLshCtes("paras", "k")},
        crossp AS (
          SELECT a, b FROM pairs WHERE a // $ParaCap <> b // $ParaCap),
        dup AS (SELECT DISTINCT k FROM (
          SELECT a AS k FROM crossp UNION ALL SELECT b AS k FROM crossp) u),
        tot AS (SELECT source, COUNT(*) AS n_paras,
            COUNT(DISTINCT doc_id) AS n_docs
          FROM paras GROUP BY source),
        mk AS (SELECT source, COUNT(*) AS nd, COUNT(DISTINCT doc_id) AS ndd
          FROM paras JOIN dup USING (k) GROUP BY source)
        SELECT tot.source, n_paras,
          COALESCE(nd, 0) AS n_dup_paras,
          COALESCE(ndd, 0) AS n_dup_docs,
          CAST(FLOOR(1000.0 * COALESCE(nd, 0) / n_paras) AS BIGINT)
            AS milli_dup
        FROM tot LEFT JOIN mk USING (source) ORDER BY tot.source""")),

    // SimHash: 60-bit signature from per-token hash bit votes —
    // explode + 60 codegen'd conditional sums, one shuffle on doc_id.
    QueryDef("d_simhash",
      (s, dir) => {
        // Whole signature in ONE map-side codegen kernel
        // ([[graft.functions.SimHash60]]): the previous explode +
        // md5-per-token + 60-conditional-SUM aggregate shipped
        // O(corpus tokens) rows into a hash agg to compute a value
        // that never needs to leave the task holding the document
        // (guide §1.2 step 2, §2.3 "aggregate before you shuffle" taken
        // to its limit — no aggregate at all). Null signature = empty
        // token array = the exploded form's absent doc; the filter
        // keeps the two shapes row-identical (FunctionsSpec pins
        // kernel ≡ exploded-fold equality).
        // tSpreadHeavy: md5 per token map-side, serial otherwise.
        // Filter on the CHEAP size(tokens) > 0 predicate, not on
        // simhash IS NOT NULL (equivalent: the kernel is null iff the
        // token array is empty): a filter referencing the kernel's
        // output gets pushed below the spread exchange and the
        // optimizer then evaluates the whole md5-vote loop TWICE per
        // row — once in the pushed filter, once in the projection
        // (guide §4.4). The size predicate duplicates only the
        // tokenizer below the exchange; the kernel runs exactly once.
        val docs = tSpreadHeavy(s, dir, "documents", "doc_id")
        val sig = docs.filter(size(tokens) > 0)
          .select(col("doc_id"),
            graft.functions.HashFunctions.simhash60(tokens).as("simhash"))
        sig.groupBy(expr("simhash & 65535").as("band16"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n") > 1)
          .agg(coalesce(sum(col("n")), lit(0L)).as("n_docs_in_collision_bands"),
            count(lit(1)).as("n_bands"))
      },
      Some(s"""SELECT
          CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_docs_in_collision_bands,
          CAST(COUNT(*) AS BIGINT) AS n_bands
        FROM (
          SELECT simhash & 65535 AS band16, COUNT(*) AS n
          FROM (
            SELECT doc_id,
              CAST(SUM(CASE WHEN vote >= 0
                  THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
                AS simhash
            FROM (
              SELECT doc_id, b,
                SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
              FROM (SELECT doc_id, ${sqlH60s("w")} AS h
                    FROM (SELECT doc_id,
                        unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
                      FROM documents) t) hh
              CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bits
              GROUP BY doc_id, b) v
            GROUP BY doc_id) s
          GROUP BY band16 HAVING COUNT(*) > 1) c""")),

    // Benchmark decontamination: flag corpus documents sharing any
    // 5-gram with a held-out benchmark set (doc_id % 100 == 0 stands in
    // for the eval suite). The canonical pre-training hygiene pass:
    // shingle both sides once, equi-join on the shingle — the benchmark
    // side is tiny by construction, so AQE broadcasts it and the corpus
    // side streams map-side (no all-pairs work at 100 TB).
    QueryDef("d_decontaminate",
      (s, dir) => {
        // The plan references the shingle subtree four times (join
        // branch + three counts) and Catalyst does not dedupe common
        // subtrees across join branches, so without a cache the
        // tokenize+shingle pass runs 4x (this was the r5 bench's worst
        // regression). Shingle ONCE into a per-doc array, persist,
        // compute the 3-count result eagerly, then release the cache —
        // same persist→materialize→unpersist discipline as the LSH
        // pipeline above, so nothing outlives the query.
        val sh = tBalanced(s, dir, "documents")
          .select(col("doc_id"), tokens.as("toks"))
          .select(col("doc_id"), array_distinct(
            graft.functions.TextFunctions.word_shingles(col("toks"), 5)).as("gs"))
          .filter(size(col("gs")) > 0)
          .persist(StorageLevel.MEMORY_AND_DISK_SER)
        val bench = sh.filter(col("doc_id") % 100 === 0)
        val corpus = sh.filter(col("doc_id") % 100 =!= 0)
        val contaminated = corpus
          .select(col("doc_id"), explode(col("gs")).as("g"))
          .join(bench.select(explode(col("gs")).as("g")).distinct(), "g")
          .select("doc_id").distinct()
        // one row per doc in `sh`, so plain counts = distinct doc counts;
        // finally: a failed collect must not leave the corpus-scale
        // shingle persist pinned for the session
        val row =
          try contaminated.agg(count(lit(1)).as("n_contaminated"))
            .crossJoin(bench.agg(count(lit(1)).as("n_benchmark_docs")))
            .crossJoin(corpus.agg(count(lit(1)).as("n_checked_docs")))
            .select("n_benchmark_docs", "n_checked_docs", "n_contaminated")
            .collect()(0)
          finally sh.unpersist(blocking = true)
        import s.implicits._
        Seq((row.getLong(0), row.getLong(1), row.getLong(2)))
          .toDF("n_benchmark_docs", "n_checked_docs", "n_contaminated")
      },
      Some("""WITH tok AS (
          SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
          FROM documents),
        sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, len(toks) - 3),
              i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                             toks[i+3], toks[i+4])))) AS g
          FROM tok WHERE len(toks) >= 5),
        bench AS (SELECT doc_id, g FROM sh WHERE doc_id % 100 = 0),
        corpus AS (SELECT doc_id, g FROM sh WHERE doc_id % 100 <> 0),
        cont AS (SELECT DISTINCT corpus.doc_id FROM corpus
                 JOIN (SELECT DISTINCT g FROM bench) b USING (g))
        SELECT
          (SELECT COUNT(DISTINCT doc_id) FROM bench) AS n_benchmark_docs,
          (SELECT COUNT(DISTINCT doc_id) FROM corpus) AS n_checked_docs,
          (SELECT COUNT(*) FROM cont) AS n_contaminated""")),

    // n-gram Jaccard over adjacent doc pairs — full DuckDB oracle.
    QueryDef("d_ngram_jaccard",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), array_distinct(tokens).as("tk"))
        docs.as("a").join(docs.as("b"),
            col("b.doc_id") === col("a.doc_id") + 1)
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            // hash-based codegen intersect; tk is distinct so the size
            // equals the oracle's list_filter count
            size(array_intersect(col("a.tk"), col("b.tk"))).as("inter"),
            (size(col("a.tk")) + size(col("b.tk"))).as("total"))
          .select(col("doc_a"), col("doc_b"),
            (col("inter").cast("double") / (col("total") - col("inter")))
              .as("jaccard"))
          .orderBy("doc_a")
      },
      Some("""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          (CAST(len(list_filter(a.tk, w -> list_contains(b.tk, w))) AS DOUBLE)
            / (len(a.tk) + len(b.tk)
               - len(list_filter(a.tk, w -> list_contains(b.tk, w))))) AS jaccard
        FROM (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z]+')) AS tk
              FROM documents) a
        JOIN (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z]+')) AS tk
              FROM documents) b
          ON b.doc_id = a.doc_id + 1
        ORDER BY doc_a""")),

    // Cross-source overlap matrix: for every pair of sources, the
    // number of distinct 5-gram shingles they share plus the
    // shingle-set Jaccard — the corpus-curation view of "how much does
    // source A duplicate source B" (mirror detection, crawl-vs-recrawl
    // diffing, licensing audits). Scale shape: ONE shuffle keyed on
    // the shingle, per-shingle source sets bounded by the (tiny)
    // source vocabulary — pair expansion happens AFTER that
    // aggregation, inside rows of at most |sources| entries, never as
    // a shingle-level self-join of two corpus-scale exploded sides.
    // The per-source totals are a |sources|-row aggregate broadcast
    // back onto |sources choose 2| pair rows, and the final result is
    // constant-size, so nothing here grows faster than the one
    // tokenize+shingle scan.
    QueryDef("d_cross_source_overlap",
      (s, dir) => {
        // ONE job: totals (sb NULL) and shared counts arrive in the
        // same <= |sources|^2-bounded collect; the Jaccard division is
        // a single IEEE op over deterministic longs, identical on the
        // driver and in DuckDB
        val rows = crossSourceOverlapAgg(s, dir).collect()
        val tot = rows.filter(_.isNullAt(1))
          .map(r => r.getString(0) -> r.getLong(2)).toMap
        import s.implicits._
        rows.filter(!_.isNullAt(1))
          .map { r =>
            val (a, b, n) = (r.getString(0), r.getString(1), r.getLong(2))
            (a, b, n, n.toDouble / (tot(a) + tot(b) - n))
          }
          .sortBy(t => (t._1, t._2)).toSeq
          .toDF("source_a", "source_b", "n_shared_shingles", "jaccard")
      },
      Some("""WITH tok AS (
          SELECT source, regexp_extract_all(lower(text), '[a-z]+') AS toks
          FROM documents),
        sg AS (
          SELECT DISTINCT source,
            CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS g
          FROM (
            SELECT source, unnest(list_distinct(list_transform(
                range(1, len(toks) - 3),
                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                               toks[i+3], toks[i+4])))) AS g
            FROM tok WHERE len(toks) >= 5) u),
        per_source AS (SELECT source, COUNT(*) AS n FROM sg GROUP BY source),
        shared AS (
          SELECT a.source AS source_a, b.source AS source_b,
            COUNT(*) AS n_shared_shingles
          FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
          GROUP BY 1, 2)
        SELECT source_a, source_b, n_shared_shingles,
          CAST(n_shared_shingles AS DOUBLE)
            / (pa.n + pb.n - n_shared_shingles) AS jaccard
        FROM shared
        JOIN per_source pa ON pa.source = shared.source_a
        JOIN per_source pb ON pb.source = shared.source_b
        ORDER BY source_a, source_b""")),

    // Duplicated-span ratio — the distributed stand-in for exact
    // substring dedup (suffix-array span removal a la "Deduplicating
    // Training Data Makes Language Models Better"): fingerprint every
    // 12-token window, call a window "duplicated" when >= 2 documents
    // contain it, and report per document the fraction of its windows
    // that are. That ratio is the signal a curation pass thresholds on
    // to drop (or span-trim) boilerplate-heavy documents. Scale shape:
    // the window explode is the same cost class as the MinHash shingle
    // pass; the per-span doc count is a WINDOW over the 8-byte span
    // hash (one shuffle, partitions bounded by docs-per-span) feeding
    // straight into the per-doc fold (second shuffle) — one subtree,
    // so no persist/collect is needed, and nothing is quadratic.
    QueryDef("d_dup_spans",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
        tBalanced(s, dir, "documents")
          .select(col("doc_id"), tokens.as("toks"))
          .filter(size(col("toks")) >= SpanW)
          .select(col("doc_id"), explode(array_distinct(
            graft.functions.TextFunctions.word_shingles(col("toks"), SpanW)))
            .as("g"))
          .select(col("doc_id"), h60s(col("g")).as("h"))
          .withColumn("n_docs", count(lit(1)).over(w))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
          .filter(col("n_dup_spans") > 0)
          .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
            (col("n_dup_spans").cast("double") / col("n_spans"))
              .as("dup_ratio"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tok AS (
          SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
          FROM documents),
        sp AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, len(toks) - ${SpanW - 2}),
              i -> concat_ws(' ', $sqlSpanTerms)))) AS g
          FROM tok WHERE len(toks) >= $SpanW),
        h AS (SELECT doc_id, ${sqlH60s("g")} AS h FROM sp),
        w AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS n_docs FROM h),
        pd AS (SELECT doc_id, COUNT(*) AS n_spans,
            SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup_spans
          FROM w GROUP BY doc_id)
        SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
          CAST(n_dup_spans AS BIGINT) AS n_dup_spans,
          CAST(n_dup_spans AS DOUBLE) / n_spans AS dup_ratio
        FROM pd WHERE n_dup_spans > 0 ORDER BY doc_id""")),

    // APPLY the duplicated-span signal — the span-REMOVAL step of
    // exact-substring dedup ("Deduplicating Training Data Makes
    // Language Models Better"): a window is duplicated when its
    // 12-token fingerprint occurs >= 2 times in the corpus (cross- or
    // intra-document); every token covered by a duplicated window gets
    // trimmed, and the rollup reports per source how many tokens
    // survive. Scale shape: positional window explode (same cost class
    // as the d_dup_spans pass) -> one shuffle on the 8-byte span hash
    // for the global occurrence count -> per-doc interval gap-merge as
    // a WINDOW over (doc, position) — the sessionize pattern, so
    // coverage union needs no per-doc collection: equal-length
    // intervals merge into contiguous groups wherever consecutive
    // starts are <= 11 apart, and each group covers (max - min + 12)
    // tokens. Integer math end-to-end.
    QueryDef("d_dup_span_trim",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = tBalanced(s, dir, "documents")
          .select(col("doc_id"), col("source"), tokens.as("toks"))
        val base = docs.select(col("doc_id"), col("source"),
          size(col("toks")).as("n_tokens"))
        // positional spans: NO array_distinct — trimming needs every
        // start position, and intra-doc repeats are duplications too
        val starts = docs.filter(size(col("toks")) >= SpanW)
          .select(col("doc_id"),
            posexplode(graft.functions.TextFunctions.word_shingles(
              col("toks"), SpanW)).as(Seq("p", "g")))
          .select(col("doc_id"), col("p"), h60s(col("g")).as("h"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("h")))
          .filter(col("n") >= 2)
          .select(col("doc_id"), col("p"))
        val wSeq = Window.partitionBy("doc_id").orderBy("p")
        val covered = starts
          .withColumn("brk",
            when(col("p") > lag("p", 1, -SpanW).over(wSeq) + (SpanW - 1), 1L)
              .otherwise(0L))
          .withColumn("grp", sum("brk").over(
            wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("doc_id", "grp")
          .agg((max("p") - min("p") + SpanW).as("span_len"))
          .groupBy("doc_id")
          .agg(sum("span_len").as("n_trimmed"))
        base.join(covered, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            coalesce(sum(col("n_trimmed")), lit(0L)).as("n_trimmed_tokens"),
            (sum(col("n_tokens"))
              - coalesce(sum(col("n_trimmed")), lit(0L))).as("n_kept_tokens"))
          .orderBy("source")
      },
      Some(s"""WITH tok AS (
          SELECT doc_id, source,
            regexp_extract_all(lower(text), '[a-z]+') AS toks
          FROM documents),
        spl AS (
          SELECT doc_id, unnest(list_transform(
              range(1, len(toks) - ${SpanW - 2}),
              i -> {'p': i, 'g': concat_ws(' ', $sqlSpanTerms)})) AS u
          FROM tok WHERE len(toks) >= $SpanW),
        sp AS (SELECT doc_id, u.p AS p, u.g AS g FROM spl),
        st AS (
          SELECT doc_id, p FROM (
            SELECT doc_id, p, COUNT(*) OVER (PARTITION BY h) AS n
            FROM (SELECT doc_id, p, ${sqlH60s("g")} AS h FROM sp) hh) c
          WHERE n >= 2),
        gb AS (
          SELECT doc_id, p,
            CASE WHEN p > COALESCE(LAG(p) OVER w, -$SpanW)
                      + ${SpanW - 1} THEN 1 ELSE 0 END AS brk
          FROM st WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
        gm AS (
          SELECT doc_id, p,
            SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS UNBOUNDED PRECEDING) AS grp
          FROM gb),
        cov AS (
          SELECT doc_id, SUM(span_len) AS n_trimmed FROM (
            SELECT doc_id, grp, MAX(p) - MIN(p) + $SpanW AS span_len
            FROM gm GROUP BY doc_id, grp) g GROUP BY doc_id)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
          CAST(COALESCE(SUM(n_trimmed), 0) AS BIGINT) AS n_trimmed_tokens,
          CAST(SUM(len(toks)) - COALESCE(SUM(n_trimmed), 0) AS BIGINT)
            AS n_kept_tokens
        FROM tok LEFT JOIN cov USING (doc_id)
        GROUP BY source ORDER BY source""")),

    // CHARACTER-level exact-substring spans — the ExactSubstr
    // semantics of suffix-array dedup ("Deduplicating Training Data
    // Makes Language Models Better", Lee et al. 2022: a byte is
    // duplicated iff it lies inside some length->=k substring that
    // occurs twice in the corpus), re-expressed shuffle-native: a char
    // position is covered iff its k=40-char window's hash occurs >= 2
    // times anywhere (cross- OR intra-document — the suffix array
    // doesn't care which), and covered positions gap-merge into
    // maximal spans per doc (sessionize, merge while starts are <= k
    // apart so overlapping AND adjacent windows fuse). Equivalent
    // coverage to the suffix-array scan without its global sort: any
    // repeated substring of length >= k contributes all its windows,
    // so its bytes are exactly the union the spans report. Differs
    // from d_dup_span_trim by granularity (bytes, not token windows)
    // and output (per-doc maximal spans, not per-source trim totals).
    // Scale shape: positional explode (O(corpus bytes) rows — the
    // problem's intrinsic cost class; a suffix array is also
    // O(corpus)), CHUNKED per [[windowPositions]] so one pathological
    // multi-hundred-MB document never materializes more than SubChunk
    // positions in a task; hash map-side to 8 bytes so the
    // occurrence-count shuffle never moves the 40-char grams, then the
    // narrow covered-positions shuffle on doc_id. Integer math
    // end-to-end. Measured shuffle bytes at sf0.1 in PLANS.md.
    QueryDef("d_substring_spans",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val k = SubK
        val st = windowPositions(tBalanced(s, dir, "documents"), k, SubChunk)
          .select(col("doc_id"), col("p"),
            h60s(expr(s"substring(text, p, $k)")).as("h"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("h")))
          .filter(col("n") >= 2)
          .select(col("doc_id"), col("p"))
        val wSeq = Window.partitionBy("doc_id").orderBy("p")
        st.withColumn("brk",
            when(col("p") > lag("p", 1, -k).over(wSeq) + k, 1L)
              .otherwise(0L))
          .withColumn("grp", sum("brk").over(
            wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("doc_id", "grp")
          .agg(min("p").as("s"), (max("p") + lit(k - 1)).as("e"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_dup_spans"),
            sum(col("e") - col("s") + 1).as("dup_chars"),
            max(col("e") - col("s") + 1).cast("long").as("max_span_len"))
          .orderBy("doc_id")
      },
      Some(s"""WITH pos AS (
          SELECT doc_id, p, ${sqlH60s(s"substr(text, p, $SubK)")} AS h
          FROM (SELECT doc_id, text,
                  unnest(generate_series(1, length(text) - ${SubK - 1}))
                    AS p
                FROM documents WHERE length(text) >= $SubK) u),
        st AS (
          SELECT doc_id, p FROM (
            SELECT doc_id, p, COUNT(*) OVER (PARTITION BY h) AS n
            FROM pos) c WHERE n >= 2),
        gb AS (
          SELECT doc_id, p,
            CASE WHEN p > COALESCE(LAG(p) OVER w, -$SubK) + $SubK
                 THEN 1 ELSE 0 END AS brk
          FROM st WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
        gm AS (
          SELECT doc_id, p,
            SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS UNBOUNDED PRECEDING) AS grp
          FROM gb),
        sp AS (
          SELECT doc_id, grp, MIN(p) AS s, MAX(p) + ${SubK - 1} AS e
          FROM gm GROUP BY doc_id, grp)
        SELECT doc_id, COUNT(*) AS n_dup_spans,
          CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars,
          CAST(MAX(e - s + 1) AS BIGINT) AS max_span_len
        FROM sp GROUP BY doc_id ORDER BY doc_id""")),

    // MinHash estimator-quality eval: for every VERIFIED near-dup pair,
    // the K=16 signature-agreement Jaccard estimate vs the exact
    // shingle-set Jaccard, plus the absolute error — the "is K big
    // enough" tuning readout that closes the dedup loop the same way
    // s_ann_recall_eval closes the ANN loop. Scale shape: the pair set
    // is the (memoized, KB-scale) LSH output; its vertex set gates the
    // document scan with a broadcast semi-join, so signatures and
    // shingle sets are recomputed for PAIRED DOCS ONLY — the eval costs
    // O(pairs), not a second corpus pass. jaccard_est = n_agree/16
    // (exact: /2^4), jaccard_exact and abs_err are single IEEE ops over
    // deterministic operands, so DuckDB replays all three bit-exactly.
    QueryDef("d_minhash_est_error",
      (s, dir) => {
        val pairs = nearDupPairs(s, dir)
        val verts = pairs.select(col("a").as("doc_id"))
          .union(pairs.select(col("b").as("doc_id"))).distinct()
        // ONE per-doc frame for paired docs only: the gated scan
        // computes the shingle set AND its map-side MinHash signature
        // (codegen MinHashSigs — no explode, no per-seed aggregation
        // stage) in the same projection; both join branches read it
        // from the (tiny) persist, so the whole eval is TWO joins on
        // the KB-scale pair frame instead of the previous four
        // persisted once per (session, dir) and released with the pair
        // frame — the eval result itself is never collected to the
        // driver, so nothing here grows past the bounded pair set
        val perDoc = ArtifactCache(s, dir, "dedup.estPerDoc", safeUnpersist)(
            tBalanced(s, dir, "documents")
              .join(broadcast(verts), Seq("doc_id"), "left_semi")
              .select(col("doc_id"), tokens.as("toks"))
              .select(col("doc_id"), array_distinct(
                graft.functions.TextFunctions.word_shingles(col("toks"), 3))
                .as("sh"))
              .filter(size(col("sh")) > 0)
              .select(col("doc_id"), col("sh"),
                graft.functions.HashFunctions.minhash_sigs(col("sh"), K).as("ms"))
              .persist(StorageLevel.MEMORY_AND_DISK))
        val agreeExpr = (0 until K).map(i =>
          when(element_at(col("ta.ms"), i + 1)
            === element_at(col("tb.ms"), i + 1), 1L).otherwise(0L))
          .reduce(_ + _)
        val out = pairs
          .join(perDoc.as("ta"), col("a") === col("ta.doc_id"))
          .join(perDoc.as("tb"), col("b") === col("tb.doc_id"))
          .withColumn("n_agree", agreeExpr)
          .withColumn("inter",
            size(array_intersect(col("ta.sh"), col("tb.sh"))))
          .withColumn("jaccard_exact", col("inter").cast("double")
            / (size(col("ta.sh")) + size(col("tb.sh")) - col("inter")))
          .select(col("a"), col("b"), col("n_agree"),
            (col("n_agree").cast("double") / K).as("jaccard_est"),
            col("jaccard_exact"),
            abs(col("n_agree").cast("double") / K - col("jaccard_exact"))
              .as("abs_err"))
          .orderBy("a", "b")
        // returned lazily — no driver collect of the pair-sized result;
        // the gated per-doc persist is owned by the artifact cache and
        // released at the dedup family boundary
        out
      },
      Some(s"""WITH RECURSIVE $sqlPairsCte,
        agree AS (
          SELECT p.a, p.b,
            SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS n_agree
          FROM pairs p
          JOIN sig sa ON sa.doc_id = p.a
          JOIN sig sb ON sb.doc_id = p.b AND sb.seed = sa.seed
          GROUP BY p.a, p.b)
        SELECT agree.a, agree.b, CAST(n_agree AS BIGINT) AS n_agree,
          CAST(n_agree AS DOUBLE) / $K AS jaccard_est,
          CAST(len(list_filter(sa.sh, g -> list_contains(sb.sh, g))) AS DOUBLE)
            / (len(sa.sh) + len(sb.sh)
               - len(list_filter(sa.sh, g -> list_contains(sb.sh, g))))
            AS jaccard_exact,
          ABS(CAST(n_agree AS DOUBLE) / $K
            - CAST(len(list_filter(sa.sh, g -> list_contains(sb.sh, g)))
                AS DOUBLE)
              / (len(sa.sh) + len(sb.sh)
                 - len(list_filter(sa.sh, g -> list_contains(sb.sh, g)))))
            AS abs_err
        FROM agree
        JOIN shing sa ON agree.a = sa.doc_id
        JOIN shing sb ON agree.b = sb.doc_id
        ORDER BY a, b"""))
  )
}
