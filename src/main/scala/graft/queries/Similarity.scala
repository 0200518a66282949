package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions.{vec_dot, vec_norm}
import Tables._

/** Similarity search over the `embeddings` table (`embedding:
  * Array[Float]`, 64-d; `label` serves as a coarse IVF cell id).
  *
  * Scoring uses [[graft.functions.FloatVectorDot]] — a custom Catalyst
  * expression with `doGenCode`, so the dot product is a primitive loop
  * inside whole-stage codegen (higher-order functions evaluate lambdas
  * interpretively and were ~10x slower at sf0.1). Norms are computed
  * once per side before the pairwise join, not per pair.
  *
  * Brute-force top-k is the correctness baseline; the IVF variant
  * restricts candidates to the query's cell — at 100 TB, cells map to
  * partition keys and the candidate side is partition-pruned.
  */
object Similarity {

  /** Hard cap on the probe side of [[bruteForceCosine]]. 1024 probes ×
    * 64 floats is ~256 KB broadcast — far under any broadcast
    * threshold; anything larger has no business in the exact baseline.
    */
  private[graft] val MaxBruteForceProbes = 1024

  /** Exact brute-force cosine scoring of `probes` (columns `query_id`,
    * `qv`, `qn`, extras allowed) against `corpus` (`cand_id`, `cv`,
    * `cn`): O(|corpus| × |probes|). This is the EXACT BASELINE the
    * IVF/LSH variants are measured against, never a production path —
    * the probe side is bounded with one early-stopping limit-count and
    * the call fails rather than letting the cross join grow: misuse
    * with a data-sized probe set would otherwise multiply the corpus
    * scan by it.
    */
  private[graft] def bruteForceCosine(corpus: org.apache.spark.sql.DataFrame,
      probes: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // the guard's early-stopping limit-count is a real Spark job: run
    // it once per (session, probe plan), not inside every timed call;
    // an over-cap set stores nothing, so it fails on every call
    ArtifactCache(probes.sparkSession, "",
      s"bruteforce.probes.${probes.queryExecution.logical.semanticHash()}") {
      val n = probes.limit(MaxBruteForceProbes + 1).count()
      require(n <= MaxBruteForceProbes,
        s"brute-force cosine is the exact O(corpus × probes) baseline and " +
          s"caps the probe side at $MaxBruteForceProbes vectors; got more — " +
          "use the IVF cell join or LSH-bucketed variant for large probe sets")
    }
    corpus.crossJoin(broadcast(probes))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cos",
        vec_dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
  }

  /** Probe/corpus frames for the exact brute-force baselines — ONE
    * definition of the rename + norm-precompute convention (probes =
    * the nProbes lowest vec_ids as (query_id, qv, qn), corpus = every
    * vector as (cand_id, cv, cn), optional extra columns aliased
    * along), shared by s_cosine_topk / s_hard_negatives /
    * s_ivf_recall so the baseline and its variants cannot drift.
    */
  private def probeCorpus(emb: org.apache.spark.sql.DataFrame, nProbes: Int,
      probeExtra: Seq[(String, String)] = Seq.empty,
      corpusExtra: Seq[(String, String)] = Seq.empty)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val probes = emb.filter(col("vec_id") < nProbes)
      .select(Seq(col("vec_id").as("query_id"), col("embedding").as("qv"),
        vec_norm(col("embedding")).as("qn")) ++
        probeExtra.map { case (c, a) => col(c).as(a) }: _*)
    val corpus = emb
      .select(Seq(col("vec_id").as("cand_id"), col("embedding").as("cv"),
        vec_norm(col("embedding")).as("cn")) ++
        corpusExtra.map { case (c, a) => col(c).as(a) }: _*)
    (probes, corpus)
  }

  /** Distributed top-k per probe over a `(query_id, cand_id, cos)`
    * frame: local top-k inside salted sub-partitions, then global
    * top-k over the k·salts survivors. A bare
    * `Window.partitionBy("query_id")` caps the sort's parallelism at
    * the PROBE count (5-10 here) no matter how large the scored side
    * is — the two-level shape keeps the heavy first pass spread over
    * `query_id × salt` while changing no output row (any global top-k
    * row is necessarily in its salt's local top-k; ties keep the
    * deterministic cand_id break on both levels). Adds `rank`.
    */
  private def topKBy(scored: org.apache.spark.sql.DataFrame, k: Int,
      ord: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.DataFrame = {
    val wLocal = Window.partitionBy("query_id", "salt").orderBy(ord: _*)
    val wGlobal = Window.partitionBy("query_id").orderBy(ord: _*)
    scored
      .withColumn("salt", pmod(xxhash64(col("cand_id")), lit(32)).cast("int"))
      .withColumn("lr", row_number().over(wLocal)).filter(col("lr") <= k)
      .withColumn("rank", row_number().over(wGlobal)).filter(col("rank") <= k)
  }

  private def topKByCos(scored: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame =
    topKBy(scored, k, Seq(col("cos").desc, col("cand_id")))

  /** The 8 deterministic hyperplanes shared by `s_hyperplane_lsh` and
    * `d_embedding_lsh_neardup`: h_j[i] = ((i+1)*(j+2)) % 17 - 8.
    * Integer patterns make every dot product exact in double, so the
    * DuckDB oracle reproduces the signatures bit-for-bit.
    */
  private def sigColumn: org.apache.spark.sql.Column =
    (0 until 8).map { j =>
      val h = (0 until 64).map(i => (((i + 1) * (j + 2)) % 17 - 8).toFloat)
      // typedlit: ONE array literal node per hyperplane instead of 64
      // element literals — the 8x64 inline tree made analysis+codegen,
      // not execution, the row's cost
      when(vec_dot(col("embedding"), typedLit(h)) > 0d,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  private val sqlSig: String = {
    val dots = (0 until 8).map(j =>
      s"""(CASE WHEN list_sum(list_transform(range(64),
         i -> CAST(embedding[i+1] AS DOUBLE) * (((i+1)*(${j + 2})) % 17 - 8)))
         > 0 THEN ${1L << j} ELSE 0 END)""")
    s"CAST(${dots.mkString(" + ")} AS BIGINT)"
  }

  /** The `d_embedding_lsh_neardup` pipeline, exposed for the plan
    * audit (the QueryDef materializes eagerly and returns a local
    * 1-row frame, hiding the join shape). Returns (aggregate, sigs);
    * callers release the persisted `sigs` after materializing.
    *
    * Scale shape: the signature pass (8 x 64-dim codegen dots per row)
    * runs once into a spillable persist; per-sig counts are a
    * CONSTANT-size driver collect (the signature space is fixed at
    * <= 256 values) inlined as a literal map, saving two
    * broadcast-join stages; oversized buckets are salted exactly like
    * d_embedding_neardup's hot cells — the b-side splits into
    * sub-blocks of <= MaxSigBlock vectors, the a-side replicates
    * across them, so per-task candidate pairs are bounded by
    * n * MaxSigBlock instead of n^2 while every unordered pair
    * {x, y} with ida < idb still matches exactly one (sig, blk) task
    * (the COUNT is salt-invariant — the oracle stays the plain sig
    * join).
    */
  /** Exact near-dup pairs (cos > 0.95) WITHIN each label cell, as the
    * salted cell-blocked join d_embedding_neardup documents: the
    * b-side of a hot cell splits into sub-blocks of <= MaxCellBlock
    * vectors, the a-side replicates across them, so each unordered
    * pair {x, y} with ida < idb matches exactly one (label, blk) task
    * and per-task candidate pairs are bounded by n * MaxCellBlock,
    * never n^2. Returns (label, ida, idb); shared by
    * d_embedding_neardup (pair count) and s_semdedup (drop set).
    */
  private def cellNearDupPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val MaxCellBlock = 1000
    val emb = tBalanced(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"),
        vec_norm(col("embedding")).as("nrm"))
    val nblk = t(s, dir, "embeddings")
      .groupBy("label")
      .agg(ceil(count(lit(1)).cast("double") / MaxCellBlock)
        .cast("int").as("nblk"))
    val a = emb.select(col("vec_id").as("ida"), col("embedding").as("qv"),
        col("nrm").as("na"), col("label"))
      .join(nblk, Seq("label"))
      .withColumn("blk", explode(sequence(lit(0), col("nblk") - 1)))
    val b = emb.select(col("vec_id").as("idb"), col("embedding").as("cv"),
        col("nrm").as("nb"), col("label"))
      .join(nblk, Seq("label"))
      .withColumn("blk", pmod(xxhash64(col("idb")), col("nblk")).cast("int"))
    a.join(b, Seq("label", "blk"))
      .filter(col("ida") < col("idb"))
      .withColumn("cos", vec_dot(col("qv"), col("cv")) / (col("na") * col("nb")))
      .filter(col("cos") > 0.95)
      .select(col("label"), col("ida"), col("idb"))
  }

  private[graft] def lshNearDupAgg(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val MaxSigBlock = 1000
    val sigs = tBalanced(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        vec_norm(col("embedding")).as("nrm"), sigColumn.as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // this agg also materializes the persist for the join below; if
    // the materialization itself fails, release the persist before
    // rethrowing — the caller never gets the handle on this path
    val nblkOf =
      try map(sigs.groupBy("sig")
        .agg(count(lit(1)).as("n")).collect().flatMap { r =>
          val nblk = ((r.getLong(1) + MaxSigBlock - 1) / MaxSigBlock).toInt
          Seq(lit(r.getLong(0)), lit(nblk))
        }.toSeq: _*)
      catch { case t: Throwable =>
        sigs.unpersist(blocking = false); throw t
      }
    val a = sigs.select(col("vec_id").as("ida"), col("embedding").as("qv"),
        col("nrm").as("na"), col("sig"))
      .withColumn("blk",
        explode(sequence(lit(0), element_at(nblkOf, col("sig")) - 1)))
    val b = sigs.select(col("vec_id").as("idb"), col("embedding").as("cv"),
        col("nrm").as("nb"), col("sig"))
      .withColumn("blk", pmod(xxhash64(col("idb")),
        element_at(nblkOf, col("sig")).cast("long")).cast("int"))
    val agg = a.join(b, Seq("sig", "blk"))
      .filter(col("ida") < col("idb"))
      .withColumn("cos", vec_dot(col("qv"), col("cv")) / (col("na") * col("nb")))
      .filter(col("cos") > 0.95)
      .agg(count(lit(1)).as("n_lsh_neardup_pairs"))
    (agg, sigs)
  }

  /** k for the IVF coarse quantizer shared by `s_ivf_train` and
    * `s_ivf_search`.
    */
  private val IvfK = 8

  /** Probe fan-out of the IVF route, shared by the Flat and PQ search
    * paths AND hand-inlined as `rn <= 2` in [[sqlIvfRouteCtes]] —
    * change all together.
    */
  private val IvfNProbe = 2

  /** Every driver-side constant the model build and the serving rows
    * share is collected ONCE: vec_id < [[SeedMax]] covers the IVF
    * k-means seeds (< IvfK=8), the PQ codebook seeds (< PqK=16) and
    * the probe set (< 10) — three separate bounded collect jobs in the
    * old shape, one row filter now (guide §2.4 / §5 bounded outputs).
    */
  private val SeedMax = 16

  /** Trained IVF model: the persisted int8 codes (the index build
    * input) plus the post-Lloyd centroids. Cached per (session,
    * dir) — a real pipeline trains the coarse quantizer ONCE and both
    * inspects it (train stats) and serves with it (search), so the two
    * queries share one training pass, same pattern as
    * [[Pipeline.dupClusterLabels]]. Released with the (session, dir)'s
    * other artifacts ([[ArtifactCache.release]]; the bench does this
    * at the `s` family boundary).
    *
    * `seedCodes` / `seedEmb` are the quantized codes and raw float
    * embeddings of the vec_id < [[SeedMax]] rows — constant-size
    * driver-side parts of the built index. The serving rows broadcast
    * probe relations built from them as LOCAL frames
    * ([[localSeedCodes]] / [[localSeedEmb]]), so a probe broadcast
    * costs no cluster job at any corpus size.
    */
  private[graft] case class IvfModel(
      codes: org.apache.spark.sql.DataFrame,
      cents: Seq[(Long, Seq[Int])],
      cells: org.apache.spark.sql.DataFrame,
      seedCodes: Seq[(Long, Seq[Int])],
      seedEmb: Seq[(Long, Seq[Float])])

  /** LOCAL (driver-built) frame of the model's probe codes `(id, qv)`
    * for vec_id < `below` — a LocalTableScan, so broadcasting it never
    * schedules a distributed scan of the code cache.
    */
  private def localSeedCodes(m: IvfModel, below: Long,
      idName: String, qvName: String): org.apache.spark.sql.DataFrame = {
    val s = m.codes.sparkSession
    import s.implicits._
    m.seedCodes.filter(_._1 < below).toDF(idName, qvName)
  }

  /** LOCAL frame of the model's probe float embeddings. */
  private def localSeedEmb(m: IvfModel, below: Long,
      idName: String, embName: String): org.apache.spark.sql.DataFrame = {
    val s = m.codes.sparkSession
    import s.implicits._
    m.seedEmb.filter(_._1 < below).toDF(idName, embName)
  }

  private def ivfModel(s: org.apache.spark.sql.SparkSession,
      dir: String): IvfModel =
    ArtifactCache(s, dir, "similarity.ivfModel", (m: IvfModel) => {
        m.codes.unpersist(blocking = true)
        m.cells.unpersist(blocking = true)
      }) {
      val (qv, seedEmb, seedCodes) = ivfQuantizedCodes(s, dir)
      try {
        val cents = ivfTrainCentroids(qv,
          seedCodes.filter(_._1 < IvfK))
        // the INDEX: every vector's trained cell, built once and
        // persisted (2 longs per vector — far smaller than the codes)
        // — the Flat search, the PQ/ADC search, and the recall eval
        // all serve from this one assignment pass, the way a real
        // pipeline builds an index once and serves many queries
        val cells = ivfAssignment(qv, cents).select("vec_id", "cid")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try cells.count() // materialize: the index is part of the model
        catch { case t: Throwable =>
          cells.unpersist(blocking = false); throw t
        }
        IvfModel(qv, cents, cells, seedCodes, seedEmb)
      } catch { case t: Throwable =>
        // failed training must not leave the codes pinned — the cache
        // never got the handle
        qv.unpersist(blocking = false); throw t
      }
    }

  /** Test hook: the trained model (FunctionsSpec pins the driver-side
    * seed-quantize fold against the distributed qv rows). */
  private[graft] def modelForTest(s: org.apache.spark.sql.SparkSession,
      dir: String): IvfModel = ivfModel(s, dir)

  /** Map-only int8 quantization of the embedding corpus (same
    * arithmetic as `s_quantize_int8`), cached because training reads
    * the codes once per Lloyd round and search reads them again for
    * cell assignment. Codes are 1/4 the float size, so this is the
    * cheapest representation to pin. Owned by [[ivfModel]]'s entry.
    *
    * Returns (qv frame, seed raw embeddings, seed quantized codes for
    * vec_id < [[SeedMax]]). ONE tagged-union job collects the per-dim
    * min/max stats AND the bounded seed rows (both constant-size at
    * any corpus scale); the seed CODES fold on the driver with the
    * identical double arithmetic as the distributed quantize
    * expression (SimilaritySpec pins the equality), replacing the
    * separate seed-collect job the old shape ran against the qv cache
    * (guide §2.4 — fewer sequential driver sync points).
    */
  private def ivfQuantizedCodes(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
        Seq[(Long, Seq[Float])], Seq[(Long, Seq[Int])]) = {
    val emb = tBalanced(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val statsSide = emb
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("dim").agg(min("x").as("mn"), max("x").as("mx"))
      .select(lit(0).as("tag"), col("dim").cast("long").as("id"),
        array(col("mn"), col("mx")).as("arr"))
    val seedSide = emb.filter(col("vec_id") < SeedMax)
      .select(lit(1).as("tag"), col("vec_id").as("id"),
        col("embedding").as("arr"))
    val rows = statsSide.unionByName(seedSide).collect()
    val stats = rows.filter(_.getInt(0) == 0)
      .map(r => r.getLong(1) ->
        (r.getSeq[Float](2)(0), r.getSeq[Float](2)(1)))
      .sortBy(_._1).map(_._2)
    val mn = stats.map(_._1.toDouble).toIndexedSeq
    val mx = stats.map(_._2.toDouble).toIndexedSeq
    val seedEmb = rows.filter(_.getInt(0) == 1)
      .map(r => r.getLong(1) -> r.getSeq[Float](2).toSeq)
      .sortBy(_._1).toSeq
    // driver replica of the quantize expression below — same double
    // arithmetic, same floor-then-cast-then-clamp order, so the seed
    // codes are bit-identical to the corresponding distributed qv rows
    def q(x: Float, d: Int): Int =
      if (mx(d) == mn(d)) 0
      else math.min(255, math.max(0,
        math.floor((x.toDouble - mn(d)) * 255.0 / (mx(d) - mn(d))).toInt))
    val seedCodes = seedEmb.map { case (id, e) =>
      id -> e.zipWithIndex.map { case (x, d) => q(x, d) } }
    // single array-literal nodes (not 64 element literals each): the
    // quantize expression's tree size was analysis/codegen cost
    val mnLit = typedLit(mn)
    val mxLit = typedLit(mx)
    val qv = emb
      .withColumn("mn", mnLit).withColumn("mx", mxLit)
      .withColumn("qv", expr(
        """transform(embedding, (x, i) ->
          CASE WHEN element_at(mx, i + 1) = element_at(mn, i + 1) THEN 0
            ELSE least(255, greatest(0, CAST(floor(
              (CAST(x AS DOUBLE) - element_at(mn, i + 1)) * 255.0
              / (element_at(mx, i + 1) - element_at(mn, i + 1))) AS INT)))
          END)"""))
      .select(col("vec_id"), col("qv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (qv, seedEmb, seedCodes)
  }

  /** `(dist, cid)` struct per centroid, squared-L2 of the centroid
    * literals against the row's int-code column `v` (the full `qv`
    * codes for IVF, a subvector slice for PQ) — centroids are inlined
    * as literals so the whole array evaluates map-side with zero joins
    * (the reason training/search sync traffic is constant-size). The
    * distance is the codegen [[graft.functions.IntVectorSqL2]]
    * kernel — the interpreted `aggregate(zip_with(...))` form it
    * replaces dominated the assignment scans (k × 64 lambda evals per
    * row).
    */
  private def ivfDistArray(cents: Seq[(Long, Seq[Int])],
      v: org.apache.spark.sql.Column = col("qv")): org.apache.spark.sql.Column =
    array(cents.map { case (cid, cv) =>
      struct(
        // ONE array-literal node per centroid (not 64 element
        // literals): K x 64 inline literals made the IVF plans cost
        // seconds of analysis/codegen at any data size
        graft.functions.VectorFunctions.vec_sql2_int(
          v, typedLit(cv)).as("dist"),
        lit(cid).as("cid"))
    }: _*)

  /** Nearest-centroid assignment: arg-min = lexicographic struct min
    * over (dist, cid) — ties break to the lowest centroid id on both
    * engines.
    */
  private def ivfAssignment(qv: org.apache.spark.sql.DataFrame,
      cents: Seq[(Long, Seq[Int])]): org.apache.spark.sql.DataFrame =
    // the corpus-side hot loop: one compact argmin kernel
    // ([[graft.functions.IntVectorArgminSqL2]]) instead of
    // array_min over K inlined (sql2, cid) structs — identical
    // (dist, cid) lexicographic minimum, ~30x less generated code
    qv.withColumn("best",
        graft.functions.VectorFunctions.vec_argmin_sql2(col("qv"), cents))
      .select(col("vec_id"), col("qv"),
        col("best.cid").as("cid"), col("best.dist").as("dist"))

  /** Deterministic coarse-quantizer training: seed with the quantized
    * vectors of the `IvfK` lowest vec_ids (folded on the driver by
    * [[ivfQuantizedCodes]] — no separate seed-collect job), then one
    * Lloyd update (centroid = floor of per-dim mean). The ONLY driver
    * traffic is the k×64-int centroid table — the standard k-means
    * sync point, independent of corpus size.
    */
  private def ivfTrainCentroids(
      qv: org.apache.spark.sql.DataFrame,
      c0: Seq[(Long, Seq[Int])]): Seq[(Long, Seq[Int])] = {
    ivfAssignment(qv, c0)
      .select(col("cid"), posexplode(col("qv")).as(Seq("dim", "q")))
      .groupBy("cid", "dim")
      .agg(floor(sum(col("q").cast("long")).cast("double")
        / count(lit(1))).cast("int").as("cq"))
      .orderBy("cid", "dim").collect()
      .groupBy(_.getLong(0)).toSeq
      .map { case (cid, rows) => cid -> rows.map(_.getInt(2)).toSeq }
      .sortBy(_._1)
  }

  /** DuckDB replay of [[ivfQuantizedCodes]] alone: quantize every
    * embedding to int8 codes per (vec_id, dim). Shared by the IVF and
    * PQ training oracles.
    */
  private val sqlQuantCtes = """ex AS (
          SELECT vec_id, i AS dim, embedding[i + 1] AS x
          FROM embeddings, range(64) AS r(i)),
        stats AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY dim),
        q AS (
          SELECT vec_id, dim,
            CASE WHEN mx = mn THEN 0
                 ELSE LEAST(255, GREATEST(0, CAST(FLOOR(
                   (CAST(x AS DOUBLE) - CAST(mn AS DOUBLE)) * 255.0
                   / (CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))) AS INT)))
            END AS q
          FROM ex JOIN stats USING (dim))"""

  /** DuckDB replay of [[ivfQuantizedCodes]] + [[ivfTrainCentroids]] +
    * the final assignment distances (`d2`): quantize (`q`), seed
    * (`c0`), assign (`d1`/`a1`), update (`c1`), re-score (`d2`).
    * Shared verbatim by the `s_ivf_train` and `s_ivf_search` oracles
    * so the two queries are checked against the SAME trained model.
    */
  private val sqlIvfTrainCtes = sqlQuantCtes + """,
        c0 AS (SELECT vec_id AS cid, dim, q AS cq FROM q WHERE vec_id < 8),
        d1 AS (
          SELECT q.vec_id, c.cid,
            CAST(SUM((q.q - c.cq) * (q.q - c.cq)) AS BIGINT) AS dist
          FROM q JOIN c0 c USING (dim) GROUP BY q.vec_id, c.cid),
        a1 AS (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
              ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY dist, cid) AS rn
            FROM d1) r WHERE rn = 1),
        c1 AS (
          SELECT a1.cid, q.dim,
            CAST(FLOOR(CAST(SUM(q.q) AS DOUBLE) / COUNT(*)) AS INT) AS cq
          FROM a1 JOIN q USING (vec_id) GROUP BY a1.cid, q.dim),
        d2 AS (
          SELECT q.vec_id, c.cid,
            CAST(SUM((q.q - c.cq) * (q.q - c.cq)) AS BIGINT) AS dist
          FROM q JOIN c1 c USING (dim) GROUP BY q.vec_id, c.cid)"""

  /** DuckDB replay of the IVF index build + nprobe=2 probe routing
    * (cell assignment per vector, routed cells per probe) — shared by
    * the IVF-Flat search/recall oracles and the PQ ADC search oracle.
    */
  private val sqlIvfRouteCtes = """cell AS (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
              ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY dist, cid) AS rn
            FROM d2) r WHERE rn = 1),
        pcell AS (
          SELECT vec_id AS query_id, cid FROM (
            SELECT vec_id, cid,
              ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY dist, cid) AS rn
            FROM d2 WHERE vec_id < 10) r WHERE rn <= 2)"""

  /** DuckDB replay of the IVF-Flat SEARCH on top of [[sqlIvfTrainCtes]]
    * (index build, nprobe=2 routing, exact-cosine re-rank) — shared by
    * the `s_ivf_search` and `s_ivf_recall` oracles.
    */
  private val sqlIvfSearchCtes = sqlIvfRouteCtes + """,
        cands AS (
          SELECT p.query_id, c.vec_id AS cand_id
          FROM pcell p JOIN cell c USING (cid)
          WHERE c.vec_id <> p.query_id),
        scored AS (
          SELECT query_id, cand_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY list_cosine_similarity(eq.embedding, ec.embedding)
                DESC, cand_id) AS rank
          FROM cands
          JOIN embeddings eq ON eq.vec_id = cands.query_id
          JOIN embeddings ec ON ec.vec_id = cands.cand_id)"""

  /** IVF candidate generation shared by the Flat and PQ search paths:
    * read the model's memoized cell index (built once at training),
    * route each probe to its [[IvfNProbe]] nearest centroids by the
    * SAME (dist, cid) order as assignment (slice of the sorted
    * per-centroid distance array, all map-side), and equi-join on the
    * cell. Each vector lives in exactly one cell, so
    * (query_id, cand_id) pairs are already unique — no dedup shuffle.
    */
  private def ivfCandidates(m: IvfModel): org.apache.spark.sql.DataFrame = {
    val cells = m.cells
    // probe routing over the LOCAL seed-code frame (same Catalyst
    // expressions, LocalTableScan input): broadcasting it no longer
    // schedules a distributed scan of the code cache per serving row
    val probeCells = localSeedCodes(m, 10, "vec_id", "qv")
      .withColumn("pc",
        slice(array_sort(ivfDistArray(m.cents)), 1, IvfNProbe))
      .select(col("vec_id").as("query_id"),
        explode(col("pc.cid")).as("cid"))
    cells.join(broadcast(probeCells), "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"))
  }

  /** The lazy s_ivf_search plan (top-5 per probe under the trained
    * index) — exposed for PlanAuditSpec; the QueryDef collects it.
    */
  private[graft] def ivfSearchTopK(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val m = ivfModel(s, dir)
    val embF = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        vec_norm(col("embedding")).as("nrm"))
    val cands = ivfCandidates(m)
    val scored = cands
      // broadcast ONLY the probe vectors' floats (vec_id < 10) — the
      // unfiltered corpus side must never build a broadcast relation.
      // LOCAL frame off the model's seed embeddings: same values, no
      // distributed probe scan per serving row
      .join(broadcast(localSeedEmb(m, 10, "query_id", "qe")
        .withColumn("qn", vec_norm(col("qe")))), "query_id")
      .join(embF.select(col("vec_id").as("cand_id"),
        col("embedding").as("ce"), col("nrm").as("cn")), "cand_id")
      .withColumn("cos",
        vec_dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
    topKByCos(scored, 5)
      .select(col("query_id"), col("rank"), col("cand_id"))
      .orderBy("query_id", "rank")
  }

  /** The tagged bounded union `s_ivf_recall` collects (exact top-5,
    * IVF top-5 and the probe list in one job) — exposed so `Inspect plan`
    * can dump the real distributed plan; the QueryDef folds the
    * set-intersection on the driver.
    */
  private[graft] def ivfRecallTagged(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val (probes, corpus) = probeCorpus(t(s, dir, "embeddings"), 10)
    val exact = topKByCos(bruteForceCosine(corpus, probes), 5)
      .select("query_id", "cand_id")
    val ivf = ivfSearchTopK(s, dir).select("query_id", "cand_id")
    exact.withColumn("t", lit("e"))
      .unionByName(ivf.withColumn("t", lit("i")))
      .unionByName(probes.select(col("query_id"),
        lit(null).cast("long").as("cand_id"), lit("p").as("t")))
  }

  /** Product-quantization geometry: M subspaces × D dims each over the
    * 64-dim codes, K centroids per subspace — PQ codes are M bytes per
    * vector (16x over the int8 codes, 64x over the floats), the
    * standard memory budget that makes 100 TB ANN serving fit RAM.
    */
  private val PqM = 8
  private val PqD = 8
  private val PqK = 16
  private val PqRerankR = 20 // ADC shortlist size the exact re-rank reads

  /** The corpus codes with their M subvector slices projected once per
    * row (each subspace's 16 centroid distances then read one slice).
    */
  private def pqSubvectors(
      codes: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    codes.select(col("vec_id") +:
      (0 until PqM).map(m =>
        slice(col("qv"), m * PqD + 1, PqD).as(s"sv$m")): _*)

  /** `(dist, cid)` structs of subspace `m`'s centroids against the
    * row's `sv{m}` slice — [[ivfDistArray]] over the subvector column.
    */
  private def pqDistArr(m: Int,
      cents: Seq[(Long, Seq[Int])]): org.apache.spark.sql.Column =
    ivfDistArray(cents, col(s"sv$m"))

  /** Trained PQ codebook: per subspace, the (cid, centroid) list after
    * one Lloyd round. Cached per (session, dir) like the IVF model
    * (plain driver-side constants — no executor storage to release);
    * shared by `s_pq_train` and `s_pq_search`.
    */
  private def pqCodebook(s: org.apache.spark.sql.SparkSession,
      dir: String): Map[Long, Seq[(Long, Seq[Int])]] =
    ArtifactCache(s, dir, "similarity.pqCodebook") {
      val model = ivfModel(s, dir)
      val sub = pqSubvectors(model.codes)
      // deterministic seeds: centroid j of every subspace = vec_id j's
      // subvector (the PqK lowest vec_ids, like the IVF seeding) —
      // already on the driver in the model (no collect job)
      val seedRows = model.seedCodes.filter(_._1 < PqK)
      val seeds: Seq[Seq[(Long, Seq[Int])]] = (0 until PqM).map(m =>
        seedRows.toSeq.map { case (cid, qv) =>
          cid -> qv.slice(m * PqD, (m + 1) * PqD) })
      // round-1 assignment + centroid update: per-dim sums as 8 agg
      // columns (no 6.4M-row posexplode — element_at over the slice is
      // codegen), floor-of-mean folded on the collected (<= M*K-row)
      // constants; the driver sync stays M*K*D ints — the standard
      // k-means checkpoint
      val assigned1 = sub.select(col("vec_id") +:
        (0 until PqM).flatMap(m => Seq(col(s"sv$m"),
          graft.functions.VectorFunctions
            .vec_argmin_sql2(col(s"sv$m"), seeds(m))
            .getField("cid").as(s"c$m"))): _*)
      val dimSums = (0 until PqD).map(d =>
        sum(element_at(col("sv"), d + 1).cast("long")).as(s"s$d"))
      val c1 = assigned1
        .select(explode(array((0 until PqM).map(m =>
          struct(lit(m.toLong).as("m"), col(s"c$m").as("cid"),
            col(s"sv$m").as("sv"))): _*)).as("e"))
        .select(col("e.m").as("m"), col("e.cid").as("cid"), col("e.sv").as("sv"))
        .groupBy("m", "cid")
        .agg(count(lit(1)).as("n"), dimSums: _*)
        .collect()
      c1.map { r =>
          val n = r.getLong(2).toDouble
          (r.getLong(0), r.getLong(1),
            (0 until PqD).map(d =>
              math.floor(r.getLong(3 + d).toDouble / n).toInt): Seq[Int])
        }.toSeq
        .groupBy(_._1)
        .map { case (m, cs) =>
          m -> cs.sortBy(_._2).map(t => t._2 -> t._3) }
    }

  /** The corpus PQ-ENCODE — every vector's argmin codebook centroid
    * per subspace, wide form `(vec_id, c0..c{M-1})` — persisted per
    * (session, dir). A real PQ index computes these once at build time
    * and STORES them (M bytes per vector, the whole point of PQ's
    * memory budget); re-deriving them per search would re-scan the
    * int8 codes and redo M×K distance argmins for every query batch.
    * The wide form is the stored representation (1 row per vector);
    * consumers explode to `(cand_id, m, cid)` map-side, which is free
    * codegen. Released with the IVF model.
    */
  private def pqEncodedCodes(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    ArtifactCache(s, dir, "similarity.pqCodes",
        (df: org.apache.spark.sql.DataFrame) => df.unpersist(blocking = true)) {
      val model = ivfModel(s, dir)
      val book = pqCodebook(s, dir)
      val sub = pqSubvectors(model.codes)
      val enc = sub.select(col("vec_id") +: (0 until PqM).map(m =>
          graft.functions.VectorFunctions
            .vec_argmin_sql2(col(s"sv$m"), book(m.toLong))
            .getField("cid").as(s"c$m")): _*)
      // the usual small-SF persist gate: below ~1M vectors the encode
      // recomputes from the already-persisted int8 codes faster than
      // the cache round-trip costs (measured +0.3 s on the search row
      // at sf0.1), so the memo holds just the plan; above the gate the
      // codes are materialized once and stored — the real-index
      // economics the memo exists for. cells is persisted, so the
      // gate count is a cheap cached-side count.
      val nVecs = model.cells.count()
      System.err.println(s"[gate] PQ encode: $nVecs vectors " +
        (if (nVecs < 1000000L) "< 1000000 -> plan-only memo"
         else ">= 1000000 -> persisted code table"))
      if (nVecs < 1000000L) enc
      else {
        val p = enc
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try p.count() // materialize: the encode is part of the index
        catch { case t: Throwable =>
          p.unpersist(blocking = false); throw t
        }
        p
      }
    }

  /** One Lloyd round of per-subspace k-means over the memoized int8
    * codes — the PQ codebook trainer. Same distributed shape as the
    * IVF trainer: centroids travel as literals (constant-size driver
    * sync per round), assignment is map-side codegen
    * [[graft.functions.IntVectorSqL2]] over the row's subvector
    * slices, the update is one explode + partial agg. Integer math
    * throughout, so DuckDB replays it exactly.
    *
    * Returns per (subspace, centroid): member count + inertia after
    * re-assignment under the updated codebook.
    */
  private def pqTrainStats(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val book = pqCodebook(s, dir)
    val sub = pqSubvectors(ivfModel(s, dir).codes)
    // re-assign under the updated codebook; constant-size rollup
    sub.select(explode(array((0 until PqM).map(m =>
        struct(lit(m.toLong).as("m"),
          graft.functions.VectorFunctions
            .vec_argmin_sql2(col(s"sv$m"), book(m.toLong))
            .as("best"))): _*)).as("e"))
      .select(col("e.m").as("m"), col("e.best.cid").as("cid"),
        col("e.best.dist").as("dist"))
      .groupBy("m", "cid")
      .agg(count(lit(1)).as("n_vecs"), sum("dist").as("inertia"))
      .orderBy("m", "cid")
  }

  /** IVF-PQ SEARCH via asymmetric distance computation (ADC, Jégou et
    * al., "Product Quantization for Nearest Neighbor Search"): encode
    * every corpus vector as M one-byte codes (argmin centroid per
    * subspace — map-side codegen), route each probe to its nprobe=2
    * IVF cells, then score candidates WITHOUT touching their vectors:
    * the probe precomputes its distance to every (subspace, centroid)
    * pair — an M×K lookup table, built on the driver from the
    * constant-size codebook — and a candidate's approximate distance
    * is the sum of M table lookups on its codes. At 100 TB this is
    * the serving economics PQ exists for: the scan reads M bytes per
    * candidate instead of the vector, the tables broadcast at
    * probes×M×K rows, and the join keys (m, code) are 1 of M×K values.
    * Integer end-to-end, so the oracle replays the ranks bit-exactly.
    */
  private[graft] def pqSearchTopK(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    topKBy(pqAdcScores(s, dir), 5, Seq(col("adist"), col("cand_id")))
      .select(col("query_id"), col("rank"), col("cand_id"))
      .orderBy("query_id", "rank")

  /** The ADC scoring stage shared by `s_pq_search` (ranks it directly)
    * and `s_pq_rerank` (shortlists from it, then re-ranks exactly):
    * (query_id, cand_id, adist) for every IVF-routed candidate.
    */
  /** Per-probe ADC distance tables (probes × M × K rows, driver-side
    * integer fold of the collected probe codes against the codebook),
    * cached per (session, dir) like the codebook itself: the table
    * is part of the built index (constant-size), and without the cache
    * both ADC consumers (`s_pq_search`, `s_pq_rerank`) re-ran the
    * probe-code collect job per invocation (guide §1.2 — don't
    * recompute what the algorithm defines as built-once).
    */
  private def adcTable(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Long, Long, Long, Long)] =
    ArtifactCache(s, dir, "similarity.adcTable") {
      val model = ivfModel(s, dir)
      val book = pqCodebook(s, dir)
      // probe codes are part of the model's driver-side seed rows —
      // the old per-(session,dir) collect job is gone
      val probeRows = model.seedCodes.filter(_._1 < 10)
      for {
        (qid, qv) <- probeRows.toSeq
        m <- 0 until PqM
        (cid, cv) <- book(m.toLong)
      } yield {
        var d = 0L
        var i = 0
        while (i < PqD) {
          val x = qv(m * PqD + i) - cv(i); d += (x * x).toLong; i += 1
        }
        (qid, m.toLong, cid, d)
      }
    }

  private def pqAdcScores(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val model = ivfModel(s, dir)
    // the STORED corpus codes (see pqEncodedCodes): M rows per vector
    // in long form, derived map-only from the persisted wide encode
    val codesLong = pqEncodedCodes(s, dir)
      .select(col("vec_id").as("cand_id"),
        explode(array((0 until PqM).map(m =>
          struct(lit(m.toLong).as("m"), col(s"c$m").as("cid"))): _*)).as("e"))
      .select(col("cand_id"), col("e.m").as("m"), col("e.cid").as("cid"))
    import s.implicits._
    val dtab = adcTable(s, dir).toDF("query_id", "m", "cid", "d")
    val cands = ivfCandidates(model)
    // ADC: M lookups per (probe, candidate), summed
    cands.join(codesLong, "cand_id")
      .join(broadcast(dtab), Seq("query_id", "m", "cid"))
      .groupBy("query_id", "cand_id")
      .agg(sum("d").as("adist"))
  }

  /** Two-stage PQ serving: ADC shortlist (top-[[PqRerankR]] per probe,
    * approximate, reads M bytes per candidate) then EXACT int8
    * squared-L2 re-rank of the shortlist only — the standard
    * refinement step of IVF-PQ systems (Jégou et al. §V: re-rank a
    * short list with exact distances to undo quantization error). At
    * 100 TB the economics are the point: the exact distance touches
    * probes × R vectors instead of the corpus, fetched by a broadcast
    * semi-join of the tiny shortlist against the codes.
    */
  private[graft] def pqRerankTopK(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val model = ivfModel(s, dir)
    val short = topKBy(pqAdcScores(s, dir), PqRerankR,
      Seq(col("adist"), col("cand_id")))
      .select(col("query_id"), col("cand_id"))
    // exact distances for shortlist members only: broadcast the
    // shortlist pairs (probes × R rows) and the probe codes (a LOCAL
    // frame off the model's seed rows); the corpus codes stream past
    // once
    val probeCodes = localSeedCodes(model, 10, "query_id", "pqv")
    val exact = model.codes
      .join(broadcast(short.withColumnRenamed("cand_id", "vec_id")),
        Seq("vec_id"))
      .join(broadcast(probeCodes), Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        graft.functions.VectorFunctions.vec_sql2_int(
          col("qv"), col("pqv")).as("dist"))
    // SINGLE-window top-k here, not the salted two-level [[topKBy]]:
    // the re-rank input is BOUNDED at probes × R rows by construction
    // (the shortlist semi-join caps it at any corpus size), so the
    // two-level shape's extra exchange+sort bought nothing at any
    // scale — one hop less in the serving chain (guide §2.4). Same
    // (dist, cand_id) order ⇒ identical ranks.
    val wq = Window.partitionBy("query_id")
      .orderBy(col("dist"), col("cand_id"))
    exact.withColumn("rank", row_number().over(wq)).filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"), col("dist"))
      .orderBy("query_id", "rank")
  }

  /** The PQ codebook trainer (seed → assign → update → re-score) as
    * DuckDB CTEs over [[sqlQuantCtes]]'s `q`; `pd2` holds every
    * vector's distance to every updated (subspace, centroid) pair —
    * the base both the train-stats and the ADC-search oracles read.
    */
  private val sqlPqCtes = s"""qq AS (
          SELECT vec_id, CAST(dim // $PqD AS BIGINT) AS m,
                 dim % $PqD AS sd, q FROM q),
        p0 AS (SELECT vec_id AS cid, m, sd, q AS cq
               FROM qq WHERE vec_id < $PqK),
        pd1 AS (
          SELECT qq.vec_id, qq.m, c.cid,
            CAST(SUM((qq.q - c.cq) * (qq.q - c.cq)) AS BIGINT) AS dist
          FROM qq JOIN p0 c ON qq.m = c.m AND qq.sd = c.sd
          GROUP BY qq.vec_id, qq.m, c.cid),
        pa1 AS (
          SELECT vec_id, m, cid FROM (
            SELECT vec_id, m, cid,
              ROW_NUMBER() OVER (PARTITION BY vec_id, m
                ORDER BY dist, cid) AS rn
            FROM pd1) r WHERE rn = 1),
        pc1 AS (
          SELECT a.m, a.cid, qq.sd,
            CAST(FLOOR(CAST(SUM(qq.q) AS DOUBLE) / COUNT(*)) AS INT) AS cq
          FROM pa1 a JOIN qq ON qq.vec_id = a.vec_id AND qq.m = a.m
          GROUP BY a.m, a.cid, qq.sd),
        pd2 AS (
          SELECT qq.vec_id, qq.m, c.cid,
            CAST(SUM((qq.q - c.cq) * (qq.q - c.cq)) AS BIGINT) AS dist
          FROM qq JOIN pc1 c ON qq.m = c.m AND qq.sd = c.sd
          GROUP BY qq.vec_id, qq.m, c.cid)"""

  /** The PQ trainer's stats rollup over [[sqlPqCtes]]. */
  private val sqlPqTrain = s"""WITH $sqlQuantCtes,
        $sqlPqCtes,
        pa2 AS (
          SELECT m, cid, dist FROM (
            SELECT m, cid, dist,
              ROW_NUMBER() OVER (PARTITION BY vec_id, m
                ORDER BY dist, cid) AS rn
            FROM pd2) r WHERE rn = 1)
        SELECT m, cid, COUNT(*) AS n_vecs,
          CAST(SUM(dist) AS BIGINT) AS inertia
        FROM pa2 GROUP BY m, cid ORDER BY m, cid"""

  /** The ADC search over [[sqlPqCtes]] + the IVF routing: per-vector
    * PQ codes (`pcode` = argmin of `pd2`), per-probe lookup tables
    * (`pdist` = `pd2` restricted to probes), candidate cells from the
    * IVF route, approximate distance = sum of M lookups.
    */
  private val sqlPqAdcCtes = s"""pcode AS (
          SELECT vec_id, m, cid AS code FROM (
            SELECT vec_id, m, cid,
              ROW_NUMBER() OVER (PARTITION BY vec_id, m
                ORDER BY dist, cid) AS rn
            FROM pd2) r WHERE rn = 1),
        pdist AS (
          SELECT vec_id AS query_id, m, cid, dist
          FROM pd2 WHERE vec_id < 10),
        pq_cands AS (
          SELECT p.query_id, c.vec_id AS cand_id
          FROM pcell p JOIN cell c USING (cid)
          WHERE c.vec_id <> p.query_id),
        adc AS (
          SELECT pq_cands.query_id, pq_cands.cand_id,
            CAST(SUM(pd.dist) AS BIGINT) AS adist
          FROM pq_cands
          JOIN pcode pc ON pc.vec_id = pq_cands.cand_id
          JOIN pdist pd ON pd.query_id = pq_cands.query_id
                       AND pd.m = pc.m AND pd.cid = pc.code
          GROUP BY 1, 2)"""

  private val sqlPqSearch = s"""WITH $sqlIvfTrainCtes,
        $sqlIvfRouteCtes,
        $sqlPqCtes,
        $sqlPqAdcCtes
        SELECT query_id, rank, cand_id FROM (
          SELECT query_id, cand_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY adist, cand_id) AS rank
          FROM adc) q2
        WHERE rank <= 5 ORDER BY query_id, rank"""

  /** The two-stage serving oracle: ADC shortlist (rank <= R over
    * [[sqlPqAdcCtes]]'s `adc`), then exact int8 squared-L2 over the
    * quantize CTE's `q` for shortlist members only.
    */
  private val sqlPqRerank = s"""WITH $sqlIvfTrainCtes,
        $sqlIvfRouteCtes,
        $sqlPqCtes,
        $sqlPqAdcCtes,
        short AS (
          SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id,
              ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY adist, cand_id) AS rank
            FROM adc) q2 WHERE rank <= $PqRerankR),
        ex2 AS (
          SELECT s.query_id, s.cand_id,
            CAST(SUM((cq.q - pq.q) * (cq.q - pq.q)) AS BIGINT) AS dist
          FROM short s
          JOIN q cq ON cq.vec_id = s.cand_id
          JOIN q pq ON pq.vec_id = s.query_id AND pq.dim = cq.dim
          GROUP BY 1, 2)
        SELECT query_id, rank, cand_id, dist FROM (
          SELECT query_id, cand_id, dist,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY dist, cand_id) AS rank
          FROM ex2) r WHERE rank <= 5 ORDER BY query_id, rank"""

  val defs: Seq[QueryDef] = Seq(
    // Brute-force cosine top-k for 5 probe vectors against the corpus.
    QueryDef("s_cosine_topk",
      (s, dir) => {
        val (probes, corpus) = probeCorpus(t(s, dir, "embeddings"), 5)
        val scored = bruteForceCosine(corpus, probes)
        topKByCos(scored, 5)
          .select(col("query_id"), col("rank"), col("cand_id"))
          .orderBy("query_id", "rank")
      },
      // Oracle via DuckDB's native list_cosine_similarity: the OUTPUT
      // is rank positions with cand_id tiebreaks, so sub-ulp cosine
      // differences between engines only matter on exact near-ties —
      // absent in random data (validated empirically at sf0.001/sf0.01).
      Some("""WITH probes AS (SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id < 5),
             corpus AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings)
        SELECT query_id, rank, cand_id FROM (
          SELECT query_id, cand_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY list_cosine_similarity(qv, cv) DESC, cand_id) AS rank
          FROM corpus, probes WHERE cand_id <> query_id) q
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // HARD-NEGATIVE mining — the contrastive-training data pass
    // (DPR/Contriever-style): for each probe, the top-5 most similar
    // vectors whose LABEL differs (same-class neighbors are positives,
    // near-but-different-class are the hard negatives a retrieval
    // trainer wants). Same bounded-probe exact scorer as
    // s_cosine_topk, one extra label inequality; at scale the probe
    // batch broadcasts and the corpus is scanned once — identical
    // economics to the ANN baseline, so the production path swaps in
    // the IVF candidate join unchanged.
    QueryDef("s_hard_negatives",
      (s, dir) => {
        val (probes, corpus) = probeCorpus(t(s, dir, "embeddings"), 5,
          probeExtra = Seq("label" -> "qlabel"),
          corpusExtra = Seq("label" -> "label"))
        val scored = bruteForceCosine(corpus, probes)
          .filter(col("label") =!= col("qlabel"))
        topKByCos(scored, 5)
          .select(col("query_id"), col("rank"), col("cand_id"),
            col("label").as("neg_label"))
          .orderBy("query_id", "rank")
      },
      Some("""WITH probes AS (SELECT vec_id AS query_id, embedding AS qv,
                  label AS qlabel
                FROM embeddings WHERE vec_id < 5),
             corpus AS (SELECT vec_id AS cand_id, embedding AS cv, label
                FROM embeddings)
        SELECT query_id, rank, cand_id, neg_label FROM (
          SELECT query_id, cand_id, label AS neg_label,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY list_cosine_similarity(qv, cv) DESC, cand_id) AS rank
          FROM corpus, probes
          WHERE cand_id <> query_id AND label <> qlabel) q
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // IVF-style ANN: search only the probe's own cell (label).
    QueryDef("s_ann_ivf_cell",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val probes = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
            vec_norm(col("embedding")).as("qn"), col("label").as("cell"))
        val corpus = emb
          .select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
            vec_norm(col("embedding")).as("cn"), col("label"))
        val scored = corpus.join(broadcast(probes),
            col("label") === col("cell") && col("cand_id") =!= col("query_id"))
          .withColumn("cos", vec_dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
        topKByCos(scored, 3)
          .select(col("query_id"), col("rank"), col("cand_id"))
          .orderBy("query_id", "rank")
      },
      Some("""WITH probes AS (SELECT vec_id AS query_id, embedding AS qv, label AS cell
                FROM embeddings WHERE vec_id < 10),
             corpus AS (SELECT vec_id AS cand_id, embedding AS cv, label FROM embeddings)
        SELECT query_id, rank, cand_id FROM (
          SELECT query_id, cand_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY list_cosine_similarity(qv, cv) DESC, cand_id) AS rank
          FROM corpus JOIN probes ON label = cell AND cand_id <> query_id) q
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    // Embedding near-duplicate detection, blocked by cell (label).
    // A hot cell would make the within-cell self-join quadratic in ONE
    // task, so oversized cells are salted: the b-side is split into
    // sub-blocks of <= MaxCellBlock vectors and the a-side replicated
    // across them (same guard idea as Dedup.MaxBucket). Every unordered
    // pair {x,y} with ida < idb matches exactly one (label, blk) task,
    // so the count is unchanged while per-task pairs drop from n^2 to
    // n * MaxCellBlock.
    QueryDef("d_embedding_neardup",
      (s, dir) => cellNearDupPairs(s, dir)
        .agg(count(lit(1)).as("n_neardup_pairs")),
      Some("""SELECT COUNT(*) AS n_neardup_pairs
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.95""")),

    // SemDeDup (Abbas et al. 2023): semantic dedup inside each
    // embedding cluster — a vector is DROPPED when a smaller-id
    // neighbor in its cell sits above the cosine threshold, so each
    // epsilon-ball keeps exactly its least-id member and the decision
    // is order-free and deterministic. Candidate pairs come from the
    // same salted cell-blocked join as d_embedding_neardup (per-task
    // work bounded by n * MaxCellBlock, never n^2); the verdict fold
    // is one DISTINCT on the dropped side plus a per-cell rollup —
    // all integer counts.
    QueryDef("s_semdedup",
      (s, dir) => {
        val dropped = cellNearDupPairs(s, dir)
          .select(col("idb").as("vec_id")).distinct()
          .withColumn("is_dropped", lit(1L))
        t(s, dir, "embeddings").select(col("vec_id"), col("label"))
          .join(dropped, Seq("vec_id"), "left")
          .groupBy("label")
          .agg(count(lit(1)).as("n_vectors"),
            coalesce(sum("is_dropped"), lit(0L)).as("n_dropped"))
          .withColumn("n_kept", col("n_vectors") - col("n_dropped"))
          .orderBy("label")
      },
      Some("""WITH dropped AS (
          SELECT DISTINCT b.vec_id AS vec_id
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.95)
        SELECT label, COUNT(*) AS n_vectors,
          CAST(COALESCE(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END),
            0) AS BIGINT) AS n_dropped,
          CAST(COUNT(*) - COALESCE(SUM(CASE WHEN d.vec_id IS NOT NULL
            THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_kept
        FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.vec_id
        GROUP BY label ORDER BY label""")),

    // Random-hyperplane LSH signatures — the bucketed ANN scale path:
    // vectors sharing an 8-bit signature land in one bucket, so
    // candidate search is an equi-join on `sig` instead of all-pairs
    // (signature ≙ partition key at 100 TB, like the IVF cell). The
    // hyperplanes are pseudo-random but DETERMINISTIC — integer
    // pattern ((i+1)*(j+2)) % 17 - 8 over dim i, plane j — so DuckDB
    // can restate the whole signature computation; each dot accumulates
    // float*int products (exact in double) left-to-right in both
    // engines. Output: bucket histogram.
    QueryDef("s_hyperplane_lsh",
      (s, dir) => t(s, dir, "embeddings")
        .select(sigColumn.as("sig"))
        .groupBy("sig")
        .agg(count(lit(1)).as("n_vectors"))
        .orderBy("sig"),
      Some(s"""SELECT sig, COUNT(*) AS n_vectors FROM (
          SELECT $sqlSig AS sig FROM embeddings) q
        GROUP BY sig ORDER BY sig""")),

    // LSH-blocked embedding near-dup — the label-free scale path:
    // candidates are pairs sharing the 8-bit hyperplane signature
    // (an equi-join, not all-pairs; a signature ≙ shuffle/partition
    // key at 100 TB), then verified with exact cosine. Approximate by
    // construction: pairs split across buckets are unseen — the
    // standard LSH recall trade, bounded by the band count.
    //
    // The signature space is FIXED (256 values), so bucket population
    // grows linearly with the corpus and a bare sig self-join would be
    // quadratic inside one task. Oversized buckets are therefore
    // salted exactly like d_embedding_neardup's hot cells: the b-side
    // splits into sub-blocks of <= MaxSigBlock vectors, the a-side
    // replicates across them. Every unordered pair {x,y} with
    // ida < idb still matches exactly one (sig, blk) task — the COUNT
    // is salt-invariant, so the oracle stays the plain sig join —
    // while per-task candidate pairs drop from n^2 to n * MaxSigBlock
    // and the quadratic total spreads evenly over nblk parallel tasks.
    QueryDef("d_embedding_lsh_neardup",
      (s, dir) => {
        val (agg, sigs) = lshNearDupAgg(s, dir)
        // finally: a failed collect (retry exhaustion, cancellation)
        // must not leave the corpus-scale sig persist pinned
        val row =
          try agg.collect()(0)
          finally sigs.unpersist(blocking = true)
        import s.implicits._
        Seq(row.getLong(0)).toDF("n_lsh_neardup_pairs")
      },
      Some(s"""WITH sigs AS (
          SELECT vec_id, embedding, $sqlSig AS sig FROM embeddings)
        SELECT COUNT(*) AS n_lsh_neardup_pairs
        FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.95""")),

    // Recall@5 of the IVF cell index against exact brute force — the
    // eval loop that decides whether an ANN index is good enough to
    // serve. Both sides rank with the cand_id tiebreak, so the
    // integer hit counts are deterministic on tie-free data (same
    // argument as s_cosine_topk's oracle note).
    QueryDef("s_ann_recall_eval",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val probes = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
            vec_norm(col("embedding")).as("qn"), col("label").as("cell"))
        val corpus = emb
          .select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
            vec_norm(col("embedding")).as("cn"), col("label"))
        def top5(scored: org.apache.spark.sql.DataFrame) =
          topKByCos(scored, 5).select("query_id", "cand_id")
        val exact = top5(bruteForceCosine(corpus, probes))
        val ivf = top5(corpus.join(broadcast(probes),
            col("label") === col("cell") && col("cand_id") =!= col("query_id"))
          .withColumn("cos",
            vec_dot(col("qv"), col("cv")) / (col("qn") * col("cn"))))
        exact.join(ivf, Seq("query_id", "cand_id"), "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
          .join(probes.select("query_id"), Seq("query_id"), "right")
          .select(col("query_id"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"))
          .orderBy("query_id")
      },
      Some("""WITH probes AS (
          SELECT vec_id AS query_id, embedding AS qv, label AS cell
          FROM embeddings WHERE vec_id < 10),
        corpus AS (
          SELECT vec_id AS cand_id, embedding AS cv, label FROM embeddings),
        exact AS (
          SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id,
              ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY list_cosine_similarity(qv, cv) DESC, cand_id) AS rank
            FROM corpus, probes WHERE cand_id <> query_id) q WHERE rank <= 5),
        ivf AS (
          SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id,
              ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY list_cosine_similarity(qv, cv) DESC, cand_id) AS rank
            FROM corpus JOIN probes ON label = cell AND cand_id <> query_id) q
          WHERE rank <= 5)
        SELECT p.query_id,
          CAST(COUNT(e.cand_id) AS BIGINT) AS n_hits
        FROM probes p
        LEFT JOIN (SELECT exact.* FROM exact
                   JOIN ivf USING (query_id, cand_id)) e
          ON p.query_id = e.query_id
        GROUP BY p.query_id ORDER BY p.query_id""")),

    // Int8 scalar quantization of the embedding store — the standard
    // 4x compression step before ANN serving. Per-dimension min/max
    // come from one explode+agg pass (64 rows, broadcast back); codes
    // are q = floor((x - mn) * 255 / (mx - mn)) clamped to [0, 255]
    // (constant dimensions map to 0). The rollup is integer-only so
    // the oracle hashes bit-identically: the float part is ONE
    // expression over doubles both engines evaluate in the same
    // operand order (operands cast to double BEFORE arithmetic — a
    // float-typed subtraction on one side would diverge).
    QueryDef("s_quantize_int8",
      (s, dir) => {
        val ex = tBalanced(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        val stats = ex.groupBy("dim").agg(min("x").as("mn"), max("x").as("mx"))
        ex.join(broadcast(stats), "dim")
          .withColumn("q", when(col("mx") === col("mn"), lit(0))
            .otherwise(least(lit(255), greatest(lit(0),
              floor((col("x").cast("double") - col("mn").cast("double"))
                * 255.0 /
                (col("mx").cast("double") - col("mn").cast("double")))
                .cast("int")))))
          .groupBy("label")
          .agg(count(lit(1)).as("n_codes"),
            sum(col("q").cast("long")).as("sum_q"),
            sum(when(col("q") === 0 || col("q") === 255, 1L).otherwise(0L))
              .as("n_extreme"))
          .orderBy("label")
      },
      Some("""WITH ex AS (
          SELECT label, i AS dim, embedding[i+1] AS x
          FROM embeddings, range(64) AS r(i)),
        stats AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY dim),
        codes AS (
          SELECT label,
            CASE WHEN mx = mn THEN 0
                 ELSE LEAST(255, GREATEST(0, CAST(FLOOR(
                   (CAST(x AS DOUBLE) - CAST(mn AS DOUBLE)) * 255.0
                   / (CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))) AS INT)))
            END AS q
          FROM ex JOIN stats USING (dim))
        SELECT label, COUNT(*) AS n_codes, CAST(SUM(q) AS BIGINT) AS sum_q,
          CAST(SUM(CASE WHEN q IN (0, 255) THEN 1 ELSE 0 END) AS BIGINT)
            AS n_extreme
        FROM codes GROUP BY label ORDER BY label""")),

    // Centroid summary per cell — the "train coarse quantizer" step.
    QueryDef("s_cell_stats",
      (s, dir) => t(s, dir, "embeddings")
        .groupBy("label")
        .agg(count(lit(1)).as("n_vectors"))
        .orderBy("label"),
      Some("""SELECT label, COUNT(*) AS n_vectors
        FROM embeddings GROUP BY label ORDER BY label""")),

    // IVF coarse-quantizer TRAINING: two Lloyd iterations of k-means
    // (k=8) over int8-quantized vectors, in the canonical distributed
    // shape — centroids broadcast to executors as literals, assignment
    // entirely map-side (one `aggregate(zip_with(...))` squared-L2 per
    // centroid inside the row), centroid update one explode+partial-agg
    // whose result is k*64 ints. The ONLY driver traffic per round is
    // that constant-size centroid table — the standard k-means sync
    // point, independent of corpus size, so the loop holds at 100 TB
    // (contrast: a naive vectors-to-driver collect would not).
    // Quantizing first keeps every distance/update in exact integer
    // math (|q-c| <= 255, 64 dims => dist <= 4.2e6; summed inertia
    // fits bigint), which is what lets DuckDB replay the identical
    // arithmetic — float k-means would diverge in reduction order.
    // Seeding is deterministic: the k lowest vec_ids.
    QueryDef("s_ivf_train",
      (s, dir) => {
        val m = ivfModel(s, dir)
        // Final assignment under the updated centroids. Materialized
        // eagerly (k rows — constant-size like every other driver
        // aggregate here); the codes cache is owned by the model entry
        // and released at the family boundary.
        val out = ivfAssignment(m.codes, m.cents).groupBy("cid")
          .agg(count(lit(1)).as("n_vecs"), sum("dist").as("inertia"))
          .orderBy("cid")
        val rows = out.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      },
      Some(s"""WITH $sqlIvfTrainCtes,
        a2 AS (
          SELECT vec_id, cid, dist FROM (
            SELECT vec_id, cid, dist,
              ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY dist, cid) AS rn
            FROM d2) r WHERE rn = 1)
        SELECT cid, COUNT(*) AS n_vecs, CAST(SUM(dist) AS BIGINT) AS inertia
        FROM a2 GROUP BY cid ORDER BY cid""")),

    // IVF-Flat SEARCH — the serving-path complement of s_ivf_train:
    // assign every corpus vector to its trained cell once (the build
    // step of the index), route each probe to its nprobe=2 nearest
    // cells, then score ONLY those cells' members with exact cosine on
    // the original floats and keep the top-5. The candidate join is an
    // equi-join on cid — at 100 TB the cells are the table's partition
    // keys, so a probe batch touches nprobe partitions and everything
    // else is pruned at scan time; the probe side (probe × nprobe
    // rows) broadcasts. Scoring reuses the codegen FloatVectorDot and
    // the output is integer ranks with cand_id tiebreaks, so the
    // oracle compares engine-portable ints (same argument as
    // s_cosine_topk / s_ann_recall_eval).
    QueryDef("s_ivf_search",
      (s, dir) => {
        val out = ivfSearchTopK(s, dir)
        // <= 50 rows; materialized eagerly — constant-size output
        val rows = out.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      },
      Some(s"""WITH $sqlIvfTrainCtes,
        $sqlIvfSearchCtes
        SELECT query_id, rank, cand_id FROM scored
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // Recall@5 of the TRAINED IVF index (nprobe=2 routing) against
    // exact brute force — the eval that decides whether the trained
    // quantizer + routing is good enough to serve, complementing
    // s_ann_recall_eval (which scores the label-based cells). The
    // expensive sides reuse the memoized model and the bounded exact
    // baseline; the output is per-probe integer hit counts, so the
    // oracle compares engine-portable ints.
    QueryDef("s_ivf_recall",
      (s, dir) => {
        // All three sides are BOUNDED by construction (probes×5, ×5,
        // ×1 rows at ANY corpus size), so collect them in ONE tagged
        // union — the branches run concurrently inside one job — and
        // fold the semi-join + per-probe hit count + right-join on the
        // driver, instead of a 5-exchange chain over ≤50-row frames
        // (guide §2.4, §5 "bounded final outputs").
        val tagged = ivfRecallTagged(s, dir).collect()
        val exactSet = tagged.filter(_.getString(2) == "e")
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val ivfSet = tagged.filter(_.getString(2) == "i")
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val hits = exactSet.intersect(ivfSet).groupBy(_._1).view
          .mapValues(_.size.toLong).toMap
        import s.implicits._
        tagged.filter(_.getString(2) == "p").map(_.getLong(0))
          .distinct.sorted
          .map(q => (q, hits.getOrElse(q, 0L))).toSeq
          .toDF("query_id", "n_hits")
      },
      Some(s"""WITH $sqlIvfTrainCtes,
        $sqlIvfSearchCtes,
        ivf AS (SELECT query_id, cand_id FROM scored WHERE rank <= 5),
        probes AS (
          SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10),
        exact AS (
          SELECT query_id, cand_id FROM (
            SELECT p.query_id, c.vec_id AS cand_id,
              ROW_NUMBER() OVER (PARTITION BY p.query_id
                ORDER BY list_cosine_similarity(eq.embedding, c.embedding)
                  DESC, c.vec_id) AS rank
            FROM probes p
            JOIN embeddings eq ON eq.vec_id = p.query_id
            JOIN embeddings c ON c.vec_id <> p.query_id) q
          WHERE rank <= 5)
        SELECT p.query_id, CAST(COUNT(e.cand_id) AS BIGINT) AS n_hits
        FROM probes p
        LEFT JOIN (SELECT exact.* FROM exact
                   JOIN ivf USING (query_id, cand_id)) e
          ON p.query_id = e.query_id
        GROUP BY p.query_id ORDER BY p.query_id""")),

    // Product-quantization codebook training — the compression
    // complement of the IVF coarse quantizer (IVF routes, PQ encodes:
    // together they are the canonical IVF-PQ layout that fits 100 TB
    // of vectors in serving RAM at M bytes per vector). One Lloyd
    // round of per-subspace k-means (M=8 subspaces x D=8 dims, K=16
    // centroids) over the SAME memoized int8 codes the IVF family
    // trains on; assignment is the codegen IntVectorSqL2 kernel over
    // subvector slices, centroids sync through the driver as the
    // standard constant-size (M*K*D ints) k-means checkpoint. All
    // integer math, so the oracle replays bit-exactly. Output: member
    // count + inertia per (subspace, centroid) under the updated
    // codebook.
    QueryDef("s_pq_train",
      (s, dir) => {
        val out = pqTrainStats(s, dir)
        // M*K rows max — constant-size; materialized eagerly (the
        // codes cache is owned by the model entry, released at the
        // family boundary)
        val rows = out.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      },
      Some(sqlPqTrain)),

    // IVF-PQ serving path: ADC search (see pqSearchTopK) — corpus
    // read as M one-byte codes, probes carry M×K distance tables,
    // candidates restricted to the probe's nprobe IVF cells. The
    // completion of the train(s_ivf_train/s_pq_train) →
    // serve(s_ivf_search/s_pq_search) → eval(s_ivf_recall) loop.
    QueryDef("s_pq_search",
      (s, dir) => {
        val out = pqSearchTopK(s, dir)
        // <= 50 rows; materialized eagerly — constant-size output
        val rows = out.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      },
      Some(sqlPqSearch)),

    // Two-stage IVF-PQ serving: ADC shortlist (top-20 per probe over
    // the stored one-byte codes) -> EXACT int8 re-rank of the
    // shortlist only (see pqRerankTopK) — the refinement pass real PQ
    // systems run to undo quantization error without touching the
    // corpus vectors. Integer end-to-end; the output carries the exact
    // distance so the oracle checks the re-rank arithmetic, not just
    // the order.
    QueryDef("s_pq_rerank",
      (s, dir) => {
        val out = pqRerankTopK(s, dir)
        // <= 50 rows; materialized eagerly — constant-size output
        val rows = out.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      },
      Some(sqlPqRerank))
  )
}
