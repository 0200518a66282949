package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import Tables._

/** Corpus-curation operators a training-data pipeline runs between
  * dedup and packing: unigram-LM quality scoring (the perplexity-proxy
  * filter), temperature-scaled source mixing (the DoReMi/Dolma-style
  * mixture computation), and the deterministic sampling pass that
  * applies the mixture.
  *
  * Determinism discipline (see [[Tables]]): every cross-row sum is over
  * exact BIGINTs — per-token negative-log-likelihoods are quantized to
  * integer micro-nats BEFORE aggregation, mixture weights to integer
  * micro-units via IEEE-exact `sqrt` (correctly rounded by both
  * engines, unlike `pow`) — so the DuckDB oracles replay every value
  * bit-for-bit; the only doubles in any output are single divisions of
  * deterministic integer operands.
  */
object Curation {

  private def tokens = graft.functions.TextFunctions.ascii_words(col("text"))
  private val sqlTokens = "regexp_extract_all(lower(text), '[a-z]+')"

  /** Quantize a natural log to integer micro-nats: both engines
    * evaluate `ln` on the same IEEE operand; a 1-ulp `ln` disagreement
    * flips the floor only when `x*1e6` sits within ~2e-9 of an integer
    * — negligible over a bounded vocabulary, and exact sums of the
    * resulting BIGINTs are order-independent where a `sum(double)` of
    * raw logs would not be.
    */
  private def nllMicro(p: Column): Column =
    floor(log(p) * 1e6).cast("long")

  /** Per-source token statistics: the input to mixing and sampling. */
  private def sourceStats(s: SparkSession, dir: String): DataFrame =
    tBalanced(s, dir, "documents")
      .select(col("source"), size(tokens).as("nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))

  /** Temperature-scaled (alpha = 0.5) mixture over [[sourceStats]]:
    * `w_s = sqrt(n_s) / sum sqrt(n_s)` in integer micro-units, plus the
    * per-source keep-rate that lands a `total/4`-token budget. All
    * integer arithmetic after the one exact `sqrt`; the window total is
    * over the handful of source rows, not the corpus.
    */
  private def mixRates(s: SparkSession, dir: String): DataFrame =
    sourceStats(s, dir)
      .withColumn("w_micro",
        floor(sqrt(col("n_tokens").cast("double")) * 1e6).cast("long"))
      .withColumn("tot_w", sum("w_micro").over(Window.partitionBy()))
      .withColumn("tot_tokens", sum("n_tokens").over(Window.partitionBy()))
      .withColumn("tgt_tokens",
        expr("(tot_tokens div 4) * w_micro div tot_w"))
      .withColumn("rate_micro",
        expr("least(1000000L, tgt_tokens * 1000000L div n_tokens)"))

  // the same mixture as a DuckDB CTE chain (`//` = integer division)
  private val sqlMixCte =
    s"""tok AS (
          SELECT doc_id, source, len($sqlTokens) AS nt FROM documents),
        st AS (
          SELECT source, COUNT(*) AS n_docs, SUM(nt) AS n_tokens
          FROM tok GROUP BY source),
        wst AS (
          SELECT *, CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000.0)
            AS BIGINT) AS w_micro FROM st),
        tots AS (
          SELECT *, SUM(w_micro) OVER () AS tot_w,
            SUM(n_tokens) OVER () AS tot_tokens FROM wst),
        rates AS (
          SELECT *, (tot_tokens // 4) * w_micro // tot_w AS tgt_tokens,
            LEAST(1000000, ((tot_tokens // 4) * w_micro // tot_w)
              * 1000000 // n_tokens) AS rate_micro
          FROM tots)"""

  private val BpeRounds = 8

  /** The unrolled-round DuckDB restatement of [[t_bpe_train]]: round r
    * computes pair counts over v(r-1), picks the (count desc, pair
    * asc) argmax, and rewrites v(r) with DuckDB's `replace` — whose
    * left-to-right non-overlapping semantics match Java's exactly, and
    * the `<sym>` sentinel rendering makes a match start with `<` and
    * end with `>` so matches never consume a neighbouring delimiter or
    * cross a symbol boundary.
    */
  /** The BPE training replay as DuckDB CTEs ending with `v{rounds}`
    * (the trained word → symbol-string vocabulary) — shared by the
    * train oracle (reads each round's `best{r}`) and the encode oracle
    * (joins the corpus against `v{rounds}`).
    */
  private def bpeCtes(rounds: Int): String = {
    // MATERIALIZED: each vocabulary revision is referenced by BOTH the
    // next round's pair scan and its own rewrite (and `best{r}` twice
    // in the rewrite); DuckDB inlines plain CTEs, which turns the
    // round chain into a 2^rounds re-evaluation of the corpus scan
    val b = new StringBuilder
    b ++= s"""v0 AS MATERIALIZED (
        SELECT word, COUNT(*) AS n,
          trim(regexp_replace(word, '(.)', '<\\1> ', 'g')) AS sym
        FROM (SELECT unnest($sqlTokens) AS word FROM documents) u
        GROUP BY word), """
    // COALESCE in v$r: a DRY round (no adjacent pairs left — tiny
    // corpus or fully-merged words) has an EMPTY best$r, and DuckDB's
    // replace(sym, NULL, NULL) would NULL-poison every later
    // vocabulary while the Spark trainer stops at the dry round and
    // keeps the last real one. chr(1) never occurs in sym, so the
    // guarded replace is the identity — matching Spark's dry-stop.
    for (r <- 1 to rounds) {
      b ++= s"""p$r AS MATERIALIZED (
          SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM (
            SELECT n, unnest(list_transform(range(1, len(syms)),
              i -> syms[i] || ' ' || syms[i+1])) AS pair
            FROM (SELECT n, string_split(sym, ' ') AS syms FROM v${r - 1}) q)
            g
          GROUP BY pair),
        best$r AS MATERIALIZED (SELECT pair, cnt FROM p$r
          ORDER BY cnt DESC, pair LIMIT 1),
        v$r AS MATERIALIZED (
          SELECT word, n, replace(sym,
            COALESCE((SELECT pair FROM best$r), chr(1)),
            COALESCE(replace((SELECT pair FROM best$r), '> <', ''), ''))
            AS sym
          FROM v${r - 1}), """
    }
    // the CTE chain above always ends "…), " — drop the final comma
    val ctes = b.result()
    ctes.substring(0, ctes.lastIndexOf(','))
  }

  private def bpeOracleSql(rounds: Int): String =
    s"WITH ${bpeCtes(rounds)} " + (1 to rounds)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, pair, " +
        s"cnt AS n_occurrences FROM best$r")
      .mkString("", " UNION ALL ", " ORDER BY round")

  /** Vocabulary-size gate between the driver merge loop and the
    * distributed rounds. Injectable so CurationSpec can force the
    * distributed branch on a small corpus and pin its equivalence to
    * the driver branch (the StarContractionSpec pattern — the branch
    * the 100 TB story depends on must not be dead code under test).
    */
  @volatile private[graft] var bpeDriverGate: Long = 1000000L

  /** Trained BPE merge list `(round, pair, n_occurrences)`, cached
    * per (session, dir) in [[ArtifactCache]]: `t_bpe_train` reports
    * it, `t_bpe_encode` applies it — ONE training pass serves both, the
    * same train-once/serve-many pattern as the IVF model. Driver-side
    * constants only (BpeRounds strings); releasing the entry drops it,
    * so the next request trains again.
    */
  private def bpeMerges(s: SparkSession,
      dir: String): Seq[(Long, String, Long)] =
    ArtifactCache(s, dir, "curation.bpeMerges") {
      val base = tBalanced(s, dir, "documents")
        .select(explode(tokens).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .withColumn("sym",
          expr("trim(regexp_replace(word, '(.)', '<$1> '))"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // Adaptive, like every production BPE trainer (HF tokenizers,
        // SentencePiece): the corpus aggregates ONCE into the
        // (word, count) vocabulary — distributed — and when that
        // vocabulary fits the driver (<= 1M types, a few tens of MB)
        // the merge rounds run locally: a distributed round costs a
        // full job + a recompiled (round-deep) rewrite chain for work
        // that is O(vocab). Above the gate (1e8 types at 100 TB) the
        // rounds stay on the cluster. Both paths share Java `replace`
        // left-to-right non-overlap semantics, which DuckDB's
        // `replace` matches — the oracle replays either.
        val nTypes = base.count()
        System.err.println(s"[gate] BPE vocab: $nTypes types " +
          (if (nTypes <= bpeDriverGate) s"<= $bpeDriverGate -> driver merge rounds"
           else s"> $bpeDriverGate -> distributed merge rounds"))
        if (nTypes <= bpeDriverGate) {
          var vocab = base.select(col("n"), col("sym")).collect()
            .map(r => (r.getLong(0), r.getString(1)))
          val merges = Seq.newBuilder[(Long, String, Long)]
          var r = 1
          var dry = false
          while (r <= BpeRounds && !dry) {
            val cnt = scala.collection.mutable.HashMap.empty[String, Long]
            vocab.foreach { case (n, sym) =>
              val syms = sym.split(' ')
              var i = 0
              while (i < syms.length - 1) {
                val p = syms(i) + " " + syms(i + 1)
                cnt.update(p, cnt.getOrElse(p, 0L) + n)
                i += 1
              }
            }
            if (cnt.isEmpty) dry = true // no adjacent pairs left
            else {
              // argmax by (count desc, pair asc) — pairs are ASCII,
              // so Java's compareTo is DuckDB's VARCHAR order
              val (bp, bc) = cnt.minBy { case (p, c) => (-c, p) }
              merges += ((r.toLong, bp, bc))
              val merged = bp.replace("> <", "")
              vocab = vocab.map { case (n, sym) =>
                (n, sym.replace(bp, merged))
              }
            }
            r += 1
          }
          merges.result()
        } else {
          var cur = base.select(col("n"), col("sym"))
          val merges = Seq.newBuilder[(Long, String, Long)]
          var r = 1
          var dry = false
          while (r <= BpeRounds && !dry) {
            val best = cur.select(col("n"), explode(
                graft.functions.TextFunctions.word_shingles(
                  split(col("sym"), " "), 2)).as("pair"))
              .groupBy("pair").agg(sum("n").as("cnt"))
              .orderBy(col("cnt").desc, col("pair")).limit(1)
              .collect()
            if (best.isEmpty) dry = true // no adjacent pairs left
            else {
              val (bp, bc) = (best(0).getString(0), best(0).getLong(1))
              merges += ((r.toLong, bp, bc))
              // pair alphabet is [a-z<> ] — safe to inline literally
              val merged = bp.replace("> <", "")
              cur = cur.withColumn("sym",
                expr(s"replace(sym, '$bp', '$merged')"))
            }
            r += 1
          }
          merges.result()
        }
      } finally base.unpersist(blocking = false)
    }

  val defs: Seq[QueryDef] = Seq(
    // Distributed BPE-merge training (Sennrich et al. 2016) — the
    // tokenizer-training step itself, not just its token counts: 8
    // rounds of (adjacent-pair counts over the word-frequency table →
    // global argmax → merge rewrite). The corpus is aggregated ONCE
    // into (word, count) — every round after that shuffles only the
    // vocabulary table, which is the published scale shape for corpus
    // BPE (vocab ~1e8 rows at 100 TB, not the corpus). The per-round
    // driver sync is the 1-row argmax (same constant-size-sync
    // precedent as s_ivf_train's centroids); at production scale each
    // round's rewrite would be checkpointed — here the rewrite chain
    // over the persisted base is 8 narrow string ops, cheaper than 8
    // cache round-trips. Symbols render as '<sym>' sentinels joined
    // by single spaces, so the merge rewrite is a plain string
    // `replace` whose matches cannot cross symbol boundaries and
    // whose left-to-right non-overlap semantics are identical in Java
    // and DuckDB — the whole loop replays bit-for-bit (counts are
    // integer, ties break lexicographically). No end-of-word marker
    // (merges stay within [a-z]+ words), documented divergence from
    // canonical BPE.
    QueryDef("t_bpe_train",
      (s, dir) => {
        val s2 = s
        import s2.implicits._
        bpeMerges(s, dir).toDF("round", "pair", "n_occurrences")
      },
      Some(bpeOracleSql(BpeRounds))),

    // APPLY the trained tokenizer — the encode half of the BPE loop
    // (train → encode, like the IVF family's train → serve → eval):
    // every corpus token renders to its '<sym>' form and the trained
    // merge list applies as BpeRounds chained `replace`s, MAP-SIDE —
    // at 100 TB encoding is embarrassingly parallel (the merges are a
    // driver constant; no join against a vocabulary table, no
    // shuffle wider than `source`). Output: per source, words in,
    // symbols out, and milli-symbols-per-word (integer math; the
    // compression the tokenizer achieves on each source — the number
    // a data pipeline watches to catch tokenizer/corpus mismatch).
    QueryDef("t_bpe_encode",
      (s, dir) => {
        val merges = bpeMerges(s, dir)
        val sym0: Column = expr("trim(regexp_replace(tok, '(.)', '<$1> '))")
        val symN = merges.foldLeft(sym0) { case (c, (_, bp, _)) =>
          org.apache.spark.sql.functions.replace(
            c, lit(bp), lit(bp.replace("> <", "")))
        }
        tBalanced(s, dir, "documents")
          .select(col("source"), explode(tokens).as("tok"))
          .select(col("source"), size(split(symN, " ")).as("ns"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_words"), sum("ns").as("n_syms"))
          .select(col("source"), col("n_words"), col("n_syms"),
            expr("n_syms * 1000L div n_words").as("milli_syms_per_word"))
          .orderBy("source")
      },
      Some(s"""WITH ${bpeCtes(BpeRounds)},
        tokc AS (
          SELECT source, unnest($sqlTokens) AS word FROM documents)
        SELECT source, COUNT(*) AS n_words,
          CAST(SUM(len(string_split(v$BpeRounds.sym, ' '))) AS BIGINT)
            AS n_syms,
          CAST(SUM(len(string_split(v$BpeRounds.sym, ' '))) AS BIGINT)
            * 1000 // COUNT(*) AS milli_syms_per_word
        FROM tokc JOIN v$BpeRounds USING (word)
        GROUP BY source ORDER BY source""")),
    // Unigram-LM negative log-likelihood — the perplexity-proxy quality
    // signal (CCNet/KenLM-style, one-gram order): the corpus IS the
    // model, each token scores -ln(count/total), documents average
    // their tokens. Scale shape: one shuffle builds the vocabulary
    // (unigram models stay small enough to broadcast — ~1M types is a
    // few MB), the scoring pass is a broadcast join + per-source fold,
    // so the corpus is never shuffled by anything wider than `source`.
    // NLLs aggregate as exact micro-nat BIGINTs (see nllMicro);
    // avg_nll is the single terminal division.
    QueryDef("t_lm_score",
      (s, dir) => {
        val tok = tBalanced(s, dir, "documents")
          .select(col("doc_id"), col("source"), explode(tokens).as("tok"))
        val vocab = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
          .withColumn("total", sum("cnt").over(Window.partitionBy()))
          .select(col("tok"),
            nllMicro(col("total").cast("double") / col("cnt"))
              .as("nll_micro"))
        tok.join(broadcast(vocab), Seq("tok"))
          .groupBy("source")
          .agg(countDistinct("doc_id").as("n_docs"),
            count(lit(1)).as("n_tokens"),
            sum("nll_micro").as("sum_nll_micronats"))
          .withColumn("avg_nll_micronats",
            col("sum_nll_micronats").cast("double") / col("n_tokens"))
          .orderBy("source")
      },
      Some(s"""WITH tok AS (
          SELECT doc_id, source, unnest($sqlTokens) AS tok FROM documents),
        v AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
        tv AS (
          SELECT tok, CAST(FLOOR(LN(
              CAST((SELECT COUNT(*) FROM tok) AS DOUBLE) / cnt) * 1000000.0)
            AS BIGINT) AS nll_micro
          FROM v)
        SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
          COUNT(*) AS n_tokens,
          CAST(SUM(nll_micro) AS BIGINT) AS sum_nll_micronats,
          CAST(SUM(nll_micro) AS DOUBLE) / COUNT(*) AS avg_nll_micronats
        FROM tok JOIN tv USING (tok)
        GROUP BY source ORDER BY source""")),

    // Interpolated BIGRAM LM scoring — one order up from t_lm_score,
    // the shape CCNet's KenLM filter actually has (higher-order
    // conditionals interpolated with lower orders):
    // p(w|v) = 0.75*c(vw)/ctx(v) + 0.25*c(w)/N, where ctx(v) counts v
    // as a bigram left-context. Scale shape: ONE corpus shuffle builds
    // the bigram table; its per-bigram NLL is precomputed on the
    // (vocab-scale) distinct-bigram side, so the scoring pass is an
    // equi-join on the bigram key — at 100 TB the bigram vocabulary is
    // too large to broadcast, and a key join is exactly how KenLM
    // shards. NLLs quantize to integer micro-nats pre-aggregation
    // (same one-ulp-ln caveat as nllMicro, documented there); the
    // interpolation chain is correctly-rounded IEEE ops over
    // exact-integer-derived doubles, so DuckDB replays it.
    QueryDef("t_lm2_score",
      (s, dir) => {
        val base = tBalanced(s, dir, "documents")
        val bg = base
          .select(col("doc_id"), col("source"), explode(
            graft.functions.TextFunctions.word_shingles(tokens, 2)).as("bg"))
        val uni = base
          .select(explode(tokens).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c1"))
          .withColumn("n_total", sum("c1").over(Window.partitionBy()))
        val bgStats = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
          .withColumn("v", substring_index(col("bg"), " ", 1))
          .withColumn("w", substring_index(col("bg"), " ", -1))
          .withColumn("ctx", sum("c2").over(Window.partitionBy("v")))
        val bgNll = bgStats
          .join(broadcast(uni.select(col("tok").as("w"), col("c1"),
            col("n_total"))), Seq("w"))
          .select(col("bg"),
            floor(-log(
              lit(0.75) * (col("c2").cast("double") / col("ctx"))
                + lit(0.25) * (col("c1").cast("double") / col("n_total")))
              * 1e6).cast("long").as("nll_micro"))
        bg.join(bgNll, Seq("bg"))
          .groupBy("source")
          .agg(countDistinct("doc_id").as("n_docs"),
            count(lit(1)).as("n_bigrams"),
            sum("nll_micro").as("sum_nll_micronats"))
          .withColumn("avg_nll_micronats",
            col("sum_nll_micronats").cast("double") / col("n_bigrams"))
          .orderBy("source")
      },
      Some(s"""WITH tk AS (
          SELECT doc_id, source, $sqlTokens AS toks FROM documents),
        bg AS (
          SELECT doc_id, source, unnest(list_transform(
              range(1, len(toks)),
              i -> toks[i] || ' ' || toks[i+1])) AS bg
          FROM tk WHERE len(toks) >= 2),
        uni AS (
          SELECT tok, COUNT(*) AS c1 FROM (
            SELECT unnest(toks) AS tok FROM tk) u GROUP BY tok),
        n AS (SELECT SUM(c1) AS n_total FROM uni),
        bs AS (
          SELECT bg, COUNT(*) AS c2,
            string_split(bg, ' ')[1] AS v,
            string_split(bg, ' ')[-1] AS w
          FROM bg GROUP BY bg),
        bc AS (
          SELECT bs.*, SUM(c2) OVER (PARTITION BY v) AS ctx FROM bs),
        bnll AS (
          SELECT bg, CAST(FLOOR(-LN(
              0.75 * (CAST(c2 AS DOUBLE) / ctx)
              + 0.25 * (CAST(c1 AS DOUBLE) / n_total)) * 1000000.0)
            AS BIGINT) AS nll_micro
          FROM bc JOIN uni ON bc.w = uni.tok CROSS JOIN n)
        SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
          COUNT(*) AS n_bigrams,
          CAST(SUM(nll_micro) AS BIGINT) AS sum_nll_micronats,
          CAST(SUM(nll_micro) AS DOUBLE) / COUNT(*) AS avg_nll_micronats
        FROM bg JOIN bnll USING (bg)
        GROUP BY source ORDER BY source""")),

    // Temperature-scaled source mixing (alpha = 0.5): upweight the
    // tail sources, downweight the head — the mixture step every
    // multi-source pretraining corpus runs (DoReMi, Dolma, The Pile
    // all publish such weights). Output: the weight, the token target
    // under a total/4 budget, and the keep-rate the sampler applies.
    // One aggregation over the corpus; everything after is arithmetic
    // over one row per source.
    QueryDef("d_source_mix",
      (s, dir) => mixRates(s, dir)
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("w_micro"),
          (col("w_micro").cast("double") / col("tot_w")).as("weight"),
          col("tgt_tokens"), col("rate_micro"))
        .orderBy("source"),
      Some(s"""WITH $sqlMixCte
        SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
          w_micro, CAST(w_micro AS DOUBLE) / tot_w AS weight,
          CAST(tgt_tokens AS BIGINT) AS tgt_tokens,
          CAST(rate_micro AS BIGINT) AS rate_micro
        FROM rates ORDER BY source""")),

    // APPLY the mixture: per-source deterministic md5 gate at the
    // computed keep-rate (`h60(doc_id) mod 1e6 < rate`), so the sample
    // is reproducible on any cluster size, re-run, or re-shard, and a
    // document's fate never depends on which partition it landed in.
    // Scale shape: the rate table (one row per source) broadcasts back
    // onto the corpus — map-only after the stats pass; no second wide
    // shuffle. The realized token counts land within gate-granularity
    // of tgt_tokens, which is the property d_source_mix promised.
    QueryDef("d_mix_sample",
      (s, dir) => {
        val docTok = tBalanced(s, dir, "documents")
          .select(col("doc_id"), col("source"), size(tokens).as("nt"))
        val rates = mixRates(s, dir).select("source", "rate_micro")
        val kept = pmod(h60s(col("doc_id")), lit(1000000L)) < col("rate_micro")
        docTok.join(broadcast(rates), Seq("source"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(kept, 1L).otherwise(0L)).as("n_kept_docs"),
            sum(when(kept, col("nt")).otherwise(0L)).as("n_kept_tokens"),
            max("rate_micro").as("rate_micro"))
          .orderBy("source")
      },
      Some(s"""WITH $sqlMixCte
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN ${sqlH60s("CAST(doc_id AS VARCHAR)")} % 1000000
              < rate_micro THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_docs,
          CAST(SUM(CASE WHEN ${sqlH60s("CAST(doc_id AS VARCHAR)")} % 1000000
              < rate_micro THEN nt ELSE 0 END) AS BIGINT) AS n_kept_tokens,
          CAST(MAX(rate_micro) AS BIGINT) AS rate_micro
        FROM tok JOIN rates USING (source)
        GROUP BY source ORDER BY source"""))
  )
}
