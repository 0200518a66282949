package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the curation family (LM scoring, source mixing,
  * mix sampling, SemDeDup) on planted data — properties the DuckDB
  * oracle equality can't express (monotonicity, budget attainment,
  * reproducibility).
  */
class CurationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Plant `rows` as a temp corpus dir for `body`; the dir's cached
    * artifacts are released and the dir deleted however `body` ends.
    */
  private def withDocs[T](rows: Seq[(Long, String, String)])(
      body: String => T): T = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("cur")
    try {
      rows.toDF("doc_id", "source", "text")
        .withColumn("lang", lit("en"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      body(tmp.toString)
    } finally {
      graft.queries.ArtifactCache.release(spark, tmp.toString)
      graft.util.Fs.deleteRecursively(tmp)
    }
  }

  test("t_lm_score: a rare-token source scores higher NLL than a " +
      "common-token source") {
    spark.sparkContext.setLogLevel("WARN")
    // 'the' dominates the corpus (low NLL); 'zyzzyva' appears once
    val common = (1L to 20L).map(i => (i, "srcA", "the the the the"))
    val rare = Seq((100L, "srcB", "the zyzzyva quux corge"))
    withDocs(common ++ rare) { dir =>
      val rows = SparkEntry.queries("t_lm_score")(spark, dir).collect()
        .map(r => r.getAs[String]("source") -> r.getAs[Double]("avg_nll_micronats"))
        .toMap
      assert(rows("srcB") > rows("srcA"),
        s"rare-token source must score higher: $rows")
      // common-token NLL is near -ln(p~=80/83): small but positive
      assert(rows("srcA") >= 0.0)
    }
  }

  test("t_lm2_score: a source of unseen-bigram text scores higher NLL " +
      "than a repetitive-bigram source") {
    // srcA repeats ONE bigram ('the cat') — high bigram probability;
    // srcB chains bigrams that each occur once — low probability mass
    val common = (1L to 20L).map(i => (i, "srcA", "the cat the cat the cat"))
    val rare = Seq((100L, "srcB", "zyzzyva quux corge grault garply"))
    withDocs(common ++ rare) { dir =>
      val rows = SparkEntry.queries("t_lm2_score")(spark, dir).collect()
        .map(r => r.getAs[String]("source") -> r.getAs[Double]("avg_nll_micronats"))
        .toMap
      assert(rows("srcB") > rows("srcA"),
        s"unseen-bigram source must score higher: $rows")
      assert(rows("srcA") >= 0.0)
    }
  }

  test("d_source_mix: temperature mixing upweights the tail source " +
      "relative to its token share, weights sum to ~1") {
    val big = (1L to 50L).map(i => (i, "big", "a b c d e f g h"))
    val small = Seq((900L, "small", "a b c d e f g h"))
    withDocs(big ++ small) { dir =>
      val rows = SparkEntry.queries("d_source_mix")(spark, dir).collect()
      val bySrc = rows.map(r => r.getAs[String]("source") -> r).toMap
      val wSum = rows.map(_.getAs[Double]("weight")).sum
      assert(math.abs(wSum - 1.0) < 1e-3, s"weights should sum to ~1: $wSum")
      val tokTotal = rows.map(_.getAs[Long]("n_tokens")).sum.toDouble
      def share(s: String) =
        bySrc(s).getAs[Long]("n_tokens").toDouble / tokTotal
      def w(s: String) = bySrc(s).getAs[Double]("weight")
      // sqrt temperature: tail weight exceeds proportional share, head's
      // falls below it
      assert(w("small") > share("small"), "tail source must be upweighted")
      assert(w("big") < share("big"), "head source must be downweighted")
      rows.foreach { r =>
        val rate = r.getAs[Long]("rate_micro")
        assert(rate >= 0L && rate <= 1000000L, s"rate out of range: $rate")
      }
    }
  }

  test("d_mix_sample: kept <= total, tail sources sample at full rate, " +
      "and the sample is reproducible") {
    // skew deep enough that the tail's sqrt-upweighted token target
    // (B * w_s / tot_w ~= 17) exceeds its own 10 tokens -> rate clamps
    val big = (1L to 60L).map(i => (i, "big", "a b c d e f g h i j"))
    val small = Seq((900L, "small", "a b c d e f g h i j"))
    withDocs(big ++ small) { dir =>
      val first = SparkEntry.queries("d_mix_sample")(spark, dir).collect()
      val bySrc = first.map(r => r.getAs[String]("source") -> r).toMap
      first.foreach { r =>
        assert(r.getAs[Long]("n_kept_docs") <= r.getAs[Long]("n_docs"))
        assert(r.getAs[Long]("n_kept_tokens") >= 0L)
      }
      // the tail source's sqrt-upweighted target exceeds its own token
      // count -> rate clamps to 1e6 and every doc is kept
      assert(bySrc("small").getAs[Long]("rate_micro") == 1000000L)
      assert(bySrc("small").getAs[Long]("n_kept_docs") == 1L)
      // md5-gated sampling: bit-identical across runs
      val second = SparkEntry.queries("d_mix_sample")(spark, dir).collect()
      assert(first.map(_.toString).sorted.sameElements(
        second.map(_.toString).sorted), "sample must be reproducible")
    }
  }

  test("t_bpe_train learns chained merges and stops when pairs run dry") {
    // every word is 'abc': round 1 ties <a><b> vs <b><c> at equal
    // count -> lexicographic tiebreak picks <a> <b>; round 2 merges
    // the chained <ab> <c>; round 3 has no pairs left -> dry stop
    withDocs((1L to 7L).map(i => (i, "s", "abc abc"))) { dir =>
      val rows = SparkEntry.queries("t_bpe_train")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(rows.toSeq == Seq(
        (1L, "<a> <b>", 14L), (2L, "<ab> <c>", 14L)), rows.mkString(";"))
    }
  }

  test("BPE driver and distributed merge branches are equivalent") {
    // a corpus rich enough for all 8 rounds with chained merges and
    // count ties (mixed word lengths, shared prefixes, skewed counts)
    val words = Seq(
      "the" -> 30, "there" -> 12, "then" -> 9, "than" -> 7,
      "cat" -> 11, "cater" -> 5, "dog" -> 8, "dodge" -> 4,
      "a" -> 20, "ab" -> 6, "abc" -> 6, "banana" -> 3)
    val text = words.flatMap { case (w, n) => Seq.fill(n)(w) }.mkString(" ")
    withDocs(Seq((1L, "s", text))) { dir =>
      def train(): Seq[(Long, String, Long)] =
        SparkEntry.queries("t_bpe_train")(spark, dir).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      val viaDriver = train() // vocab << gate: driver merge loop
      graft.queries.ArtifactCache.release(spark, dir)
      graft.queries.Curation.bpeDriverGate = 0L // force distributed rounds
      try {
        val viaCluster = train()
        assert(viaCluster == viaDriver,
          s"\ndistributed: $viaCluster\ndriver:      $viaDriver")
        assert(viaDriver.nonEmpty && viaDriver.map(_._1) ==
          (1L to viaDriver.length), viaDriver.toString)
      } finally graft.queries.Curation.bpeDriverGate = 1000000L
    }
  }

  test("s_semdedup drops the planted duplicate, keeps the least id") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.01"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // plant an exact copy of vec 0 (same label/cell) under a larger id
    val copy = emb.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(5555555L))
    val tmp = java.nio.file.Files.createTempDirectory("sdd").toString
    emb.unionByName(copy).write.mode("overwrite")
      .parquet(s"$tmp/embeddings.parquet")
    val lbl = emb.filter(col("vec_id") === 0).select("label")
      .collect()(0).getInt(0)
    val base = SparkEntry.queries("s_semdedup")(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getAs[Long]("n_dropped")).toMap
    val out = SparkEntry.queries("s_semdedup")(spark, tmp).collect()
    val byLbl = out.map(r => r.getInt(0) -> r).toMap
    // the copy has a smaller-id near-dup (vec 0) -> exactly one more
    // dropped vector in that cell than the unplanted corpus
    assert(byLbl(lbl).getAs[Long]("n_dropped") == base(lbl) + 1L,
      s"planted copy must be dropped: base=${base(lbl)}, " +
        s"got ${byLbl(lbl).getAs[Long]("n_dropped")}")
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped")
        == r.getAs[Long]("n_vectors"))
    }
  }
}
