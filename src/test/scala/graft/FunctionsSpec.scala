package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._

/** Correctness of the custom vector expression and the dedup/similarity
  * pipelines on planted data.
  */
class FunctionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("FloatVectorDot matches reference fold, interpreted and codegen") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.5f, -1.5f), Array(2.0f, 2.0f))).toDF("a", "b")
    val got = df.select(vec_dot(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(got(0) == 32.0)
    assert(got(1) == 0.5 * 2.0 + (-1.5) * 2.0)
    // cosine of identical vectors is 1.0
    val cos = df.select(vec_cosine(col("a"), col("a"))).collect()(0).getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    // null propagates
    val withNull = Seq((Option.empty[Array[Float]], Array(1.0f))).toDF("a", "b")
    assert(withNull.select(vec_dot(col("a"), col("b"))).collect()(0).isNullAt(0))
  }

  test("IntVectorSqL2 matches the aggregate(zip_with) fold it replaces") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50)((
      Array.fill(64)(rnd.nextInt(256)),
      Array.fill(64)(rnd.nextInt(256))))
    val df = rows.toDF("qv", "cv")
    val got = df.select(vec_sql2_int(col("qv"), col("cv")).as("d"))
      .collect().map(_.getLong(0))
    val ref = df.selectExpr(
      """aggregate(zip_with(qv, cv, (a, b) -> (a - b) * (a - b)),
         0L, (acc, y) -> acc + y) AS d""")
      .collect().map(_.getLong(0))
    assert(got.toSeq == ref.toSeq)
    // extremes: |d| = 255 per dim, 64 dims
    val ext = Seq((Array.fill(64)(0), Array.fill(64)(255))).toDF("qv", "cv")
    assert(ext.select(vec_sql2_int(col("qv"), col("cv"))).collect()(0)
      .getLong(0) == 64L * 255 * 255)
    // null propagates
    val withNull = Seq((Option.empty[Array[Int]], Array(1, 2))).toDF("qv", "cv")
    assert(withNull.select(vec_sql2_int(col("qv"), col("cv"))).collect()(0)
      .isNullAt(0))
  }

  test("IntVectorArgminSqL2 ≡ array_min over (sql2, cid) structs") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // 16 centroids incl. planted TIES: centroids 3 and 7 identical, so
    // the lexicographic (dist, cid) minimum must pick cid 3 whenever
    // they win — the contract the compact kernel must preserve
    val base = Seq.fill(16)(Seq.fill(8)(rnd.nextInt(256)))
    val cents: Seq[(Long, Seq[Int])] = base.zipWithIndex
      .map { case (cv, i) => i.toLong -> (if (i == 7) base(3) else cv) }
    val df = Seq.fill(300)(Array.fill(8)(rnd.nextInt(256))).toDF("sv")
    val composed = df.select(org.apache.spark.sql.functions.array_min(
      org.apache.spark.sql.functions.array(cents.map { case (cid, cv) =>
        org.apache.spark.sql.functions.struct(
          vec_sql2_int(col("sv"),
            org.apache.spark.sql.functions.typedLit(cv)).as("dist"),
          org.apache.spark.sql.functions.lit(cid).as("cid"))
      }: _*)).as("best")).select("best.dist", "best.cid")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val kernel = df.select(
      graft.functions.VectorFunctions.vec_argmin_sql2(col("sv"), cents)
        .as("best")).select("best.dist", "best.cid")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(kernel.toSeq == composed.toSeq)
    // some row must actually have hit the tie pair for the test to bite
    assert(kernel.exists(_._2 == 3L) || composed.forall(_._2 != 7L))
    assert(!kernel.exists(_._2 == 7L), "tie must break to the lower cid")
    // null vector propagates
    val withNull = Seq(Option.empty[Array[Int]]).toDF("sv")
    assert(withNull.select(graft.functions.VectorFunctions
      .vec_argmin_sql2(col("sv"), cents)).collect()(0).isNullAt(0))
    // descending cids are a call-site bug, refused loudly
    intercept[IllegalArgumentException](
      graft.functions.VectorFunctions.vec_argmin_sql2(
        col("sv"), Seq(2L -> Seq(1), 1L -> Seq(2))))
  }

  test("md5 kernels ≡ conv(substring(md5)) hex definitions") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val strs = Seq("", "a", "the quick brown fox", "κόσμε unicode",
      "x" * 300) ++ Seq.fill(200)(rnd.alphanumeric.take(rnd.nextInt(40)).mkString)
    val df = strs.toDF("s")
    val got = df.select(
      graft.functions.HashFunctions.md5_prefix60(col("s")).as("p60"),
      element_at(graft.functions.HashFunctions.md5_split56(col("s")), 1).as("h1"),
      element_at(graft.functions.HashFunctions.md5_split56(col("s")), 2).as("h2"))
      .collect()
    val ref = df.selectExpr(
      "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) AS p60",
      "CAST(conv(substring(md5(s), 1, 14), 16, 10) AS BIGINT) AS h1",
      "CAST(conv(substring(md5(s), 15, 14), 16, 10) AS BIGINT) AS h2")
      .collect()
    got.zip(ref).foreach { case (g, r) =>
      assert(g.getLong(0) == r.getLong(0))
      assert(g.getLong(1) == r.getLong(1))
      assert(g.getLong(2) == r.getLong(2))
    }
    // null propagates
    val withNull = Seq(Option.empty[String]).toDF("s")
    assert(withNull.select(
      graft.functions.HashFunctions.md5_prefix60(col("s"))).collect()(0)
      .isNullAt(0))
  }

  test("minhash_sigs ≡ explode + per-seed MIN fold of the hex definition") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val K = 16
    val docs = (0 until 60).map { i =>
      val n = 1 + rnd.nextInt(30)
      (i.toLong, Seq.fill(n)(
        rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString).distinct)
    }
    val df = docs.toDF("doc_id", "sh")
    val got = df.select(col("doc_id"),
      graft.functions.HashFunctions.minhash_sigs(col("sh"), K).as("ms"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // reference: the oracle-shaped explode + conv(substring(md5)) halves
    // + per-seed min — the exact fold computeNearDupPairs used to run
    // as an aggregation stage
    val ref = df.select(col("doc_id"), explode(col("sh")).as("g"))
      .selectExpr("doc_id",
        "CAST(conv(substring(md5(g), 1, 14), 16, 10) AS BIGINT) AS h1",
        "CAST(conv(substring(md5(g), 15, 14), 16, 10) AS BIGINT) AS h2")
      .groupBy("doc_id")
      .agg(min(col("h1") + lit(0L) * col("h2")).as("m0"),
        (1 until K).map(i =>
          min(col("h1") + lit(i.toLong) * col("h2")).as(s"m$i")): _*)
      .collect()
      .map(r => r.getLong(0) -> (0 until K).map(i => r.getLong(i + 1))).toMap
    assert(got.keySet == ref.keySet)
    got.foreach { case (id, sigs) =>
      assert(sigs == ref(id), s"doc $id: $sigs vs ${ref(id)}")
    }
    // empty set -> empty signature; null propagates; an ALL-NULL
    // element array also yields empty (a [MaxValue x K] signature
    // would make every such doc LSH-identical)
    val edge = Seq((1L, Some(Seq.empty[String])), (2L, None))
      .toDF("doc_id", "sh")
      .select(graft.functions.HashFunctions.minhash_sigs(col("sh"), K))
      .collect()
    assert(edge(0).getSeq[Long](0).isEmpty)
    assert(edge(1).isNullAt(0))
    val allNull = spark.sql("SELECT array(CAST(NULL AS STRING)) AS sh")
      .select(graft.functions.HashFunctions.minhash_sigs(col("sh"), K))
      .collect()
    assert(allNull(0).getSeq[Long](0).isEmpty)
  }

  test("simhash60 ≡ explode + md5-per-token + 60-bit vote fold") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val docs = (0 until 50).map { i =>
      // repeats on purpose: token MULTIPLICITY must weigh the votes
      val n = 1 + rnd.nextInt(40)
      (i.toLong, Seq.fill(n)(
        rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString))
    }
    val df = docs.toDF("doc_id", "toks")
    val got = df.select(col("doc_id"),
      graft.functions.HashFunctions.simhash60(col("toks")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: the exploded formulation d_simhash ran before the
    // kernel — h60s per token, 60 conditional SUM votes, bit rebuild
    val bitSums = (0 until 60).map(b =>
      sum(when(expr(s"(h >> $b) & 1") === 1, 1).otherwise(-1)).as(s"b$b"))
    val ref = df.select(col("doc_id"), explode(col("toks")).as("w"))
      .select(col("doc_id"),
        graft.functions.HashFunctions.md5_prefix60(col("w")).as("h"))
      .groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(b =>
          when(col(s"b$b") >= 0, expr(s"CAST(${1L << b} AS BIGINT)"))
            .otherwise(0L)).reduce(_ + _).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref)
    // empty array -> null (the exploded form emits no row); null
    // input propagates; all-null elements -> null
    val edge = Seq((1L, Some(Seq.empty[String])), (2L, None))
      .toDF("doc_id", "toks")
      .select(graft.functions.HashFunctions.simhash60(col("toks")))
      .collect()
    assert(edge(0).isNullAt(0))
    assert(edge(1).isNullAt(0))
    val allNull = spark.sql("SELECT array(CAST(NULL AS STRING)) AS toks")
      .select(graft.functions.HashFunctions.simhash60(col("toks")))
      .collect()
    assert(allNull(0).isNullAt(0))
  }

  test("cross-source pair expansion ≡ all unordered pairs of the sorted set") {
    // the nested transform/slice expression in Dedup.crossSourceOverlap:
    // for a SORTED array it must emit exactly the C(n,2) pairs (x, y)
    // with x before y, for any size including 0 and 1
    import spark.implicits._
    val pairSql = """flatten(transform(srcs, (x, i) ->
      transform(slice(srcs, i + 2, size(srcs)),
        y -> named_struct('sa', x, 'sb', y))))"""
    val rnd = new scala.util.Random(42)
    val cases = (0 until 120).map { i =>
      val n = i % 9 // sizes 0..8, each hit repeatedly with fresh draws
      (i, rnd.shuffle((0 until 26).toList).take(n).map(k => s"s$k").sorted)
    }
    val got = cases.toDF("case_id", "srcs")
      .selectExpr("case_id", s"$pairSql AS ps")
      .collect()
      .map(r => r.getInt(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(p =>
          (p.getString(0), p.getString(1))))
      .toMap
    cases.foreach { case (id, arr) =>
      val expected = for {
        i <- arr.indices; j <- (i + 1) until arr.length
      } yield (arr(i), arr(j))
      assert(got(id) == expected,
        s"case $id srcs=$arr: got ${got(id)}, expected $expected")
    }
  }

  test("LSH bucket pairgen (window guard + sorted collect) ≡ guarded self-join") {
    // the single-exchange pair generation in Dedup.lshVerifiedPairs:
    // count window as the bucket-size guard, array_sort(collect_list)
    // + the nested transform/slice expansion — must emit exactly the
    // pair set of the previous shape (count-agg mega-bucket anti-join
    // + bucket self-join on k < k'), for bucket sizes 0..beyond the
    // guard, same guard value on both sides
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val maxB = 4 // stand-in for MaxBucket; both shapes use it
    val rnd = new scala.util.Random(11)
    // buckets of size 1..7 across two band ids, some sharing bhash
    val rows = for {
      b <- 0 until 2
      h <- 0 until 12
      k <- 0 until (rnd.nextInt(7) + 1)
    } yield (rnd.nextLong().abs % 1000000, b, h.toLong)
    val bands = rows.distinct.toDF("k", "band", "bhash")
    val windowed = bands
      .withColumn("bn",
        count(lit(1)).over(Window.partitionBy("band", "bhash")))
      .filter(col("bn") > 1 && col("bn") <= maxB)
      .groupBy("band", "bhash")
      .agg(array_sort(collect_list(col("k"))).as("ks"))
      .selectExpr("""explode(flatten(transform(ks, (x, i) ->
        transform(slice(ks, i + 2, size(ks)),
          y -> named_struct('a', x, 'b', y))))) AS p""")
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
    val big = bands.groupBy("band", "bhash")
      .agg(count(lit(1)).as("bn")).filter(col("bn") > maxB)
      .select("band", "bhash")
    val guarded = bands.join(big, Seq("band", "bhash"), "left_anti")
    val selfJoin = guarded.as("x").join(guarded.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bhash") === col("y.bhash") &&
        col("x.k") < col("y.k"))
      .select(col("x.k").as("a"), col("y.k").as("b"))
      .distinct()
    val got = windowed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = selfJoin.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "test data must generate candidate pairs")
    assert(got == want,
      s"windowed pairgen diverged: extra=${got -- want} missing=${want -- got}")
  }

  test("IVF seed codes folded on the driver ≡ distributed quantize rows") {
    // Similarity.ivfQuantizedCodes replicates the Catalyst quantize
    // expression in Scala for the bounded seed rows (vec_id < SeedMax)
    // — the fold must be bit-identical to the distributed qv rows it
    // replaced a collect job for, and the raw seed embeddings must
    // match the parquet values
    val dir = "/root/testdata/sf0.001"
    val m = graft.queries.Similarity.modelForTest(spark, dir)
    try {
      val distributed = m.codes
        .filter(col("vec_id") < 16).orderBy("vec_id").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toSeq
      assert(m.seedCodes == distributed,
        "driver-side seed quantize must equal the distributed qv rows")
      val rawEmb = spark.read
        .parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") < 16)
        .orderBy("vec_id").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq
      assert(m.seedEmb.map { case (id, e) => id -> e.toSeq } == rawEmb,
        "seed embeddings must match the parquet values")
    } finally graft.queries.ArtifactCache.release(spark, dir)
  }

  test("word_shingles matches the HOF formulation") {
    import spark.implicits._
    import graft.functions.TextFunctions.word_shingles
    val df = Seq("the quick brown fox jumps", "a b", "").toDF("text")
      .selectExpr("regexp_extract_all(lower(text), '[a-z]+', 0) AS toks")
    val got = df.select(word_shingles(col("toks"), 3)).collect()
      .map(_.getSeq[String](0))
    // the HOF formulation needs an explicit size guard: Spark's
    // sequence(1, 0) counts DOWN ([1, 0]), so short docs would slice at
    // index 0 — a latent bug word_shingles doesn't have
    val ref = df.selectExpr(
      """CASE WHEN size(toks) >= 3 THEN
           transform(sequence(1, size(toks) - 2),
             i -> concat_ws(' ', slice(toks, i, 3)))
         ELSE array() END""").collect()
      .map(_.getSeq[String](0))
    assert(got.toSeq == ref.toSeq)
    assert(got(0) == Seq("the quick brown", "quick brown fox", "brown fox jumps"))
    assert(got(1).isEmpty && got(2).isEmpty)
  }

  test("ascii_words equals regexp_extract_all(lower, '[a-z]+') on Unicode") {
    import spark.implicits._
    import graft.functions.TextFunctions.ascii_words
    val planted = Seq(
      "The Quick  BROWN fox!!", "", "   ", "123 456", "a", "Z",
      "héllo wörld Straße ÉTÉ", "emoji 😃 split", "tab\tand\nnewline",
      "CamelCaseRuns", "a1b2c3", "ünïcödé-mixed ascii END",
      // code points that LOWER INTO ascii — the byte-only scan trap:
      // U+212A KELVIN SIGN → 'k', U+0130 İ → 'i' + combining dot
      "temp 30\u212a outside", "\u0130stanbul visit", "mid\u212adle")
    val rnd = new scala.util.Random(7L)
    val fuzz = (1 to 300).map { _ =>
      (1 to rnd.nextInt(40)).map { _ =>
        rnd.nextInt(4) match {
          case 0 => ('a' + rnd.nextInt(26)).toChar.toString
          case 1 => ('A' + rnd.nextInt(26)).toChar.toString
          case 2 => " .,;\t\n0123456789".charAt(rnd.nextInt(16)).toString
          case _ => new String(Character.toChars(
            Seq(0xe9, 0xdf, 0x4e2d, 0x1f600)(rnd.nextInt(4))))
        }
      }.mkString
    }
    val df = (planted ++ fuzz).toDF("text")
    val both = df.select(
      ascii_words(col("text")).as("fast"),
      expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ref"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"mismatch: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
    }
  }

  test("catalog functions callable from plain SQL") {
    val wh = java.nio.file.Files.createTempDirectory("graft-fn-wh")
    spark.conf.set("spark.sql.catalog.gfn", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gfn.warehouse", wh.toString)
    val dot = spark.sql(
      "SELECT gfn.sys.vec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d")
      .collect()(0).getDouble(0)
    assert(dot == 11.0)
    val cos = spark.sql(
      "SELECT gfn.sys.vec_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c")
      .collect()(0).getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    val sh = spark.sql(
      "SELECT gfn.sys.word_shingles(array('a','b','c','d'), 2) AS s")
      .collect()(0).getSeq[String](0)
    assert(sh == Seq("a b", "b c", "c d"))
    val e = intercept[Exception] {
      spark.sql("SELECT gfn.sys.nope(1)").collect()
    }
    assert(e.getMessage.contains("nope"))
    // n < 1 is rejected with the argument named, not a
    // NegativeArraySizeException from inside an executor (n = -1) or a
    // silent array of empty shingles (n = 0)
    for (bad <- Seq(0, -1)) {
      val eb = intercept[Exception](spark.sql(
        s"SELECT gfn.sys.word_shingles(array('a','b'), $bad)").collect())
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(_.toString).toSeq
      assert(chain(eb).exists(_.contains("n >= 1")), chain(eb).mkString("\n"))
    }
  }

  /** A temp corpus dir for planted data: its cached artifacts are
    * released and the dir deleted however `body` ends.
    */
  private def withCorpus[T](prefix: String)(body: String => T): T = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    try body(tmp.toString)
    finally {
      graft.queries.ArtifactCache.release(spark, tmp.toString)
      graft.util.Fs.deleteRecursively(tmp)
    }
  }

  test("minhash LSH finds planted near-duplicates in documents") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.01"
    // plant: copy of documents with 3 rows duplicated under new ids
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dups = docs.limit(3)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val planted = docs.unionByName(dups)
    withCorpus("mh") { tmp =>
      planted.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val n = SparkEntry.queries("d_minhash_lsh")(spark, tmp)
        .collect()(0).getLong(0)
      assert(n >= 3, s"expected >=3 planted near-dup pairs, got $n")
    }
  }

  test("LSH near-dup pairs are strictly ordered a < b, even for a repeated doc_id") {
    // a doc_id on two rows lands twice in every one of its LSH buckets;
    // the positional pair expansion then emits (k, k), which verifies
    // at Jaccard 1.0 unless the pair stage keeps only a < b
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val repeated = docs.filter(length(col("text")) > 200).limit(1)
    withCorpus("lshk") { tmp =>
      docs.unionByName(repeated).write.mode("overwrite")
        .parquet(s"$tmp/documents.parquet")
      val pairs = graft.queries.Dedup.nearDupPairs(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val bad = pairs.filterNot { case (a, b) => a < b }
      assert(bad.isEmpty, s"pairs violating a < b: ${bad.mkString(", ")}")
    }
  }

  test("d_dup_spans flags an exact copy with dup_ratio 1.0") {
    val sf = "/root/testdata/sf0.01"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // plant an exact copy of one long doc: every 12-token window of the
    // copy exists in the original, so both report dup_ratio 1.0
    val src = docs.filter(length(col("text")) > 300).limit(1)
    val copy = src.withColumn("doc_id", col("doc_id") + 2000000L)
    withCorpus("ds") { tmp =>
      docs.unionByName(copy).write.mode("overwrite")
        .parquet(s"$tmp/documents.parquet")
      val out = SparkEntry.queries("d_dup_spans")(spark, tmp)
        .filter(col("doc_id") >= 2000000L).collect()
      assert(out.length == 1 && out(0).getAs[Double]("dup_ratio") == 1.0,
        s"planted copy must have all spans duplicated: ${out.mkString(",")}")
      // ...and the APPLY row trims every token of such a doc: its spans
      // are all duplicated and contiguous, so the interval union covers
      // the doc end-to-end — trimmed tokens can't be fewer than a full
      // doc's worth in the copy's source rollup
      val nToks = graft.functions.TextFunctions
      val copyTokens = spark.read.parquet(s"$tmp/documents.parquet")
        .filter(col("doc_id") >= 2000000L)
        .select(size(nToks.ascii_words(col("text"))).cast("long"))
        .collect()(0).getLong(0)
      val trim = SparkEntry.queries("d_dup_span_trim")(spark, tmp).collect()
        .map(r => r.getAs[Long]("n_trimmed_tokens")).sum
      assert(trim >= copyTokens,
        s"the planted copy's $copyTokens tokens must all be trimmed " +
          s"(got $trim total trimmed)")
    }
  }

  test("simhash collides exact duplicates into the same band") {
    val sf = "/root/testdata/sf0.1" // has 8 exact duplicate texts
    val row = SparkEntry.queries("d_simhash")(spark, sf).collect()(0)
    assert(row.getLong(0) >= 2) // collision bands exist
  }

  test("cosine top-k ranks an exact copy first") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.01"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // plant an exact copy of vec 0 with id 999999 in the corpus
    val copy = emb.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(999999L))
    withCorpus("ann") { tmp =>
      emb.unionByName(copy).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val top = SparkEntry.queries("s_cosine_topk")(spark, tmp)
        .filter(col("query_id") === 0 && col("rank") === 1)
        .collect()(0).getLong(2)
      assert(top == 999999L, s"exact copy should rank 1, got $top")
    }
  }

  test("PQ training partitions every vector in every subspace") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    try {
      val rows = SparkEntry.queries("s_pq_train")(spark, dir).collect()
      val nVecs = graft.queries.Tables.t(spark, dir, "embeddings").count()
      assert(rows.nonEmpty)
      val bySub = rows.groupBy(_.getLong(0))
      assert(bySub.keySet == (0L until 8L).toSet,
        s"expected 8 subspaces, got ${bySub.keySet}")
      bySub.foreach { case (m, rs) =>
        // every vector is assigned to exactly one centroid per subspace
        assert(rs.map(_.getLong(2)).sum == nVecs,
          s"subspace $m member counts must sum to the corpus")
        // centroid ids come from the seed range; inertia non-negative
        assert(rs.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 16))
        assert(rs.forall(_.getLong(3) >= 0L))
      }
    } finally graft.queries.ArtifactCache.release(spark, dir)
  }

  test("brute-force cosine refuses a data-sized probe set") {
    // the exact baseline is O(corpus × probes): a probe side past the
    // cap must fail at construction, not silently cross-join
    val mk = (n: Long, idCol: String, vecCol: String, normCol: String) =>
      spark.range(n).select(col("id").as(idCol),
        array(lit(1.0f), lit(2.0f)).as(vecCol),
        lit(1.0).as(normCol))
    val corpus = mk(10L, "cand_id", "cv", "cn")
    val okProbes = mk(3L, "query_id", "qv", "qn")
    val scored = graft.queries.Similarity.bruteForceCosine(corpus, okProbes)
    // 10 candidates × 3 probes minus the 3 self matches
    assert(scored.count() == 27L)
    val tooMany = mk(graft.queries.Similarity.MaxBruteForceProbes + 1L,
      "query_id", "qv", "qn")
    val boom = intercept[IllegalArgumentException](
      graft.queries.Similarity.bruteForceCosine(corpus, tooMany))
    assert(boom.getMessage.contains("probe"), boom.getMessage)
    // an over-cap set stores nothing: it fails on every call
    intercept[IllegalArgumentException](
      graft.queries.Similarity.bruteForceCosine(corpus, tooMany))
    // the cap check is a session artifact: a second call with the same
    // probe plan runs no job over the probes, a released one runs again
    val evals = spark.sparkContext.longAccumulator("probe evaluations")
    val seen = udf { (_: Long) => evals.add(1); true }
    val counted = okProbes.filter(seen(col("query_id")))
    graft.queries.Similarity.bruteForceCosine(corpus, counted)
    val first = evals.value
    assert(first > 0, "the first call must run the cap check")
    graft.queries.Similarity.bruteForceCosine(corpus, counted)
    assert(evals.value == first, "a validated probe plan ran its check again")
    graft.queries.ArtifactCache.releaseAll()
    graft.queries.Similarity.bruteForceCosine(corpus, counted)
    assert(evals.value > first, "a released validation was not re-run")
  }
}
