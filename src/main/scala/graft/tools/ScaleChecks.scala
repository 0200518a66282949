package graft.tools

import org.apache.spark.sql.SparkSession

/** Metadata-scale canaries: manifest folding after many commits, and
  * clustered-write file bounds.
  * {{{ sbt "runMain graft.tools.ScaleChecks" }}}
  */
object ScaleChecks {
  def main(args: Array[String]): Unit = {
    val wh = java.nio.file.Files.createTempDirectory("graft-scale")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", wh.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sql("CREATE NAMESPACE graft.d")

    println("== 55 commits: manifest list must fold, reads stay exact")
    spark.sql("CREATE TABLE graft.d.many (k BIGINT)")
    (1 to 55).foreach(i => spark.sql(s"INSERT INTO graft.d.many VALUES ($i)"))
    val sm = new graft.format.SnapshotManager(wh.resolve("d.db/many"))
    val snap = sm.latestSnapshot.get
    println(s"  snapshot ${snap.id}: manifest list size = ${snap.manifests.size} (55 commits)")
    val total = spark.sql("SELECT count(*) AS n, sum(k) AS s FROM graft.d.many").collect()(0)
    println(s"  rows=${total.getLong(0)} sum=${total.getLong(1)} (expect 55, 1540)")

    println("== streaming delta invariant survives folding")
    import org.apache.spark.sql.streaming.Trigger
    val ckpt = java.nio.file.Files.createTempDirectory("graft-scale-ckpt")
    val sink = java.nio.file.Files.createTempDirectory("graft-scale-sink")
    def runStream(): Long = {
      val q = spark.readStream.table("graft.d.many")
        .writeStream.format("parquet").option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.read.parquet(sink.toString).count()
    }
    println(s"  first stream run: ${runStream()} rows (expect 55)")
    spark.sql("INSERT INTO graft.d.many VALUES (100)")
    println(s"  after one more commit: ${runStream()} rows (expect 56)")

    println("== clustered INSERT: file count bounded by shuffle partitions")
    spark.sql("CREATE TABLE graft.d.pk (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='4')")
    spark.range(0, 1000, 1, 64).createOrReplaceTempView("src")
    println("  INSERT plan:")
    spark.sql("INSERT INTO graft.d.pk SELECT id, CAST(id AS STRING) FROM src")
    val files = new graft.format.SnapshotManager(wh.resolve("d.db/pk")).liveFilesLatest
    println(s"  64 input partitions -> ${files.size} data files " +
      s"(<= 16 = 4 shuffle partitions x 4 buckets); rows=${spark.table("graft.d.pk").count()}")
    println("== throughput canary: 2M-row PK write + merged read + system tables")
    spark.sql("CREATE TABLE graft.d.big (k BIGINT, v STRING, x DOUBLE) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='16')")
    def timed[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"  $tag: ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
    }
    timed("write 2M rows") {
      spark.sql("INSERT INTO graft.d.big " +
        "SELECT id, CAST(id AS STRING), id * 0.5 FROM range(0, 2000000)")
    }
    timed("upsert 200k rows") {
      spark.sql("INSERT INTO graft.d.big " +
        "SELECT id * 10, 'updated', 0.0 FROM range(0, 200000)")
    }
    timed("merged read (count + filter)") {
      val n = spark.sql("SELECT count(*) FROM graft.d.big").collect()(0).getLong(0)
      val u = spark.sql("SELECT count(*) FROM graft.d.big WHERE v = 'updated'")
        .collect()(0).getLong(0)
      println(s"    rows=$n (expect 2000000), updated=$u (expect 200000)")
    }
    timed("point lookup (bucket-pruned)") {
      spark.sql("SELECT * FROM graft.d.big WHERE k = 1234567").collect()
    }
    spark.sql("SELECT bucket, SUM(row_count) AS rows, COUNT(*) AS files " +
      "FROM graft.d.`big$files` GROUP BY bucket ORDER BY bucket LIMIT 4").show()
    spark.sql("SELECT * FROM graft.d.`big$snapshots` ORDER BY snapshot_id").show()
    println("== row-group pruning canary: 2M rows, 1 file, 1MB row groups")
    spark.sql("CREATE TABLE graft.d.rg (k BIGINT, v BIGINT) TBLPROPERTIES " +
      "('primary-key'='k','bucket'='1','write-buffer-rows'='4000000'," +
      "'parquet.block-size'='1048576')")
    timed("write 2M rows (single sorted file)") {
      spark.sql("INSERT INTO graft.d.rg " +
        "SELECT /*+ COALESCE(1) */ id, id * 7 FROM range(0, 2000000)")
    }
    val rgFile = spark.sql("SELECT file_name FROM graft.d.`rg$files`")
      .collect()(0).getString(0)
    val nGroups = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(
          wh.resolve("d.db/rg").resolve(rgFile).toUri),
        new org.apache.hadoop.conf.Configuration())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRowGroups.size() finally r.close()
    }
    println(s"  $nGroups row groups in the bucket file")
    timed("full merged read") {
      println(s"    rows=${spark.table("graft.d.rg").count()}")
    }
    timed("point lookup k=1999999 (reads ~1 of the groups)") {
      println("    " + spark.sql(
        "SELECT * FROM graft.d.rg WHERE k = 1999999").collect().mkString)
    }

    println("== hot-bucket straggler canary: one 4M-row bucket vs 16 balanced")
    // a (partition, bucket) is one merge task: the same data in one
    // bucket reads on one core, in 16 buckets on 16 — the measured
    // ratio is the straggler cost a mis-bucketed 100 TB table pays,
    // and the basis for the README bucket-sizing guidance + the
    // commit-time hot-bucket warning (threshold shrunk here to see it
    // fire on 4M rows). Two commits each so the read truly merges.
    Seq(("hot1", 1), ("hot16", 16)).foreach { case (t, b) =>
      spark.sql(s"CREATE TABLE graft.d.$t (k BIGINT, v BIGINT) " +
        s"TBLPROPERTIES ('primary-key'='k','bucket'='$b'," +
        "'bucket.rows-warning-threshold'='1000000')")
      spark.sql(s"INSERT INTO graft.d.$t SELECT id, id FROM range(0, 4000000)")
      spark.sql(s"INSERT INTO graft.d.$t " +
        "SELECT id * 4, -id FROM range(0, 1000000)")
    }
    val tHot = { val t0 = System.nanoTime()
      spark.sql("SELECT count(*), sum(v) FROM graft.d.hot1").collect()
      (System.nanoTime() - t0) / 1e9 }
    val tBal = { val t0 = System.nanoTime()
      spark.sql("SELECT count(*), sum(v) FROM graft.d.hot16").collect()
      (System.nanoTime() - t0) / 1e9 }
    println(f"  merged read: 1 bucket $tHot%.1f s vs 16 buckets $tBal%.1f s " +
      f"(straggler cost ${tHot / tBal}%.1f x; ~${5000000 / tHot / 1e6}%.1f M " +
      "pre-merge rows/s per merge task)") // 4M + 1M upsert = 5M pre-merge
    // merge-on-read DML: a 1-row UPDATE must not scale with bucket size
    val tUpd = { val t0 = System.nanoTime()
      spark.sql("UPDATE graft.d.hot1 SET v = 0 WHERE k = 42")
      (System.nanoTime() - t0) / 1e9 }
    println(f"  1-row UPDATE on the 4M-row bucket: $tUpd%.1f s " +
      "(merge-on-read: O(1) rows appended, no bucket rewrite)")
    // large-MERGE delta-file shape: unclustered delta writes may cut
    // tasks x buckets files, but commit-triggered compaction bounds
    // live files per bucket at O(trigger) immediately
    val tMrg = { val t0 = System.nanoTime()
      spark.sql("""MERGE INTO graft.d.hot16 t
        USING (SELECT id * 2 AS k, -1 * id AS v FROM range(0, 500000)) s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
      (System.nanoTime() - t0) / 1e9 }
    val mrgFiles = new graft.format.SnapshotManager(
      wh.resolve("d.db/hot16")).liveFilesLatest
    val perBucket = mrgFiles.groupBy(_.bucket).map(_._2.size)
    println(f"  500k-row MERGE into 16 buckets: $tMrg%.1f s; live files " +
      s"after compaction: ${mrgFiles.size} (max/bucket ${perBucket.max})")
    require(perBucket.max <= 5,
      s"compaction failed to bound delta files: ${perBucket.max}/bucket")

    println("== 10M-row spill canary: small write buffer forces multi-run " +
      "spills, second commit trips compaction")
    // write-buffer-rows=250k on 10M rows / 16 buckets means each bucket
    // sorts and spills ~3 L0 runs per commit instead of buffering the
    // whole bucket — heap stays bounded no matter the commit size. The
    // upsert commit then exceeds trigger-file-count and compacts each
    // bucket back to one file, so the steady-state file count is
    // independent of how many runs the writes spilled.
    spark.sql("CREATE TABLE graft.d.huge (k BIGINT, v STRING, x DOUBLE) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='16'," +
      "'write-buffer-rows'='250000','compaction.trigger-file-count'='4')")
    val t10 = System.nanoTime()
    timed("write 10M rows (multi-run spill)") {
      spark.sql("INSERT INTO graft.d.huge " +
        "SELECT id, CAST(id AS STRING), id * 0.5 FROM range(0, 10000000)")
    }
    timed("upsert 1M rows (trips compaction)") {
      spark.sql("INSERT INTO graft.d.huge " +
        "SELECT id * 10, 'updated', 0.0 FROM range(0, 1000000)")
    }
    // ingest-only wall time (write + upsert + their compactions) — the
    // deduplicate-engine baseline the aggregation canary compares to
    val tDedupIngest = (System.nanoTime() - t10) / 1e9
    val hugeSm = new graft.format.SnapshotManager(wh.resolve("d.db/huge"))
    val hugeFiles = hugeSm.liveFilesLatest
    val hugeKinds = hugeSm.existingSnapshotIds
      .map(id => hugeSm.snapshot(id).commitKind)
    println(s"  live files=${hugeFiles.size}, snapshots=${hugeKinds.mkString(",")}")
    require(hugeKinds.contains("COMPACT"),
      s"expected a COMPACT snapshot, got ${hugeKinds.mkString(",")}")
    require(hugeFiles.size <= 16,
      s"post-compaction file count ${hugeFiles.size} must be <= 1 per bucket")
    timed("merged read (count + filter)") {
      val n = spark.sql("SELECT count(*) FROM graft.d.huge").collect()(0).getLong(0)
      val u = spark.sql("SELECT count(*) FROM graft.d.huge WHERE v = 'updated'")
        .collect()(0).getLong(0)
      println(s"    rows=$n (expect 10000000), updated=$u (expect 1000000)")
      require(n == 10000000L && u == 1000000L, s"merged read wrong: n=$n u=$u")
    }
    val wallS = (System.nanoTime() - t10) / 1e9
    println(f"  10M canary total: $wallS%.1f s")
    require(wallS < 300,
      f"10M-row canary took $wallS%.1f s — quadratic blowup somewhere")

    println("== aggregation-engine canary: pre-aggregated storage absorbs " +
      "upserts at ingest")
    // 10 commits x 1M partial rows over 100k keys (10M rows, matching
    // the deduplicate canary's scale): the aggregation engine folds
    // sums inside the bucket merge, so steady-state state is O(keys)
    // files (compaction) and the READ costs O(keys) — the raw-events
    // alternative stores 10M rows and pays a corpus groupBy+shuffle on
    // every query. The sums are exact-checkable: sum over all commits
    // of (k + c) for each key k.
    spark.sql("CREATE TABLE graft.d.preagg (k BIGINT, total BIGINT, n BIGINT) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='8'," +
      "'merge-engine'='aggregation'," +
      "'fields.total.aggregate-function'='sum'," +
      "'fields.n.aggregate-function'='sum'," +
      "'compaction.trigger-file-count'='4')")
    val tAggIngest = { val t0 = System.nanoTime()
      (0 until 10).foreach { c =>
        spark.sql("INSERT INTO graft.d.preagg " +
          s"SELECT id % 100000, SUM(id % 100000 + $c), COUNT(*) " +
          "FROM range(0, 1000000) GROUP BY id % 100000")
      }
      (System.nanoTime() - t0) / 1e9 }
    val tAggRead = { val t0 = System.nanoTime()
      val r = spark.sql(
        "SELECT COUNT(*), SUM(total), SUM(n) FROM graft.d.preagg")
        .collect()(0)
      // per key k: 10 commits x 10 rows x (k + c) summed over c=0..9
      // = 100k + 450; total = 100*sum(k) + 450*100000
      val expectTotal = 100L * (99999L * 100000L / 2) + 450L * 100000L
      require(r.getLong(0) == 100000L && r.getLong(1) == expectTotal &&
        r.getLong(2) == 10000000L,
        s"aggregation fold wrong: $r (expect total=$expectTotal)")
      (System.nanoTime() - t0) / 1e9 }
    val aggFiles = new graft.format.SnapshotManager(wh.resolve("d.db/preagg"))
      .liveFilesLatest
    println(f"  10x1M-row partial commits: ingest $tAggIngest%.1f s, " +
      f"folded read over 100k keys $tAggRead%.1f s, " +
      s"live files ${aggFiles.size} (state is O(keys), not O(events))")
    // no super-linear blowup vs the deduplicate engine at the same 10M
    // scale: the per-field fold must stay an O(rows) pass inside the
    // same k-way merge. 3x headroom absorbs host noise and the extra
    // per-commit groupBy the aggregation ingest pays up front.
    println(f"  aggregation/deduplicate ingest ratio: " +
      f"${tAggIngest / tDedupIngest}%.2f (dedup baseline $tDedupIngest%.1f s)")
    require(tAggIngest < 3 * tDedupIngest,
      f"aggregation ingest $tAggIngest%.1f s vs dedup $tDedupIngest%.1f s " +
        "— super-linear fold cost")

    println("== streaming-sink aggregation canary: 10M rows across 5 epochs")
    // the streaming write path (per-epoch writer factory + identity
    // commit + trigger compaction) must sustain the same aggregation
    // fold: 5 AvailableNow micro-batches of 2M raw rows each, folded
    // at ingest into 100k running (sum, count) rows
    val aggSrc = java.nio.file.Files.createTempDirectory("graft-aggstream")
    (0 until 5).foreach { e =>
      spark.range(e * 2000000L, (e + 1) * 2000000L)
        .selectExpr("id % 100000 AS k", "id AS total", "CAST(1 AS BIGINT) AS n")
        .coalesce(1).write.mode("append").parquet(aggSrc.toString)
    }
    spark.sql("CREATE TABLE graft.d.aggsink (k BIGINT, total BIGINT, n BIGINT) " +
      "TBLPROPERTIES ('primary-key'='k','bucket'='8'," +
      "'merge-engine'='aggregation'," +
      "'fields.total.aggregate-function'='sum'," +
      "'fields.n.aggregate-function'='sum'," +
      "'compaction.trigger-file-count'='4')")
    val aggChk = java.nio.file.Files.createTempDirectory("graft-aggstream-chk")
    val tAggStream = { val t0 = System.nanoTime()
      val q = spark.readStream
        .schema("k BIGINT, total BIGINT, n BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(aggSrc.toString)
        .writeStream
        .option("checkpointLocation", aggChk.toString)
        .trigger(Trigger.AvailableNow())
        .toTable("graft.d.aggsink")
      q.awaitTermination()
      (System.nanoTime() - t0) / 1e9 }
    val rs = spark.sql(
      "SELECT COUNT(*), SUM(total), SUM(n) FROM graft.d.aggsink").collect()(0)
    require(rs.getLong(0) == 100000L &&
      rs.getLong(1) == 9999999L * 10000000L / 2 &&
      rs.getLong(2) == 10000000L,
      s"streamed aggregation fold wrong: $rs")
    val sinkSm = new graft.format.SnapshotManager(wh.resolve("d.db/aggsink"))
    val sinkKinds = sinkSm.existingSnapshotIds.map(id =>
      sinkSm.snapshot(id).commitKind)
    require(sinkKinds.contains("COMPACT"),
      s"streaming epochs must trip compaction: ${sinkKinds.mkString(",")}")
    println(f"  5-epoch streamed ingest: $tAggStream%.1f s, " +
      s"live files ${sinkSm.liveFilesLatest.size}, " +
      s"snapshots ${sinkKinds.mkString(",")}")

    println("== probe: $snapshots on a missing table")
    try spark.sql("SELECT * FROM graft.d.`nope$snapshots`").collect()
    catch { case e: Exception => println("  rejected: " + e.getMessage.linesIterator.next()) }

    println("== concurrent commit race: 12 parallel INSERTs")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    spark.sql("CREATE TABLE graft.d.race (k BIGINT)")
    Await.result(Future.sequence((1 to 12).map(i =>
      Future(spark.sql(s"INSERT INTO graft.d.race VALUES ($i)")))), 120.seconds)
    val raceSm = new graft.format.SnapshotManager(wh.resolve("d.db/race"))
    println(s"  rows=${spark.table("graft.d.race").count()} (expect 12); " +
      s"snapshots=${raceSm.existingSnapshotIds.mkString(",")}")

    println("== dedup-pipeline canary: LSH pairs at 10k vs 50k docs")
    // The minhash pipeline's scale contract is near-linearity in the
    // corpus (the quadratic space exists only inside bounded LSH
    // buckets). Run the REAL pipeline (Dedup.nearDupPairs +
    // d_dup_spans via SparkEntry) over synthetic corpora at 4x and
    // 20x the sf0.1 document count and require the 5x data step to
    // cost well under a quadratic step. ~10% of docs are near-copies
    // of a shared template (one token perturbed), so the pair stage
    // has genuine work at both sizes.
    def synthCorpus(n: Long): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-dedup-canary")
      // words must be PURE LETTERS (the tokenizer is [a-z]+): encode a
      // word index as a 3-letter base-26 suffix. Template docs
      // (id % 10 = 0) draw their stream from the shared template id
      // (id div 1000) with ONE id-unique word at position 60 — ~99%
      // shingle overlap within a template group; other docs are
      // id-unique streams.
      // murmur-mix (id, i) so word streams are unstructured — a linear
      // v = a*id + b*i stream makes every doc an arithmetic progression
      // sharing shingles with half the corpus (measured: 17M "near-dup"
      // pairs from 100k docs)
      val v = "pmod(hash((CASE WHEN id % 10 = 0 THEN (id div 1000)" +
        " ELSE id END), i), 17576)"
      val word = s"concat('w', char(97 + ($v) % 26), " +
        s"char(97 + (($v) div 26) % 26), char(97 + (($v) div 676) % 26))"
      val pert = "concat('x', char(97 + id % 26), " +
        "char(97 + (id div 26) % 26), char(97 + (id div 676) % 26))"
      spark.range(0, n, 1, 32).selectExpr(
        "id AS doc_id",
        "concat('s', id % 5) AS source",
        "'en' AS lang",
        s"""concat_ws(' ', transform(sequence(1, 120), i ->
             CASE WHEN id % 10 = 0 AND i = 60 THEN $pert
                  ELSE $word END)) AS text""")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir.toString
    }
    def runDedup(dir: String): (Long, Long, Double) = {
      val t0 = System.nanoTime()
      val nPairs = graft.queries.Dedup.nearDupPairs(spark, dir).count()
      val nSpanDocs = graft.SparkEntry.queries("d_dup_spans")(spark, dir).count()
      ((System.nanoTime() - t0) / 1e9 * 1000).toLong match {
        case ms => (nPairs, nSpanDocs, ms / 1000.0)
      }
    }
    val dirSmall = synthCorpus(10000)
    val dirBig = synthCorpus(50000)
    try {
      val (pairsS, spansS, tS) = runDedup(dirSmall)
      val (pairsB, spansB, tB) = runDedup(dirBig)
      Seq(dirSmall, dirBig).foreach(graft.queries.ArtifactCache.release(spark, _))
      println(f"  10k docs: pairs=$pairsS spanDocs=$spansS in $tS%.1f s; " +
        f"50k docs: pairs=$pairsB spanDocs=$spansB in $tB%.1f s " +
        f"(ratio ${tB / tS}%.1f x for 5x data)")
      require(pairsS > 0 && pairsB > pairsS,
        s"near-dup structure must be detected at both sizes ($pairsS, $pairsB)")
      require(spansB < 25000,
        s"dup-span docs $spansB should be ~the template docs, not the corpus")
      require(tB < 180,
        f"50k-doc pipeline took $tB%.1f s — super-linear blowup somewhere")
      require(tB / tS < 15,
        f"5x data cost ${tB / tS}%.1f x — approaching quadratic (bound 15x)")
    } finally Seq(dirSmall, dirBig).foreach(d =>
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(d)))

    println("== ANN scaling canary: IVF cell-routed search at 200k vs 1M vectors")
    // The serving contract of the s-family: search cost is linear in
    // the corpus (cells bound the candidate set per probe; there is no
    // probes x corpus cartesian). Same kernels as the bench queries
    // (IntVectorSqL2 codegen, array_min cell routing) over synthetic
    // 64-dim int8-range vectors; a quadratic regression would show as
    // a ~25x step for 5x data.
    def annSearch(n: Long): Double = {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import graft.functions.VectorFunctions._
      val t0 = System.nanoTime()
      val vecs = spark.range(0, n, 1, 32).selectExpr("id AS vec_id",
        "transform(sequence(0, 63), d -> CAST(pmod(xxhash64(id, d), 256) AS INT)) AS qv")
      // 16 cells seeded from the first 16 vectors (constant-size
      // driver sync — centroids travel as literals, like the trainer;
      // 16 keeps the routing expression inside one codegen method —
      // 64 cells measured 25x slower via interpreted fallback)
      val cents = vecs.filter(col("vec_id") < 16).orderBy("vec_id")
        .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSeq)).toSeq
      def cdists(v: org.apache.spark.sql.Column) =
        array(cents.map { case (cid, cv) =>
          struct(vec_sql2_int(v, typedLit(cv)).as("dist"),
            lit(cid).as("cid")) }: _*)
      // persist: the assignment scan feeds both the probe routing and
      // the candidate side of the join; at 1M x 16 cells x 64 dims the
      // recompute dwarfs the cache round-trip
      val assigned = vecs
        .withColumn("cell", array_min(cdists(col("qv"))).getField("cid"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // 10 probes route to their nprobe=2 nearest cells
        val probes = assigned.filter(col("vec_id") < 10)
          .withColumn("cd", cdists(col("qv")))
          .select(col("vec_id").as("query_id"), col("qv").as("pqv"),
            explode(expr(
              "transform(slice(array_sort(cd), 1, 2), x -> x.cid)")).as("cell"))
        val top = probes.join(assigned.select(
            col("vec_id").as("cand_id"), col("qv"), col("cell")), "cell")
          .withColumn("dist", vec_sql2_int(col("pqv"), col("qv")))
          .withColumn("rank", row_number().over(Window.partitionBy("query_id")
            .orderBy(col("dist"), col("cand_id"))))
          .filter(col("rank") <= 5)
          .select("query_id", "rank", "cand_id", "dist").collect()
        require(top.length == 50, s"expected 10x5 results, got ${top.length}")
        // each probe is in the corpus and routes to its own cell: top-1
        // must be itself at distance 0
        require(top.filter(_.getInt(1) == 1).forall(r =>
          r.getLong(0) == r.getLong(2) && r.getLong(3) == 0L),
          "probe must find itself at rank 1")
      } finally assigned.unpersist(blocking = true)
      (System.nanoTime() - t0) / 1e9
    }
    annSearch(20000) // untimed: JIT + codegen warmup off the books
    val tAnnS = annSearch(200000)
    val tAnnB = annSearch(1000000)
    println(f"  200k vecs: $tAnnS%.1f s; 1M vecs: $tAnnB%.1f s " +
      f"(ratio ${tAnnB / tAnnS}%.1f x for 5x data)")
    require(tAnnB / tAnnS < 12,
      f"5x vectors cost ${tAnnB / tAnnS}%.1f x — candidate set is not " +
        "cell-bounded (bound 12x)")

    println("== COW rewrite-amplification canary: point DML rewrites " +
      "exactly one (partition, bucket) group")
    // scale proof for the r15 group-granular pruning fix: on a
    // many-group COW table (non-dedup engine => key-predicated DML
    // rewrites whole merge groups), a point DELETE must plan and
    // rewrite ONE group out of 32 — both with Spark's runtime _file
    // group filter (the default) and with it disabled, where only the
    // scan's own partition/bucket/zone-map group pruning bounds the
    // rewrite. At 100 TB the difference is rewriting ~1/32 of a
    // partition vs the whole table per point DML.
    spark.sql("CREATE TABLE graft.d.cow (p INT, k BIGINT, v STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('primary-key'='p,k'," +
      "'bucket'='4','merge-engine'='first-row')")
    timed("write 10M rows across 8 partitions x 4 buckets") {
      spark.sql("INSERT INTO graft.d.cow SELECT CAST(id % 8 AS INT), " +
        "id, CAST(id AS STRING) FROM range(0, 10000000)")
    }
    val cowSm = new graft.format.SnapshotManager(wh.resolve("d.db/cow"))
    def cowGroups(): Map[(Seq[String], Int), Set[String]] =
      cowSm.liveFilesLatest
        .groupBy(f => (f.partition, f.bucket))
        .map { case (g, fs) => g -> fs.map(_.fileName).toSet }
    def touched(before: Map[(Seq[String], Int), Set[String]],
        after: Map[(Seq[String], Int), Set[String]])
        : Set[(Seq[String], Int)] =
      (before.keySet ++ after.keySet)
        .filter(g => before.get(g) != after.get(g))
    require(cowGroups().size == 32, s"expected 32 groups, got " +
      s"${cowGroups().size}")
    def pointDelete(p: Int, k: Long, tag: String)
        : Set[(Seq[String], Int)] = {
      val before = cowGroups()
      timed(s"point DELETE p=$p k=$k ($tag)") {
        spark.sql(s"DELETE FROM graft.d.cow WHERE p = $p AND k = $k")
      }
      touched(before, cowGroups())
    }
    val g1 = pointDelete(3, 1234563L, "runtime _file group filter ON")
    require(g1.size == 1 && g1.head._1 == Seq("3"),
      s"expected one rewritten group in partition 3, got $g1")
    spark.conf.set(
      "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled",
      "false")
    val g2 =
      try pointDelete(5, 1000005L, "runtime _file group filter OFF")
      finally spark.conf.set(
        "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled",
        "true")
    require(g2.size == 1 && g2.head._1 == Seq("5"),
      s"expected one rewritten group in partition 5 without the " +
        s"runtime filter, got $g2")
    val cowRows = spark.table("graft.d.cow").count()
    require(cowRows == 9999998L, s"expected 9999998 rows, got $cowRows")
    println(s"  both DMLs rewrote exactly 1 of 32 groups; rows=$cowRows")

    spark.stop()
    // the 10M-row canary warehouse and the streamed-aggregation source
    // are ~600 MB+ — repeated runs must not accumulate them in the
    // system temp dir
    Seq(wh, ckpt, sink, aggSrc, aggChk)
      .foreach(graft.util.Fs.deleteRecursively)
  }
}
