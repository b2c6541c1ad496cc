package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Serving-path soak for the PERSISTED artifacts — the prune-ratio
  * arithmetic behind the 100 TB claim, measured (not asserted) at
  * ~100-500× bench scale on local[32] and recorded in BASELINE.md:
  *
  *  1. IVF-PQ index ([[graft.pipeline.SimilarityOps.writeIvfPqIndex]]):
  *     1M dim-64 vectors stored as PQ codes partitioned by IVF cell
  *     (k=256 trained centroids), probed with 8 queries at nProbes=2 —
  *     the probe must READ only the probed cells' files, ≈ 2/256 of the
  *     corpus per query.
  *  2. Z-order layout ([[graft.pipeline.LayoutOps.writeZordered]]): 10M
  *     rows over (narrow x, WIDE epoch-micros-scale t) — the wide span
  *     exercises the DECIMAL(38,0) bucketing path at scale — probed
  *     with a 1-bucket × 2-bucket value box, vs the full-scan filter
  *     both for the same answer (correctness) and for wall-clock (the
  *     layout's win).
  *
  * Scanned files/bytes come from the FileSourceScanExec's own metrics
  * (what the scan actually selected after partition pruning), compared
  * against a directory walk's totals. AQE is OFF in this main ONLY so
  * the scan nodes are collectible from the executed plan — the probes
  * are broadcast joins + partition-pruned scans whose shapes AQE would
  * not change (PlanAuditSpec covers the AQE-on shapes).
  *
  * Inputs are deterministic functions of spark.range (xxhash64 mixing)
  * — no files, no RNG. Args: [nVecs] [nRows] (defaults 1M / 10M). */
object ServeSoakMain {
  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val nRows = args.drop(1).headOption.map(_.toLong).getOrElse(10000000L)
    val spark = GraftSession()
    spark.conf.set("spark.sql.adaptive.enabled", "false") // see the header

    def time[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$label%-52s $s%8.2f s"); (r, s)
    }

    /** (files, bytes) the executed plan's parquet scans under `pathFrag`
      * actually selected — post-pruning, from the scan's own metrics. */
    def scannedUnder(df: DataFrame, pathFrag: String): (Long, Long) = {
      val scans = df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(pathFrag)) => f
      }
      require(scans.nonEmpty, s"no parquet scan under $pathFrag in the probe plan")
      (scans.map(_.metrics("numFiles").value).sum,
        scans.map(_.metrics("filesSize").value).sum)
    }

    /** Directory-walk totals: (partition dirs, files, bytes). */
    def dirTotals(path: String): (Long, Long, Long) = {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val root = Paths.get(path)
      val all = Files.walk(root).iterator().asScala.toVector
      val dirs = all.count(p => Files.isDirectory(p) &&
        p.getFileName.toString.contains("="))
      val files = all.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      (dirs, files.size, files.map(Files.size).sum)
    }

    // ---- 1. IVF-PQ index: build once, serve many --------------------------
    import graft.pipeline.SimilarityOps
    val dim = 64
    def embed(seed: Int) = expr(
      s"transform(sequence(0, ${dim - 1}), " +
        s"j -> CAST((pmod(xxhash64(id, j, $seed), 1999) - 999) / 500.0 AS FLOAT))")
    val corpus = spark.range(nVecs)
      .select(col("id").as("vec_id"), embed(1).as("embedding"))
    val ivfPath = java.nio.file.Files.createTempDirectory("graft_soak_ivfpq").toString

    val (cents, _) = time(f"k-means k=256 over ${nVecs / 50}%,d-vector sample") {
      SimilarityOps.kmeansCentroids(
        corpus.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
        k = 256, iters = 2)
    }
    val (books, _) = time("PQ codebooks (4 subspaces x 16 codes, trained)") {
      SimilarityOps.pqCodebooksTrained(corpus, "vec_id", "embedding",
        numSubspaces = 4, numCodes = 16, iters = 2, trainStride = 50)
    }
    val (_, tBuild) = time(f"write IVF-PQ index over $nVecs%,d dim-$dim vectors") {
      SimilarityOps.writeIvfPqIndex(corpus, "vec_id", "embedding",
        cents, books, ivfPath)
    }
    val (ivfCells, ivfFiles, ivfBytes) = dirTotals(s"$ivfPath/codes")
    println(f"  index: $ivfCells%,d cell dirs, $ivfFiles%,d files, ${ivfBytes / 1e6}%.1f MB" +
      f" (raw floats would be ${nVecs * dim * 4 / 1e6}%.1f MB)")

    val queries = spark.range(8)
      .select((col("id") + nVecs).as("vec_id"), embed(2).as("embedding"))
    // the action runs the probe df's OWN QueryExecution (count() would
    // plan a separate aggregate query and leave these scan metrics empty)
    val (probed, tProbe) = time("probe IVF-PQ index: 8 queries, nProbes=2, k=10") {
      val r = SimilarityOps.probeIvfPqIndex(spark, ivfPath, queries,
        "vec_id", "embedding", k = 10, nProbes = 2)
      val n = r.queryExecution.toRdd.count(); (r, n)
    }
    val (pFiles, pBytes) = scannedUnder(probed._1, "codes")
    println(f"  probe returned ${probed._2}%,d rows; scanned $pFiles%,d/$ivfFiles%,d files, " +
      f"${pBytes / 1e6}%.2f/${ivfBytes / 1e6}%.1f MB = ${100.0 * pBytes / ivfBytes}%.2f%% " +
      f"(per query: 2/$ivfCells%,d cells = ${200.0 / ivfCells}%.2f%%)")

    // ---- 1b. daily-crawl cycle: append -> probe -> compact -> probe -------
    val nApp = math.max(nVecs / 10, 1L)
    val appendVecs = spark.range(nApp)
      .select((col("id") + 2 * nVecs).as("vec_id"), embed(3).as("embedding"))
    val (_, tApp) = time(f"append $nApp%,d vectors (stored quantizers)") {
      SimilarityOps.appendIvfPqIndex(spark, ivfPath, appendVecs,
        "vec_id", "embedding")
    }
    val (_, aFiles, _) = dirTotals(s"$ivfPath/codes")
    val (probedA, tProbeA) = time("probe after append (pre-compaction)") {
      val r = SimilarityOps.probeIvfPqIndex(spark, ivfPath, queries,
        "vec_id", "embedding", k = 10, nProbes = 2)
      val n = r.queryExecution.toRdd.count(); (r, n)
    }
    val (_, tCompact) = time("compact codes tree") {
      SimilarityOps.compactIvfPqIndex(spark, ivfPath)
    }
    val (_, cFiles, cBytes) = dirTotals(s"$ivfPath/codes")
    val (probedC, tProbeC) = time("probe after compaction") {
      val r = SimilarityOps.probeIvfPqIndex(spark, ivfPath, queries,
        "vec_id", "embedding", k = 10, nProbes = 2)
      val n = r.queryExecution.toRdd.count(); (r, n)
    }
    require(probedC._2 == probedA._2,
      s"compaction changed probe row count: ${probedA._2} -> ${probedC._2}")
    println(f"  cycle: files $ivfFiles%,d -> $aFiles%,d after append -> " +
      f"$cFiles%,d after compaction; probe $tProbeA%.2f s -> $tProbeC%.2f s")

    // ---- 1d. streaming ANN serving: rate-limited query stream -------------
    // the end-to-end serving claim measured through the STREAMING entry
    // point (PipelineStreams.annProbeStream): each micro-batch's cell
    // union becomes a literal partition filter on the codes scan, so
    // every batch should scan ~(distinct probed cells)/cells of the
    // index, same arithmetic as the batch probe — recorded per batch
    // from the probe plan's own scan metrics.
    val batchStats =
      java.util.Collections.synchronizedList(
        new java.util.ArrayList[(Long, Long, Long, Long, Double)]())
    val qStream = spark.readStream.format("rate")
      .option("rowsPerSecond", 4).load()
      .select(col("value").as("id")) // embed() mixes over an `id` column
      .select((col("id") + 3 * nVecs).as("vec_id"),
        embed(4).as("embedding"))
    val (sq, _) = time("start streaming ANN probe (4 queries/s, k=10, nProbes=2)") {
      graft.streaming.PipelineStreams.annProbeStream(qStream, ivfPath,
        "vec_id", "embedding", k = 10, nProbes = 2) { (r, bid) =>
        val t0 = System.nanoTime()
        val n = r.queryExecution.toRdd.count()
        val secs = (System.nanoTime() - t0) / 1e9
        val (bf, bb) = scannedUnder(r, "codes")
        batchStats.add((bid, n, bf, bb, secs))
      }
    }
    val streamT0 = System.nanoTime()
    while (batchStats.size < 5 && (System.nanoTime() - streamT0) / 1e9 < 120)
      Thread.sleep(250)
    sq.stop()
    require(batchStats.size >= 5,
      s"streaming soak produced only ${batchStats.size} non-empty batches in 120 s")
    import scala.jdk.CollectionConverters._
    val stats = batchStats.asScala.toVector.sortBy(_._1)
    stats.foreach { case (bid, n, bf, bb, secs) =>
      println(f"  stream batch $bid%3d: $n%4d rows in $secs%5.2f s; scanned " +
        f"$bf%,d/$cFiles%,d files, ${bb / 1e6}%.2f/${cBytes / 1e6}%.1f MB = " +
        f"${100.0 * bb / cBytes}%.2f%%")
    }
    val maxPrune = stats.map(s => 100.0 * s._4 / cBytes).max
    val medBatch = stats.map(_._5).sorted.apply(stats.size / 2)
    println(f"  stream: ${stats.size} batches, median probe $medBatch%.2f s, " +
      f"worst byte-prune $maxPrune%.2f%%")

    // ---- 1e. streaming stored-MinHash-index near-dup screen ---------------
    // the ingest-time daily-crawl screen measured end to end: build the
    // index once over nDocs synthetic docs, DELTA-MERGE append a 10%
    // crawl (cost must track the delta, not the corpus), then screen a
    // rate-limited doc stream where 1 in 5 arrivals is a near-copy
    // (one word mutated) of an index doc. The map-only bloom prescreen
    // ratio is measured batch-style with the SAME stored bitmap and
    // band arithmetic the stream compiles in.
    import graft.pipeline.DedupOps
    val nDocs = math.max(nVecs / 2, 1000L)
    def docText(idExpr: String, seed: Int) =
      s"array_join(transform(sequence(0, 29), " +
        s"j -> concat('w', pmod(xxhash64($idExpr, j, $seed), 5000))), ' ')"
    val idxDocs = spark.range(nDocs)
      .select(col("id").as("doc_id"), expr(docText("id", 11)).as("text"))
    val mhPath = java.nio.file.Files.createTempDirectory("graft_soak_mh").toString
    // size the bloom to the corpus: ~4 distinct band keys per doc, and
    // prune power needs ~16 bits/key — the default 2^20 (sized for the
    // bench-scale gate) saturates past ~50k docs (measured: 50.6% of
    // keys "pass" at 100k docs = no prune). The knob is in the artifact
    // meta, so probes and streams pick it up with zero code changes.
    val mhBloomBits = java.lang.Long.highestOneBit(
      math.max(16L * 4L * nDocs, 1L << 20)).toInt << 1
    val (_, tMhBuild) = time(f"write MinHash index over $nDocs%,d docs " +
        f"(bloom ${mhBloomBits / 8 / 1024}%,d KB)") {
      DedupOps.writeMinhashIndex(idxDocs, "text", "doc_id", mhPath,
        bloomBits = mhBloomBits)
    }
    val nMhApp = math.max(nDocs / 10, 1L)
    val appDocs = spark.range(nMhApp)
      .select((col("id") + nDocs).as("doc_id"), expr(docText("id", 12)).as("text"))
    val (_, tMhApp) = time(f"delta-merge append $nMhApp%,d docs (10%% crawl)") {
      DedupOps.appendMinhashIndex(spark, mhPath, appDocs, "text", "doc_id")
    }
    println(f"  append/build = ${tMhApp / tMhBuild}%.2f x at a 0.10 delta " +
      "(delta-proportional when well under 1)")
    // arriving-doc generator: near-copy of index doc (sid%nDocs) with one
    // mutated word when sid%5=0, fresh text otherwise
    val arrivalText =
      s"""CASE WHEN sid % 5 = 0 THEN
         |  array_join(transform(sequence(0, 29),
         |    j -> CASE WHEN j = pmod(sid, 30) THEN 'MUTANT'
         |         ELSE concat('w', pmod(xxhash64(pmod(sid, $nDocs), j, 11), 5000)) END), ' ')
         |ELSE ${docText("sid", 13)} END""".stripMargin
    // measured prescreen: same stored bitmap + band arithmetic the
    // stream compiles in, over one batch-shaped arrival population
    val mhMeta = DedupOps.readMinhashIndexMeta(spark, mhPath)
    val mhBits = DedupOps.readStoredBloom(spark, mhPath, mhMeta)
    val arrivalPop = spark.range(2000)
      .select(col("id").as("sid")).selectExpr("sid", s"$arrivalText AS text")
    val popKeys = arrivalPop.select(col("sid"),
      posexplode(DedupOps.lshBandKeys(
        DedupOps.minhashSignature(col("text"), mhMeta.shingleK, mhMeta.numHashes),
        mhMeta.bands, mhMeta.numHashes / mhMeta.bands))
        .as(Seq("band_idx", "band_hash")))
      .withColumn("pass", graft.functions.BloomFilter.mightContainCol(
        DedupOps.bloomKey(col("band_idx"), col("band_hash")),
        mhBits, mhMeta.bloomHashes, mhMeta.bloomBits))
    val pre = popKeys.agg(count(lit(1)), sum(when(col("pass"), 1L).otherwise(0L)),
        countDistinct(col("sid")),
        countDistinct(when(col("pass"), col("sid")))).collect()(0)
    println(f"  prescreen: ${pre.getLong(1)}%,d/${pre.getLong(0)}%,d band keys pass the " +
      f"stored bloom (${100.0 * pre.getLong(1) / pre.getLong(0)}%.1f%%); " +
      f"${pre.getLong(3)}%,d/${pre.getLong(2)}%,d docs reach the join " +
      f"(${100.0 * pre.getLong(3) / pre.getLong(2)}%.1f%%)")
    val mhBatchStats =
      java.util.Collections.synchronizedList(
        new java.util.ArrayList[(Long, Long, Double)]())
    val docStream = spark.readStream.format("rate")
      .option("rowsPerSecond", 50).load()
      .select(col("value").as("sid"), col("timestamp"))
      .selectExpr("sid AS doc_id", s"$arrivalText AS text", "timestamp")
    val mhFlags = graft.streaming.PipelineStreams.nearDupStoredIndexFlagsStream(
      spark, mhPath, docStream, "text", "doc_id", "timestamp", "10 seconds")
    val (mq, _) = time("start streaming stored-index near-dup screen (50 docs/s)") {
      mhFlags.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val t0 = System.nanoTime()
          val n = batch.count()
          mhBatchStats.add((batchId, n, (System.nanoTime() - t0) / 1e9))
          () // the sink lambda must be Unit-typed for the Scala overload
        }
        .start()
    }
    val mhT0 = System.nanoTime()
    while (mhBatchStats.asScala.count(_._2 > 0) < 5 &&
        (System.nanoTime() - mhT0) / 1e9 < 180)
      Thread.sleep(250)
    mq.stop()
    val mhStats = mhBatchStats.asScala.toVector.filter(_._2 > 0).sortBy(_._1)
    require(mhStats.size >= 5,
      s"minhash stream soak produced only ${mhStats.size} flagging batches in 180 s")
    mhStats.foreach { case (bid, n, secs) =>
      println(f"  mh-stream batch $bid%3d: $n%5d flags in $secs%5.2f s")
    }
    val mhMed = mhStats.map(_._3).sorted.apply(mhStats.size / 2)
    val mhFlagRate = mhStats.map(_._2).sum /
      math.max((System.nanoTime() - mhT0) / 1e9, 1e-9)
    println(f"  mh-stream: ${mhStats.size} flagging batches, median batch " +
      f"$mhMed%.2f s, ${mhFlagRate}%.0f flags/s sustained")

    // ---- 1f. stored-LM scoring (train weekly, score daily) ----------------
    // the fifth artifact lifecycle measured end to end: train the bigram
    // LM over the SAME synthetic corpus the MinHash index indexed,
    // delta-merge append the 10% crawl (cost must track the delta), then
    // score a day's worth of arrivals batch-side (docs/s) and through
    // the streaming twin at a rate limit.
    import graft.pipeline.TextOps
    val lmPath = java.nio.file.Files.createTempDirectory("graft_soak_lm").toString
    val (_, tLmBuild) = time(f"write LM model over $nDocs%,d docs") {
      TextOps.writeLmModel(idxDocs, "text", "doc_id", lmPath)
    }
    val (_, tLmApp) = time(f"delta-merge append $nMhApp%,d docs (10%% crawl)") {
      TextOps.appendLmModel(spark, lmPath, appDocs, "text", "doc_id")
    }
    println(f"  append/build = ${tLmApp / tLmBuild}%.2f x at a 0.10 delta " +
      "(delta-proportional when well under 1)")
    val lmMeta = TextOps.readLmModelMeta(spark, lmPath)
    println(f"  model: V=${lmMeta.v}%,d contexts, ${lmMeta.c2Rows}%,d bigram rows, " +
      f"epoch ${lmMeta.epoch}")
    val nScore = math.max(nDocs / 5, 1000L)
    val scorePop = spark.range(nScore)
      .select(col("id").as("doc_id"), expr(docText("id", 14)).as("text"))
    val (scoredN, tLmScore) = time(f"batch-score $nScore%,d docs from storage") {
      TextOps.scoreAgainstStoredLm(spark, lmPath, scorePop, "text", "doc_id")
        .filter(col("n_bigrams") > 0).count()
    }
    println(f"  scored $scoredN%,d docs at ${scoredN / tLmScore}%.0f docs/s " +
      "(model read from storage, no training scan)")
    val lmBatchStats =
      java.util.Collections.synchronizedList(
        new java.util.ArrayList[(Long, Long, Double)]())
    val lmDocStream = spark.readStream.format("rate")
      .option("rowsPerSecond", 200).load()
      .select(col("value").as("sid"), col("timestamp"))
      .selectExpr("sid AS doc_id", s"${docText("sid", 15)} AS text", "timestamp")
    val lmScores = graft.streaming.PipelineStreams.lmScoreStream(
      spark, lmPath, lmDocStream, "text", "doc_id", "timestamp", "5 seconds")
    val (lq, _) = time("start streaming stored-LM scorer (200 docs/s)") {
      lmScores.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val t0 = System.nanoTime()
          val n = batch.count()
          lmBatchStats.add((batchId, n, (System.nanoTime() - t0) / 1e9))
          ()
        }
        .start()
    }
    val lmT0 = System.nanoTime()
    while (lmBatchStats.asScala.count(_._2 > 0) < 5 &&
        (System.nanoTime() - lmT0) / 1e9 < 180)
      Thread.sleep(250)
    lq.stop()
    val lmStats = lmBatchStats.asScala.toVector.filter(_._2 > 0).sortBy(_._1)
    require(lmStats.size >= 5,
      s"lm stream soak produced only ${lmStats.size} scoring batches in 180 s")
    val lmMed = lmStats.map(_._3).sorted.apply(lmStats.size / 2)
    val lmRate = lmStats.map(_._2).sum /
      math.max((System.nanoTime() - lmT0) / 1e9, 1e-9)
    println(f"  lm-stream: ${lmStats.size} scoring batches, median batch " +
      f"$lmMed%.2f s, ${lmRate}%.0f scored docs/s sustained")

    // ---- 1f2. epoch GC: 10 delta-appends, flat artifact storage -----------
    // the storage half of the append story: every append commits a NEW
    // immutable epoch, so WITHOUT the shared GC (MetaIO.pruneEpochs) an
    // append-heavy deployment holds every relation version ever written.
    // 9 more LM appends (10 commits total on lmPath) measuring, after
    // each, the epoch-dir count and on-disk bytes under counts+ctx vs
    // the no-GC counterfactual (cumulative bytes of every epoch as it
    // was committed). The invariant REQUIRED here: never more than
    // {current, superseded} epochs on disk, so storage tracks ~2x the
    // live relation instead of growing with append count.
    def lmEpochDirs(): Vector[java.io.File] =
      Seq("counts", "ctx").flatMap { rel =>
        Option(new java.io.File(s"$lmPath/$rel").listFiles()).toSeq.flatten
          .filter(f => f.isDirectory && f.getName.startsWith("e") &&
            f.getName.drop(1).forall(_.isDigit))
      }.toVector
    def treeBytes(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    var gcNoGcBytes = lmEpochDirs().map(treeBytes).sum // epochs 0+1 live now
    var gcMaxDirs = lmEpochDirs().map(_.getName).distinct.size
    val (_, tGcAppends) = time("epoch GC soak: 9 more LM delta-appends") {
      (2 to 10).foreach { i =>
        val slice = spark.range(nMhApp)
          .select((col("id") + i * nDocs).as("doc_id"),
            expr(docText("id", 15 + i)).as("text"))
        TextOps.appendLmModel(spark, lmPath, slice, "text", "doc_id")
        val dirs = lmEpochDirs()
        val names = dirs.map(_.getName).distinct.sorted
        require(names.size <= 2,
          s"epoch GC failed after append $i: $names on disk under counts/ctx")
        // the no-GC counterfactual accumulates each NEW epoch as committed
        gcNoGcBytes += dirs.filter(_.getName == s"e$i").map(treeBytes).sum
        gcMaxDirs = math.max(gcMaxDirs, names.size)
      }
    }
    val gcFinalDirs = lmEpochDirs()
    val gcFinalBytes = gcFinalDirs.map(treeBytes).sum
    val gcFinalFiles = {
      def cnt(f: java.io.File): Long =
        if (f.isFile) { if (f.getName.endsWith(".parquet")) 1L else 0L }
        else Option(f.listFiles()).toSeq.flatten.map(cnt).sum
      gcFinalDirs.map(cnt).sum
    }
    val gcMeta = TextOps.readLmModelMeta(spark, lmPath)
    require(gcMeta.epoch == 10L, s"expected epoch 10, got ${gcMeta.epoch}")
    println(f"  epoch GC: 10 commits, max ${gcMaxDirs} epoch generations on " +
      f"disk (grace pair only); final ${gcFinalFiles}%,d files / " +
      f"${gcFinalBytes / 1e6}%.1f MB vs ${gcNoGcBytes / 1e6}%.1f MB had no " +
      f"epoch ever been pruned (${gcNoGcBytes.toDouble / gcFinalBytes}%.1f x)")
    // and the GC'd artifact still serves: scoring sanity after 10 commits
    require(TextOps.scoreAgainstStoredLm(spark, lmPath,
        scorePop.limit(100), "text", "doc_id").count() == 100L,
      "stored-LM scoring broke after the GC soak")

    // ---- 1g. stored decontamination index (build once, screen daily) ------
    // the sixth artifact at soak scale: a 20k-doc benchmark union commits
    // as the stored index (shingles + pre-built bloom), then a crawl of
    // nDocs synthetic docs — 1 in 50 an exact copy of a bench doc —
    // screens against STORAGE only. The bloom prescreen ratio is read
    // from the same counters the screen's plan uses.
    val dcBench = spark.range(20000L)
      .select(col("id").as("doc_id"), expr(docText("id", 21)).as("text"))
    val dcPath = java.nio.file.Files.createTempDirectory("graft_soak_dc").toString
    val dcBits = java.lang.Long.highestOneBit(
      math.max(16L * 28L * 20000L, 1L << 20)).toInt << 1
    val (_, tDcBuild) = time(f"write decontam index over 20,000 bench docs " +
        f"(bloom ${dcBits / 8 / 1024}%,d KB)") {
      graft.pipeline.TextOps.writeDecontamIndex(dcBench, "text", "doc_id",
        dcPath, shingleK = 3, numBits = dcBits)
    }
    val crawlText =
      s"CASE WHEN sid % 50 = 0 THEN ${docText(s"pmod(sid, 20000)", 21)} " +
        s"ELSE ${docText("sid", 22)} END"
    val dcCrawl = spark.range(nDocs)
      .select(col("id").as("sid")).selectExpr("sid AS doc_id", s"$crawlText AS text")
    val dcMeta = graft.pipeline.TextOps.readDecontamIndexMeta(spark, dcPath)
    println(f"  index: ${dcMeta.shRows}%,d stored shingle rows, epoch ${dcMeta.epoch}")
    // measured prescreen: the stored bitmap over the crawl's shingles
    val dcWords = {
      val w = new Array[Long](dcMeta.numBits / 64)
      spark.read.parquet(s"$dcPath/bloom/e${dcMeta.epoch}")
        .collect().foreach(r => w(r.getInt(0)) = r.getLong(1))
      w
    }
    val dcSh = dcCrawl.select(col("doc_id"),
      explode(graft.functions.TokenShingleHash.shingleHashes(col("text"), 3)).as("sh"))
    val dcPre = dcSh.agg(count(lit(1)),
        sum(when(graft.functions.BloomFilter.mightContainCol(
          col("sh"), dcWords, dcMeta.numHashes, dcMeta.numBits), 1L).otherwise(0L)))
      .collect()(0)
    println(f"  prescreen: ${dcPre.getLong(1)}%,d/${dcPre.getLong(0)}%,d crawl shingles pass " +
      f"the stored bloom (${100.0 * dcPre.getLong(1) / dcPre.getLong(0)}%.1f%%, " +
      "2.0% of docs are true copies)")
    val (dcFlags, tDcScreen) = time(f"screen $nDocs%,d crawl docs from storage") {
      graft.pipeline.TextOps.screenAgainstStoredDecontam(
        spark, dcPath, dcCrawl, "text", "doc_id", minOverlap = 5L).count()
    }
    println(f"  flagged $dcFlags%,d contaminated docs at " +
      f"${nDocs / tDcScreen}%.0f docs/s (index text never re-read; " +
      f"build was $tDcBuild%.2f s, amortized across every future crawl)")

    // ---- 1c. SemDeDup under adversarial cluster skew ----------------------
    // 90% of the corpus is ONE tight cluster (base direction + small
    // noise) — the shape that makes a within-cluster pairwise sweep
    // O((0.9n)²) and a per-cluster window one giant sort. The
    // representative variant must stay linear: wall-clock within small
    // factors of a BALANCED corpus of the same size, no window in plan.
    def skewed = spark.range(nVecs).select(col("id").as("vec_id"),
      expr(s"""CASE WHEN id % 10 < 9 THEN
           |  transform(sequence(0, ${dim - 1}), j -> CAST(
           |    0.8 + (pmod(xxhash64(id, j, 7), 101) - 50) / 5000.0 AS FLOAT))
           |ELSE
           |  transform(sequence(0, ${dim - 1}), j -> CAST(
           |    (pmod(xxhash64(id, j, 8), 1999) - 999) / 500.0 AS FLOAT))
           |END""".stripMargin).as("embedding"))
    val sCents = SimilarityOps.kmeansCentroids(
      skewed.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
      k = 16, iters = 1)
    // warmup at 2% scale: the first semanticDedup run in a JVM pays
    // ~30 s of JIT on the DECIMAL(38,0) verdict arithmetic (measured
    // 50.8 s -> 18.8 s first-vs-second run at 1M); the timed pair
    // below should measure the operator, not the JIT — the same
    // steady-state discipline as Bench's warmup pass.
    time("semanticDedup warmup (2% slice)") {
      SimilarityOps.semanticDedup(
        skewed.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
        sCents, 950).filter(col("is_dup")).count()
    }
    val (skewDups, tSkew) = time(f"semanticDedup: $nVecs%,d vectors, 90%% one cluster") {
      SimilarityOps.semanticDedup(skewed, "vec_id", "embedding", sCents, 950)
        .filter(col("is_dup")).count()
    }
    val bCents = SimilarityOps.kmeansCentroids(
      corpus.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
      k = 16, iters = 1)
    val (balDups, tBal) = time(f"semanticDedup: $nVecs%,d vectors, balanced") {
      SimilarityOps.semanticDedup(corpus, "vec_id", "embedding", bCents, 950)
        .filter(col("is_dup")).count()
    }
    println(f"  semdedup: skewed $skewDups%,d dups in $tSkew%.2f s vs " +
      f"balanced $balDups%,d dups in $tBal%.2f s (ratio ${tSkew / tBal}%.2f x)")

    // ---- 2. Z-order layout: one write, windowed probes --------------------
    import graft.pipeline.LayoutOps
    val xSpan = 1000000L
    val tSpan = 1600000000000000000L // ~epoch-micros scale: DECIMAL bucketing path
    def rows = spark.range(nRows).select(col("id"),
      pmod(xxhash64(col("id"), lit(1)), lit(xSpan)).as("x"),
      pmod(xxhash64(col("id"), lit(2)), lit(tSpan)).as("t"))
    val zPath = java.nio.file.Files.createTempDirectory("graft_soak_z").toString
    val (_, tZWrite) = time(f"write Z-ordered layout over $nRows%,d rows (16x16 cells)") {
      LayoutOps.writeZordered(rows, "x", "t", bitsPer = 4, zPath,
        ranges = Some((0L, xSpan - 1, 0L, tSpan - 1)))
    }
    val (zCells, zFiles, zBytes) = dirTotals(s"$zPath/data")
    println(f"  layout: $zCells%,d zcell dirs, $zFiles%,d files, ${zBytes / 1e6}%.1f MB")

    // one x-bucket wide, two t-buckets tall => 2 of 256 cells
    val (aLo, aHi) = (250000L, 310000L)
    val (bLo, bHi) = (400000000000000000L, 500000000000000000L)
    val boxDf = LayoutOps.readZorderBox(spark, zPath, aLo, aHi, bLo, bHi)
    val (boxN, tBox) = time("probe Z-order box (2 of 256 cells)") {
      boxDf.queryExecution.toRdd.count()
    }
    val (zpFiles, zpBytes) = scannedUnder(boxDf, "data")
    val (bruteN, tBrute) = time("same box, full-scan filter (no layout)") {
      rows.filter(col("x").between(aLo, aHi) && col("t").between(bLo, bHi)).count()
    }
    require(boxN == bruteN, s"layout probe returned $boxN rows, brute force $bruteN")
    println(f"  box: $boxN%,d rows; scanned $zpFiles%,d/$zFiles%,d files, " +
      f"${zpBytes / 1e6}%.2f/${zBytes / 1e6}%.1f MB = ${100.0 * zpBytes / zBytes}%.2f%%; " +
      f"probe $tBox%.2f s vs full scan $tBrute%.2f s " +
      f"(build amortizes over ${tZWrite / math.max(tBrute - tBox, 0.01)}%.0f probes)")

    println(f"SOAK OK  ivfpq build $tBuild%.1f s probe $tProbe%.2f s " +
      f"append $tApp%.1f s compact $tCompact%.1f s | semdedup $tSkew%.1f s | " +
      f"zorder write $tZWrite%.1f s probe $tBox%.2f s")
    spark.stop()
  }
}
