package graft

import org.apache.spark.sql.functions._

/** Multimodal-track soak — the measured numbers behind the container
  * walks at ~1000× the oracle-gate scale, all inputs deterministic
  * functions of spark.range (no files, no RNG) and every leg's row
  * count `require`d against a CLOSED-FORM truth from the generator
  * formulas:
  *
  *  1. MP4 sample-table metadata pass over N clips — the pass a video
  *     corpus runs before deciding which samples to fetch. Truth:
  *     Σ (4 + id%5) resolved sample rows.
  *  2. MP4 frame demux + REAL PNG decode (sample-table-driven fetch,
  *     stride 2) over a smaller N — decode-bound by design. Truth:
  *     Σ ceil((3 + id%4)/2) decoded frames.
  *  3. FLAC STREAMINFO columnar parse over N heads. Truth: Σ of the
  *     packed 36-bit total-samples formula, summed exactly.
  *  4. Truncation robustness at scale: every id ≡ 0 (mod 3) clip loses
  *     its tail (camera layout → the sample table goes with it); the
  *     walk must yield EXACTLY the untruncated clips' rows, no
  *     exceptions anywhere.
  *
  * Args: [nMeta] [nDecode] [nFlac] [nBig] (defaults 200k / 20k / 500k /
  * 100k; nBig sizes the non-periodic fingerprint leg). */
object MediaSoakMain {
  def main(args: Array[String]): Unit = {
    val nMeta = args.headOption.map(_.toLong).getOrElse(200000L)
    val nDecode = args.drop(1).headOption.map(_.toLong).getOrElse(20000L)
    val nFlac = args.drop(2).headOption.map(_.toLong).getOrElse(500000L)
    val spark = GraftSession()
    import graft.pipeline.MultimodalOps

    def time[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$label%-56s $s%8.2f s"); (r, s)
    }

    // ---- 1. MP4 sample-table metadata pass --------------------------------
    val ids = spark.range(nMeta).select(col("id"))
    val expMeta = (0L until 5L).map(r => (4L + r) * ((nMeta - r + 4) / 5)).sum
    val (gotMeta, tMeta) = time(f"MP4 sample table over $nMeta%,d clips") {
      MultimodalOps.mp4SampleTable(
        MultimodalOps.encodeSyntheticMp4(ids, "id"), "content", "media_id").count()
    }
    require(gotMeta == expMeta,
      s"mp4 meta rows: got $gotMeta, closed form $expMeta")
    println(f"  $gotMeta%,d sample rows = ${nMeta / tMeta}%,.0f clips/s " +
      f"(${gotMeta / tMeta}%,.0f samples/s), co64 + v1-mdhd variants included")

    // ---- 2. MP4 frame demux + REAL PNG decode -----------------------------
    val dIds = spark.range(nDecode).select(col("id"))
    // k = 3 + id%4 frames, stride 2 keeps ceil(k/2): k=3→2, 4→2, 5→3, 6→3
    val expFrames = (0L until 4L).map { r =>
      val kept = (3L + r + 1) / 2
      kept * ((nDecode - r + 3) / 4)
    }.sum
    val (gotFrames, tDec) = time(
      f"MP4 demux + real PNG decode, $nDecode%,d clips, stride 2") {
      MultimodalOps.sampleMp4Frames(
        MultimodalOps.encodeSyntheticMp4Video(dIds, "id"), "content", "media_id",
        stride = 2).count()
    }
    require(gotFrames == expFrames,
      s"mp4 decoded frames: got $gotFrames, closed form $expFrames")
    println(f"  $gotFrames%,d frames decoded = ${gotFrames / tDec}%,.0f frames/s " +
      f"(${nDecode / tDec}%,.0f clips/s end to end)")

    // ---- 3. FLAC STREAMINFO columnar parse --------------------------------
    val fIds = spark.range(nFlac).select(col("id"))
    val expSamples = 1000L * nFlac + 37L * (nFlac * (nFlac - 1) / 2) +
      (1L << 33) * ((nFlac + 4) / 5)
    val (flacRow, tFlac) = time(f"FLAC STREAMINFO parse over $nFlac%,d heads") {
      MultimodalOps.encodeSyntheticFlac(fIds, "id")
        .select(MultimodalOps.flacMeta(col("content")).as("m"))
        .select(col("m.format_ok").as("ok"), col("m.n_samples").as("n"))
        .agg(sum(when(col("ok"), 1L).otherwise(0L)), sum(col("n")))
        .collect()(0)
    }
    require(flacRow.getLong(0) == nFlac,
      s"flac format_ok: ${flacRow.getLong(0)} of $nFlac")
    require(flacRow.getLong(1) == expSamples,
      s"flac sample sum: got ${flacRow.getLong(1)}, closed form $expSamples")
    println(f"  $nFlac%,d heads at ${nFlac / tFlac}%,.0f clips/s, 36-bit " +
      "counts (every 5th past 2^33) summed exactly")

    // ---- 3a2. WEBP columnar metadata --------------------------------------
    // the image-side columnar walk at the FLAC leg's scale: all three
    // variant headers exercised (a third of ids each); truth is the
    // closed-form width sum over the dimension formula
    val expWidthSum = 16L * nFlac +
      (0L until 200L).map(r => r * ((nFlac - r + 199) / 200)).sum
    val (webpRow, tWebp) = time(f"WEBP metadata parse over $nFlac%,d heads") {
      MultimodalOps.encodeSyntheticWebp(fIds, "id")
        .select(MultimodalOps.webpMeta(col("content")).as("m"))
        .agg(sum(when(col("m.format_ok"), 1L).otherwise(0L)),
          sum(col("m.width")))
        .collect()(0)
    }
    require(webpRow.getLong(0) == nFlac,
      s"webp format_ok: ${webpRow.getLong(0)} of $nFlac")
    require(webpRow.getLong(1) == expWidthSum,
      s"webp width sum: got ${webpRow.getLong(1)}, closed form $expWidthSum")
    println(f"  $nFlac%,d heads at ${nFlac / tWebp}%,.0f clips/s, all three " +
      "variant layouts summed exactly")

    // ---- 3b. MP3 frame-stream walk ----------------------------------------
    // the self-synchronizing grammar at scale: ~25 variable-length
    // frames per clip, lengths from each frame's own header; truth is
    // the closed-form frame count (stream facts per clip = 1 row)
    val nMp3 = nDecode * 5
    val mIds = spark.range(nMp3).select(col("id"))
    val expMp3Frames = (0L until 30L).map(r =>
      (20L + r) * ((nMp3 - r + 29) / 30)).sum
    val (mp3Row, tMp3) = time(f"MP3 frame-stream walk over $nMp3%,d clips") {
      MultimodalOps.mp3Meta(
          MultimodalOps.encodeSyntheticMp3(mIds, "id"), "content", "media_id")
        .agg(count(lit(1)), sum(col("n_frames")),
          sum(when(col("is_vbr"), 1L).otherwise(0L)))
        .collect()(0)
    }
    require(mp3Row.getLong(0) == nMp3,
      s"mp3 clips: ${mp3Row.getLong(0)} of $nMp3")
    require(mp3Row.getLong(1) == expMp3Frames,
      s"mp3 frames: got ${mp3Row.getLong(1)}, closed form $expMp3Frames")
    require(mp3Row.getLong(2) == (nMp3 + 3) / 4,
      s"mp3 vbr clips: got ${mp3Row.getLong(2)}, expected ${(nMp3 + 3) / 4}")
    println(f"  ${mp3Row.getLong(1)}%,d frames walked = ${nMp3 / tMp3}%,.0f clips/s " +
      f"(${mp3Row.getLong(1) / tMp3}%,.0f frames/s), CBR/VBR verdicts exact")

    // ---- 4. truncation robustness at scale --------------------------------
    // camera layout: a lost tail loses the moov, so truncated clips must
    // yield exactly zero rows and intact clips all of theirs
    val expTrunc = expMeta - (0L until 5L).map { r =>
      // ids with id%5==r AND id%3==0, counted per 15-cycle residue
      (4L + r) * ((0L until 15L).filter(i => i % 5 == r && i % 3 == 0)
        .map(i => (nMeta - i + 14) / 15).sum)
    }.sum
    val (gotTrunc, tTrunc) = time(
      f"MP4 walk with every 3rd clip tail-truncated ($nMeta%,d clips)") {
      val cut = MultimodalOps.encodeSyntheticMp4(ids, "id")
        .withColumn("content",
          when(col("media_id") % 3 === 0,
            expr("substring(content, 1, octet_length(content) - 10)"))
            .otherwise(col("content")))
      MultimodalOps.mp4SampleTable(cut, "content", "media_id").count()
    }
    require(gotTrunc == expTrunc,
      s"truncated-walk rows: got $gotTrunc, closed form $expTrunc")
    println(f"  $gotTrunc%,d rows (truncated clips contribute exactly 0), " +
      "no exception escaped the walk")

    // ---- 4b. fragmented MP4 metadata pass ---------------------------------
    // the DASH/HLS layout at the progressive pass's scale: truth is the
    // per-residue closed form of Σ_f (2 + (id+f) % 3) over f < 2 + id%3
    // (id%3 = 0/1/2 → 5/9/13 samples per clip)
    val expFmp4 = Seq(5L, 9L, 13L).zipWithIndex.map { case (sPer, r) =>
      sPer * ((nMeta - r + 2) / 3)
    }.sum
    val (gotFmp4, tFmp4) = time(
      f"fMP4 fragment walk over $nMeta%,d clips") {
      MultimodalOps.mp4SampleTable(
        MultimodalOps.encodeSyntheticFmp4(ids, "id"),
        "content", "media_id").count()
    }
    require(gotFmp4 == expFmp4,
      s"fmp4 sample rows: got $gotFmp4, closed form $expFmp4")
    println(f"  $gotFmp4%,d fragment-resolved rows = ${nMeta / tFmp4}%,.0f " +
      f"clips/s (${gotFmp4 / tFmp4}%,.0f samples/s), both trun shapes")

    // ---- 4b2. EBML (MKV) block walk ---------------------------------------
    // the varint grammar at the same scale: truth from the per-parity
    // closed form (id even → 5 blocks across 2 clusters, odd → 8
    // across 3)
    val expMkv = 5L * ((nMeta + 1) / 2) + 8L * (nMeta / 2)
    val (gotMkv, tMkv) = time(f"MKV block walk over $nMeta%,d clips") {
      graft.pipeline.MkvOps.mkvBlockTable(
        graft.pipeline.MkvOps.encodeSyntheticMkv(ids, "id"),
        "content", "media_id").count()
    }
    require(gotMkv == expMkv,
      s"mkv block rows: got $gotMkv, closed form $expMkv")
    println(f"  $gotMkv%,d block rows = ${nMeta / tMkv}%,.0f clips/s " +
      f"(${gotMkv / tMkv}%,.0f blocks/s), general varints on the wire")

    // ---- 4c. WARC record walk ---------------------------------------------
    // crawl-container ingestion at scale: truth enumerated exactly over
    // the (id mod 20) cycle that drives records (1 + 3 + id%4) and the
    // 200-status text rows ((id+r) % 5 != 0)
    val nWarc = nDecode * 2
    val wIds = spark.range(nWarc).select(col("id"))
    def perCycle(f: Long => Long): Long =
      (0L until 20L).map(c => f(c) * ((nWarc - c + 19) / 20)).sum
    val expRecords = perCycle(c => 1L + 3L + c % 4)
    val expTexts = perCycle(c =>
      (0L until (3L + c % 4)).count(r => (c + r) % 5 != 0).toLong)
    val (warcCounts, tWarc) = time(
      f"WARC record walk + HTML extraction over $nWarc%,d files") {
      val recs = graft.pipeline.WarcOps.warcRecords(
        graft.pipeline.WarcOps.encodeSyntheticWarc(wIds, "id"),
        "content", "media_id")
      recs.agg(count(lit(1)),
        sum(when(col("warc_type") === "response" &&
          col("http_status") === 200, 1L).otherwise(0L))).collect()(0)
    }
    require(warcCounts.getLong(0) == expRecords,
      s"warc records: got ${warcCounts.getLong(0)}, closed form $expRecords")
    require(warcCounts.getLong(1) == expTexts,
      s"warc 200-responses: got ${warcCounts.getLong(1)}, closed form $expTexts")
    println(f"  ${warcCounts.getLong(0)}%,d records (${warcCounts.getLong(1)}%,d " +
      f"extractable) = ${nWarc / tWarc}%,.0f files/s")

    // ---- 4d. WARC index + ranged survivor fetch (the CDX analogue) --------
    // the second-pass story at scale: a .warc.gz corpus on real files,
    // the per-record byte-range index built ONCE, then a sparse
    // survivor set (1% of files) fetched by range — bytes moved must be
    // proportional to SURVIVORS, not corpus. Truth: multiples of 100
    // sit at cycle position 0 (100 ≡ 0 mod 20), whose 3 responses hold
    // exactly 2 status-200 texts.
    val nWIdx = nDecode
    val warcDir = java.nio.file.Paths.get(
      graft.sources.TableSources.scratchDir("graft-warc-soak"))
    val (_, tWWrite) = time(f"write $nWIdx%,d .warc.gz files") {
      graft.sources.TableSources.writeBinaryDir(
        graft.pipeline.WarcOps.encodeSyntheticWarcGz(
          spark.range(nWIdx).select(col("id")), "id"),
        warcDir.toString, "media_id", "content", ".warc.gz")
    }
    val filesIdx = graft.sources.TableSources
      .listBinaryDir(spark, warcDir.toString, "*.warc.gz")
      .withColumn("media_id", graft.sources.TableSources.pathId(
        col("media_path"), "clip_(\\d+)\\.warc\\.gz$"))
    val idxPath = warcDir.resolve("_index").toString
    val expIdxRows = (0L until 20L).map(c =>
      (4L + c % 4) * ((nWIdx - c + 19) / 20)).sum
    val (gotIdxRows, tWIdx) = time(
      f"build + persist the record index over $nWIdx%,d files (windowed)") {
      // the NO-CEILING builder: content-free listing + sliding windows
      graft.pipeline.WarcOps
        .warcMemberIndexRanged(filesIdx, "media_path", "media_id")
        .write.mode("overwrite").parquet(idxPath)
      spark.read.parquet(idxPath).count()
    }
    require(gotIdxRows == expIdxRows,
      s"warc index rows: got $gotIdxRows, closed form $expIdxRows")
    // the SHARDED builder over the same corpus: shard spans far below
    // the file sizes (boundary sync + straddling members at scale), row
    // count required against the same closed form
    val (gotShard, tShard) = time(
      f"sharded index build over $nWIdx%,d files (1 KB shards)") {
      graft.pipeline.WarcOps.warcMemberIndexSharded(
        filesIdx, "media_path", "media_id",
        shardBytes = 1024L, windowBytes = 1024).count()
    }
    require(gotShard == expIdxRows,
      s"sharded index rows: got $gotShard, closed form $expIdxRows")
    println(f"  sharded: ${nWIdx / tShard}%,.0f files/s at ~2 shards/file " +
      "(sync + straddle per shard), rows == sequential closed form")
    val index = spark.read.parquet(idxPath)
    val survivors = index.filter(col("media_id") % 100 === 0 &&
      col("warc_type") === "response" && col("http_status") === 200)
    val filesW = filesIdx
    val expFetch = 2L * ((nWIdx + 99) / 100)
    val (fetchAgg, tWFetch) = time(
      f"ranged fetch of $expFetch%,d surviving records (1%% of files)") {
      graft.pipeline.WarcOps.warcFetchRanged(
          filesW, "media_path", "media_id", survivors)
        .agg(count(lit(1)), sum(length(col("body")))).collect()(0)
    }
    require(fetchAgg.getLong(0) == expFetch,
      s"fetched records: got ${fetchAgg.getLong(0)}, closed form $expFetch")
    require(fetchAgg.getLong(1) > 0L, "fetched bodies must be non-empty")
    // the COALESCED path at scale: a 1 MB gap merges each file's two
    // adjacent survivors into one read — identical records required
    val coalesced = graft.pipeline.WarcOps.warcFetchRanged(
        filesW, "media_path", "media_id", survivors,
        coalesceGap = 1L << 20)
      .agg(count(lit(1)), sum(length(col("body")))).collect()(0)
    require(coalesced.getLong(0) == expFetch &&
      coalesced.getLong(1) == fetchAgg.getLong(1),
      "coalesced fetch must return the identical records")
    val survivorBytes = survivors.agg(sum(col("member_length")))
      .collect()(0).getLong(0)
    val corpusBytes = filesW.agg(sum(col("media_len"))).collect()(0).getLong(0)
    require(survivorBytes * 20 < corpusBytes,
      s"survivor ranges $survivorBytes should be a small fraction of " +
        s"the $corpusBytes-byte corpus")
    println(f"  index ${nWIdx / tWIdx}%,.0f files/s; fetch " +
      f"${expFetch / tWFetch}%,.0f records/s moving $survivorBytes%,d of " +
      f"$corpusBytes%,d corpus bytes (${corpusBytes / survivorBytes}%,d× " +
      "less I/O than a re-walk)")

    // ---- 4e. streaming CDX maintenance at scale ----------------------------
    // the ingest→index loop's batch primitive driven exactly the way
    // warcIndexMaintainStream drives it: the corpus lands as 20
    // segments, each committed by ingestWarcIndexBatch under its batch
    // id, the policy compacting at an 8-epoch window. Truths: the
    // continuously maintained artifact ≡ the one-shot index row for
    // row; every file walked exactly once across all epochs; a
    // replayed batch id commits nothing; and the epoch-directory count
    // stays bounded by the policy (window + one superseded generation)
    // no matter how many segments ever land.
    val maintPath = warcDir.resolve("_index_maint").toString
    val nSeg = 20
    val segSize = (nWIdx + nSeg - 1) / nSeg
    val (_, tMaint) = time(
      f"maintain the stored index over $nSeg segment batches " +
        f"($segSize%,d files each, compactEvery=8)") {
      for (b <- 0 until nSeg) {
        val seg = filesIdx.filter(
          col("media_id") >= b.toLong * segSize &&
            col("media_id") < (b + 1).toLong * segSize)
        require(graft.pipeline.WarcOps.ingestWarcIndexBatch(
          spark, maintPath, seg, "media_path", "media_id", b.toLong),
          s"batch $b must apply")
        graft.pipeline.WarcOps.maybeCompactWarcIndex(
          spark, maintPath, maxEpochs = 8)
      }
    }
    val maintained = spark.read.parquet(idxPath) // the one-shot artifact
    val viaStream = graft.pipeline.WarcOps.readWarcIndex(spark, maintPath)
    require(viaStream.count() == expIdxRows,
      s"maintained index rows: got ${viaStream.count()}, " +
        s"closed form $expIdxRows")
    require(viaStream.exceptAll(maintained).count() == 0L &&
      maintained.exceptAll(viaStream).count() == 0L,
      "the maintained artifact must equal the one-shot index row for row")
    require(!graft.pipeline.WarcOps.ingestWarcIndexBatch(
      spark, maintPath, filesIdx, "media_path", "media_id",
      (nSeg - 1).toLong), "a replayed batch id must commit nothing")
    val epochDirs = Option(new java.io.File(s"$maintPath/entries")
      .listFiles()).toSeq.flatten.count(_.getName.startsWith("e"))
    require(epochDirs <= 16,
      s"epoch dirs must stay bounded by the compaction policy " +
        s"(window 8 + superseded generation), got $epochDirs")
    println(f"  maintained: ${nWIdx / tMaint}%,.0f files/s across $nSeg " +
      f"batches, $epochDirs epoch dirs on disk (policy-bounded), " +
      "snapshot ≡ one-shot")

    // ---- 5. ranged reads beyond the binaryFile ceiling --------------------
    // one 5 GB clip (sparse on disk; co64 offsets past 2^32, mdat via
    // largesize): whole-file ingestion hard-fails at the source's
    // ~2.1 GB ceiling, while listing + the ranged walk resolve the moov
    // and decode the sampled frames from a few KB of positioned reads
    import graft.pipeline.MultimodalOps.{synthDims, synthFrameImageId, synthRgb}
    import graft.sources.TableSources
    val giantDir = java.nio.file.Paths.get(
      graft.sources.TableSources.scratchDir("graft-giant-mp4"))
    val giantId = 4L
    val kG = 9
    val frames = (0 until kG).map { j =>
      val fid = synthFrameImageId(giantId, j)
      val (w, h) = synthDims(fid)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, synthRgb(fid, x, y)); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val spacing = 512L << 20
    val chunkOffs = Array.tabulate(kG)(j => (1L << 30) + j * spacing)
    val moov = graft.pipeline.MultimodalOps.mp4MoovBytes(
      frames.map(_.length), ts = 25, delta = 1, chunkOffs,
      stscRuns = Seq((1, 1)), useCo64 = true, mdhdV1 = false)
    val mdatEnd = chunkOffs.last + frames.last.length
    val giantLen = mdatEnd + moov.length
    val giantPath = giantDir.resolve(s"clip_$giantId.mp4")
    val raf = new java.io.RandomAccessFile(giantPath.toFile, "rw")
    try {
      raf.setLength(giantLen) // holes stay sparse on ext4
      val hb = java.nio.ByteBuffer.allocate(40)
      hb.putInt(24)
      hb.put("ftypisom".getBytes("US-ASCII")).putInt(0x200)
      hb.put("isommp41".getBytes("US-ASCII"))
      hb.putInt(1).put("mdat".getBytes("US-ASCII")).putLong(mdatEnd - 24)
      raf.seek(0); raf.write(hb.array())
      frames.zipWithIndex.foreach { case (f, j) =>
        raf.seek(chunkOffs(j)); raf.write(f)
      }
      raf.seek(mdatEnd); raf.write(moov)
    } finally raf.close()
    val giantFiles = TableSources
      .listBinaryDir(spark, giantDir.toString, "*.mp4")
      .withColumn("media_id", graft.sources.TableSources.pathId(
        col("media_path"), "clip_(\\d+)\\.mp4$"))
    require(giantFiles.select(max(col("media_len"))).collect()(0).getLong(0)
      == giantLen && giantLen > Int.MaxValue.toLong,
      s"giant clip should list at $giantLen bytes past the 2^31-1 ceiling")
    require(scala.util.Try(
      TableSources.readBinaryDir(spark, giantDir.toString, "*.mp4")
        .select(sum(length(col("content")))).collect()).isFailure,
      "whole-file ingestion should hard-fail above the binaryFile ceiling")
    val ((tblRows, frameSums), tGiant) = time(
      f"ranged walk + decode of one $giantLen%,d-byte sparse clip") {
      val tbl = MultimodalOps.mp4SampleTableRanged(
        giantFiles, "media_path", "media_id").collect()
      val fr = MultimodalOps.sampleMp4FramesRanged(
        giantFiles, "media_path", "media_id", stride = 2).collect()
      (tbl, fr)
    }
    require(tblRows.length == kG && tblRows.forall(_.getLong(0) == giantId),
      s"giant clip sample table: ${tblRows.length} rows, expected $kG")
    require(tblRows.map(_.getLong(2)).sorted.sameElements(chunkOffs),
      "giant clip offsets must round-trip the co64 table past 2^32")
    require(frameSums.length == (kG + 1) / 2,
      s"giant clip decoded frames: ${frameSums.length}, expected ${(kG + 1) / 2}")
    // the intra-file-parallel decode spreads THIS one clip's frames
    // across range partitions and must produce the identical rows
    val parSums = MultimodalOps.sampleMp4FramesRangedParallel(
      giantFiles, "media_path", "media_id", stride = 2).collect()
    require(parSums.map(_.toSeq).toSet == frameSums.map(_.toSeq).toSet,
      "parallel decode must match the per-file ranged decode on the giant clip")
    frameSums.foreach { r =>
      val j = r.getLong(1).toInt
      val fid = synthFrameImageId(giantId, j)
      val (w, h) = synthDims(fid)
      var sr = 0L; var sg = 0L; var sb = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val px = synthRgb(fid, x, y)
          sr += (px >> 16) & 0xff; sg += (px >> 8) & 0xff; sb += px & 0xff
          x += 1
        }
        y += 1
      }
      require(r.getLong(2) == w && r.getLong(3) == h && r.getLong(4) == sr &&
        r.getLong(5) == sg && r.getLong(6) == sb,
        s"giant clip frame $j decode mismatch")
    }
    val fetched = moov.length + 40 +
      tblRows.filter(_.getLong(1) % 2 == 0).map(_.getLong(3)).sum
    println(f"  $kG sample rows + ${frameSums.length} real decodes from " +
      f"~$fetched%,d fetched bytes of a $giantLen%,d-byte file " +
      f"(${giantLen / math.max(fetched, 1L)}%,d× less I/O than whole-file)")
    // ---- 6. stored media-fingerprint index at scale ------------------------
    // the eleventh artifact under load: nDecode distinct images land as
    // two segments (build + append), then a probe batch of half
    // stored-duplicates / half novel images dedups against the
    // artifact. Closed-form truths: every stored-id probe self-matches
    // at Hamming 0 (its fingerprint is in the index by construction),
    // no stored-id probe is admitted by the dedup filter, and the
    // derived-epoch dirs hold exactly {current, superseded}.
    val nImg = nDecode
    def mhImgs(ids: org.apache.spark.sql.DataFrame) =
      MultimodalOps.encodeSyntheticPng(ids, "id")
    // scratch-registered like every other soak corpus (purged below /
    // at JVM exit) — a raw temp dir would leak the index per run
    val mhPath = graft.sources.TableSources.scratchDir("graft-soak-mh")
    val (_, tMhBuild) = time(
      f"media-hash index: build+append over $nImg%,d images") {
      MultimodalOps.writeMediaHashIndex(
        mhImgs(spark.range(nImg).filter(col("id") % 2 === 0)
          .select(col("id"))), "content", "media_id", mhPath)
      MultimodalOps.appendMediaHashIndex(spark, mhPath,
        mhImgs(spark.range(nImg).filter(col("id") % 2 === 1)
          .select(col("id"))), "content", "media_id")
    }
    // probe halves clamped to the arg-driven corpus: stored-dup probes
    // must actually be stored (ids < nImg) and novel probes actually
    // novel (ids >= nImg) — hardcoded bases would fake require failures
    // at non-default soak sizes
    val nStoredProbes = math.min(math.max(nImg / 10, 100L) / 2, nImg)
    val nNovelProbes = nStoredProbes
    val nProbe = nStoredProbes + nNovelProbes
    val probeIds = spark.range(nStoredProbes).select(col("id"))
      .unionByName(spark.range(nImg, nImg + nNovelProbes).select(col("id")))
    val (selfMatches, tMhProbe) = time(
      f"media-hash probe: $nProbe%,d probes (half stored dups)") {
      MultimodalOps.probeMediaHashIndex(spark, mhPath, mhImgs(probeIds),
          "content", "media_id", maxHamming = 0)
        .filter(col("probe_id") === col("match_id")).count()
    }
    require(selfMatches == nStoredProbes,
      s"every stored-id probe must self-match: got $selfMatches of $nStoredProbes")
    val admitted = MultimodalOps.dedupMediaAgainstIndex(spark, mhPath,
        mhImgs(probeIds), "content", "media_id", maxHamming = 0)
      .select(col("media_id")).collect().map(_.getLong(0)).toSet
    require(admitted.forall(_ >= nImg),
      "no stored-id probe may be admitted past the dedup filter")
    val mhEpochs = Option(new java.io.File(s"$mhPath/derived").listFiles())
      .toSeq.flatten.count(_.getName.startsWith("e"))
    require(mhEpochs == 2,
      s"derived epochs must hold {current, superseded}, got $mhEpochs")
    println(f"  fingerprints ${nImg / tMhBuild}%,.0f images/s " +
      f"(build+append); probes ${nProbe / tMhProbe}%,.0f images/s; " +
      f"${admitted.size}%,d of $nNovelProbes%,d novel-ID probes admitted " +
      "(formula images repeat with period lcm(9,7,256)=16128, so past " +
      "that corpus size a 'novel' id IS a stored image — the dedup " +
      "filter catching those is the operator working, not a miss)")

    // ---- 7. NON-PERIODIC fingerprint soak: distinct hashes track the
    // corpus past the formula period -------------------------------------
    // Leg 6's formula images repeat with period lcm(9,7,256) = 16,128,
    // so its distinct fingerprints CAP there regardless of corpus size.
    // This leg uses the hash-mixed generator (encodeSyntheticPngMixed):
    // distinct fingerprints must track the corpus (~nBig), and the
    // bloom prescreen ratio is MEASURED at default vs corpus-sized
    // geometry — the capacity WARN's cost story in numbers.
    val nBig = args.drop(3).headOption.map(_.toLong).getOrElse(100000L)
    def bigImgs(ids: org.apache.spark.sql.DataFrame) =
      MultimodalOps.encodeSyntheticPngMixed(ids, "id")
    val bigDflt = graft.sources.TableSources.scratchDir("graft-soak-mhbig-d")
    val bigSized = graft.sources.TableSources.scratchDir("graft-soak-mhbig-s")
    // default geometry (2^20 bits ≈ 104k-key capacity): nBig × 2 bands
    // keys saturate it at the default soak size — the WARN fires below,
    // on purpose; correctness holds throughout
    val (_, tBigBuild) = time(
      f"non-periodic media-hash: build+append+compact, $nBig%,d images " +
        "(default bloom — expect the capacity WARN)") {
      MultimodalOps.writeMediaHashIndex(
        bigImgs(spark.range(nBig).filter(col("id") % 2 === 0)
          .select(col("id"))), "content", "media_id", bigDflt)
      MultimodalOps.appendMediaHashIndex(spark, bigDflt,
        bigImgs(spark.range(nBig).filter(col("id") % 2 === 1)
          .select(col("id"))), "content", "media_id")
      MultimodalOps.compactMediaHashIndex(spark, bigDflt)
    }
    // distinct fingerprints ≈ corpus size — the property the formula
    // images cannot deliver past their period
    val bigMeta = spark.read.parquet(s"$bigDflt/meta").collect()(0)
    val bigHashes = spark.read.parquet(
      (bigMeta.getAs[Long]("hash_base") to bigMeta.getAs[Long]("epoch"))
        .map(e => s"$bigDflt/hashes/e$e"): _*)
    val distinctFp = bigHashes.select(col("ahash_a"), col("ahash_b"))
      .distinct().count()
    require(bigHashes.count() == nBig,
      s"every image must be fingerprinted exactly once, got ${bigHashes.count()}")
    require(distinctFp >= nBig * 999 / 1000,
      s"distinct fingerprints must track the corpus: $distinctFp of $nBig")
    // prescreen pass ratio on an all-NOVEL probe batch: saturated at
    // default geometry vs selective at corpus-sized geometry
    val novel = bigImgs(spark.range(nBig, nBig + 2000L).select(col("id")))
    val (passD, totD) = MultimodalOps.mediaBloomPassStats(spark, bigDflt,
      novel, "content", "media_id")
    val (_, tSizedBuild) = time(
      f"non-periodic media-hash: one-shot build, $nBig%,d images " +
        "(corpus-sized bloom 2^24)") {
      MultimodalOps.writeMediaHashIndex(
        bigImgs(spark.range(nBig).select(col("id"))), "content",
        "media_id", bigSized, bloomBits = 1 << 24)
    }
    val (passS, totS) = MultimodalOps.mediaBloomPassStats(spark, bigSized,
      novel, "content", "media_id")
    require(totD == totS && totD > 0, "both indexes see the same probe keys")
    require(passS * 10 < totS,
      s"the corpus-sized bloom must stay selective on novel probes: " +
        s"$passS of $totS passed")
    // strict only when the default geometry is actually past capacity
    // (at reduced nBig both blooms are healthy and both ratios are ~0)
    if (nBig * 2 > (1L << 20) / 10)
      require(passD > passS,
        "the saturated default bloom must pass more than the sized one")
    // and the probe stays CORRECT on the saturated index: stored-id
    // probes self-match, novel probes match nothing
    val bigProbeIds = spark.range(0L, 1000L).select(col("id"))
      .unionByName(spark.range(nBig, nBig + 1000L).select(col("id")))
    val (bigSelf, tBigProbe) = time(
      "non-periodic media-hash: 2,000 probes against the saturated index") {
      MultimodalOps.probeMediaHashIndex(spark, bigDflt, bigImgs(bigProbeIds),
          "content", "media_id", maxHamming = 0)
        .filter(col("probe_id") === col("match_id")).count()
    }
    require(bigSelf == 1000L,
      s"every stored-id probe must self-match on the saturated index: $bigSelf")
    println(f"  $distinctFp%,d distinct fingerprints over $nBig%,d images " +
      f"(${nBig / tBigBuild}%,.0f img/s build+append+compact; sized build " +
      f"${nBig / tSizedBuild}%,.0f img/s); novel-probe prescreen pass " +
      f"ratio: default 2^20 bloom ${100.0 * passD / totD}%.1f%% " +
      f"(saturated, as the WARN predicts) vs 2^24 bloom " +
      f"${100.0 * passS / totS}%.1f%% — geometry, not correctness " +
      f"(2,000 saturated probes in $tBigProbe%.2f s)")

    // every soak corpus/artifact dir is scratch-registered: purge
    // eagerly now that every require above has passed (a failed
    // require leaves them to the JVM-exit hook)
    graft.sources.TableSources.purgeScratch()

    println(f"SOAK OK  mp4 meta ${nMeta / tMeta}%,.0f clips/s | decode " +
      f"${gotFrames / tDec}%,.0f frames/s | flac ${nFlac / tFlac}%,.0f clips/s" +
      f" | mp3 ${nMp3 / tMp3}%,.0f clips/s | truncation sweep $tTrunc%.1f s" +
      f" | giant ranged clip $tGiant%.1f s" +
      f" | non-periodic fp $distinctFp%,d distinct / $nBig%,d")
    spark.stop()
  }
}
