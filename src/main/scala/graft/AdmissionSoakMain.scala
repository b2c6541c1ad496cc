package graft

import org.apache.spark.sql.functions._

/** Large-synthetic soak for the continuous admission loop
  * ([[graft.pipeline.AdmissionOps.ingestAdmissionBatch]]) — the scale
  * claim the small-SF correctness gate can't exercise: segment cost as
  * the loop's own digest store GROWS, with closed-form verdict
  * accounting every segment.
  *
  * Corpus: segment k carries `nDocs` docs; 80% novel (globally unique
  * "doc <n>" texts — injective in the doc number, no modular-vocab
  * residue holes), 20% duplicates. Segment 0's duplicates reference
  * novel texts in the SAME segment (in-batch dups — the window drops
  * them); every later segment's duplicates reference the PREVIOUS
  * segment's novel texts (cross-segment dups — only the loop's store
  * can drop those). So every segment must admit exactly 0.8 × nDocs,
  * and the store must finish at 0.8 × nDocs × segments digests — both
  * `require`d, not eyeballed.
  *
  * Args: [nDocs per segment] [segments] (defaults 250k × 6 = 1.5M docs
  * through the loop, 1.2M stored digests). Deterministic functions of
  * spark.range — no files, no RNG. */
object AdmissionSoakMain {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(250000L)
    val segments = args.drop(1).headOption.map(_.toInt).getOrElse(6)
    require(nDocs % 5 == 0, "nDocs must be a multiple of 5 (20% dup rate)")
    val spark = GraftSession()

    def time[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$label%-44s $s%8.2f s"); (r, s)
    }

    val root = java.nio.file.Files
      .createTempDirectory("graft_admsoak").toString
    val out = s"$root/out"
    val dg = s"$root/dg"
    // global doc numbers; i % 5 == 4 rows are the 20% duplicates
    def segment(k: Long) =
      spark.range(k * nDocs, (k + 1) * nDocs)
        .select(col("id").as("doc_id"),
          concat(lit("doc "),
            when(col("id") % 5 === 4,
              col("id") - (if (k == 0) 4L else nDocs + 4L))
              .otherwise(col("id"))).as("text"))

    val novelPerSeg = nDocs * 4 / 5
    var totalSecs = 0.0
    (0 until segments).foreach { k =>
      val (_, s) = time(f"segment $k%d: admit ${nDocs}%,d docs " +
        f"(store=${novelPerSeg * k}%,d digests)") {
        graft.pipeline.AdmissionOps.ingestAdmissionBatch(spark,
          segment(k.toLong), "text", "doc_id", k.toLong, out, dg,
          bloomBits = 1 << 25)
      }
      totalSecs += s
      val landed = spark.read.parquet(s"$out/b$k").count()
      require(landed == novelPerSeg,
        s"segment $k admitted $landed, closed form says $novelPerSeg " +
          "(80% novel; in-batch dups at k=0, store dups after)")
      // the maintainer's window bound, exercised under real growth
      val compacted = graft.pipeline.DedupOps
        .maybeCompactDigestIndex(spark, dg, maxEpochs = 3)
      if (compacted) println(s"  (window compacted after segment $k)")
    }
    val meta = graft.pipeline.DedupOps.readDigestIndexMeta(spark, dg)
    require(meta.digestCount == novelPerSeg * segments,
      s"store holds ${meta.digestCount}, closed form says " +
        s"${novelPerSeg * segments}")
    require(meta.epoch - meta.digestBase + 1 <= 3,
      s"window must stay within the compaction bound, meta was $meta")
    // measured prescreen over one more (un-ingested) probe segment:
    // 20% true dups always pass; the rest is the sized bloom's FP tail
    val probeSeg = segment(segments.toLong)
    val (passed, total) = graft.pipeline.DedupOps.digestBloomPassStats(
      spark, dg, probeSeg, "text")
    val dups = nDocs / 5
    val fp = 100.0 * (passed - dups) / (total - dups)
    println(f"loop total: ${nDocs * segments}%,d docs in $totalSecs%.1f s " +
      f"(${nDocs * segments / totalSecs}%,.0f docs/s incl. store growth " +
      f"to ${meta.digestCount}%,d digests)")
    println(f"bloom prescreen on segment $segments%d: $passed%,d / $total%,d pass " +
      f"($dups%,d true dups; measured FP over novel = $fp%.2f%%)")
    spark.stop()
  }
}
