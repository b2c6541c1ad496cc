package graft

import org.apache.spark.sql.functions._

/** Large-synthetic soak for the dedup/CC/incremental paths — the scale
  * claims the small-SF correctness gate can't exercise, run at 10-100M
  * rows on local[32] and recorded in BASELINE.md:
  *
  *  1. star-CC over a DEEP CHAIN graph (worst-case diameter = edge
  *     count): converges in O(log n) alternating-star rounds where
  *     min-label propagation would need diameter-many;
  *  2. the incremental NEAR-dup screen (signature index × new batch) at
  *     ~100× bench scale: index banding is map-only from stored
  *     signatures, verify runs on signatures, history text never
  *     re-read.
  *
  * Args: [nChainEdges] [nDocs] (defaults 10M / 5M). Both inputs are
  * deterministic functions of spark.range — no files, no RNG. */
object DedupSoakMain {
  def main(args: Array[String]): Unit = {
    val nEdges = args.headOption.map(_.toLong).getOrElse(10000000L)
    val nDocs = args.drop(1).headOption.map(_.toLong).getOrElse(5000000L)
    val spark = GraftSession()

    def time[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$label%-44s $s%8.2f s"); (r, s)
    }

    // ---- 1. star-CC on a chain: edges (i, i+1), diameter = nEdges ----
    val chain = spark.range(nEdges)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      .localCheckpoint() // time the CC, not the generator
    var rounds = -1
    val (labels, _) = time(f"star-CC, chain of $nEdges%,d edges") {
      val l = graft.pipeline.DedupOps.connectedComponentsStar(
        chain, maxRounds = 64, onConverged = rounds = _)
      l
    }
    val nComp = labels.select(countDistinct(col("component"))).head().getLong(0)
    labels.unpersist()
    println(f"  rounds=$rounds (log2(n)=${math.log(nEdges.toDouble) / math.log(2)}%.1f), components=$nComp (expect 1)")

    // ---- 2. incremental near-dup screen at ~100x bench scale ----------
    // Deterministic ~9-word docs; every 50th batch doc duplicates a
    // history doc's text, everything else is unique. History = even ids
    // (indexed once), batch = odd ids.
    def docText(id: org.apache.spark.sql.Column) = concat_ws(" ",
      (0 until 9).map(j => concat(lit("w"), (id * (2 * j + 3)) % 999983)): _*)
    val history = spark.range(0, nDocs, 2).select(col("id").as("doc_id"),
      docText(col("id")).as("text")).localCheckpoint()
    val batch = spark.range(1, nDocs, 2).select(col("id").as("doc_id"),
      when(col("id") % 50 === 1, docText(col("id") - 1))
        .otherwise(docText(col("id"))).as("text"))
      .localCheckpoint()
    val (idx, tIdx) = time(f"signature index over ${history.count()}%,d history docs") {
      graft.pipeline.DedupOps.minhashSigIndex(history, "text", "doc_id")
        .localCheckpoint() // the persisted-artifact stand-in
    }
    val (flagged, tScreen) = time(f"incremental screen of ${batch.count()}%,d batch docs") {
      graft.pipeline.DedupOps.nearDupAgainstIndex(batch, idx, "text", "doc_id")
        .count()
    }
    val expected = (nDocs / 2) / 50
    println(f"  flagged=$flagged%,d pairs (>= $expected%,d planted dups; the rest " +
      "are incidental signature collisions in the synthetic vocab), " +
      f"index=$tIdx%.1fs screen=$tScreen%.1fs")

    // ---- 3. STORED digest-index lifecycle at scale --------------------
    // Its OWN corpus, injective in the id (leg 2's modular vocab has
    // period 999,983, so past ~1M ids every "novel" odd doc collides
    // with some even doc — the residue-coverage hole the round-15 notes
    // warn about, which would make this leg degenerate: zero survivors,
    // 100% prescreen pass). History = even ids with unique text,
    // persisted as the managed exact-digest artifact (build half,
    // append half, re-drop the append to prove idempotence, compact);
    // the odd-id batch plants a true duplicate every 50 ids and dedups
    // against the artifact. Correctness is an EQUALITY cross-check
    // against the caller-owned dedupAgainstIndex path over the same
    // corpus. Bloom sized for the corpus (2^25 bits ≈ 3.3M digests at
    // 10 bits/element; the 2^20 default would saturate at this scale —
    // the capacity WARN's regime).
    val dgDir = java.nio.file.Files
      .createTempDirectory("graft_dgsoak").toString + "/dg"
    def uniqText(id: org.apache.spark.sql.Column) = concat(lit("doc "), id)
    val dgHistory = spark.range(0, nDocs, 2)
      .select(col("id").as("doc_id"), uniqText(col("id")).as("text"))
      .localCheckpoint()
    val dgBatch = spark.range(1, nDocs, 2).select(col("id").as("doc_id"),
      when(col("id") % 50 === 1, uniqText(col("id") - 1))
        .otherwise(uniqText(col("id"))).as("text"))
      .localCheckpoint()
    val histA = dgHistory.filter(col("doc_id") % 4 === 0)
    val histB = dgHistory.filter(col("doc_id") % 4 === 2)
    val (_, tBuild) = time("digest index build (half history)") {
      graft.pipeline.DedupOps.writeDigestIndex(histA, "text", dgDir,
        bloomBits = 1 << 25)
    }
    val (_, tAppend) = time("digest append (other half)") {
      graft.pipeline.DedupOps.appendDigestIndex(spark, dgDir, histB, "text")
    }
    def dgCount() = graft.pipeline.DedupOps
      .readDigestIndexMeta(spark, dgDir).digestCount
    val afterAppend = dgCount()
    time("re-dropped append (idempotence)") {
      graft.pipeline.DedupOps.appendDigestIndex(spark, dgDir, histB, "text")
    }
    require(dgCount() == afterAppend,
      s"re-dropped segment must add zero digests ($afterAppend -> ${dgCount()})")
    val (_, tCompact) = time("digest window compaction") {
      graft.pipeline.DedupOps.compactDigestIndex(spark, dgDir)
    }
    val (survStored, tProbe) = time(
      f"stored-index dedup of ${nDocs / 2}%,d batch docs") {
      graft.pipeline.DedupOps.dedupExactAgainstStoredIndex(spark, dgDir,
        dgBatch, "text", "doc_id").count()
    }
    val (survOwned, _) = time("caller-owned ground truth (dedupAgainstIndex)") {
      graft.pipeline.DedupOps.dedupAgainstIndex(dgBatch,
        graft.pipeline.DedupOps.digestIndex(dgHistory, "text"),
        "text", "doc_id").count()
    }
    require(survStored == survOwned,
      s"stored-path survivors $survStored != caller-owned $survOwned")
    // closed form on the injective corpus: planted dups are the odd ids
    // == 1 mod 50 (always odd — 1 + even), everything else survives
    val planted = (1L until nDocs by 2).count(_ % 50 == 1)
    require(survStored == nDocs / 2 - planted,
      s"survivors $survStored != closed-form ${nDocs / 2 - planted}")
    val (passed, total) = graft.pipeline.DedupOps.digestBloomPassStats(
      spark, dgDir, dgBatch, "text")
    println(f"  survivors=$survStored%,d (== caller-owned == closed form), " +
      f"digests=$afterAppend%,d, build=$tBuild%.1fs append=$tAppend%.1fs " +
      f"compact=$tCompact%.1fs probe=$tProbe%.1fs")
    val novel = total - planted
    val fp = 100.0 * (passed - planted) / novel
    println(f"  bloom prescreen: $passed%,d / $total%,d probe digests pass " +
      f"($planted%,d true dups always pass; measured false-positive rate " +
      f"over the $novel%,d novel digests = $fp%.2f%%)")
    spark.stop()
  }
}
