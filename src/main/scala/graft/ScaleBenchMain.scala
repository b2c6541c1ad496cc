package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1-CLASS bench leg for the three headline composites — admission,
  * stored-BM25 serving, and the filter→mask→pack pipeline — at 10×
  * the sf0.1 documents table (the driver generates no sf1 testdata, so
  * the corpus is the REAL sf0.1 parquet inflated deterministically:
  * replica r of doc i gets doc_id = i·M + r and a one-token " rep<r>"
  * suffix, keeping every replica byte-distinct so the dedup stages see
  * a real corpus, not a 10-way copy).
  *
  * Each composite re-runs the registry row's exact configuration at
  * the inflated scale (same constants as TextQueries/RetrievalQueries)
  * and `require`s its structural invariants, so a scale regression
  * fails loudly instead of drifting. Output: ONE JSON line the round
  * archives (SCALEBENCH_r{N}.json) + numbers recorded in BASELINE.md.
  *
  * Args: [sfDir] [multiplier] (defaults /root/testdata/sf0.1 × 10). */
object ScaleBenchMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    require(mult >= 1, s"multiplier must be >= 1, got $mult")
    val spark = GraftSession()

    def time[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$label%-52s $s%8.2f s"); (r, s)
    }

    // the inflated corpus: replica 0 keeps the original text (so the
    // original token statistics survive), replicas 1..M-1 append a
    // replica token — byte-distinct from every other replica, near-dup
    // of replica 0 at long doc lengths
    val base = graft.queries.Tables.read(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val docs = base.crossJoin(
        spark.range(mult.toLong).select(col("id").as("__rep")))
      .select((col("doc_id") * mult + col("__rep")).as("doc_id"),
        when(col("__rep") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" rep"),
            col("__rep").cast("string"))).as("text"),
        col("source"))
      .localCheckpoint()
    val nDocs = docs.count()
    println(f"inflated corpus: $nDocs%,d docs ($mult x $sfDir)")

    val root = java.nio.file.Files
      .createTempDirectory("graft_scalebench").toString

    // ---- 1. admission: stores on the even half, verdicts on the odd --
    val evenHalf = docs.filter(col("doc_id") % 2 === 0)
    val oddHalf = docs.filter(col("doc_id") % 2 === 1)
    val (_, buildSec) = time("admission: build digest + minhash stores " +
      "(even half)") {
      graft.pipeline.DedupOps.writeDigestIndex(evenHalf, "text",
        s"$root/dg")
      graft.pipeline.DedupOps.writeMinhashIndex(evenHalf, "text",
        "doc_id", s"$root/mh")
    }
    val stores = graft.pipeline.AdmissionOps.AdmissionStores(
      digestIndexPath = Some(s"$root/dg"),
      minhashIndexPath = Some(s"$root/mh"))
    val (verdicts, admitSec) = time("admission: verdicts on the odd half") {
      graft.pipeline.AdmissionOps.admissionReport(spark, oddHalf, "text",
          "doc_id", stores, langCode = Some("en"),
          minQuality = Some(40.0), nearDupMinAgree = 0.5)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    println(s"  verdicts: $verdicts")
    require(verdicts.values.sum == nDocs / 2,
      s"verdict accounting: ${verdicts.values.sum} != ${nDocs / 2}")
    // every odd replica >= 1 of an even-source doc is byte-unique, but
    // cross-half near/exact structure must flag SOMETHING at 10x
    require(verdicts.getOrElse("near_dup", 0L) +
      verdicts.getOrElse("exact_dup", 0L) > 0L,
      "inflated corpus must surface duplicate structure")

    // ---- 2. stored-BM25 serving ---------------------------------------
    val (_, idxSec) = time("bm25: build stored retrieval index " +
      "(even half)") {
      graft.pipeline.RetrievalOps.writeRetrievalIndex(evenHalf, "text",
        "doc_id", s"$root/rt")
    }
    val workload = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(graft.pipeline.TextOps.tokens(col("text")),
          1, 4), " ").as("query_text"))
    val (bmRows, bmSec) = time("bm25: probe the derived workload " +
      "(top-10)") {
      graft.pipeline.RetrievalOps.bm25AgainstStoredIndex(spark,
          s"$root/rt", workload, "query_id", "query_text", 10)
        .count()
    }
    require(bmRows > 0L, "stored probe returned nothing")
    println(f"  $bmRows%,d ranked rows")
    // the BOUNDED serving mode at the same scale: candidate volume per
    // term capped at 2,000 postings — the exact probe above pays
    // df × queries for every common token (quadratic in the inflation
    // factor, since docs AND workload both grow), the capped one
    // dfCap × queries
    val (bmcRows, bmcSec) = time("bm25: same probe, CAPPED " +
      "(dfCapPerTerm=2000)") {
      graft.pipeline.RetrievalOps.bm25AgainstStoredIndex(spark,
          s"$root/rt", workload, "query_id", "query_text", 10,
          dfCapPerTerm = Some(2000))
        .count()
    }
    require(bmcRows == bmRows,
      s"capped probe row count $bmcRows != exact $bmRows")
    println(f"  capped: $bmcRows%,d rows, $bmcSec%.2f s " +
      f"(${bmSec / bmcSec}%.1fx vs exact)")
    // and the EXACT mode: max-score pruning must reproduce the exact
    // probe's every row. On THIS workload (4 common-token prefixes —
    // weak phase-1 θ, so most queries take the fallback lane) expect
    // ~exact cost, which is the mode's documented degradation; the
    // discriminative-term regime where it prunes 6× is measured by
    // RetrievalSoakMain's stress leg
    val exactRows = graft.pipeline.RetrievalOps.bm25AgainstStoredIndex(
      spark, s"$root/rt", workload, "query_id", "query_text", 10)
      .localCheckpoint()
    val (msDisagree, msSec) = time("bm25: same probe, MAX-SCORE " +
      "(split=2000, exact output)") {
      val ms = graft.pipeline.RetrievalOps.bm25AgainstStoredIndex(
        spark, s"$root/rt", workload, "query_id", "query_text", 10,
        maxScoreSplit = Some(2000))
      exactRows.alias("a").join(ms.alias("b"),
          col("a.query_id") === col("b.query_id") &&
            col("a.rank") === col("b.rank"), "full")
        .filter(col("a.doc_id").isNull || col("b.doc_id").isNull ||
          col("a.doc_id") =!= col("b.doc_id") ||
          col("a.score_micro") =!= col("b.score_micro"))
        .count()
    }
    require(msDisagree == 0L,
      s"$msDisagree rows disagree: max-score must be exact")
    println(f"  max-score ≡ exact, $msSec%.2f s " +
      f"(${bmSec / msSec}%.1fx vs exact; includes the compare join)")

    // ---- 2b. positional forensics at scale ----------------------------
    // the phrase/proximity rows' configuration (4-token prefix
    // workload, k=10, W=6) served from a POSITIONAL index over the
    // even half — the two rows round 18 re-shaped, now with
    // driver-visible scale numbers
    val (_, posIdxSec) = time("bm25: build POSITIONAL stored index " +
      "(even half)") {
      graft.pipeline.RetrievalOps.writeRetrievalIndex(evenHalf, "text",
        "doc_id", s"$root/rtp", withPositions = true)
    }
    val (phRows, phSec) = time("phrase: stored probe (top-10)") {
      graft.pipeline.RetrievalOps.phraseAgainstStoredIndex(spark,
          s"$root/rtp", workload, "query_id", "query_text", 10)
        .count()
    }
    require(phRows > 0L, "stored phrase probe returned nothing")
    println(f"  $phRows%,d phrase rows")
    val (pxRows, pxSec) = time("proximity: stored probe (top-10, W=6)") {
      graft.pipeline.RetrievalOps.proximityAgainstStoredIndex(spark,
          s"$root/rtp", workload, "query_id", "query_text", 10, 6)
        .count()
    }
    require(pxRows >= phRows,
      s"proximity ($pxRows rows) must admit at least the phrase " +
        s"matches ($phRows) — a consecutive run IS a W-window")
    println(f"  $pxRows%,d proximity rows")

    // ---- 2c. media-hash lifecycle at scale ----------------------------
    // the q_media_dup_index recipe (real PNG encode + decode through
    // build -> append -> idempotent re-drop -> compact -> probe) at
    // mult x the image count — the suite's slowest lifecycle row
    val (mdRows, mdSec) = time("media: dup-index lifecycle " +
      s"(${60 * mult} images, 5 jobs)") {
      val keys = docs.select((col("doc_id") % (60L * mult))
        .as("img_key")).distinct()
      val corpusImgs = graft.pipeline.MultimodalOps.encodeSyntheticPng(
        keys.filter(col("img_key") < 50L * mult), "img_key")
      val probes = graft.pipeline.MultimodalOps.encodeSyntheticPng(
        keys, "img_key")
      val idxPath = s"$root/mediahash"
      graft.pipeline.MultimodalOps.writeMediaHashIndex(
        corpusImgs.filter(col("media_id") % 2 === 0), "content",
        "media_id", idxPath, bands = 2)
      graft.pipeline.MultimodalOps.appendMediaHashIndex(spark, idxPath,
        corpusImgs.filter(col("media_id") % 2 === 1), "content",
        "media_id")
      graft.pipeline.MultimodalOps.appendMediaHashIndex(spark, idxPath,
        corpusImgs, "content", "media_id") // idempotent re-drop
      graft.pipeline.MultimodalOps.compactMediaHashIndex(spark, idxPath)
      graft.pipeline.MultimodalOps.probeMediaHashIndex(spark, idxPath,
        probes, "content", "media_id", maxHamming = 1).count()
    }
    require(mdRows > 0L, "media probe returned nothing")
    println(f"  $mdRows%,d media dup pairs")

    // ---- 2d. count-min frequency lifecycle at scale -------------------
    // the q_cms_stored recipe (write even half -> append odd half ->
    // stored heavy-hitter probe) over the inflated corpus's 2-gram
    // shingle stream; the structural invariant that makes the sketch
    // the 100 TB answer is REQUIRED below: the stored cell relation
    // stays <= sources x depth x width rows however large the corpus,
    // so cost tracks the two data passes, never the key space
    val (cmsRows, cmsSec) = time("cms: stored-sketch lifecycle " +
      "(build+append+heavy-hitter probe)") {
      def sh(half: DataFrame) = half.select(col("source"),
        explode(graft.functions.TokenShingleHash
          .shingleHashes(col("text"), 2)).as("shingle"))
      graft.pipeline.StatsOps.writeCmsIndex(sh(evenHalf), Seq("source"),
        col("shingle"), s"$root/cms", 4, 2048)
      graft.pipeline.StatsOps.appendCmsIndex(spark, s"$root/cms",
        sh(oddHalf), col("shingle"))
      graft.pipeline.StatsOps.estimateFromStoredCms(spark, s"$root/cms",
          sh(docs).distinct(), "shingle")
        .filter(col("est") >= 5L * mult).count()
    }
    require(cmsRows > 0L, "cms heavy-hitter probe returned nothing")
    val cmsMeta = graft.pipeline.StatsOps.readCmsIndexMeta(spark,
      s"$root/cms")
    val nSources = docs.select("source").distinct().count()
    require(cmsMeta.cellRows <= nSources * 4L * 2048L,
      s"cms cell relation (${cmsMeta.cellRows} rows) exceeded its " +
        s"sources x depth x width bound (${nSources * 4L * 2048L})")
    println(f"  $cmsRows%,d heavy hitters off ${cmsMeta.cellRows}%,d " +
      "stored cells")

    // ---- 3. filter -> mask -> pack pipeline ---------------------------
    val (pipeRows, pipeSec) = time("e2e pipeline: filter -> mask -> " +
      "pack (full corpus)") {
      val surv = graft.pipeline.CorpusFilter.filterCorpus(docs, "text",
        "doc_id", "en", 40.0, 100).select(col("doc_id"))
      val kd = docs.join(surv, Seq("doc_id"), "left_semi")
      val masked = graft.pipeline.TextOps.maskRepeatedSpans(
        kd.select(col("doc_id"), col("text")), "text", "doc_id", 8, 2L)
      val t = masked.join(kd.select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .select(col("source"), col("doc_id"), col("n_tokens"),
          col("n_masked"))
      graft.pipeline.PackingOps.packContexts(t, Seq("source"), "doc_id",
        "n_tokens", 512L).count()
    }
    require(pipeRows > 0L, "pipeline emitted nothing")
    println(f"  $pipeRows%,d packed rows")

    println(s"""{"metric":"scalebench","unit":"sec","sf_dir":"$sfDir",""" +
      s""""multiplier":$mult,"docs":$nDocs,"queries":{""" +
      f""""admission_build":$buildSec%.4f,"admission":$admitSec%.4f,""" +
      f""""bm25_index":$idxSec%.4f,"bm25_stored":$bmSec%.4f,""" +
      f""""bm25_stored_capped":$bmcSec%.4f,""" +
      f""""bm25_stored_maxscore":$msSec%.4f,""" +
      f""""bm25_pos_index":$posIdxSec%.4f,""" +
      f""""bm25_phrase_stored":$phSec%.4f,""" +
      f""""bm25_proximity_stored":$pxSec%.4f,""" +
      f""""media_dup_lifecycle":$mdSec%.4f,""" +
      f""""cms_lifecycle":$cmsSec%.4f,""" +
      f""""e2e_pipeline":$pipeSec%.4f}}""")
    spark.stop()
  }
}
