package graft

import graft.pipeline.RetrievalOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ranked-retrieval soak at corpus proportions: 1M synthetic docs
  * (~26 tokens each — ~26M postings tokens), the stored retrieval
  * index built in two slices + compacted, then a 1,000-query workload
  * probed against the store, local[32], recorded in BASELINE.md.
  *
  * Closed-form relevance invariant instead of a recall estimate: doc i
  * carries the PLANTED rare term `rare<i/1000>` (shared by exactly the
  * 1,000 docs of its block) plus high-df filler; a query of one rare
  * term + filler must rank ONLY that block's docs (the rare idf is
  * ~1000× the filler idf at this geometry, and within the block the
  * shorter-dl doc wins) — so every query's top-k membership is
  * `require`d exactly, not sampled. A second probe of the same
  * workload through the ONE-SHOT scorer over the same corpus must
  * agree row-for-row (stored ≡ declarative, at scale).
  *
  * Inputs are deterministic functions of spark.range — no files, no
  * RNG. Args: [nDocs] (default 1M). Run with SPARK_DRIVER_MEM=16g at
  * the 1M default: the proximity leg's verify-first prefix pass is a
  * ~10M-row aggregation on top of the legs' accumulated severed
  * blocks, and the 8g default heap GC-thrashed there (exit 52). */
object RetrievalSoakMain {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = GraftSession()

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label%-52s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
    }

    // doc i: planted block term (df = 1,000) + 24 high-df w-fillers
    // (df ≈ N/7 each) + one MID-df m-token (df = N/100 — idf one order
    // below the planted term, so cross-block candidates flow without
    // outranking the block). dl = 26 exactly for every doc.
    def corpus(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).select(col("id").as("doc_id"),
        concat(
          lit("rare"), expr("cast(id div 1000 as string)"), lit(" "),
          concat_ws(" ", (0 until 24).map(k =>
            concat(lit(s"w$k"), ((col("id") + k) % 7).cast("string"))): _*),
          lit(" m"), (col("id") % 100).cast("string")).as("text"))

    val dir = java.nio.file.Files.createTempDirectory("graft_rt_soak")
      .toString + "/rt"
    // positional build: ~26M (token, doc, pos) rows persisted alongside
    // the bag postings — the phrase-forensics leg below probes them
    time(f"build stored index WITH POSITIONS, slice 1 (${n / 2}%,d docs)") {
      RetrievalOps.writeRetrievalIndex(corpus(0L, n / 2), "text",
        "doc_id", dir, withPositions = true)
    }
    time(f"append slice 2 (${n - n / 2}%,d docs)") {
      RetrievalOps.appendRetrievalIndex(spark, dir, corpus(n / 2, n),
        "text", "doc_id")
    }
    time("compact (window -> one token-sorted epoch)") {
      RetrievalOps.compactRetrievalIndex(spark, dir, targetFiles = 32)
    }
    val meta = RetrievalOps.readRetrievalIndexMeta(spark, dir)
    require(meta.nDocs == n && meta.totalTokens == 26L * n,
      s"meta counters drifted: $meta")

    // 1,000 queries: the planted term + a mid-df m-filler. Candidate
    // volume is the serving cost driver and worth stating exactly:
    // contrib rows per term = df(term) × queries containing it, so the
    // mid-df fillers cost ~1,000 × 10,000 = 10M rows across the
    // workload while keeping cross-block candidates flowing. The
    // HIGH-df w-fillers are measured separately below as the uncapped
    // stopword stress case (one w-token shared by every query → 143M
    // contrib rows) — the blowup a serving stack caps with term-df
    // ceilings or WAND, which the exact scorer deliberately does not.
    val queries = spark.range(1000L).select(col("id").as("query_id"),
      concat(lit("rare"), (col("id") * (n / 1000L / 1000L)).cast("string"),
        lit(" m"), ((col("id") * 13) % 100).cast("string")).as("query_text"))
      .localCheckpoint()
    val k = 10
    val stored = time("probe 1,000 queries against the STORE (top-10)") {
      RetrievalOps.bm25AgainstStoredIndex(spark, dir, queries,
        "query_id", "query_text", k).localCheckpoint()
    }
    val nRows = stored.count()
    require(nRows == 1000L * k, s"expected ${1000 * k} rows, got $nRows")
    // every hit must come from the query's planted block
    val offBlock = stored.join(queries, Seq("query_id"))
      .filter(expr("doc_id div 1000") =!=
        regexp_extract(col("query_text"), "rare(\\d+)", 1).cast("long"))
      .count()
    require(offBlock == 0L,
      s"$offBlock top-$k hits outside the planted block — idf ordering " +
        "broke")
    println(f"  relevance: all ${nRows}%,d hits inside their planted blocks")

    val oneShot = time("same workload through the ONE-SHOT scorer") {
      RetrievalOps.bm25TopK(corpus(0L, n), "text", "doc_id", queries,
        "query_id", "query_text", k).localCheckpoint()
    }
    val disagree = stored.alias("a").join(oneShot.alias("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.rank") === col("b.rank"),
        "full")
      .filter(col("a.doc_id").isNull || col("b.doc_id").isNull ||
        col("a.doc_id") =!= col("b.doc_id") ||
        col("a.score_micro") =!= col("b.score_micro"))
      .count()
    require(disagree == 0L,
      s"$disagree (query, rank) rows disagree between stored and " +
        "one-shot — the two paths must share one scorer")
    println(f"  stored ≡ one-shot: ${nRows}%,d ranked rows agree exactly")

    // the uncapped stopword STRESS case: one high-df w-token in every
    // query — 1,000 queries × ~N/7 postings ≈ 143M exact contribs
    val stress = spark.range(1000L).select(col("id").as("query_id"),
      concat(lit("rare"), (col("id") * (n / 1000L / 1000L)).cast("string"),
        lit(" w00")).as("query_text")).localCheckpoint()
    val t0 = System.nanoTime()
    val stressExact = time("stopword stress: every query shares one " +
      "df≈N/7 term (UNCAPPED exact)") {
      RetrievalOps.bm25AgainstStoredIndex(spark, dir, stress,
        "query_id", "query_text", k).localCheckpoint()
    }
    val uncappedSec = (System.nanoTime() - t0) / 1e9
    val sRows = stressExact.count()
    require(sRows == 1000L * k, s"stress rows $sRows")

    // the BOUNDED serving mode on the same stress workload: per-term
    // df ceiling 20,000 — the rare (df 1,000) and mid (df 10,000)
    // terms clear it untouched, the df≈143k stopword truncates to its
    // 20k best postings, so candidate volume for the stopword drops
    // from ~143M to ≤ 20k × 1,000 = 20M rows
    val cap = 20000
    // identity first: the ORIGINAL workload's terms all clear the cap,
    // so the capped probe must agree with the exact stored probe
    // row-for-row — the serving mode's correctness contract at scale
    val cappedMain = time("capped probe, cap ABOVE every df " +
      "(must equal exact)") {
      RetrievalOps.bm25AgainstStoredIndex(spark, dir, queries,
        "query_id", "query_text", k, dfCapPerTerm = Some(cap))
        .localCheckpoint()
    }
    val capDisagree = stored.alias("a").join(cappedMain.alias("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.rank") === col("b.rank"), "full")
      .filter(col("a.doc_id").isNull || col("b.doc_id").isNull ||
        col("a.doc_id") =!= col("b.doc_id") ||
        col("a.score_micro") =!= col("b.score_micro"))
      .count()
    require(capDisagree == 0L,
      s"$capDisagree rows: capped-with-headroom must be the identity")
    println(f"  capped(cap=$cap%,d) ≡ exact on the main workload")

    val t1 = System.nanoTime()
    val capped = time(f"stopword stress CAPPED (cap=$cap%,d: " +
      "~20M candidate rows, not 143M)") {
      RetrievalOps.bm25AgainstStoredIndex(spark, dir, stress,
        "query_id", "query_text", k, dfCapPerTerm = Some(cap))
        .localCheckpoint()
    }
    val cappedSec = (System.nanoTime() - t1) / 1e9
    val cRows = capped.count()
    require(cRows == 1000L * k, s"capped stress rows $cRows")
    // relevance survives truncation: the planted term (df 1,000, far
    // under the cap) is untouched, so every hit stays in its block
    val cOffBlock = capped.join(stress, Seq("query_id"))
      .filter(expr("doc_id div 1000") =!=
        regexp_extract(col("query_text"), "rare(\\d+)", 1).cast("long"))
      .count()
    require(cOffBlock == 0L, s"$cOffBlock capped hits off-block")
    println(f"  capped stress: ${cRows}%,d rows, all in-block; " +
      f"$cappedSec%.2f s vs uncapped $uncappedSec%.2f s " +
      f"(${uncappedSec / cappedSec}%.1fx)")
    // wall-clock assertions on a shared box carry ±20-30% noise (the
    // BENCH protocol's own caveat) — a 2× margin still catches the
    // cap's failure mode (capped ≈ or ≫ uncapped means the truncation
    // isn't bounding anything) without flaking on a GC pause in the
    // capped leg; the measured ratio prints above either way
    require(cappedSec <= uncappedSec * 2.0,
      f"capped stress ($cappedSec%.2f s) must not cost ~2x the " +
        f"uncapped run ($uncappedSec%.2f s) — the cap exists to bound " +
        "exactly this workload")

    // MAX-SCORE on the same stress workload: the planted term
    // (df 1,000 ≤ split) scores in phase 1, the df≈143k stopword's
    // Σ UB (~6M micro) sits three orders below the planted θ (~1G
    // micro), so phase 2 touches only the surviving block docs — and
    // the output must equal the UNCAPPED EXACT run row for row, which
    // is the whole point of the mode
    val t2 = System.nanoTime()
    val msStress = time(f"stopword stress MAX-SCORE (split=$cap%,d: " +
      "exact output, pruned cost)") {
      RetrievalOps.bm25AgainstStoredIndex(spark, dir, stress,
        "query_id", "query_text", k, maxScoreSplit = Some(cap))
        .localCheckpoint()
    }
    val msSec = (System.nanoTime() - t2) / 1e9
    val msDisagree = stressExact.alias("a").join(msStress.alias("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.rank") === col("b.rank"), "full")
      .filter(col("a.doc_id").isNull || col("b.doc_id").isNull ||
        col("a.doc_id") =!= col("b.doc_id") ||
        col("a.score_micro") =!= col("b.score_micro"))
      .count()
    require(msDisagree == 0L,
      s"$msDisagree rows: max-score must equal the exact scorer " +
        "EVERYWHERE — it is a cost mode, not an approximation")
    println(f"  max-score ≡ exact on all ${1000 * k}%,d stress rows; " +
      f"$msSec%.2f s vs exact $uncappedSec%.2f s " +
      f"(${uncappedSec / msSec}%.1fx)")

    // PHRASE forensics from the stored POSITIONAL relation — planted
    // two-token phrases "rare<q> w00": doc i matches query q iff
    // i ∈ block q AND i ≡ 0 (mod 7) (the first filler is "w0"+(i%7)),
    // always at positions (1,2), exactly once. Closed-form hit set,
    // require'd per query via a full-outer count compare.
    val phraseQs = spark.range(1000L).select(col("id").as("query_id"),
      concat(lit("rare"), (col("id") * (n / 1000L / 1000L)).cast("string"),
        lit(" w00")).as("query_text")).localCheckpoint()
    val phraseHits = time("phrase probe: 1,000 planted phrases " +
      "against the stored positions") {
      RetrievalOps.phraseAgainstStoredIndex(spark, dir, phraseQs,
        "query_id", "query_text", k = 200).localCheckpoint()
    }
    require(phraseHits.filter(col("n_occurrences") =!= 1L).isEmpty,
      "every planted phrase occurs exactly once per matching doc")
    val badPhrase = phraseHits.join(phraseQs, Seq("query_id"))
      .filter(expr("doc_id div 1000") =!=
        regexp_extract(col("query_text"), "rare(\\d+)", 1).cast("long") ||
        col("doc_id") % 7 =!= 0L)
      .count()
    require(badPhrase == 0L, s"$badPhrase phrase hits off the planted set")
    val gotCounts = phraseHits.groupBy(col("query_id"))
      .agg(count(lit(1)).as("got"))
    val expCounts = spark.range(n).filter(col("id") % 7 === 0)
      .select(expr("id div 1000").as("block"))
      .groupBy(col("block")).agg(count(lit(1)).as("exp"))
      .join(phraseQs.select(col("query_id"),
        (col("query_id") * (n / 1000L / 1000L)).as("block")), Seq("block"))
    val countMismatch = gotCounts.join(expCounts, Seq("query_id"), "full")
      .filter(col("got").isNull || col("exp").isNull ||
        col("got") =!= col("exp"))
      .count()
    require(countMismatch == 0L,
      s"$countMismatch queries' phrase hit counts diverge from the " +
        "closed form")
    println(f"  phrase: all 1,000 queries match their closed-form " +
      "hit sets exactly")

    // PROXIMITY at W=26 over the one-shot corpus: "rare<q> m<d>"
    // co-occur iff doc i is in block q with i ≡ 13q (mod 100) — the
    // rare term sits at pos 1 and the m-token at pos 26, so exactly
    // the W=26 window anchored at pos 1 works (10 docs per query,
    // n_windows = 1, mid-df candidate volume ~10M rows by design)
    val proxQs = spark.range(1000L).select(col("id").as("query_id"),
      concat(lit("rare"), (col("id") * (n / 1000L / 1000L)).cast("string"),
        lit(" m"), ((col("id") * 13) % 100).cast("string"))
        .as("query_text")).localCheckpoint()
    val prox = time("proximity probe: 1,000 planted pairs at W=26 " +
      "(one-shot)") {
      RetrievalOps.bm25ProximityTopK(corpus(0L, n), "text", "doc_id",
        proxQs, "query_id", "query_text", k = 20, windowTokens = 26)
        .localCheckpoint()
    }
    require(prox.count() == 1000L * 10L,
      s"expected 10 proximity hits per query, got ${prox.count()}")
    require(prox.filter(col("n_windows") =!= 1L).isEmpty,
      "exactly one window per planted pair")
    val badProx = prox.join(proxQs, Seq("query_id"))
      .filter(expr("doc_id div 1000") =!=
        regexp_extract(col("query_text"), "rare(\\d+)", 1).cast("long") ||
        col("doc_id") % 100 =!= (col("query_id") * 13) % 100)
      .count()
    require(badProx == 0L, s"$badProx proximity hits off the planted set")
    println(f"  proximity: all 10,000 hits on the planted lattice, " +
      "one window each")
    spark.stop()
  }
}
