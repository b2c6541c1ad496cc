package graft.pipeline

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ranked retrieval (integer-exact BM25) and its stored index — the
  * thirteenth artifact lifecycle: one-shot scoring against an
  * independent brute-force reimplementation, stored-path ≡ one-shot,
  * idempotent re-drops, window compaction with byte-identical probes,
  * the streaming batch discipline, and the loud guards. */
class RetrievalOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_rti_$tag").toString

  /** Synthetic corpus: doc i repeats word families so term/document
    * frequencies vary — "common" is everywhere, "rare<i>" is unique,
    * mid-frequency words shard by residue. Lengths vary with id. */
  private def corpus(ids: Seq[Long]): Seq[(Long, String)] =
    ids.map { i =>
      val words = Seq("common") ++
        (0 to (i % 4).toInt).map(k => s"mid${(i + k) % 3}") ++
        Seq(s"rare$i", "common")
      (i, words.mkString(" "))
    }

  private def corpusDf(ids: Seq[Long]): DataFrame =
    corpus(ids).toDF("doc_id", "text")

  private def queriesDf(qs: Seq[(Long, String)]): DataFrame =
    qs.toDF("query_id", "query_text")

  /** Independent brute-force reimplementation of the scoring contract
    * in RetrievalOps's scaladoc — plain Scala loops, no Spark. A doc
    * enters a query's candidate set iff it contains at least one query
    * term (it may then score 0 after flooring). */
  private def brute(docs: Seq[(Long, String)], queries: Seq[(Long, String)],
                    k: Int): Set[(Long, Long, Long, Long)] = {
    val tok = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
    val dl = tok.map { case (id, ts) => id -> ts.length.toLong }
    val n = docs.size.toLong
    val t = dl.values.sum
    val avgdlMilli = 1000L * t / n
    val df = tok.values.flatMap(_.distinct).groupBy(identity)
      .map { case (w, xs) => w -> xs.size.toLong }
    queries.flatMap { case (qid, qtext) =>
      val qts = qtext.split(" ", -1).toSeq.distinct
      val cands = docs.map(_._1).filter(id => qts.exists(tok(id).contains))
      val scored = cands.map { id =>
        val s = qts.map { w =>
          val tf = tok(id).count(_ == w).toLong
          if (tf == 0L) 0L
          else {
            val idf = math.min(
              1000000L * (2L * (n - df(w)) + 1L) / (2L * df(w) + 1L),
              RetrievalOps.IdfCapMicro)
            val tfc = 22000000L * tf /
              (10L * tf + 3L + 9000L * dl(id) / avgdlMilli)
            idf * tfc / 1000000L
          }
        }.sum
        (id, s)
      }
      scored.sortBy { case (id, s) => (-s, id) }.take(k).zipWithIndex
        .map { case ((id, s), i) => (qid, (i + 1).toLong, id, s) }
    }.toSet
  }

  private def collectTopK(out: DataFrame): Set[(Long, Long, Long, Long)] =
    out.collect().map(r => (r.getAs[Long]("query_id"),
      r.getAs[Long]("rank"), r.getAs[Long]("doc_id"),
      r.getAs[Long]("score_micro"))).toSet

  test("bm25TopK agrees with the brute-force scorer: ranks, ties, " +
    "scores, and candidate membership (no zero-term docs)") {
    val docs = corpus(0L to 20L)
    val queries = Seq(
      (100L, "common mid0"),        // broad: every doc is a candidate
      (101L, "rare7 mid1"),          // one unique + one mid term
      (102L, "rare3"),               // singleton result
      (103L, "absentword"),          // no candidates: emits nothing
      (104L, "common common rare2")) // duplicate query terms collapse
    for (k <- Seq(1, 5, 50)) {
      val got = collectTopK(RetrievalOps.bm25TopK(corpusDf(0L to 20L),
        "text", "doc_id", queriesDf(queries), "query_id", "query_text", k))
      assert(got == brute(docs, queries, k), s"k=$k")
    }
  }

  test("ranking is sane: a doc matching the rare term outranks " +
    "common-only docs, and ties break by doc_id ascending") {
    val out = collectTopK(RetrievalOps.bm25TopK(corpusDf(0L to 20L),
      "text", "doc_id", queriesDf(Seq((1L, "rare7 common"))),
      "query_id", "query_text", 3))
    val byRank = out.toSeq.sortBy(_._2)
    assert(byRank.head._3 == 7L, s"rare7's doc must rank first: $byRank")
    // identical-content docs tie exactly; among the common-only docs at
    // equal length/score the lower id wins — verified structurally by
    // the brute-force equality above, spot-checked here
    assert(byRank.map(_._2) == Seq(1L, 2L, 3L))
  }

  test("a query past MaxQueryTerms distinct terms fails loudly") {
    val longQ = (0 to RetrievalOps.MaxQueryTerms)
      .map(i => s"w$i").mkString(" ")
    val e = intercept[Exception] {
      RetrievalOps.bm25TopK(corpusDf(0L to 3L), "text", "doc_id",
        queriesDf(Seq((1L, longQ))), "query_id", "query_text", 5).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("distinct terms"),
      s"got: ${e.getMessage}")
    // a NULL query text fails the same in-plan guard (size(null) fails
    // the when predicate) — the message must name that cause too, not
    // just claim the query was over-width
    val eNull = intercept[Exception] {
      RetrievalOps.bm25TopK(corpusDf(0L to 3L), "text", "doc_id",
        queriesDf(Seq((1L, null.asInstanceOf[String]))),
        "query_id", "query_text", 5).collect()
    }
    assert(eNull.getMessage != null && eNull.getMessage.contains("is null or"),
      s"got: ${eNull.getMessage}")
  }

  // ---- bounded (capped) serving mode --------------------------------------

  test("capped scorer with a cap no term reaches ≡ the exact scorer — " +
    "the serving mode's identity contract") {
    val queries = Seq((100L, "common mid0"), (101L, "rare7 mid1"),
      (102L, "rare3"), (103L, "absentword"))
    for (k <- Seq(1, 5, 50)) {
      val exact = collectTopK(RetrievalOps.bm25TopK(corpusDf(0L to 20L),
        "text", "doc_id", queriesDf(queries), "query_id", "query_text", k))
      val capped = collectTopK(RetrievalOps.bm25TopKCapped(
        corpusDf(0L to 20L), "text", "doc_id", queriesDf(queries),
        "query_id", "query_text", k, dfCapPerTerm = 1000))
      assert(capped == exact, s"k=$k: cap above every df must be identity")
    }
  }

  test("capped truncation: an over-cap term's candidates are bounded at " +
    "the cap, and a kept doc scores with the TRUE df") {
    // "common" appears in all 21 docs (df = 21); cap = 1 keeps exactly
    // one posting — the highest tf_micro, ties by doc_id
    val out = RetrievalOps.bm25TopKCapped(corpusDf(0L to 20L), "text",
        "doc_id", queriesDf(Seq((1L, "common"))), "query_id",
        "query_text", 50, dfCapPerTerm = 1)
      .collect()
    assert(out.length == 1, s"cap=1 must yield one candidate, got " +
      s"${out.length}")
    val keptDoc = out(0).getAs[Long]("doc_id")
    val keptScore = out(0).getAs[Long]("score_micro")
    // true-df contract: the kept doc's score equals the EXACT scorer's
    // score for that same (query, doc) — truncation must not inflate
    // idf by counting only surviving postings
    val exact = collectTopK(RetrievalOps.bm25TopK(corpusDf(0L to 20L),
      "text", "doc_id", queriesDf(Seq((1L, "common"))), "query_id",
      "query_text", 50))
    val exactScore = exact.collectFirst {
      case (_, _, d, s) if d == keptDoc => s
    }.get
    assert(keptScore == exactScore,
      s"kept doc must score with true df: $keptScore != $exactScore")
  }

  test("max-score pruning is EXACT ≡ bm25TopK for every dfSplit: " +
    "pruning lane, mixed lane, and the all-high fallback lane") {
    val queries = Seq(
      (100L, "common mid0"),         // mixed low/high at small splits
      (101L, "rare7 mid1"),
      (102L, "rare3"),               // all-low: pure phase 1
      (103L, "absentword"),          // no candidates: emits nothing
      (104L, "common common rare2"),
      (105L, "common"))              // all-high at small splits: fallback
    for (k <- Seq(1, 5, 50); split <- Seq(1, 3, 1000)) {
      val exact = collectTopK(RetrievalOps.bm25TopK(corpusDf(0L to 20L),
        "text", "doc_id", queriesDf(queries), "query_id", "query_text", k))
      val ms = collectTopK(RetrievalOps.bm25TopKMaxScore(
        corpusDf(0L to 20L), "text", "doc_id", queriesDf(queries),
        "query_id", "query_text", k, dfSplit = split))
      assert(ms == exact, s"k=$k dfSplit=$split: max-score must be exact")
    }
  }

  // ---- phrase / positional retrieval --------------------------------------

  private def matchesOf(docs: Seq[(Long, String)],
                        qs: Seq[(Long, String)]): Map[(Long, Long), Long] =
    RetrievalOps.phraseMatches(docs.toDF("doc_id", "text"), "text",
        "doc_id", qs.toDF("query_id", "query_text"), "query_id",
        "query_text")
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Long]("n_occurrences")).toMap

  test("phraseMatches: consecutive-run semantics — order matters, " +
    "overlaps count, repeated tokens must each match, absent phrases " +
    "emit nothing") {
    val docs = Seq(
      (1L, "a b a b a"),   // "a b a" occurs at 1 and 3 (overlapping)
      (2L, "a b c d"),     // "a b" yes, "b a" no
      (3L, "b a c"),       // "b a" yes
      (4L, "a a a"),       // "a a" occurs at 1 and 2
      (5L, "a c b"))       // has a and b, but no run
    val got = matchesOf(docs, Seq(
      (10L, "a b a"), (11L, "a b"), (12L, "b a"), (13L, "a a"),
      (14L, "z q")))
    assert(got == Map(
      (10L, 1L) -> 2L,
      (11L, 1L) -> 2L, (11L, 2L) -> 1L,
      (12L, 1L) -> 2L, (12L, 3L) -> 1L,
      (13L, 4L) -> 2L),
      s"got $got")
    // SINGLE-TOKEN phrases take the count-only lane (no adjacency to
    // anchor on): occurrences = the token's tf, per doc; mixed with an
    // m >= 2 query in one workload (the union seam), and a single
    // ABSENT token emits nothing
    val got1 = matchesOf(docs, Seq((20L, "a"), (21L, "c"),
      (22L, "a b"), (23L, "zz")))
    assert(got1 == Map(
      (20L, 1L) -> 3L, (20L, 2L) -> 1L, (20L, 3L) -> 1L,
      (20L, 4L) -> 3L, (20L, 5L) -> 1L,
      (21L, 2L) -> 1L, (21L, 3L) -> 1L, (21L, 5L) -> 1L,
      (22L, 1L) -> 2L, (22L, 2L) -> 1L),
      s"got $got1")
  }

  test("bm25ProximityTopK: window semantics — any order counts, gaps " +
    "within W count, gaps past W do not; anchors are term occurrences; " +
    "scores equal the bag scorer's") {
    val docs = Seq(
      (1L, "alpha beta x"),                  // adjacent, in order
      (2L, "beta x alpha"),                  // reordered, span 3
      (3L, "alpha x x x beta"),              // span 5 > W=4 → no window
      (4L, "x alpha x x beta alpha"),        // span(β@5, α@6)=2 → match
      (5L, "alpha only here"))               // missing beta
    val qs = Seq((7L, "alpha beta"))
    def run(w: Int): Map[Long, (Long, Long)] =
      RetrievalOps.bm25ProximityTopK(docs.toDF("doc_id", "text"), "text",
          "doc_id", qs.toDF("query_id", "query_text"), "query_id",
          "query_text", 10, windowTokens = w)
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("score_micro"), r.getAs[Long]("n_windows"))))
        .toMap
    val got = run(4)
    assert(got.keySet == Set(1L, 2L, 4L), s"W=4 matches: $got")
    // n_windows: anchors whose [o, o+3] covers both terms.
    // doc 1 (α@1 β@2): anchors 1 (covers β@2 ✓) and 2 (no α in
    // [2,5]) → 1. doc 2 (β@1 x α@3): anchor 1 ✓, anchor 3 ✗ → 1.
    // doc 4 (α@2 β@5 α@6): anchor 2 covers [2,5] ✓, anchor 5 covers
    // α@6 ✓, anchor 6 ✗ → 2.
    assert(got(1L)._2 == 1L && got(2L)._2 == 1L && got(4L)._2 == 2L,
      s"window counts: $got")
    // widening the window admits doc 3 (span 5)
    assert(run(5).keySet == Set(1L, 2L, 3L, 4L))
    // shrinking to W=1 needs both terms at one position: impossible
    assert(run(1).isEmpty)
    // scores come from the shared bag kernel
    val bag = collectTopK(RetrievalOps.bm25TopK(docs.toDF("doc_id", "text"),
      "text", "doc_id", qs.toDF("query_id", "query_text"), "query_id",
      "query_text", 10)).map { case (_, _, d, s) => d -> s }.toMap
    got.foreach { case (d, (s, _)) => assert(s == bag(d), s"doc $d") }
  }

  test("bm25PhraseTopK: hits are exactly the phrase-matching docs, " +
    "scored identically to the bag scorer, occurrence counts attached") {
    val docs = Seq(
      (1L, "red fox jumps over the fence"),
      (2L, "fox red jumps red fox again"),
      (3L, "the red house and the fox den"),  // both terms, no run
      (4L, "red fox red fox red fox"))
    val qs = Seq((7L, "red fox"))
    val out = RetrievalOps.bm25PhraseTopK(docs.toDF("doc_id", "text"),
        "text", "doc_id", qs.toDF("query_id", "query_text"), "query_id",
        "query_text", 10)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("rank"), r.getAs[Long]("score_micro"),
          r.getAs[Long]("n_occurrences")))).toMap
    assert(out.keySet == Set(1L, 2L, 4L), s"phrase docs only: $out")
    assert(out(1L)._3 == 1L && out(2L)._3 == 1L && out(4L)._3 == 3L,
      s"occurrence counts: $out")
    // scores must equal the bag scorer's for the same pairs (one
    // kernel): doc 4 has tf(red)=tf(fox)=3 and outranks the rest
    val bag = collectTopK(RetrievalOps.bm25TopK(docs.toDF("doc_id", "text"),
      "text", "doc_id", qs.toDF("query_id", "query_text"), "query_id",
      "query_text", 10)).map { case (_, _, d, s) => d -> s }.toMap
    out.foreach { case (d, (_, s, _)) =>
      assert(s == bag(d), s"doc $d: phrase score $s != bag score ${bag(d)}")
    }
    assert(out(4L)._1 == 1L, s"doc 4 must rank first: $out")
  }

  test("TERMSTATS artifact: new builds carry the merged (df, max_tf, " +
    "min_dl) relation; every serving mode answers df from it; a " +
    "flag-off (pre-termstats) meta falls back to the postings pass " +
    "with identical output; compaction maintains it") {
    val dir = tmp("tstats")
    RetrievalOps.writeRetrievalIndex(corpusDf(0L to 9L), "text",
      "doc_id", dir)
    RetrievalOps.appendRetrievalIndex(spark, dir, corpusDf(10L to 15L),
      "text", "doc_id")
    val meta = RetrievalOps.readRetrievalIndexMeta(spark, dir)
    assert(meta.hasTermstats)
    // window-merged df equals the corpus truth ("common" is in all 16
    // docs, twice each: df counts DOCS, max_tf sees the 2)
    val ts = spark.read.parquet((meta.base to meta.epoch)
        .map(RetrievalOps.termstatsDir(dir, _)): _*)
      .groupBy(col("token"))
      .agg(sum(col("df")).as("df"), max(col("max_tf")).as("mtf"))
      .filter(col("token") === "common").collect()(0)
    assert(ts.getLong(1) == 16L && ts.getLong(2) == 2L)
    val oneShot = collectTopK(RetrievalOps.bm25TopK(corpusDf(0L to 15L),
      "text", "doc_id", queriesDf(probeQs), "query_id", "query_text", 5))
    def probeAll(): Unit = {
      assert(collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark, dir,
        queriesDf(probeQs), "query_id", "query_text", 5)) == oneShot)
      assert(collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark, dir,
        queriesDf(probeQs), "query_id", "query_text", 5,
        dfCapPerTerm = Some(1000))) == oneShot)
      assert(collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark, dir,
        queriesDf(probeQs), "query_id", "query_text", 5,
        maxScoreSplit = Some(3))) == oneShot)
    }
    probeAll()
    // legacy fallback: a pre-termstats artifact (flag off) serves the
    // same answers through the postings pass
    RetrievalOps.swapRetrievalMeta(spark, dir,
      meta.copy(hasTermstats = false))
    probeAll()
    RetrievalOps.swapRetrievalMeta(spark, dir, meta)
    // compaction rewrites the relation for the new epoch
    RetrievalOps.compactRetrievalIndex(spark, dir)
    val m2 = RetrievalOps.readRetrievalIndexMeta(spark, dir)
    assert(m2.hasTermstats && new java.io.File(
      RetrievalOps.termstatsDir(dir, m2.epoch)).exists())
    probeAll()
  }

  test("POSITIONAL stored index: phrase probe ≡ one-shot phrase over " +
    "the indexed corpus through build + append + re-drop + compact; a " +
    "bag-only index refuses the phrase probe loudly") {
    val dir = tmp("poslife")
    val phraseQs = Seq((1L, "common mid0"), (2L, "rare5"),
      (3L, "mid1 rare7"), (4L, "absent phrase"))
    def collectPhrase(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("score_micro"),
        r.getAs[Long]("n_occurrences"))).toSet
    RetrievalOps.writeRetrievalIndex(corpusDf(0L to 9L), "text",
      "doc_id", dir, withPositions = true)
    RetrievalOps.appendRetrievalIndex(spark, dir, corpusDf(10L to 15L),
      "text", "doc_id")
    val oneShot = collectPhrase(RetrievalOps.bm25PhraseTopK(
      corpusDf(0L to 15L), "text", "doc_id", queriesDf(phraseQs),
      "query_id", "query_text", 5))
    assert(oneShot.nonEmpty)
    def stored() = collectPhrase(RetrievalOps.phraseAgainstStoredIndex(
      spark, dir, queriesDf(phraseQs), "query_id", "query_text", 5))
    assert(stored() == oneShot)
    // re-drop adds nothing; positions maintained through the append
    RetrievalOps.appendRetrievalIndex(spark, dir, corpusDf(0L to 15L),
      "text", "doc_id")
    assert(stored() == oneShot)
    // compaction rewrites the positional window too — probe unchanged;
    // the SECOND compaction's janitor prunes positional generations
    // below the first's base (one generation of grace, the shared
    // discipline)
    RetrievalOps.compactRetrievalIndex(spark, dir)
    assert(stored() == oneShot)
    RetrievalOps.compactRetrievalIndex(spark, dir)
    assert(stored() == oneShot)
    assert(graft.SpecSupport.epochs(s"$dir/positions").size <= 2,
      "second compaction must prune superseded positional epochs " +
        "(one grace generation)")
    // bag scoring on the same positional index still works (postings
    // rolled up from the stored positions at build)
    val bag = collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark,
      dir, queriesDf(probeQs), "query_id", "query_text", 5))
    assert(bag == collectTopK(RetrievalOps.bm25TopK(corpusDf(0L to 15L),
      "text", "doc_id", queriesDf(probeQs), "query_id", "query_text", 5)))
    // proximity serves from the same artifact: ≡ the one-shot form
    // over the indexed corpus (W wide enough to behave like an
    // unordered filter here)
    val proxOne = RetrievalOps.bm25ProximityTopK(corpusDf(0L to 15L),
        "text", "doc_id", queriesDf(phraseQs), "query_id", "query_text",
        5, windowTokens = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val proxStored = RetrievalOps.proximityAgainstStoredIndex(spark,
        dir, queriesDf(phraseQs), "query_id", "query_text", 5,
        windowTokens = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(proxStored == proxOne && proxOne.nonEmpty)
    // a bag-only index refuses the phrase AND proximity probes,
    // naming the rebuild
    val bagDir = tmp("bagonly")
    RetrievalOps.writeRetrievalIndex(corpusDf(0L to 5L), "text",
      "doc_id", bagDir)
    val e = intercept[IllegalArgumentException] {
      RetrievalOps.phraseAgainstStoredIndex(spark, bagDir,
        queriesDf(phraseQs), "query_id", "query_text", 5)
    }
    assert(e.getMessage.contains("withPositions"))
    val e2 = intercept[IllegalArgumentException] {
      RetrievalOps.proximityAgainstStoredIndex(spark, bagDir,
        queriesDf(phraseQs), "query_id", "query_text", 5, 4)
    }
    assert(e2.getMessage.contains("withPositions"))
  }

  // ---- stored lifecycle ---------------------------------------------------

  private val probeQs = Seq((1L, "common mid0"), (2L, "rare5 rare6 mid2"),
    (3L, "rare14"))

  test("stored path ≡ one-shot over the indexed corpus: build + append " +
    "+ probe; a re-dropped segment appends nothing; a re-appended id " +
    "keeps its stored text") {
    val dir = tmp("life")
    val built = 0L to 9L
    val appended = 10L to 15L
    RetrievalOps.writeRetrievalIndex(corpusDf(built), "text", "doc_id", dir)
    RetrievalOps.appendRetrievalIndex(spark, dir, corpusDf(appended),
      "text", "doc_id")
    val oneShot = collectTopK(RetrievalOps.bm25TopK(
      corpusDf(0L to 15L), "text", "doc_id", queriesDf(probeQs),
      "query_id", "query_text", 5))
    // a two-epoch window: the exact probe's df comes through the
    // cross-epoch termstats merge (a one-epoch window skips it)
    val window = RetrievalOps.readRetrievalIndexMeta(spark, dir)
    assert(window.base == 0L && window.epoch == 1L && window.hasTermstats)
    val stored = collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark,
      dir, queriesDf(probeQs), "query_id", "query_text", 5))
    assert(stored == oneShot)
    val metaBefore = spark.read.parquet(s"$dir/meta").collect()(0)
    // re-drop: the whole corpus re-appends; counters and probes hold
    RetrievalOps.appendRetrievalIndex(spark, dir, corpusDf(0L to 15L),
      "text", "doc_id")
    val metaAfter = spark.read.parquet(s"$dir/meta").collect()(0)
    assert(metaAfter.getAs[Long]("n_docs") ==
      metaBefore.getAs[Long]("n_docs"))
    assert(metaAfter.getAs[Long]("total_tokens") ==
      metaBefore.getAs[Long]("total_tokens"))
    assert(collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark, dir,
      queriesDf(probeQs), "query_id", "query_text", 5)) == oneShot)
    // re-appended id with DIFFERENT text: doc ids are the identity —
    // the stored version wins, probes unchanged
    RetrievalOps.appendRetrievalIndex(spark, dir,
      Seq((5L, "entirely different words")).toDF("doc_id", "text"),
      "text", "doc_id")
    assert(collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark, dir,
      queriesDf(probeQs), "query_id", "query_text", 5)) == oneShot)
    // the bounded serving mode on the STORED path: identity when the
    // cap clears every probed df, bounded candidates when it doesn't
    assert(collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark, dir,
      queriesDf(probeQs), "query_id", "query_text", 5,
      dfCapPerTerm = Some(1000))) == oneShot,
      "stored capped with an unreached cap must equal the exact probe")
    val capOne = RetrievalOps.bm25AgainstStoredIndex(spark, dir,
        queriesDf(Seq((1L, "common"))), "query_id", "query_text", 50,
        dfCapPerTerm = Some(1))
      .collect()
    assert(capOne.length == 1,
      s"cap=1 on a df-16 term must keep one candidate, got ${capOne.length}")
  }

  test("EXACT stored probe on a block-stats artifact ≡ the one-shot " +
    "scorer, absent term included") {
    val dir = tmp("exblk")
    // 40 docs → blockCountFor picks ≥ 1 block; workload mixes an
    // everywhere-term, mid-frequency terms, a unique term, and an
    // absent term (df = 0 — the no-candidate edge)
    RetrievalOps.writeRetrievalIndex(corpusDf(0L to 39L), "text",
      "doc_id", dir)
    val qs = queriesDf(probeQs ++ Seq((4L, "common nowhere")))
    val plain = collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark,
      dir, qs, "query_id", "query_text", 5))
    val oneShot = collectTopK(RetrievalOps.bm25TopK(corpusDf(0L to 39L),
      "text", "doc_id", qs, "query_id", "query_text", 5))
    assert(plain == oneShot,
      "exact stored probe must equal the one-shot scorer")
  }

  // the name keeps its original bound; the pin is 6 jobs (the list is
  // in bm25AgainstStoredIndex's scaladoc)
  test("EXACT stored probe runs at most 10 Spark jobs, none of them a " +
    "parquet schema inference") {
    val dir = tmp("jobs")
    RetrievalOps.writeRetrievalIndex(corpusDf(0L to 39L), "text",
      "doc_id", dir)
    val (_, jobs) = org.apache.spark.JobRecorder.record(spark.sparkContext)(
      RetrievalOps.bm25AgainstStoredIndex(spark, dir, queriesDf(probeQs),
        "query_id", "query_text", 5).collect())
    val listing = jobs.map(_.mkString(" | ")).mkString("\n  ")
    assert(jobs.size <= 6, s"${jobs.size} jobs:\n  $listing")
    assert(!jobs.flatten.exists(_.startsWith("parquet at")),
      s"a schema-inference job ran:\n  $listing")
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Hash keys of every shuffle in an executed (AQE final) plan; a
    * non-hash shuffle lists its partitioning's name. */
  private def shuffleKeys(out: DataFrame): Seq[Seq[String]] = {
    val plan = out.queryExecution.executedPlan
    assert(plan.toString.contains("isFinalPlan=true"),
      "AQE must have finalized the plan")
    PlanWalk.collect(plan) { case s: ShuffleExchangeExec =>
      s.outputPartitioning match {
        case h: HashPartitioning => h.expressions.map {
          case a: Attribute => a.name
          case e => e.sql
        }
        case p => Seq(p.getClass.getSimpleName)
      }
    }
  }

  test("EXACT stored probe's final plan spreads candidates by doc_id and " +
    "never shuffles (query_id, doc_id) partial sums") {
    val dir = tmp("plan")
    RetrievalOps.writeRetrievalIndex(corpusDf(0L to 39L), "text",
      "doc_id", dir)
    val out = RetrievalOps.bm25AgainstStoredIndex(spark, dir,
      queriesDf(probeQs), "query_id", "query_text", 5)
    out.collect()
    val keys = shuffleKeys(out)
    assert(!keys.exists(k => k.contains("query_id") && k.contains("doc_id")),
      s"a per-(query, doc) exchange: $keys")
    // the candidate spread, then the per-query top-K
    assert(keys.sortBy(_.mkString(",")) == Seq(Seq("doc_id"), Seq("query_id")),
      s"shuffle keys: $keys")
  }

  test("the bag top-K paths plan no aggregate keyed by (query_id, " +
    "doc_id): the stored exact and capped probes, the one-shot exact and " +
    "capped scorers") {
    val dir = tmp("noagg")
    RetrievalOps.writeRetrievalIndex(corpusDf(0L to 39L), "text",
      "doc_id", dir)
    val qs = queriesDf(probeQs)
    def perPairAggs(out: DataFrame): Seq[Seq[String]] = {
      out.collect()
      PlanWalk.collect(out.queryExecution.executedPlan) {
        case a: BaseAggregateExec => a.groupingExpressions.map(_.name)
      }.filter(g => g.contains("query_id") && g.contains("doc_id"))
    }
    val paths = Seq(
      "stored exact" -> RetrievalOps.bm25AgainstStoredIndex(spark, dir, qs,
        "query_id", "query_text", 5),
      "stored capped" -> RetrievalOps.bm25AgainstStoredIndex(spark, dir, qs,
        "query_id", "query_text", 5, dfCapPerTerm = Some(3)),
      "one-shot exact" -> RetrievalOps.bm25TopK(corpusDf(0L to 39L), "text",
        "doc_id", qs, "query_id", "query_text", 5),
      "one-shot capped" -> RetrievalOps.bm25TopKCapped(corpusDf(0L to 39L),
        "text", "doc_id", qs, "query_id", "query_text", 5,
        dfCapPerTerm = 3))
    for ((label, out) <- paths)
      assert(perPairAggs(out).isEmpty,
        s"$label plans a per-(query, doc) aggregate: ${perPairAggs(out)}")
  }

  test("all-tied corpus: every stored mode ≡ its one-shot scorer, ties " +
    "broken by doc_id") {
    // every doc has the same text, so every score ties and only doc_id
    // orders the top-K; the ids are sparse and partly negative, so the
    // doc_id spread scatters them over every task
    val ids = (0L until 24L).map(i => i * 7919L - 50000L)
    val docs = ids.map(i => (i, "alpha beta gamma alpha beta")).toDF("doc_id", "text")
    val qs = queriesDf(Seq((1L, "alpha beta"), (2L, "gamma"),
      (3L, "beta gamma alpha"), (4L, "delta alpha"), (5L, "beta alpha")))
    val dir = tmp("ties")
    RetrievalOps.writeRetrievalIndex(docs, "text", "doc_id", dir,
      withPositions = true)
    val k = 5
    def same(label: String, a: DataFrame, b: DataFrame): Unit = {
      val x = a.select(b.columns.map(col): _*)
      assert(x.exceptAll(b).isEmpty && b.exceptAll(x).isEmpty,
        s"$label differs from its one-shot scorer")
    }
    val oneShot = RetrievalOps.bm25TopK(docs, "text", "doc_id", qs,
      "query_id", "query_text", k).localCheckpoint()
    assert(oneShot.count() == 5L * k, "every query matches every doc")
    def stored(cap: Option[Int], split: Option[Int]): DataFrame =
      RetrievalOps.bm25AgainstStoredIndex(spark, dir, qs, "query_id",
        "query_text", k, dfCapPerTerm = cap, maxScoreSplit = split)
    same("exact", stored(None, None), oneShot)
    // a cap under df (24) but at least k keeps the k lowest doc_ids of
    // every term, whose scores are complete: still exact
    same("capped", stored(Some(k + 3), None), oneShot)
    same("max-score, all terms high", stored(None, Some(1)), oneShot)
    same("max-score, all terms low", stored(None, Some(1000)), oneShot)
    same("phrase",
      RetrievalOps.phraseAgainstStoredIndex(spark, dir, qs, "query_id",
        "query_text", k),
      RetrievalOps.bm25PhraseTopK(docs, "text", "doc_id", qs, "query_id",
        "query_text", k))
    same("proximity",
      RetrievalOps.proximityAgainstStoredIndex(spark, dir, qs, "query_id",
        "query_text", k, windowTokens = 3),
      RetrievalOps.bm25ProximityTopK(docs, "text", "doc_id", qs,
        "query_id", "query_text", k, windowTokens = 3))
  }

  private def visibleDataFiles(dir: String, rel: String): Int = {
    val meta = spark.read.parquet(s"$dir/meta").collect()(0)
    (meta.getAs[Long]("base") to meta.getAs[Long]("epoch")).map { e =>
      Option(new java.io.File(s"$dir/$rel/e$e").listFiles()).toSeq.flatten
        .count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
    }.sum
  }

  test("compaction: probe output identical, visible postings file count " +
    "reduced to target, window re-based, epochs below the grace " +
    "generation pruned") {
    val dir = tmp("compact")
    RetrievalOps.writeRetrievalIndex(corpusDf(0L to 4L), "text", "doc_id",
      dir)
    (1 to 4).foreach { i =>
      RetrievalOps.appendRetrievalIndex(spark, dir,
        corpusDf(Seq(4L + i)), "text", "doc_id")
    }
    val before = collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark,
      dir, queriesDf(probeQs), "query_id", "query_text", 5))
    assert(visibleDataFiles(dir, "postings") >= 5)
    RetrievalOps.compactRetrievalIndex(spark, dir)
    assert(collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark, dir,
      queriesDf(probeQs), "query_id", "query_text", 5)) == before)
    assert(visibleDataFiles(dir, "postings") == 1)
    val meta = spark.read.parquet(s"$dir/meta").collect()(0)
    assert(meta.getAs[Long]("base") == meta.getAs[Long]("epoch"))
    // grace discipline: the superseded generation survives one commit;
    // a second compaction prunes it
    RetrievalOps.compactRetrievalIndex(spark, dir)
    val left = graft.SpecSupport.epochs(s"$dir/postings")
      .map(_.drop(1).toLong)
    assert(left.min >= meta.getAs[Long]("base"),
      s"epochs below the pre-compaction base must be pruned, got $left")
  }

  test("maybeCompact honours the window policy and validates maxEpochs") {
    val dir = tmp("policy")
    RetrievalOps.writeRetrievalIndex(corpusDf(0L to 2L), "text", "doc_id",
      dir)
    assert(!RetrievalOps.maybeCompactRetrievalIndex(spark, dir, 3))
    RetrievalOps.appendRetrievalIndex(spark, dir, corpusDf(Seq(3L)),
      "text", "doc_id")
    RetrievalOps.appendRetrievalIndex(spark, dir, corpusDf(Seq(4L)),
      "text", "doc_id")
    assert(RetrievalOps.maybeCompactRetrievalIndex(spark, dir, 3))
    val e = intercept[IllegalArgumentException] {
      RetrievalOps.maybeCompactRetrievalIndex(spark, dir, 1)
    }
    assert(e.getMessage.contains("maxEpochs"))
  }

  test("ingest batch discipline: first batch builds; replay skips " +
    "quietly as a data no-op; a regressed id refuses loudly naming the " +
    "backfill; orphan postings with no meta refuse the build") {
    val dir = tmp("ingest")
    assert(RetrievalOps.ingestRetrievalBatch(spark, dir,
      corpusDf(0L to 4L), "text", "doc_id", batchId = 0L))
    assert(RetrievalOps.ingestRetrievalBatch(spark, dir,
      corpusDf(5L to 8L), "text", "doc_id", batchId = 1L))
    val snapshot = collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark,
      dir, queriesDf(probeQs), "query_id", "query_text", 5))
    // crash-replay of the last batch: skipped, artifact unchanged
    assert(!RetrievalOps.ingestRetrievalBatch(spark, dir,
      corpusDf(5L to 8L), "text", "doc_id", batchId = 1L))
    assert(collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark, dir,
      queriesDf(probeQs), "query_id", "query_text", 5)) == snapshot)
    // id regression: a reset checkpoint must refuse, naming the backfill
    val e = intercept[IllegalArgumentException] {
      RetrievalOps.ingestRetrievalBatch(spark, dir, corpusDf(Seq(9L)),
        "text", "doc_id", batchId = -1L)
    }
    assert(e.getMessage.contains("appendRetrievalIndex"))
    // orphan data: postings present, meta gone → loud refusal, no rebuild
    val orphan = tmp("orphan")
    corpusDf(0L to 2L).write.parquet(s"$orphan/postings/e0")
    val e2 = intercept[IllegalArgumentException] {
      RetrievalOps.ingestRetrievalBatch(spark, orphan, corpusDf(Seq(3L)),
        "text", "doc_id", batchId = 0L)
    }
    assert(e2.getMessage.toLowerCase.contains("retrieval index"))
  }

  test("stored probe's literal-filter guard: a workload past maxTerms " +
    "refuses loudly") {
    val dir = tmp("guard")
    RetrievalOps.writeRetrievalIndex(corpusDf(0L to 3L), "text", "doc_id",
      dir)
    val e = intercept[IllegalArgumentException] {
      RetrievalOps.bm25AgainstStoredIndex(spark, dir,
        queriesDf(Seq((1L, "a b c"), (2L, "d e f"))),
        "query_id", "query_text", 5, maxTerms = 4)
    }
    assert(e.getMessage.contains("shard the workload"))
    // the per-query width guard fires while the probe is built, in the
    // one collect of its query terms
    val wide = (0 to RetrievalOps.MaxQueryTerms).map(i => s"w$i")
      .mkString(" ")
    val e2 = intercept[Exception] {
      RetrievalOps.bm25AgainstStoredIndex(spark, dir,
        queriesDf(Seq((1L, wide))), "query_id", "query_text", 5)
    }
    assert(e2.getMessage != null && e2.getMessage.contains(
      s"more than ${RetrievalOps.MaxQueryTerms} distinct"), e2.getMessage)
  }

  test("BLOCK-MAX artifact: new builds carry (token, blk, max_tf, " +
    "min_dl); the stored max-score probe ≡ the exact probe on EVERY " +
    "workload — including all-common-token queries, where the fallback " +
    "lane's block pruning fires — across k and dfSplit; compaction " +
    "re-picks the modulus; a pre-blockstats meta takes the unpruned " +
    "lane with identical output") {
    val dir = tmp("blockmax")
    RetrievalOps.writeRetrievalIndex(corpusDf(0L to 599L), "text",
      "doc_id", dir)
    val meta = RetrievalOps.readRetrievalIndexMeta(spark, dir)
    assert(meta.blockCount == RetrievalOps.blockCountFor(600L) &&
      meta.blockCount > 1L)
    assert(new java.io.File(
      RetrievalOps.blockstatsDir(dir, meta.epoch)).exists())
    // all-common workload (every term df > any split → pure fallback
    // lane) + a discriminative one + a missing-term one
    val qs = Seq((1L, "common mid0 mid1"), (2L, "common common"),
      (3L, "rare5 common"), (4L, "absent common"), (5L, "mid2"))
    for (k <- Seq(1, 3, 50); split <- Seq(1, 3, 1000)) {
      val exact = collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark,
        dir, queriesDf(qs), "query_id", "query_text", k))
      val bm = collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark,
        dir, queriesDf(qs), "query_id", "query_text", k,
        maxScoreSplit = Some(split)))
      assert(bm == exact, s"k=$k split=$split")
    }
    // append keeps the modulus; compaction re-picks it from the corpus
    // counter — probes identical throughout
    RetrievalOps.appendRetrievalIndex(spark, dir, corpusDf(600L to 699L),
      "text", "doc_id")
    assert(RetrievalOps.readRetrievalIndexMeta(spark, dir).blockCount ==
      meta.blockCount)
    val before = collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark,
      dir, queriesDf(qs), "query_id", "query_text", 5,
      maxScoreSplit = Some(3)))
    RetrievalOps.compactRetrievalIndex(spark, dir)
    val m2 = RetrievalOps.readRetrievalIndexMeta(spark, dir)
    assert(m2.blockCount == RetrievalOps.blockCountFor(700L))
    assert(collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark, dir,
      queriesDf(qs), "query_id", "query_text", 5,
      maxScoreSplit = Some(3))) == before)
    // pre-blockstats meta (modulus 0): the fallback lane reverts to
    // the exact plan — same answers
    RetrievalOps.swapRetrievalMeta(spark, dir, m2.copy(blockCount = 0L))
    assert(collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark, dir,
      queriesDf(qs), "query_id", "query_text", 5,
      maxScoreSplit = Some(3))) == before)
  }

  test("upgradeRetrievalIndex: a pre-termstats/pre-blockstats window " +
    "gains both relations in one pass — probes identical before and " +
    "after, upgraded ≡ rebuilt, idempotent no-op when current") {
    val dir = tmp("upgrade")
    RetrievalOps.writeRetrievalIndex(corpusDf(0L to 9L), "text",
      "doc_id", dir)
    RetrievalOps.appendRetrievalIndex(spark, dir, corpusDf(10L to 15L),
      "text", "doc_id")
    val meta = RetrievalOps.readRetrievalIndexMeta(spark, dir)
    // simulate a pre-upgrade artifact: strip the stats relations and
    // the meta fields (what an old build would have left behind)
    RetrievalOps.swapRetrievalMeta(spark, dir,
      meta.copy(hasTermstats = false, blockCount = 0L))
    Seq("termstats", "blockstats").foreach { rel =>
      val f = new java.io.File(s"$dir/$rel")
      if (f.exists())
        org.apache.commons.io.FileUtils.deleteDirectory(f)
    }
    def probes() = (
      collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark, dir,
        queriesDf(probeQs), "query_id", "query_text", 5)),
      collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark, dir,
        queriesDf(probeQs), "query_id", "query_text", 5,
        maxScoreSplit = Some(3))),
      collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark, dir,
        queriesDf(probeQs), "query_id", "query_text", 5,
        dfCapPerTerm = Some(1000))))
    val legacy = probes() // fallback lanes exercised (no stats)
    assert(RetrievalOps.upgradeRetrievalIndex(spark, dir))
    val m2 = RetrievalOps.readRetrievalIndexMeta(spark, dir)
    assert(m2.hasTermstats && m2.blockCount ==
      RetrievalOps.blockCountFor(m2.nDocs))
    // every window epoch gained both relations
    (m2.base to m2.epoch).foreach { e =>
      assert(new java.io.File(RetrievalOps.termstatsDir(dir, e)).exists())
      assert(new java.io.File(RetrievalOps.blockstatsDir(dir, e)).exists())
    }
    assert(probes() == legacy, "upgrade must not change probe output")
    // upgraded ≡ rebuilt: a fresh build over the same corpus serves
    // identical answers through the same armed paths
    val dir2 = tmp("upgrade_rebuilt")
    RetrievalOps.writeRetrievalIndex(corpusDf(0L to 15L), "text",
      "doc_id", dir2)
    assert(collectTopK(RetrievalOps.bm25AgainstStoredIndex(spark, dir2,
      queriesDf(probeQs), "query_id", "query_text", 5,
      maxScoreSplit = Some(3))) == legacy._2)
    // already-current artifact: no-op
    assert(!RetrievalOps.upgradeRetrievalIndex(spark, dir))
  }

  test("verify-first FALLBACK lane: a window match ranked beyond the " +
    "scored prefix is still found — the residue's bag-intersected " +
    "pass completes the answer exactly") {
    // 400 docs all contain both query terms (every doc a bag
    // candidate, > the 256-wide prefix); only the LONGEST doc — the
    // worst bag score, provably outside the prefix — has them
    // adjacent. The done-check cannot stop early (0 matches in the
    // prefix, candidates exceed it), so the residue lane must find it.
    val docs = (1L to 400L).map { i =>
      val filler = (1L to i).map(j => s"f${i}_$j")
      if (i == 400L) (i, (filler ++ Seq("pa", "pb")).mkString(" "))
      else (i, ("pa" +: filler :+ "pb").mkString(" "))
    }
    val out = RetrievalOps.bm25ProximityTopK(docs.toDF("doc_id", "text"),
        "text", "doc_id", queriesDf(Seq((1L, "pa pb"))), "query_id",
        "query_text", 10, windowTokens = 2)
      .collect()
    assert(out.length == 1 && out(0).getAs[Long]("doc_id") == 400L &&
      out(0).getAs[Long]("n_windows") == 1L &&
      out(0).getAs[Long]("rank") == 1L,
      s"fallback lane must surface the late-ranked match: " +
        out.mkString(", "))
    // and its score is the shared bag kernel's
    val bag = collectTopK(RetrievalOps.bm25TopK(docs.toDF("doc_id", "text"),
      "text", "doc_id", queriesDf(Seq((1L, "pa pb"))), "query_id",
      "query_text", 400)).collectFirst {
        case (_, _, 400L, s) => s }.get
    assert(out(0).getAs[Long]("score_micro") == bag)
  }

  test("proximity_windows kernel: duplicate positions do not double-" +
    "count anchors; fewer distinct tokens than m yields 0; the " +
    "slot-width guard refuses a >128-token list loudly") {
    import graft.functions.ProximityWindows
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    def occ(rows: (Long, String)*): GenericArrayData =
      new GenericArrayData(rows.map { case (p, t) =>
        InternalRow(p, UTF8String.fromString(t))
      }.toArray[Any])
    // "a b" with W=2: anchors 1 (covers b@2) and 2 (no a in [2,3]) → 1
    assert(ProximityWindows.compute(occ(1L -> "a", 2L -> "b"), 2L, 2) == 1L)
    // duplicate position rows (defensive): same answer
    assert(ProximityWindows.compute(
      occ(1L -> "a", 1L -> "a", 2L -> "b"), 2L, 2) == 1L)
    // missing token: zero without sweeping
    assert(ProximityWindows.compute(occ(1L -> "a", 5L -> "a"), 2L, 4) == 0L)
    // empty list
    assert(ProximityWindows.compute(occ(), 1L, 3) == 0L)
    // >128 distinct tokens in one list: loud refusal
    val wide = occ((1L to 130L).map(i => i -> s"t$i"): _*)
    val e = intercept[IllegalStateException] {
      ProximityWindows.compute(wide, 130L, 5)
    }
    assert(e.getMessage.contains("128"))
  }
}
