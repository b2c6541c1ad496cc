package graft.pipeline

import graft.functions.LongPairMinKHeap
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Ranked retrieval over the corpus — BM25 top-K with an INTEGER-EXACT
  * scoring variant (every signal is BIGINT arithmetic: scaled integral
  * divisions, no log, no FP accumulation), so scores are
  * bit-reproducible at any parallelism and carry an exact SQL oracle.
  * The [[TextOps.ngramFamiliarity]] convention, applied to Robertson &
  * Zaragoza's ranking function (Okapi BM25, "The Probabilistic
  * Relevance Framework: BM25 and Beyond", Found. Trends IR 2009) with
  * the standard k1 = 1.2, b = 0.75 folded into exact rationals:
  *
  *   avgdl_milli = ⌊1000·T / N⌋                       (corpus scalar)
  *   tf_micro    = ⌊22·10⁶·tf / (10·tf + 3 + ⌊9000·dl / avgdl_milli⌋)⌋
  *   idf_micro   = min(⌊10⁶·(2(N−df)+1) / (2·df+1)⌋, 10¹¹)
  *   score_micro = Σ_t ⌊idf_micro(t)·tf_micro(t,d) / 10⁶⌋
  *
  * where N = corpus docs, T = corpus tokens, dl = doc tokens, tf = term
  * frequency, df = document frequency; the sum ranges over the query's
  * DISTINCT terms. tf_micro is the exact BM25 saturation term scaled by
  * 10⁶ — with k1 = 6/5 and b = 3/4, tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
  * multiplies out to 22·tf/(10·tf + 3 + 9·dl/avgdl), integer-exact once
  * dl/avgdl is carried in millis. idf_micro is the Robertson idf's
  * ARGUMENT (N−df+½)/(df+½) scaled by 10⁶ (monotone in df like the log
  * form, which is all ranking needs), capped at 10¹¹ so the worst-case
  * per-term product stays far under 2⁶³ (cap·max tf_micro·64 terms
  * ≈ 1.4·10¹⁹/8 — documented headroom, loudly bounded by maxQueryTerms
  * at the API).
  *
  * Token arithmetic follows `split(text, ' ')` exactly (the repo-wide
  * tokenizer seam) and ties break by doc_id ascending. Top-K selection
  * keeps (−score, doc_id) pairs in bounded heaps: [[scoreTopK]] scores
  * each task's docs one at a time into a k-slot heap per query
  * ([[graft.functions.LongPairMinKHeap]]), and [[topKOf]] merges the
  * tasks' heaps per query ([[graft.functions.LongPairMinK]]). No
  * WindowExec and no per-(query, doc) aggregate runs, so a stopword
  * query term that matches the whole corpus costs a k-slot buffer per
  * query and task, not a per-query sort. */
object RetrievalOps {

  /** idf saturation cap — keeps idf_micro·tf_micro·terms < 2⁶³. */
  val IdfCapMicro: Long = 100000000000L

  /** Loud bound on a query's distinct terms: 64 terms at the idf cap
    * and max tf saturation sum to ~1.4·10¹⁹/8 ≈ 1.8·10¹⁸ < 2⁶³. */
  val MaxQueryTerms: Int = 64

  private def div(a: Column, b: Column): Column = call_function("div", a, b)

  /** Spread a small-but-CPU-DENSE probe relation across the session's
    * cores before its fan-out stages (r18 optimization, guide §2.5/§6
    * input-skew corner): a compacted artifact reads as ONE file split,
    * so every map stage rooted at it — the term filter, the broadcast
    * joins, the partial aggregation of the scoring fan-out — ran as a
    * single task (measured: the stored probe's 6 MB contrib fan-out was
    * a 1.3 s single-task stage at sf0.1 while 31 cores idled). The
    * exchange moves ONLY the probed (term-filtered) rows, never the
    * artifact; the width is the environment's own parallelism, so on a
    * real cluster a large probe spreads to the fleet and a small one
    * costs one tiny pass.
    *
    * The rows hash by `doc_id`, so every posting of a doc lands in one
    * task. [[scoreTopK]] relies on that: it scores a task's docs one at
    * a time and sends only per-query heaps across the top-K exchange. The
    * other consumers group or join on `doc_id` (the positional
    * self-joins, `cand ⋈ pairs`), and `HashPartitioning(doc_id)` already
    * satisfies those distributions through the broadcast joins. A
    * second `spread` of a spread relation plans away. A round-robin
    * spread expanded 45,584 probed postings into 544,763 partial sums
    * that crossed a second exchange (`retrieval_serve` seed 1, 4
    * cores). */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      col("doc_id"))

  /** Per-(token, doc) term frequencies — the postings relation, ONE
    * partial-aggregated corpus shuffle. */
  private def rawPostings(df: DataFrame, textCol: String,
                          idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** Postings denormalized with each doc's length — the relation BOTH
    * the one-shot scorer and the stored index persist: (token, doc_id,
    * tf, dl). dl = Σ tf per doc, derived from the postings themselves
    * (split-tokenizer arithmetic: empty text is one empty token, so
    * every doc has dl ≥ 1). Carrying dl on the posting row costs 8
    * bytes/posting and buys the probe path freedom from a corpus-wide
    * doc-length join at query time. */
  def postingsWithDocLen(df: DataFrame, textCol: String,
                         idCol: String): DataFrame = {
    val post = Checkpoints.sever(rawPostings(df, textCol, idCol))
    val dl = post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    post.join(dl, Seq("doc_id"))
      .select(col("token"), col("doc_id"), col("tf"), col("dl"))
  }

  /** The corpus scalars the scorer reads, as two driver longs:
    * `avgdlMilli` = ⌊1000·T / N⌋ (see the object scaladoc). [[attach]]
    * adds them to a relation as the literal columns `n_docs` and
    * `avgdl_milli`, so no stats relation is joined or broadcast. */
  private[pipeline] final case class CorpusStats(nDocs: Long,
                                                 avgdlMilli: Long) {
    def attach(df: DataFrame): DataFrame =
      df.select(col("*"), lit(nDocs).as("n_docs"),
        lit(avgdlMilli).as("avgdl_milli"))
  }

  private[pipeline] object CorpusStats {
    /** From the corpus counters: N docs, T tokens. */
    def of(nDocs: Long, totalTokens: Long): CorpusStats =
      CorpusStats(nDocs, 1000L * totalTokens / math.max(nDocs, 1L))
  }

  /** Corpus stats from the narrow (doc_id, dl) relation: one aggregate
    * row, collected to the driver (an aggregate stage plus a collect —
    * the jobs a broadcast of the same row cost). */
  private def statsOf(docLens: DataFrame): CorpusStats = {
    val r = docLens.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L)))
      .collect()(0)
    CorpusStats.of(r.getLong(0), r.getLong(1))
  }

  /** Per-query DISTINCT terms, loudly bounded by [[MaxQueryTerms]]
    * (the overflow-headroom contract above — enforced in-plan via
    * raise_error so the guard rides the same job, no driver pass). */
  def queryTerms(queries: DataFrame, queryIdCol: String,
                 queryTextCol: String): DataFrame = {
    val toks = array_distinct(TextOps.tokens(col(queryTextCol)))
    // a NULL query text makes size(toks) NULL, which fails the when
    // predicate and would fire the over-width error MISLEADINGLY —
    // name both causes in one message (the guard stays one in-plan
    // branch either way)
    queries.select(col(queryIdCol).as("query_id"),
        explode(when(size(toks) <= MaxQueryTerms, toks)
          .otherwise(raise_error(concat(lit("bm25: query "),
            col(queryIdCol).cast("string"),
            lit(s" is null or has more than $MaxQueryTerms distinct " +
              "terms — shorten the query (or drop null rows) or raise " +
              "the scoring scale headroom")))))
          .as("token"))
  }

  /** A query workload's term rows ([[queryTerms]], or [[phraseTerms]]
    * on the phrase probes), collected to the driver once: one job, where
    * the width/null guard's `raise_error` fires. The rows are the query
    * workload's, which a broadcast join would bring to the driver anyway.
    * `rel` re-plants them as a local relation for the joins that read
    * them, `terms` are their distinct tokens, sorted, `termsRel` holds
    * those as a one-column (token) local relation, and [[index]] is the
    * form [[scoreTopK]]'s tasks read. */
  private[pipeline] final class Workload(termRows: DataFrame) {
    val rows: Array[Row] = termRows.collect()
    val rel: DataFrame = termRows.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), termRows.schema)
    lazy val terms: Array[String] =
      rows.map(_.getAs[String]("token")).distinct.sorted

    def termsRel: DataFrame = rel.sparkSession.createDataFrame(
      java.util.Arrays.asList(terms.map(Row(_)): _*),
      StructType(Seq(StructField("token", StringType))))

    /** The distinct query ids, and for each term the indexes of the
      * queries that hold it, one per (query_id, token) row. */
    lazy val index: (Array[Any], Map[String, Array[Int]]) = {
      val ids = rows.map(_.getAs[Any]("query_id")).distinct
      val at = ids.zipWithIndex.toMap
      (ids, rows.groupBy(_.getAs[String]("token")).map { case (t, rs) =>
        t -> rs.map(r => at(r.getAs[Any]("query_id")))
      })
    }
  }

  /** The exact BM25 saturation term scaled by 10⁶ (see the object
    * scaladoc); needs `dl` on the row and `avgdl_milli` in scope. */
  private def tfMicro: Column =
    div(lit(22000000L) * col("tf"),
      lit(10L) * col("tf") + lit(3L) +
        div(lit(9000L) * col("dl"), col("avgdl_milli")))

  /** One posting's integer-exact BM25 contribution,
    * ⌊min(idf_micro, cap)·tf_micro / 10⁶⌋ (see the object scaladoc): the
    * ONE contribution expression every scorer sums, so all paths (one-shot,
    * stored, capped, max-score, phrase, proximity) are score-identical by
    * construction. Needs `tf`, `dl` and `__df` on the row and the
    * [[CorpusStats]] columns in scope. */
  private def contribMicro: Column =
    div(idfMicro(col("__df")) * tfMicro, lit(1000000L))

  /** The capped idf_micro of a term with document frequency `df` (see
    * the object scaladoc); needs `n_docs` in scope. */
  private def idfMicro(df: Column): Column =
    least(div(lit(1000000L) * (lit(2L) * (col("n_docs") - df) + lit(1L)),
      lit(2L) * df + lit(1L)), lit(IdfCapMicro))

  /** Document frequency per token, (token, __df), counted over `cand`:
    * the true df when `cand` holds every posting of its terms. */
  private def dfreqOf(cand: DataFrame): DataFrame =
    cand.groupBy(col("token")).agg(count(lit(1)).as("__df"))

  /** Per-(query, doc) BM25 scores over `cand`, (query_id, doc_id,
    * score_micro), as a relational aggregate: `cand` joined to the
    * query terms, summed per (query, doc). The max-score internals read
    * these partial scores; a plain top-K runs [[scoreTopK]] instead, whose
    * output equals `topKOf(scoredContrib(...), k)` (spec-pinned).
    *
    * Without `dfreqOverride`, `cand` must hold EVERY posting of every
    * query term (and may hold only those): df per token is then
    * computable from `cand` itself. The capped path passes the TRUE
    * pre-truncation df instead, so truncating a posting list never
    * inflates a term's idf. Both joins broadcast the query-workload
    * side and keep `cand`'s partitioning, so a `cand` hashed by doc_id
    * ([[spread]]) rolls up per (query, doc) without an exchange. */
  private[pipeline] def scoredContrib(cand: DataFrame, stats: CorpusStats,
                                      qterms: DataFrame,
                                      dfreqOverride: Option[DataFrame] = None)
      : DataFrame = {
    val dfreq = dfreqOverride.getOrElse(dfreqOf(cand))
    cand
      .join(broadcast(qterms), Seq("token"))
      .join(broadcast(dfreq), Seq("token"))
      .transform(stats.attach)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(contribMicro).as("score_micro"))
  }

  /** [[scoredContrib]] RESTRICTED to a (query_id, doc_id) pair
    * relation — the match-first scorer behind the phrase and
    * proximity rows: the pairs meet the postings ON doc_id before any
    * query-term expansion, so scoring cost tracks the MATCH set
    * (pairs × that-doc's-workload-terms), not df × queries — a
    * stopword shared by every phrase costs its postings once, not
    * once per query. True df still comes from one partial-agg pass
    * over the full `cand`, so restricted scores equal the exact
    * scorer's for the same pairs bit for bit. */
  private def scoredContribForPairs(cand: DataFrame, stats: CorpusStats,
                                    qt: DataFrame, pairs: DataFrame,
                                    dfreqOverride: Option[DataFrame] = None)
      : DataFrame = {
    val dfreq = dfreqOverride.getOrElse(dfreqOf(cand))
    cand.join(pairs.select(col("query_id"), col("doc_id")), Seq("doc_id"))
      .join(broadcast(qt), Seq("query_id", "token"), "left_semi")
      .join(broadcast(dfreq), Seq("token"))
      .transform(stats.attach)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(contribMicro).as("score_micro"))
  }

  /** Each query's top-K of a (query_id, doc_id, score_micro) relation
    * via the bounded pair heap on (−score, doc_id) — ascending pairs
    * give score DESC, doc_id ASC; O(k) state per query regardless of
    * candidate volume, no WindowExec. */
  private[pipeline] def topKOf(scored: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"bm25: k must be >= 1, got $k")
    scored.groupBy(col("query_id"))
      .agg(graft.functions.LongPairMinK.minK(
        -col("score_micro"), col("doc_id"), k).as("__pairs"))
      .select(col("query_id"),
        posexplode(col("__pairs")).as(Seq("__i", "__pair")))
      .select(col("query_id"),
        (col("__i") + 1).cast("long").as("rank"),
        col("__pair").getField("b").as("doc_id"),
        (-col("__pair").getField("a")).as("score_micro"))
  }

  /** Each query's top-`k` over the candidate postings `cand` (token,
    * doc_id, tf, dl), scored document at a time in one per-task kernel.
    * Every bag top-K runs through it: the one-shot exact and capped
    * scorers, the stored exact and capped probes, and the forensic K′
    * prefix. Output ≡ `topKOf(scoredContrib(cand, stats, w.rel,
    * dfreqOverride), k)` (spec-pinned), in five steps:
    *  1. [[spread]] `cand` by doc_id, so every posting of a doc sits in
    *     one task (a `cand` that is already spread plans the repeat
    *     away);
    *  2. compute each posting's [[contribMicro]] once — the postings meet
    *     the df relation only, never the query terms, so a term that many
    *     queries share does not multiply its postings;
    *  3. sort each partition by doc_id (Spark's spillable sort);
    *  4. walk the docs one at a time ([[docAtATimeTopK]]): a posting adds
    *     its contribution to every query that holds its term, and at the
    *     doc's end each touched query offers (−score, doc_id) to its
    *     k-slot heap, so ties break as in [[topKOf]];
    *  5. emit at most k rows per query and task into the [[topKOf]]
    *     merge.
    * The query terms reach the tasks from the driver (the collected
    * [[Workload]]), so a task holds O(queries × k) state besides the
    * sort, and no aggregate is keyed by (query_id, doc_id). */
  private[pipeline] def scoreTopK(cand: DataFrame, stats: CorpusStats,
                                  w: Workload, k: Int,
                                  dfreqOverride: Option[DataFrame] = None)
      : DataFrame = {
    val dfreq = dfreqOverride.getOrElse(dfreqOf(cand))
    val (queryIds, byTerm) = w.index
    val out = StructType(Seq(w.rel.schema("query_id"),
      StructField("doc_id", LongType, nullable = false),
      StructField("score_micro", LongType, nullable = false)))
    val postings = spread(cand)
      .join(broadcast(dfreq), Seq("token"))
      .transform(stats.attach)
      .select(col("doc_id"), col("token"), contribMicro.as("__c"))
      .sortWithinPartitions(col("doc_id"))
      .as(Encoders.tuple(Encoders.LONG, Encoders.STRING, Encoders.LONG))
    topKOf(postings.mapPartitions(rows =>
      docAtATimeTopK(rows, queryIds, byTerm, k))(Encoders.row(out)), k)
  }

  /** [[scoreTopK]]'s per-task kernel. `rows` are (doc_id, token,
    * contribution), sorted by doc_id, with every posting of a doc in
    * this task; `byTerm` maps a term to the indexes into `queryIds` of
    * the queries that hold it (an index once per workload row, as the
    * relational join counts it). Per doc, each query's contributions sum
    * in a primitive accumulator (`Math.addExact`: an overflow fails
    * loudly, as ANSI `sum` does); null doc ids and null contributions
    * are skipped, as the relational sum and [[topKOf]]'s heap skip
    * them. Returns each query's k best (query_id, doc_id, score_micro)
    * rows of this task, unordered. */
  private def docAtATimeTopK(rows: Iterator[(java.lang.Long, String,
                                             java.lang.Long)],
                             queryIds: Array[Any],
                             byTerm: Map[String, Array[Int]],
                             k: Int): Iterator[Row] = {
    val acc = new Array[Long](queryIds.length)
    val touched = new Array[Int](queryIds.length)
    val isTouched = new Array[Boolean](queryIds.length)
    var nTouched = 0
    val heaps = new Array[LongPairMinKHeap](queryIds.length)
    var doc = 0L
    def endDoc(): Unit = {
      var i = 0
      while (i < nTouched) {
        val q = touched(i)
        if (heaps(q) == null) heaps(q) = new LongPairMinKHeap(k)
        heaps(q).add(-acc(q), doc)
        acc(q) = 0L
        isTouched(q) = false
        i += 1
      }
      nTouched = 0
    }
    while (rows.hasNext) {
      val (d, token, c) = rows.next()
      val qs = if (d == null || c == null) null
        else byTerm.getOrElse(token, null)
      if (qs != null) {
        if (nTouched > 0 && d.longValue != doc) endDoc()
        doc = d
        var i = 0
        while (i < qs.length) {
          val q = qs(i)
          acc(q) = Math.addExact(acc(q), c.longValue)
          if (!isTouched(q)) {
            isTouched(q) = true
            touched(nTouched) = q
            nTouched += 1
          }
          i += 1
        }
      }
    }
    endDoc()
    heaps.iterator.zipWithIndex.filter(_._1 != null).flatMap {
      case (h, q) => Iterator.tabulate(h.size)(i =>
        Row(queryIds(q), h.values(2 * i + 1), -h.values(2 * i)))
    }
  }

  /** BOUNDED-COST serving: keep only each term's `dfCap`
    * highest-contribution postings (exact tf_micro order, ties by
    * doc_id — deterministic), returning the truncated candidates plus
    * the TRUE pre-truncation df relation. This is the quit/continue
    * posting-list pruning of Moffat & Zobel ("Self-indexing inverted
    * files for fast text retrieval", TOIS 1996) in the max-score
    * family of Robertson & Zaragoza 2009 §6: a term's lowest-tf_micro
    * postings are exactly its lowest upper-bound contributions, so
    * they are the ones a WAND-style scan would skip first.
    *
    * Contract: for any query workload where NO term's df exceeds
    * `dfCap`, output ≡ the exact scorer (the truncation filter keeps
    * every row and df is the true df either way — spec-pinned). When
    * a stopword term DOES exceed it, that term's candidate volume is
    * bounded at dfCap × queries-containing-it instead of df × queries
    * (the 143M-row blowup the exact scorer documents), and its kept
    * docs still score with the true df. Approximation stated plainly:
    * a doc whose ONLY evidence for a query is a beyond-cap posting of
    * an over-cap term drops out of that query's candidates, and a
    * candidate doc loses the over-cap term's contribution if its
    * posting ranked beyond the cap — both err toward missing
    * low-evidence docs, never toward inventing score.
    *
    * Scale shape: the rank is a per-token window whose row_number
    * filter plans as WindowGroupLimit — each MAP partition prunes to
    * dfCap rows per token before the exchange, so the shuffle carries
    * ≤ dfCap × input-partitions rows per token, not the full posting
    * list. */
  private[pipeline] def truncatePerTerm(cand: DataFrame, stats: CorpusStats,
                                        dfCap: Int,
                                        dfreqOverride: Option[DataFrame] =
                                          None)
      : (DataFrame, DataFrame) = {
    require(dfCap >= 1, s"bm25: dfCapPerTerm must be >= 1, got $dfCap")
    import org.apache.spark.sql.expressions.Window
    val dfreq = dfreqOverride.getOrElse(dfreqOf(cand))
    val w = Window.partitionBy(col("token"))
      .orderBy(col("__tfm").desc, col("doc_id").asc)
    val kept = cand.transform(stats.attach)
      .withColumn("__tfm", tfMicro)
      .withColumn("__prn", row_number().over(w))
      .filter(col("__prn") <= dfCap)
      .select(col("token"), col("doc_id"), col("tf"), col("dl"))
    (kept, dfreq)
  }

  /** One-shot ranked retrieval: BM25 top-`k` docs per query, scored
    * with the integer-exact variant above. Returns (query_id, rank,
    * doc_id, score_micro); queries with no matching doc emit nothing.
    *
    * Shape: ONE severed postings kernel pass (consumed by the doc-length
    * rollup and the candidate filter), stats from the narrow (doc, dl)
    * relation, candidates = postings semi-joined by the broadcast term
    * set, and the dl join happens AFTER that filter — docs sharing no
    * term with a query never leave the semi-join, so everything past
    * the postings build tracks MATCHED postings, not the corpus. */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
               queries: DataFrame, queryIdCol: String,
               queryTextCol: String, k: Int): DataFrame = {
    val post = Checkpoints.sever(rawPostings(docs, textCol, idCol))
    val dl = Checkpoints.sever(
      post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))
    val stats = statsOf(dl)
    val w = new Workload(queryTerms(queries, queryIdCol, queryTextCol))
    // spread (r19, guide §2.5 input-skew corner): the severed postings
    // relation is tiny-compressed, so AQE coalesces the stage under it
    // to ONE task and the scoring — the row's dominant CPU — ran
    // serial while the other cores idled (the stored probes' r18 fix,
    // driver-validated at 3.3× there; the r18 GLOBAL AQE floor aimed at this
    // same stage regressed the suite and is reverted). The exchange
    // moves every matched posting, Σ df(t) over the query terms: it
    // grows with the corpus (147M rows at the ×10 scale leg), not only
    // with the workload. The df count reads the spread rows too, and
    // scoreTopK's own spread plans away.
    val cand = spread(
      post.join(broadcast(w.termsRel), Seq("token"), "left_semi")
        .join(dl, Seq("doc_id"))
        .select(col("token"), col("doc_id"), col("tf"), col("dl")))
    scoreTopK(cand, stats, w, k)
  }

  /** [[bm25TopK]] with BOUNDED candidate volume: every query term's
    * posting list is truncated to its `dfCapPerTerm`
    * highest-contribution postings ([[truncatePerTerm]] — exact when
    * no term's df exceeds the cap, spec-pinned against the exact
    * scorer; the serving-mode answer to the stopword-query blowup the
    * exact scorer deliberately keeps as the oracle). */
  def bm25TopKCapped(docs: DataFrame, textCol: String, idCol: String,
                     queries: DataFrame, queryIdCol: String,
                     queryTextCol: String, k: Int,
                     dfCapPerTerm: Int): DataFrame = {
    val post = Checkpoints.sever(rawPostings(docs, textCol, idCol))
    val dl = Checkpoints.sever(
      post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))
    val stats = statsOf(dl)
    val w = new Workload(queryTerms(queries, queryIdCol, queryTextCol))
    val cand0 = post.join(broadcast(w.termsRel), Seq("token"), "left_semi")
      .join(dl, Seq("doc_id"))
      .select(col("token"), col("doc_id"), col("tf"), col("dl"))
    val (kept, dfreq) = truncatePerTerm(cand0, stats, dfCapPerTerm)
    scoreTopK(kept, stats, w, k, dfreqOverride = Some(dfreq))
  }

  /** EXACT top-K at bounded cost — max-score / WAND-family pruning
    * (Robertson & Zaragoza 2009 §6; Turtle & Flood's max-score, 1995)
    * re-expressed as a two-phase bulk plan. Output ≡ [[bm25TopK]] on
    * every input (the oracle IS the exact scorer's SQL); `dfSplit` is
    * a COST knob only, never a semantics knob.
    *
    * Phase 1 scores the DISCRIMINATIVE terms (df ≤ dfSplit) exactly —
    * their candidate volume is the workload the exact scorer already
    * handles. The k-th phase-1 score per query is a threshold θ; each
    * HIGH-df term contributes at most UB(t) = idf(t)·max_tf_micro(t)
    * (its best posting's contribution), so a doc whose phase-1 score
    * plus Σ UB(high terms of q) falls strictly below θ provably
    * cannot reach the true top-K (true scores only grow with the
    * high-term contributions, so the true k-th best ≥ θ; boundary
    * ties survive the non-strict keep). Phase 2 adds the high-df
    * contributions ONLY for surviving candidates: the high postings
    * join the candidate relation ON doc_id first, so the volume is
    * candidates × that-doc's-high-terms, never df × queries — the
    * stopword blowup dies here.
    *
    * Graceful degradation, stated plainly: a query whose Σ UB clears
    * θ (all-stopword queries, or fewer than K phase-1 candidates ⇒
    * θ = −∞) cannot prune — its high-matched docs all enter the
    * candidate set and it pays the exact scorer's cost for exact
    * results. Pruning pays off exactly when discriminative terms
    * dominate the scores, which is what makes them discriminative. */
  def bm25TopKMaxScore(docs: DataFrame, textCol: String, idCol: String,
                       queries: DataFrame, queryIdCol: String,
                       queryTextCol: String, k: Int,
                       dfSplit: Int): DataFrame = {
    val post = Checkpoints.sever(rawPostings(docs, textCol, idCol))
    val dl = Checkpoints.sever(
      post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))
    val stats = statsOf(dl)
    val qt = Checkpoints.sever(
      queryTerms(queries, queryIdCol, queryTextCol))
    val terms = qt.select(col("token")).distinct()
    // spread: same single-task-fan-out fix as bm25TopK (the stored
    // max-score path already feeds maxScoreCore a spread cand)
    val cand = spread(post.join(broadcast(terms), Seq("token"), "left_semi")
      .join(dl, Seq("doc_id"))
      .select(col("token"), col("doc_id"), col("tf"), col("dl")))
    maxScoreCore(cand, stats, qt, k, dfSplit)
  }

  /** The two-phase max-score engine behind the one-shot and stored
    * paths — `cand` must hold every posting of every query term (the
    * [[scoredContrib]] contract). `cand` is deliberately NOT severed:
    * it is postings-sized, and pinning it in unevictable checkpoint
    * blocks starves the aggregates that read it (measured as an
    * executor aggregation OOM at the 10× scale leg) — each consumer
    * re-derives it from its cheap source (the stored path's
    * row-group-pruned scan, or the one-shot path's already-severed
    * postings). Only the term-, query-, and candidate-sized relations
    * materialize. */
  private def maxScoreCore(cand: DataFrame, stats: CorpusStats,
                           qt: DataFrame, k: Int, dfSplit: Int,
                           dfreqOverride: Option[DataFrame] = None,
                           ubOverride: Option[DataFrame] = None,
                           blockOpt: Option[(DataFrame, Long)] = None,
                           seedCand: Option[DataFrame] = None)
      : DataFrame = {
    require(k >= 1, s"bm25: k must be >= 1, got $k")
    require(dfSplit >= 1, s"bm25: dfSplit must be >= 1, got $dfSplit")
    val dfreq = Checkpoints.sever(dfreqOverride.getOrElse(dfreqOf(cand)))
    val lowTerms = dfreq.filter(col("__df") <= dfSplit)
      .select(col("token"))
    val highTerms = dfreq.filter(col("__df") > dfSplit)
      .select(col("token"))
    val qtLow = qt.join(broadcast(lowTerms), Seq("token"), "left_semi")
    val qtHigh = Checkpoints.sever(
      qt.join(broadcast(highTerms), Seq("token"), "left_semi"))
    val candLow = cand.join(broadcast(lowTerms), Seq("token"), "left_semi")
    val candHigh = cand.join(broadcast(highTerms), Seq("token"), "left_semi")

    // phase 1: exact scores over the discriminative terms (true df)
    val s1 = Checkpoints.sever(
      scoredContrib(candLow, stats, qtLow, dfreqOverride = Some(dfreq))
        .select(col("query_id"), col("doc_id"),
          col("score_micro").as("__s1")))

    // θ per query: the k-th phase-1 score where one exists, else −∞
    // (fewer than k phase-1 candidates — including ZERO for an
    // all-stopword query — can never prune). Seeded from the full
    // query-id set so the fallback lane sees every query.
    val kth = topKOf(s1.select(col("query_id"), col("doc_id"),
        col("__s1").as("score_micro")), k)
      .groupBy(col("query_id"))
      .agg(max(col("rank")).as("__nr"), min(col("score_micro")).as("__kth"))
    val theta = qt.select(col("query_id")).distinct()
      .join(kth, Seq("query_id"), "left")
      .select(col("query_id"),
        when(col("__nr") === k, col("__kth"))
          .otherwise(lit(Long.MinValue)).as("__theta"))

    // per-high-term upper bound UB(t) = contrib at that term's best
    // posting; Σ per query = the most the high terms can add anywhere
    val ub = ubOverride match {
      // stored term stats: an ADMISSIBLE (possibly looser) bound —
      // less pruning in the worst case, identical output either way
      case Some(u) => u.join(broadcast(highTerms), Seq("token"),
        "left_semi")
      case None => candHigh.transform(stats.attach)
        .groupBy(col("token")).agg(max(tfMicro).as("__maxtfm"))
        .join(broadcast(dfreq), Seq("token"))
        .transform(stats.attach)
        .select(col("token"), div(idfMicro(col("__df")) * col("__maxtfm"),
          lit(1000000L)).as("__ub"))
    }
    val sHigh = qtHigh.join(broadcast(ub), Seq("token"))
      .groupBy(col("query_id"))
      .agg(sum(col("__ub")).as("__shigh"))

    // split the WORKLOAD into a prunable lane (Σ UB < θ strictly: a
    // doc with no phase-1 evidence provably cannot reach the top-K, so
    // high-only docs are out and phase-1 survivors are the complete
    // candidate set) and a fallback lane (Σ UB clears θ, or θ = −∞:
    // these queries pay the EXACT scorer through the exact scorer's
    // OWN plan shape — a broadcast token join — not a degenerate
    // per-doc expansion; an earlier cut routed fallback docs through a
    // join on doc_id and aggregated OOM at the 10× scale leg, because
    // the doc side fans out per query BEFORE the rollup)
    val qMeta = Checkpoints.sever(
      theta.join(sHigh, Seq("query_id"), "left")
        .select(col("query_id"), col("__theta"),
          coalesce(col("__shigh"), lit(0L)).as("__shigh")))
    val fallbackQ = qMeta.filter(col("__shigh") >= col("__theta"))
      .select(col("query_id"))
    val qtFall = qt.join(broadcast(fallbackQ), Seq("query_id"),
      "left_semi")
    // the fallback lane: without block stats these queries pay the
    // exact scorer; with them, the block-max lane prunes whole doc
    // blocks below a seeded threshold and scores only the survivors —
    // still exact output, bounded cost on the all-common-token
    // workloads where the per-term θ test above cannot prune
    val fallScored = blockOpt match {
      case Some((blockUb, blockCount)) =>
        val thetaFall = qMeta
          .filter(col("__shigh") >= col("__theta"))
          .select(col("query_id"), col("__theta").as("__theta1"))
        blockMaxFallback(cand, stats, qtFall, thetaFall, k, dfreq,
          blockUb, blockCount, seedCand)
      case None => scoredContrib(cand, stats, qtFall,
        dfreqOverride = Some(dfreq))
    }

    // prunable lane: phase-1 docs within reach, then phase 2 adds the
    // high-term contributions for those candidates ONLY — postings
    // meet the (already small) candidate relation on doc_id
    val candidates = Checkpoints.sever(
      s1.join(broadcast(qMeta.filter(col("__shigh") < col("__theta"))),
          Seq("query_id"))
        .filter(col("__s1") + col("__shigh") >= col("__theta"))
        .select(col("query_id"), col("doc_id"), col("__s1")))
    val highContrib = candHigh
      .join(candidates.select(col("query_id"), col("doc_id")), Seq("doc_id"))
      .join(broadcast(qtHigh), Seq("query_id", "token"), "left_semi")
      .transform(stats.attach)
      .join(broadcast(dfreq), Seq("token"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(contribMicro).as("__sh"))
    val prunedScored = candidates
      .join(highContrib, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("doc_id"),
        (col("__s1") + coalesce(col("__sh"), lit(0L))).as("score_micro"))
    topKOf(fallScored.unionByName(prunedScored), k)
  }

  /** The BLOCK-MAX lane for the max-score fallback queries — exact
    * output at block-pruned cost (Ding & Suel 2011's block-max WAND
    * idea, re-expressed as three bulk joins):
    *
    * 1. SEED a per-query threshold θ: score each term's `seedCap`
    *    highest-contribution postings (the capped mode's truncation)
    *    with the TRUE df. Partial sums never exceed true scores, so
    *    the seed's k-th score — and the caller's phase-1 θ, whichever
    *    is greater — is a valid lower bound on the true k-th score.
    * 2. PRUNE blocks: QB(q, b) = Σ over q's terms present in block b
    *    of that cell's upper bound ([[writeBlockstats]]); every
    *    posting of a doc shares one block ([[blkOf]]), so a doc's true
    *    score ≤ QB(q, its block), and blocks with QB < θ drop whole.
    *    A top-k doc's block always survives (QB ≥ its true score ≥
    *    true k-th ≥ θ), so survivors are complete.
    * 3. SCORE survivors exactly (true df) — all-or-nothing per
    *    (query, doc) by construction, so the scores are the exact
    *    scorer's bit for bit.
    *
    * Graceful degradation: a query with < k seed candidates keeps
    * θ = −∞ and every block survives — the exact scorer's cost, never
    * worse than the pre-block-max fallback. */
  private def blockMaxFallback(cand: DataFrame, stats: CorpusStats,
                               qtFall: DataFrame, thetaFall: DataFrame,
                               k: Int, dfreq: DataFrame,
                               blockUb: DataFrame, blockCount: Long,
                               seedCand: Option[DataFrame] = None)
      : DataFrame = {
    val seedCap = math.max(256, 8 * k)
    // seed truncation over the UNSPREAD candidate relation when the
    // caller has one (r18's noted seed-inflation carve-out, measured
    // r19): the map-side WindowGroupLimit retains ≤ seedCap rows per
    // token PER PARTITION, so a spread input exchanges up to
    // seedCap × partitions per token AND — the dominant cost — fans
    // the inflated kept relation into the seed scorer's broadcast
    // query join before the window's own exchange dedups nothing.
    // truncatePerTerm's OUTPUT is partitioning-independent (the
    // row_number ranks after the by-token exchange), so this is a
    // pure cost move.
    val (kept, _) = truncatePerTerm(seedCand.getOrElse(cand), stats,
      seedCap, dfreqOverride = Some(dfreq))
    val seed = scoredContrib(kept, stats, qtFall,
      dfreqOverride = Some(dfreq))
    val kth = topKOf(seed, k)
      .groupBy(col("query_id"))
      .agg(max(col("rank")).as("__nr"), min(col("score_micro")).as("__kth"))
    val theta = Checkpoints.sever(thetaFall
      .join(kth, Seq("query_id"), "left")
      .select(col("query_id"),
        greatest(col("__theta1"),
          when(col("__nr") === k, col("__kth"))
            .otherwise(lit(Long.MinValue))).as("__bth")))
    val qb = Checkpoints.sever(
      blockUb.join(broadcast(qtFall), Seq("token"))
        .groupBy(col("query_id"), col("blk"))
        .agg(sum(col("__bub")).as("__qb"))
        .join(broadcast(theta), Seq("query_id")))
    // COST ROUTING (exactness unaffected either way): a query none of
    // whose blocks prune gains nothing from the survivor join — it
    // would pay the exact scorer's volume PLUS the block fan-out
    // (measured 102 s vs the exact probe's 56 s on the 10× replica
    // leg before this). Route a query through the block lane only
    // when a material fraction of its candidate-bearing blocks
    // actually prune; the rest take the exact scorer's own plan.
    val routing = qb.groupBy(col("query_id"))
      .agg(count(lit(1)).as("__nb"),
        sum(when(col("__qb") < col("__bth"), 1L).otherwise(0L))
          .as("__npruned"))
    val blockQ = routing
      .filter(col("__npruned") * 4L >= col("__nb"))
      .select(col("query_id"))
    val qtBlock = qtFall.join(broadcast(blockQ), Seq("query_id"),
      "left_semi")
    val qtExact = qtFall.join(broadcast(blockQ), Seq("query_id"),
      "left_anti")
    val sv = qb
      .join(broadcast(blockQ), Seq("query_id"), "left_semi")
      .filter(col("__qb") >= col("__bth"))
      .select(col("query_id"), col("blk"))
    val survPost = cand.withColumn("blk", blkOf(blockCount))
      .join(sv, Seq("blk"))
      .join(broadcast(qtBlock), Seq("query_id", "token"), "left_semi")
    val blockScored = survPost.join(broadcast(dfreq), Seq("token"))
      .transform(stats.attach)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(contribMicro).as("score_micro"))
    blockScored.unionByName(
      scoredContrib(cand, stats, qtExact, dfreqOverride = Some(dfreq)))
  }

  // ---- positional postings / phrase retrieval -----------------------------

  /** POSITIONAL postings: (token, doc_id, pos) with pos 1-based over
    * the split tokenizer — one row per token OCCURRENCE, map-only.
    * The bag postings are its rollup (groupBy count), so a job that
    * needs both touches the corpus text once. */
  def positionalPostings(df: DataFrame, textCol: String,
                         idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("__p0", "token")))
      .select(col("token"), col("doc_id"),
        (col("__p0") + 1L).cast("long").as("pos"))

  /** Each query's phrase as ORDERED terms: (query_id, i, token, m)
    * with i 1-based and m the phrase length — NOT distinct (a phrase
    * may repeat a token; every occurrence must match). Same loud
    * [[MaxQueryTerms]] width/null guard as the bag form. */
  def phraseTerms(queries: DataFrame, queryIdCol: String,
                  queryTextCol: String): DataFrame = {
    val toks = TextOps.tokens(col(queryTextCol))
    queries.select(col(queryIdCol).as("query_id"),
        posexplode(when(size(toks) <= MaxQueryTerms, toks)
          .otherwise(raise_error(concat(lit("bm25: query "),
            col(queryIdCol).cast("string"),
            lit(s" is null or has more than $MaxQueryTerms " +
              "terms — shorten the phrase (or drop null rows)")))))
          .as(Seq("__i0", "token")),
        size(toks).cast("long").as("m"))
      .select(col("query_id"), (col("__i0") + 1L).cast("long").as("i"),
        col("token"), col("m"))
  }

  /** Exact-phrase occurrences of each query in each doc from a
    * positional-postings relation: (query_id, doc_id, n_occurrences),
    * only docs with ≥ 1 occurrence.
    *
    * RAREST-ADJACENT-PAIR ANCHORING: a phrase occurrence must place
    * each ADJACENT slot pair (token_i, token_{i+1}) at consecutive
    * positions, so candidate starts enumerate from the occurrences of
    * the query's LEAST-FREQUENT adjacent pair in the corpus adjacency
    * relation (derived from the positions by one pos+1 self-join —
    * ≤ |positions| rows). This dominates the previous rarest-single-
    * TOKEN anchor by the pair's selectivity: on the 10× scale leg's
    * stopword-prefix workload (30-token vocabulary — every token
    * common), token anchoring enumerated 86.7M starts and a 246 s
    * verify join; pair anchoring enumerates occ(rarest bigram) ×
    * queries sharing it. A query whose rarest pair never occurs is
    * proven matchless BEFORE enumerating anything. Each candidate
    * start expands to its m slot probes (start + i − 1, token_i) and
    * verifies by ONE equi-join against the positions: a start with
    * all m probes present is an occurrence. Single-token phrases
    * (m = 1) have no pair — their occurrences are exactly the
    * token's positions, a separate count-only lane. */
  private def phraseOccurrences(pp0: DataFrame, pt: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pp0 must arrive SEVERED (callers' contract): the adjacency
    // self-join, the candidate starts, and the verify join all read
    // the (workload-bounded) filtered positions
    val pp = pp0
    val m1 = pp
      .join(broadcast(pt.filter(col("m") === 1L)
        .select(col("query_id"), col("token"))), Seq("token"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
    // corpus adjacency over the filtered positions: the tokens at
    // (pos, pos+1) — both query terms, or the row doesn't matter here
    val bg = Checkpoints.sever(
      pp.select(col("doc_id"), col("pos"), col("token").as("__ta"))
        .join(pp.select(col("doc_id"), (col("pos") - 1L).as("pos"),
          col("token").as("__tb")), Seq("doc_id", "pos")))
    val bgocc = bg.groupBy(col("__ta"), col("__tb"))
      .agg(count(lit(1)).as("__bocc"))
    // the query's adjacent slot pairs (i, i+1); the rarest one (ties:
    // lowest i) anchors. An ABSENT pair zeroes the query outright —
    // filtered here, so matchless stopword queries enumerate nothing.
    val ptm = pt.filter(col("m") >= 2L)
    val pairsQ = ptm
      .select(col("query_id"), col("i"), col("token").as("__ta"))
      .join(ptm.select(col("query_id"), (col("i") - 1L).as("i"),
        col("token").as("__tb")), Seq("query_id", "i"))
    val rarest2 = pairsQ.join(bgocc, Seq("__ta", "__tb"), "left")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(coalesce(col("__bocc"), lit(0L)).asc, col("i").asc)))
      .filter(col("__rn") === 1)
      .filter(coalesce(col("__bocc"), lit(0L)) > 0L)
      .select(col("query_id"), col("__ta"), col("__tb"),
        col("i").as("__ri"))
    val starts = bg.join(broadcast(rarest2), Seq("__ta", "__tb"))
      .select(col("query_id"), col("doc_id"),
        (col("pos") - col("__ri") + 1L).as("__start"))
      .filter(col("__start") >= 1L)
    val probes = starts.join(broadcast(pt), Seq("query_id"))
      .select(col("query_id"), col("doc_id"), col("__start"), col("m"),
        (col("__start") + col("i") - 1L).as("pos"), col("token"))
    probes.join(pp, Seq("token", "doc_id", "pos"))
      .groupBy(col("query_id"), col("doc_id"), col("__start"), col("m"))
      .agg(count(lit(1)).as("__nm"))
      .filter(col("__nm") === col("m"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
      .unionByName(m1)
  }

  /** Exact-phrase matching over a corpus: (query_id, doc_id,
    * n_occurrences) for every doc containing each query's text as a
    * CONSECUTIVE token run — the decontamination-forensics primitive
    * ("which docs contain this leaked string verbatim"). */
  def phraseMatches(docs: DataFrame, textCol: String, idCol: String,
                    queries: DataFrame, queryIdCol: String,
                    queryTextCol: String): DataFrame = {
    val pt = Checkpoints.sever(
      phraseTerms(queries, queryIdCol, queryTextCol))
    val terms = pt.select(col("token")).distinct()
    val pp = Checkpoints.sever(spread(
      positionalPostings(docs, textCol, idCol)
        .join(broadcast(terms), Seq("token"), "left_semi")))
    phraseOccurrences(pp, pt)
  }

  /** PROXIMITY matching from a positional-postings relation: an
    * ANCHOR is any occurrence of any query term; a window works when
    * every one of the query's `m` distinct terms occurs in
    * [anchor, anchor + W − 1]. A doc matches iff some window works —
    * exactly "minimal span covering all terms ≤ W", since the minimal
    * span always starts at an occurrence. Output: (query_id, doc_id,
    * n_windows), only matching docs.
    *
    * Shape: anchors × members meet through WIDTH-W POSITION BINS (a
    * member at pos p can only serve anchors in bins ⌊p/W⌋ and
    * ⌊p/W⌋−1, so the member side explodes to exactly 2 rows and the
    * join is a plain equi-join on (query, doc, bin) — never a range
    * join, never per-doc quadratic beyond the W-bounded fan-in), then
    * one distinct + two partial-aggregated rollups. */
  private def proximityFromPositions(pp0: DataFrame, qt: DataFrame,
                                     w: Int,
                                     restrictTo: Option[DataFrame] = None)
      : DataFrame = {
    val pp = pp0
    val qm = qt.groupBy(col("query_id")).agg(count(lit(1)).as("__m"))
    // ONE-SHUFFLE shape: every (query, doc) co-occurrence row — the
    // term-filtered positions joined MAP-SIDE to the broadcast query
    // terms (or, in the verify-first lane, fanned only into the given
    // (query, doc) pairs) — groups straight into a per-pair occurrence
    // list, and both the all-terms intersection test and the window
    // count run over that list in one kernel. No anchors×members join,
    // no distincts, no pair-prefilter passes: an earlier cut met
    // anchors and members through width-W position bins and, with
    // stopword-like workloads (every doc a candidate, ~10 query-term
    // occurrences each), fanned 4.5M occurrence rows into ~45M joined
    // rows plus two distinct shuffles — the 30 s sf0.1 row; a second
    // cut pre-filtered pairs by bag intersection but paid three
    // shuffles where this pays one. Per-pair state is the doc's
    // MATCHED occurrences only (bounded by its length — the tokenizer
    // seam's own per-doc-array regime); per-pair cost is
    // O(anchors × occurrences), both factors window-workload-bounded.
    val joined = restrictTo match {
      // (query, doc, token) triples FIRST, then one (doc, token)
      // equi-join against the positions: the intermediate is exactly
      // the matched occurrence rows. Joining pairs on doc_id alone
      // fans every position row out to every query holding that doc
      // before the term filter (measured ~55M intermediate rows for a
      // 3.6M output at the 10× leg).
      case Some(pairs) => pp.join(
        pairs.select(col("query_id"), col("doc_id"))
          .join(broadcast(qt), Seq("query_id")),
        Seq("doc_id", "token"))
      case None => pp.join(broadcast(qt), Seq("token"))
    }
    val grouped = joined
      .groupBy(col("query_id"), col("doc_id"))
      .agg(collect_list(struct(col("pos"), col("token"))).as("__occ"))
      .join(broadcast(qm), Seq("query_id"))
    // the window count per pair — a codegen'd kernel
    // ([[graft.functions.ProximityWindows]]: sort once, two-pointer
    // sweep, stamp-array distinct count; folds the all-terms bag
    // intersection in, since fewer than m distinct tokens in the list
    // can match no window). The composable HOF form paid a lambda
    // frame and two array allocations per anchor — the row's dominant
    // cost on stopword workloads.
    grouped
      .select(col("query_id"), col("doc_id"),
        graft.functions.ProximityWindows.windows(
          col("__occ"), col("__m"), w).as("n_windows"))
      // barrier-pinned: unpinned, the predicate substitutes the kernel
      // into the broadcast join's CONDITION (evaluated once per joined
      // row, plus again in the project — and the condition eval knocks
      // the stage out of whole-stage codegen; measured 1.5 s → 8 s on
      // the sf0.1 row)
      .filter(graft.functions.Barrier.pin(col("n_windows")) > 0L)
  }

  /** VERIFY-FIRST ranked forensic matching — the scale shape behind
    * the PROXIMITY rows (phrase stays match-first: its pair-anchored
    * matcher is already bounded, and its matches are sparse — the
    * prefix pass would dominate). The answer is the top-`k` BY BAG
    * SCORE among MATCHING docs; positional verification is the
    * expensive step, and a dense workload (stopword queries matching
    * half the corpus) makes match-everything-then-rank quadratic
    * (measured 660 s at the 10× scale leg). So: score ALL bag
    * candidates once (the exact scorer's cost — the floor any ranked
    * probe pays), keep each query's EXACT top-K′ prefix in ranking
    * order, and verify matches only inside it. A query is COMPLETE
    * when it found ≥ k matches in the prefix (any matching doc
    * outside the prefix ranks below everything inside it, so the
    * first k matching prefix docs ARE the global top-k), when the
    * prefix already holds ALL its candidates (nothing left to check),
    * or when some term has df = 0 (no doc can match). The residue
    * takes the r17 match-first lane — full matching restricted to
    * those queries, scored per matched pair. Exact output either way;
    * K′ trades prefix width against fallback frequency. */
  private def rankedForensicTopK(cand: DataFrame, stats: CorpusStats,
                                 w: Workload, k: Int, dfreq: DataFrame,
                                 restrictedMatch: DataFrame => DataFrame,
                                 extraCol: String): DataFrame = {
    val qt = w.rel
    // prefix width: wide enough that a dense workload (every doc a
    // bag candidate, windows loosely correlated with bag score) finds
    // its k matches inside the prefix — the fallback lane pays the
    // FULL matcher, so trading a broader (cheap, triple-joined)
    // restricted pass for fewer fallback queries wins
    val kPrime = math.max(256, 16 * k)
    val prefix = Checkpoints.sever(
      scoreTopK(cand, stats, w, kPrime, Some(dfreq)))
    val matches1 = Checkpoints.sever(
      restrictedMatch(prefix.select(col("query_id"), col("doc_id"))))
    // absent-term shortcut: a query whose rarest term has df = 0 can
    // match nothing — complete without the fallback matcher
    val qMinDf = qt.join(dfreq, Seq("token"), "left")
      .groupBy(col("query_id"))
      .agg(min(coalesce(col("__df"), lit(0L))).as("__mindf"))
    // severed: the per-query completion verdict is consumed by BOTH
    // lane filters below, each through its own broadcast build —
    // unsevered, every build replanted the three-way aggregate join
    val qStats = Checkpoints.sever(prefix.groupBy(col("query_id"))
      .agg(max(col("rank")).as("__nc"))
      .join(matches1.groupBy(col("query_id"))
          .agg(count(lit(1)).as("__nm")),
        Seq("query_id"), "left")
      .join(qMinDf, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("__nm"), lit(0L)) >= k ||
          col("__nc") < kPrime ||
          coalesce(col("__mindf"), lit(0L)) === 0L).as("__done")))
    val doneQ = qStats.filter(col("__done")).select(col("query_id"))
    val fallQ = qStats.filter(!col("__done")).select(col("query_id"))
    // complete lane: the matched prefix rows re-ranked — scores are
    // already in hand, so this is k-sized work per query
    val okScored = prefix
      .join(broadcast(doneQ), Seq("query_id"), "left_semi")
      .join(matches1.select(col("query_id"), col("doc_id")),
        Seq("query_id", "doc_id"), "left_semi")
      .select(col("query_id"), col("doc_id"), col("score_micro"))
    val okTop = topKOf(okScored, k)
      .join(matches1, Seq("query_id", "doc_id"))
    // residue lane: the COMPLETE bag-intersected pair set for the
    // fallback queries (a window match needs all m distinct terms in
    // the doc, so the restriction is lossless), through the SAME
    // restricted matcher — never the token-broadcast fan-out, whose
    // volume is positions × queries regardless of how few queries
    // fell back (measured as the residue's ~45 s at the 10× leg)
    val qtFall = qt.join(broadcast(fallQ), Seq("query_id"), "left_semi")
    val qmFall = qtFall.groupBy(col("query_id"))
      .agg(count(lit(1)).as("__m"))
    val bagPairs = cand.join(broadcast(qtFall), Seq("token"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("__np"))
      .join(broadcast(qmFall), Seq("query_id"))
      .filter(col("__np") === col("__m"))
      .select(col("query_id"), col("doc_id"))
    val matchesF = Checkpoints.sever(restrictedMatch(bagPairs))
    val fallScored = scoredContribForPairs(cand, stats, qtFall, matchesF,
      Some(dfreq))
    val fallTop = topKOf(fallScored, k)
      .join(matchesF, Seq("query_id", "doc_id"))
    okTop.unionByName(fallTop)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_micro"), col(extraCol))
  }

  /** PROXIMITY-FILTERED ranked retrieval: BM25 top-`k` over the
    * query's terms, restricted to docs where ALL the terms co-occur
    * inside a `windowTokens`-token window in any order — the relaxed
    * sibling of [[bm25PhraseTopK]] (a paraphrase reorders words; a
    * W-window still catches it). Output: (query_id, rank, doc_id,
    * score_micro, n_windows). Verify-first ([[rankedForensicTopK]]):
    * positional work is bounded by the scored prefix, never the full
    * match set. */
  def bm25ProximityTopK(docs: DataFrame, textCol: String, idCol: String,
                        queries: DataFrame, queryIdCol: String,
                        queryTextCol: String, k: Int,
                        windowTokens: Int): DataFrame = {
    require(windowTokens >= 1,
      s"bm25: windowTokens must be >= 1, got $windowTokens")
    val pos = Checkpoints.sever(positionalPostings(docs, textCol, idCol))
    val post = Checkpoints.sever(
      pos.groupBy(col("token"), col("doc_id"))
        .agg(count(lit(1)).as("tf")))
    val dl = Checkpoints.sever(
      post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))
    val stats = statsOf(dl)
    val w = new Workload(queryTerms(queries, queryIdCol, queryTextCol))
    val terms = w.termsRel
    // spread: same single-task-fan-out fix as bm25TopK (the stored
    // proximity path already spreads its cand)
    val cand = spread(post.join(broadcast(terms), Seq("token"), "left_semi")
      .join(dl, Seq("doc_id"))
      .select(col("token"), col("doc_id"), col("tf"), col("dl")))
    val dfreq = Checkpoints.sever(dfreqOf(cand))
    val pp = Checkpoints.sever(spread(
      pos.join(broadcast(terms), Seq("token"), "left_semi")))
    rankedForensicTopK(cand, stats, w, k, dfreq,
      restrictedMatch = pairs =>
        proximityFromPositions(pp, w.rel, windowTokens, Some(pairs)),
      extraCol = "n_windows")
  }

  /** PHRASE-FILTERED ranked retrieval: BM25 top-`k` (the exact scorer
    * over the phrase's distinct terms — the [[contribMicro]] sum, same
    * integer arithmetic as every other path) restricted to docs
    * containing the phrase as a consecutive token run, with each hit's
    * occurrence count attached. Output: (query_id, rank, doc_id,
    * score_micro, n_occurrences); queries whose phrase appears nowhere
    * emit nothing.
    *
    * Shape: ONE severed positional pass (the bag postings roll up from
    * it, so text is tokenized once), candidates and phrase votes both
    * semi-joined down to phrase tokens before anything
    * corpus-proportional, and the match relation — (query, doc)-sized
    * — severed once and consumed twice (the restriction join and the
    * k-sized occurrence attach). */
  def bm25PhraseTopK(docs: DataFrame, textCol: String, idCol: String,
                     queries: DataFrame, queryIdCol: String,
                     queryTextCol: String, k: Int): DataFrame = {
    val pos = Checkpoints.sever(positionalPostings(docs, textCol, idCol))
    // severed too: the rollup is consumed by the doc-length build, the
    // candidate filter, AND the scorer's df count — unsevered, each
    // re-aggregates the full positional relation (measured 3× the
    // bag row's cost at sf0.1 before this)
    val post = Checkpoints.sever(
      pos.groupBy(col("token"), col("doc_id"))
        .agg(count(lit(1)).as("tf")))
    val dl = Checkpoints.sever(
      post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))
    val stats = statsOf(dl)
    val pt = Checkpoints.sever(
      phraseTerms(queries, queryIdCol, queryTextCol))
    val qt = pt.select(col("query_id"), col("token")).distinct()
    val terms = pt.select(col("token")).distinct()
    // spread: same single-task-fan-out fix as bm25TopK (the stored
    // phrase path already spreads its cand)
    val cand = spread(post.join(broadcast(terms), Seq("token"), "left_semi")
      .join(dl, Seq("doc_id"))
      .select(col("token"), col("doc_id"), col("tf"), col("dl")))
    // MATCH-FIRST (unlike the proximity row's verify-first): phrase
    // matches are SPARSE and pair anchoring bounds the matcher on its
    // own, so paying the exact scorer's full pass for a ranked prefix
    // would dominate the row (measured 334 s vs ~25 s at the 10× leg)
    val pp = Checkpoints.sever(spread(
      pos.join(broadcast(terms), Seq("token"), "left_semi")))
    val matches = Checkpoints.sever(phraseOccurrences(pp, pt))
    val scored = scoredContribForPairs(cand, stats, qt, matches)
    topKOf(scored, k).join(matches, Seq("query_id", "doc_id"))
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_micro"), col("n_occurrences"))
  }

  // ---- stored retrieval-index lifecycle -----------------------------------
  //
  // The PERSISTED form of the postings relation — ranked retrieval's
  // managed artifact (the thirteenth lifecycle): a corpus indexes once,
  // every later query workload probes at matched-postings cost, and
  // daily segments fold in incrementally. Shared artifact discipline:
  //
  //   path/postings/e<N>  (token, doc_id, tf, dl), token-sorted within
  //                       partitions so a probe's term filter prunes
  //                       parquet row groups by min/max stats
  //   path/docs/e<N>      (doc_id) — the append anti-join's narrow side
  //   path/meta           window + corpus counters + applied batch id,
  //                       swapped LAST (MetaIO.swapMetaRow)

  private[graft] final case class RetrievalIndexMeta(
      epoch: Long, base: Long, nDocs: Long, totalTokens: Long,
      lastBatchId: Long = -1L, hasPositions: Boolean = false,
      hasTermstats: Boolean = false, blockCount: Long = 0L)

  private[graft] def postingsDir(path: String, epoch: Long): String =
    s"$path/postings/e$epoch"

  private[graft] def docsDir(path: String, epoch: Long): String =
    s"$path/docs/e$epoch"

  private[graft] def positionsDir(path: String, epoch: Long): String =
    s"$path/positions/e$epoch"

  private[graft] def termstatsDir(path: String, epoch: Long): String =
    s"$path/termstats/e$epoch"

  private[graft] def blockstatsDir(path: String, epoch: Long): String =
    s"$path/blockstats/e$epoch"

  /** Block-count sizing: ~64 docs per block (Ding & Suel 2011's
    * block-max granularity, in doc-hash-partition form), clamped so
    * tiny corpora still get ≥ 1 block and the per-term block-stats
    * relation never exceeds 2²⁰ rows per token. Re-picked at
    * compaction from the corpus counter, FIXED between compactions —
    * the modulus must be constant across a window for the per-epoch
    * stats to merge. */
  private[graft] def blockCountFor(nDocs: Long): Long =
    math.max(1L, math.min(1L << 20, nDocs / 64L))

  /** The block a doc's postings belong to — a (dl-bucket, doc-hash)
    * COMPOSITE partition, COMPUTABLE AT PROBE TIME from the posting
    * row (no schema change to the stored postings: dl rides every
    * posting), and constant per doc, so every posting of one doc lands
    * in one block (the all-or-nothing property the pruning proof
    * needs). The dl bucket is ⌊log₂ dl⌋ via `length(bin(dl)) − 1` —
    * integer-exact (no floating log whose boundary rounding could
    * assign a doc differently at probe time than at write time), and
    * it is what makes the per-block min_dl TIGHT: tf_micro decreases
    * in dl, so without it a long doc's upper bound is inflated to the
    * block's shortest doc and long-doc blocks (most of a corpus) never
    * prune — measured as zero pruning on the 10× replica leg with
    * pure hash blocks. */
  private def blkOf(blockCount: Long): Column =
    (length(bin(col("dl"))) - 1).cast("long") * lit(blockCount) +
      pmod(xxhash64(col("doc_id")), lit(blockCount))

  private[graft] def readRetrievalIndexMeta(
      spark: SparkSession, path: String): RetrievalIndexMeta = {
    val r = MetaIO.readMetaRow(spark, path, "retrieval index", "index")
    def flag(name: String): Boolean =
      r.schema.fieldNames.contains(name) && r.getAs[Boolean](name)
    RetrievalIndexMeta(r.getAs[Long]("epoch"), r.getAs[Long]("base"),
      r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"),
      r.getAs[Long]("last_batch_id"),
      // pre-positions / pre-termstats / pre-blockstats metas simply
      // lack the fields — probes fall back to deriving those relations
      // from postings (or, for block-max, to the unpruned lane)
      hasPositions = flag("has_positions"),
      hasTermstats = flag("has_termstats"),
      blockCount = if (r.schema.fieldNames.contains("block_count"))
        r.getAs[Long]("block_count") else 0L)
  }

  private[graft] def swapRetrievalMeta(spark: SparkSession, path: String,
                                       meta: RetrievalIndexMeta): Unit = {
    import spark.implicits._
    MetaIO.swapMetaRow(spark, path, "retrieval index",
      Seq((meta.epoch, meta.base, meta.nDocs, meta.totalTokens,
          meta.lastBatchId, meta.hasPositions, meta.hasTermstats,
          meta.blockCount))
        .toDF("epoch", "base", "n_docs", "total_tokens", "last_batch_id",
          "has_positions", "has_termstats", "block_count"))
  }

  private[pipeline] def readStoredPostings(spark: SparkSession, path: String,
                                           meta: RetrievalIndexMeta)
      : DataFrame =
    StoredParquet.read(spark,
      (meta.base to meta.epoch).map(postingsDir(path, _)): _*)

  private def readStoredDocs(spark: SparkSession, path: String,
                             meta: RetrievalIndexMeta): DataFrame =
    StoredParquet.read(spark,
      (meta.base to meta.epoch).map(docsDir(path, _)): _*)

  private def readStoredPositions(spark: SparkSession, path: String,
                                  meta: RetrievalIndexMeta): DataFrame =
    StoredParquet.read(spark,
      (meta.base to meta.epoch).map(positionsDir(path, _)): _*)

  /** Per-epoch TERM STATS (token, df, max_tf, min_dl) derived from a
    * just-written postings epoch — tiny (one row per distinct token)
    * and MERGEABLE across epochs (the anti-join keeps each doc in
    * exactly one epoch, so df sums; max_tf maxes; min_dl mins), which
    * is what lets a probe answer "true df of these 500 terms" from a
    * vocabulary-sized relation instead of a postings pass. max_tf and
    * min_dl exist for the max-score mode's upper bound: tf_micro is
    * increasing in tf and decreasing in dl, so tf_micro(max_tf,
    * min_dl) ≥ every posting's tf_micro — ADMISSIBLE (possibly looser
    * than the scanned max, never lower), which is all pruning needs. */
  private def writeTermstats(spark: SparkSession, postings: DataFrame,
                             dir: String): Unit =
    postings.groupBy(col("token"))
      .agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"),
        min(col("dl")).as("min_dl"))
      .sortWithinPartitions(col("token"))
      .write.mode("overwrite").parquet(dir)

  /** The term-stats window merged: (token, df, max_tf, min_dl) with
    * the per-epoch rows folded by their merge ops. One epoch already
    * holds one row per token, so a one-epoch window skips the fold (and
    * its exchange). */
  private def readStoredTermstats(spark: SparkSession, path: String,
                                  meta: RetrievalIndexMeta): DataFrame = {
    val ts = StoredParquet.read(spark,
      (meta.base to meta.epoch).map(termstatsDir(path, _)): _*)
    if (meta.base == meta.epoch) ts
    else ts.groupBy(col("token"))
      .agg(sum(col("df")).as("df"), max(col("max_tf")).as("max_tf"),
        min(col("min_dl")).as("min_dl"))
  }

  /** Per-epoch BLOCK STATS (token, blk, max_tf, min_dl) — the
    * block-max relation of Ding & Suel ("Faster top-k document
    * retrieval using block-max indexes", SIGIR 2011), with blocks as
    * hash partitions of the doc-id space ([[blkOf]]) instead of
    * posting-list segments, so no stored column is needed and every
    * doc's postings share one block across ALL its terms. tf_micro is
    * increasing in tf and decreasing in dl, so tf_micro(max_tf,
    * min_dl) bounds every posting of the (token, blk) cell —
    * ADMISSIBLE, which is all the pruning needs. Mergeable across
    * epochs (same modulus within a window; max maxes, min mins). */
  private def writeBlockstats(postings: DataFrame, dir: String,
                              blockCount: Long): Unit =
    postings.groupBy(col("token"), blkOf(blockCount).as("blk"))
      .agg(max(col("tf")).as("max_tf"), min(col("dl")).as("min_dl"))
      .sortWithinPartitions(col("token"))
      .write.mode("overwrite").parquet(dir)

  /** The block-stats window merged: (token, blk, max_tf, min_dl). */
  private def readStoredBlockstats(spark: SparkSession, path: String,
                                   meta: RetrievalIndexMeta): DataFrame =
    StoredParquet.read(spark,
        (meta.base to meta.epoch).map(blockstatsDir(path, _)): _*)
      .groupBy(col("token"), col("blk"))
      .agg(max(col("max_tf")).as("max_tf"), min(col("min_dl")).as("min_dl"))

  /** Write one epoch's postings + docs (and, for a POSITIONAL index,
    * positions) relations from a doc slice; returns (docs added,
    * tokens added). Both posting-shaped relations sort within
    * partitions by token so parquet row-group min/max stats prune
    * probe-term scans. With positions on, the corpus text tokenizes
    * ONCE: positions write first, read back, and the bag postings
    * roll up from the stored relation. */
  private def writeEpoch(df: DataFrame, textCol: String, idCol: String,
                         path: String, epoch: Long,
                         withPositions: Boolean,
                         withTermstats: Boolean,
                         blockCount: Long): (Long, Long) = {
    val spark = df.sparkSession
    if (withPositions) {
      positionalPostings(df, textCol, idCol)
        .sortWithinPartitions(col("token"))
        .write.mode("overwrite").parquet(positionsDir(path, epoch))
      val pos = StoredParquet.read(spark, positionsDir(path, epoch))
      val post = pos.groupBy(col("token"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      val dl = post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      post.join(dl, Seq("doc_id"))
        .select(col("token"), col("doc_id"), col("tf"), col("dl"))
        .sortWithinPartitions(col("token"))
        .write.mode("overwrite").parquet(postingsDir(path, epoch))
    } else {
      postingsWithDocLen(df, textCol, idCol)
        .sortWithinPartitions(col("token"))
        .write.mode("overwrite").parquet(postingsDir(path, epoch))
    }
    val stored = StoredParquet.read(spark, postingsDir(path, epoch))
    if (withTermstats)
      writeTermstats(spark, stored, termstatsDir(path, epoch))
    if (blockCount > 0L)
      writeBlockstats(stored, blockstatsDir(path, epoch), blockCount)
    val docRel = stored.select(col("doc_id"), col("dl"))
      .groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
    docRel.select(col("doc_id"))
      .write.mode("overwrite").parquet(docsDir(path, epoch))
    val r = docRel.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("t")).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Build the persisted retrieval index from a corpus snapshot.
    * `withPositions = true` also persists the POSITIONAL postings
    * (token, doc_id, pos) per epoch — roughly the bag relation's size
    * again, bought once at build time so phrase forensics
    * ([[phraseAgainstStoredIndex]]) never re-reads corpus text. The
    * flag is part of the ARTIFACT (recorded in meta): appends and
    * compactions maintain whichever relations the build declared. */
  def writeRetrievalIndex(df: DataFrame, textCol: String, idCol: String,
                          path: String,
                          withPositions: Boolean = false): Unit =
    buildRetrievalIndex(df, textCol, idCol, path, lastBatchId = -1L,
      withPositions = withPositions)

  private def buildRetrievalIndex(df: DataFrame, textCol: String,
                                  idCol: String, path: String,
                                  lastBatchId: Long,
                                  withPositions: Boolean): Unit = {
    // every NEW build carries term stats (vocabulary-sized — the
    // serving modes' df/UB source) AND block stats (the max-score
    // mode's block-max pruning relation); only pre-upgrade artifacts
    // lack them, and their probes fall back to postings passes / the
    // unpruned lane. The block modulus is sized from THIS epoch's doc
    // count and re-picked at every compaction; blockstats for epoch 0
    // write after the doc counter lands (the modulus needs it), one
    // extra columnar pass over the just-written postings.
    val (n, t) = writeEpoch(df, textCol, idCol, path, 0L, withPositions,
      withTermstats = true, blockCount = 0L)
    val bc = blockCountFor(n)
    writeBlockstats(StoredParquet.read(df.sparkSession, postingsDir(path, 0L)),
      blockstatsDir(path, 0L), bc)
    swapRetrievalMeta(df.sparkSession, path,
      RetrievalIndexMeta(epoch = 0L, base = 0L, nDocs = n, totalTokens = t,
        lastBatchId = lastBatchId, hasPositions = withPositions,
        hasTermstats = true, blockCount = bc))
  }

  /** Append a corpus segment — the daily maintenance move. Doc ids are
    * the identity: the delta anti-joins against the stored doc-id
    * window, so a RE-DROPPED segment adds zero rows (re-drop idempotent
    * by construction) and a re-appended id keeps its STORED text.
    * Append cost is proportional to the delta plus one narrow read of
    * the stored doc ids. Meta swaps LAST: a torn append's epoch dirs
    * sit outside the window and the retry overwrites them wholesale. */
  def appendRetrievalIndex(spark: SparkSession, path: String,
                           df: DataFrame, textCol: String,
                           idCol: String): Unit = {
    val meta = readRetrievalIndexMeta(spark, path)
    appendRetrievalCore(spark, path, meta, df, textCol, idCol,
      meta.lastBatchId)
  }

  private def appendRetrievalCore(spark: SparkSession, path: String,
                                  meta: RetrievalIndexMeta, df: DataFrame,
                                  textCol: String, idCol: String,
                                  lastBatchId: Long): Unit = {
    val storedIds = readStoredDocs(spark, path, meta)
      .withColumnRenamed("doc_id", idCol)
    val delta = df.join(storedIds, Seq(idCol), "left_anti")
    val next = meta.epoch + 1
    val (n, t) = writeEpoch(delta, textCol, idCol, path, next,
      meta.hasPositions, meta.hasTermstats, meta.blockCount)
    swapRetrievalMeta(spark, path,
      meta.copy(epoch = next, nDocs = meta.nDocs + n,
        totalTokens = meta.totalTokens + t, lastBatchId = lastBatchId))
  }

  /** The streaming maintenance leg — each micro-batch of landed docs
    * commits through here with its batch id recorded behind the meta
    * swap (the [[WarcOps.ingestWarcIndexBatch]] discipline). First
    * batch on an empty path builds the artifact; a torn meta swap is
    * recovered; orphan data with no recoverable meta refuses loudly.
    * Replay of the last batch skips quietly BEFORE tokenizing anything;
    * an id regressing further refuses loudly, naming the backfill
    * ([[appendRetrievalIndex]], which has no pointer and always
    * anti-joins). Returns whether the batch was applied. */
  def ingestRetrievalBatch(spark: SparkSession, path: String,
                           batch: DataFrame, textCol: String,
                           idCol: String, batchId: Long,
                           withPositions: Boolean = false): Boolean = {
    if (!MetaIO.metaExistsOrRecover(spark, path)) {
      MetaIO.requireNoOrphanData(spark, "retrieval index",
        s"$path/postings")
      buildRetrievalIndex(batch, textCol, idCol, path,
        lastBatchId = batchId, withPositions = withPositions)
      true
    } else {
      val meta = readRetrievalIndexMeta(spark, path)
      if (batchId <= meta.lastBatchId) {
        MetaIO.requireReplayNotRegression("retrieval index", path, batchId,
          meta.lastBatchId, "documents", "appendRetrievalIndex")
        false
      } else {
        appendRetrievalCore(spark, path, meta, batch, textCol, idCol,
          batchId)
        true
      }
    }
  }

  /** Compact the epoch window: rewrite both relations as ONE fresh
    * epoch at `targetFiles` and re-base the pointer — the
    * [[DedupOps.compactDigestIndex]] move, bounding the file count
    * every probe's term filter scans. Probe output is byte-identical
    * before and after (same postings, same counters). */
  def compactRetrievalIndex(spark: SparkSession, path: String,
                            targetFiles: Int = 1): Unit = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    val meta = readRetrievalIndexMeta(spark, path)
    val next = meta.epoch + 1
    readStoredPostings(spark, path, meta)
      .repartition(targetFiles)
      .sortWithinPartitions(col("token"))
      .write.mode("overwrite").parquet(postingsDir(path, next))
    readStoredDocs(spark, path, meta).coalesce(targetFiles)
      .write.mode("overwrite").parquet(docsDir(path, next))
    if (meta.hasPositions)
      readStoredPositions(spark, path, meta)
        .repartition(targetFiles)
        .sortWithinPartitions(col("token"))
        .write.mode("overwrite").parquet(positionsDir(path, next))
    if (meta.hasTermstats)
      // recompute from the compacted postings (self-healing, and the
      // compaction scans them anyway) rather than folding the window
      writeTermstats(spark, StoredParquet.read(spark, postingsDir(path, next)),
        termstatsDir(path, next))
    // compaction is the one safe point to RE-PICK the block modulus
    // (it rewrites every block-stats row anyway, and between
    // compactions the modulus must stay constant for epoch merges) —
    // so a corpus that grew far past its build size gets its ~64-docs-
    // per-block granularity back here
    val bc = if (meta.blockCount > 0L) blockCountFor(meta.nDocs) else 0L
    if (bc > 0L)
      writeBlockstats(StoredParquet.read(spark, postingsDir(path, next)),
        blockstatsDir(path, next), bc)
    swapRetrievalMeta(spark, path,
      meta.copy(epoch = next, base = next, blockCount = bc))
    MetaIO.pruneEpochs(spark,
      Seq(s"$path/postings", s"$path/docs") ++
        (if (meta.hasPositions) Seq(s"$path/positions") else Nil) ++
        (if (meta.hasTermstats) Seq(s"$path/termstats") else Nil) ++
        (if (meta.blockCount > 0L) Seq(s"$path/blockstats") else Nil),
      superseded = meta.base)
  }

  /** Compact when the live window has grown to `maxEpochs` dirs or
    * more — the policy wrapper the continuous maintainer calls after
    * each batch. Returns whether a compaction ran. */
  def maybeCompactRetrievalIndex(spark: SparkSession, path: String,
                                 maxEpochs: Int): Boolean = {
    require(maxEpochs >= 2, s"maxEpochs must be >= 2, got $maxEpochs " +
      "(1 would compact after every append — pure rewrite churn)")
    val meta = readRetrievalIndexMeta(spark, path)
    if (meta.epoch - meta.base + 1 >= maxEpochs) {
      compactRetrievalIndex(spark, path)
      true
    } else false
  }

  /** UPGRADE a pre-termstats / pre-blockstats artifact IN PLACE: one
    * columnar pass per window epoch over its stored postings writes the
    * missing termstats and blockstats relations, then the meta swap
    * arms the fast serving paths — so an old index stops paying the
    * fallback df pass forever without a rebuild. Postings, positions
    * and docs are untouched: probe OUTPUT is identical before and
    * after (the stats only change where df and the pruning bounds come
    * from — spec-pinned upgraded ≡ rebuilt). Returns whether anything
    * was written (an already-upgraded artifact is a no-op). A torn
    * upgrade is safe: the new dirs sit unreferenced until the meta
    * swap, and the retry overwrites them wholesale. The block modulus
    * is picked from the CURRENT corpus counter (the compaction rule;
    * appends keep it until the next compaction re-picks). */
  def upgradeRetrievalIndex(spark: SparkSession, path: String): Boolean = {
    val meta = readRetrievalIndexMeta(spark, path)
    val needTs = !meta.hasTermstats
    val needBs = meta.blockCount == 0L
    if (!needTs && !needBs) return false
    val bc = if (needBs) blockCountFor(meta.nDocs) else meta.blockCount
    (meta.base to meta.epoch).foreach { e =>
      val post = StoredParquet.read(spark, postingsDir(path, e))
      if (needTs) writeTermstats(spark, post, termstatsDir(path, e))
      if (needBs) writeBlockstats(post, blockstatsDir(path, e), bc)
    }
    swapRetrievalMeta(spark, path,
      meta.copy(hasTermstats = true, blockCount = bc))
    true
  }

  /** Ranked retrieval against the STORED index — the serving path.
    * Output ≡ [[bm25TopK]] over the indexed corpus (same scorer, same
    * counters), at matched-postings cost: the query workload's distinct
    * terms become an `isin` literal filter on the token-sorted postings
    * relation, so parquet row-group min/max stats prune everything a
    * query never mentions, and corpus stats come from the meta row —
    * no corpus-wide job anywhere at probe time.
    *
    * The query-term rows are collected to the driver once (bounded by
    * the query WORKLOAD, not the corpus; `maxTerms` guards the
    * literal-filter size loudly — a workload past it should shard its
    * queries), see [[probeWorkload]].
    *
    * `dfCapPerTerm` turns on the BOUNDED serving mode
    * ([[truncatePerTerm]]): each probed term's posting list truncates
    * to its dfCap highest-contribution postings, bounding the
    * stopword-query candidate blowup at dfCap × queries; exact when no
    * probed term's df exceeds the cap. The truncation costs one extra
    * row-group-pruned pass over the probed postings (the true-df
    * count), which the cap repays as soon as one term's df exceeds
    * it.
    *
    * Jobs of one exact probe on a termstats artifact (6, with two
    * exchanges; pinned by `RetrievalOpsSpec`). Every stored relation is
    * read with its schema from the parquet footer ([[StoredParquet]]),
    * so no schema-inference job runs, and the corpus stats ride as
    * literals ([[CorpusStats]]). Before the DataFrame returns:
    *  1. the meta row's collect;
    *  2. the query-term collect ([[probeWorkload]]); the terms reach
    *     the scoring tasks from the driver, so no query-term broadcast
    *     runs.
    * Under AQE, at the caller's action:
    *  3. the broadcast of the termstats df slice (read in place: one
    *     reader, so not severed);
    *  4. the spread of the term-filtered postings, hashed by doc_id:
    *     [[scoreTopK]] then scores each task's docs one at a time, with
    *     no exchange of its own;
    *  5. the per-query top-K, whose exchange moves each task's k-slot
    *     heaps;
    *  6. the result stage.
    * A window of several epochs adds the termstats merge's exchange. */
  def bm25AgainstStoredIndex(spark: SparkSession, path: String,
                             queries: DataFrame, queryIdCol: String,
                             queryTextCol: String, k: Int,
                             maxTerms: Int = 100000,
                             dfCapPerTerm: Option[Int] = None,
                             maxScoreSplit: Option[Int] = None): DataFrame = {
    require(dfCapPerTerm.isEmpty || maxScoreSplit.isEmpty,
      "pick ONE serving mode: dfCapPerTerm (bounded, approximate past " +
        "the cap) or maxScoreSplit (bounded common case, always exact)")
    val meta = readRetrievalIndexMeta(spark, path)
    val stats = CorpusStats.of(meta.nDocs, meta.totalTokens)
    val w = probeWorkload(queryTerms(queries, queryIdCol, queryTextCol),
      maxTerms, "bm25AgainstStoredIndex")
    val terms = w.terms
    val cand0 = readStoredPostings(spark, path, meta)
      .filter(col("token").isin(terms.toSeq: _*))
    val cand = spread(cand0)
    // a termstats artifact answers "true df of these terms" (and the
    // max-score upper bounds) from the vocabulary-sized relation —
    // no df pass over the postings in ANY serving mode. Pre-termstats
    // indexes fall back to deriving both from cand. Only the max-score
    // mode reads it more than once (df, per-term and per-block bounds),
    // so only that mode severs it; the exact and capped modes read it
    // once, inside their df broadcast.
    val ts = if (meta.hasTermstats) {
      val t = readStoredTermstats(spark, path, meta)
        .filter(col("token").isin(terms.toSeq: _*))
      Some(if (maxScoreSplit.isDefined) Checkpoints.sever(t) else t)
    } else None
    val dfStore = ts.map(_.select(col("token"), col("df").as("__df")))
    // admissible upper-bound columns over a termstats/blockstats row
    // (df, max_tf, min_dl with the corpus stats in scope): tf_micro is
    // increasing in tf and decreasing in dl, so the cell maxima bound
    // every posting of the cell — shared by the max-score branch's
    // per-term UB and its per-(token, block) UB
    val idfUbCol = idfMicro(col("df"))
    val tfmUbCol = div(lit(22000000L) * col("max_tf"),
      lit(10L) * col("max_tf") + lit(3L) +
        div(lit(9000L) * col("min_dl"), col("avgdl_milli")))
    // per-(token, block) upper bounds from the stored cell maxima, idf
    // from the termstats df — (probed terms × their blocks)-sized,
    // severed + spread once by the caller (round-robin: the rows carry
    // no doc_id for spread to hash)
    def blockUbOf(t: DataFrame): DataFrame =
      readStoredBlockstats(spark, path, meta)
        .filter(col("token").isin(terms.toSeq: _*))
        .join(broadcast(t.select(col("token"), col("df"))), Seq("token"))
        .transform(stats.attach)
        .select(col("token"), col("blk"),
          div(idfUbCol * tfmUbCol, lit(1000000L)).as("__bub"))
    (dfCapPerTerm, maxScoreSplit) match {
      case (Some(cap), _) =>
        // UNspread on purpose: the truncation window's own by-token
        // exchange supplies the parallelism, and spreading its INPUT
        // multiplies the map-side WindowGroupLimit's retained rows by
        // the partition count (≤ cap × partitions per token crosses
        // the exchange instead of ≤ cap — measured 6.5 → 16.9 s on
        // the 10× capped serving leg before this carve-out)
        val (kept, dfreq) = truncatePerTerm(cand0, stats, cap, dfStore)
        scoreTopK(kept, stats, w, k, dfreqOverride = Some(dfreq))
      case (_, Some(split)) =>
        val ubStore = ts.map { t =>
          t.transform(stats.attach)
            .select(col("token"),
              div(idfUbCol * tfmUbCol, lit(1000000L)).as("__ub"))
        }
        // a block-stats artifact arms the fallback lane's block-max
        // pruning (see blockUbOf)
        val blockOpt = ts match {
          case Some(t) if meta.blockCount > 0L =>
            Some((Checkpoints.sever(blockUbOf(t)
              .repartition(spark.sparkContext.defaultParallelism)),
              meta.blockCount))
          case _ => None
        }
        maxScoreCore(cand, stats, w.rel, k, split, dfStore, ubStore, blockOpt,
          seedCand = Some(cand0))
      case _ =>
        // EXACT serving: the plain scorer. Block-max pruning here lost
        // at the ×10 scale leg (54.0 → 68.7 s — an all-common
        // vocabulary leaves no block below the seeded threshold), so
        // block pruning serves exact answers only through
        // `maxScoreSplit`'s fallback lane.
        scoreTopK(cand, stats, w, k, dfreqOverride = dfStore)
    }
  }

  /** PHRASE forensics against the STORED index — output ≡
    * [[bm25PhraseTopK]] over the indexed corpus, with no corpus text
    * read anywhere: candidates come from the stored bag postings,
    * phrase votes from the stored POSITIONAL postings (both
    * term-literal-filtered, so token-sorted row groups prune
    * everything a phrase never mentions), corpus stats from the meta
    * row. Requires an index built `withPositions = true`; a bag-only
    * index refuses loudly (rebuilding is the fix — positions cannot
    * be derived from bag counts). */
  def phraseAgainstStoredIndex(spark: SparkSession, path: String,
                               queries: DataFrame, queryIdCol: String,
                               queryTextCol: String, k: Int,
                               maxTerms: Int = 100000): DataFrame = {
    val meta = readRetrievalIndexMeta(spark, path)
    require(meta.hasPositions,
      s"retrieval index at $path is bag-of-words only (built without " +
        "withPositions) — phrase probes need the positional relation; " +
        "rebuild via writeRetrievalIndex(..., withPositions = true)")
    val stats = CorpusStats.of(meta.nDocs, meta.totalTokens)
    val pw = probeWorkload(phraseTerms(queries, queryIdCol, queryTextCol),
      maxTerms, "phraseAgainstStoredIndex")
    val (pt, terms) = (pw.rel, pw.terms)
    val qt = pt.select(col("query_id"), col("token")).distinct()
    val cand = spread(readStoredPostings(spark, path, meta)
      .filter(col("token").isin(terms.toSeq: _*)))
    val pp = Checkpoints.sever(spread(
      readStoredPositions(spark, path, meta)
        .filter(col("token").isin(terms.toSeq: _*))))
    // match-first, like the one-shot form (see bm25PhraseTopK)
    val matches = Checkpoints.sever(phraseOccurrences(pp, pt))
    val scored = scoredContribForPairs(cand, stats, qt, matches,
      storedDfreq(spark, path, meta, terms))
    topKOf(scored, k).join(matches, Seq("query_id", "doc_id"))
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_micro"), col("n_occurrences"))
  }

  /** A stored probe's [[Workload]]: past `maxTerms` distinct terms the
    * probe (named by `probe`) fails loudly, since its terms become a
    * literal filter. */
  private def probeWorkload(rel: DataFrame, maxTerms: Int,
                            probe: String): Workload = {
    val w = new Workload(rel)
    require(w.terms.length <= maxTerms,
      s"$probe: query workload has ${w.terms.length} distinct terms, past " +
        s"the $maxTerms literal-filter guard — shard the workload across " +
        "probes")
    w
  }

  /** True df of a probe's terms from the termstats relation when the
    * artifact carries one; None falls the caller back to a postings
    * pass. */
  private def storedDfreq(spark: SparkSession, path: String,
                          meta: RetrievalIndexMeta,
                          terms: Array[String]): Option[DataFrame] =
    if (meta.hasTermstats)
      Some(readStoredTermstats(spark, path, meta)
        .filter(col("token").isin(terms.toSeq: _*))
        .select(col("token"), col("df").as("__df")))
    else None

  /** PROXIMITY forensics against the STORED positional index — output
    * ≡ [[bm25ProximityTopK]] over the indexed corpus, no corpus text
    * read anywhere (the [[phraseAgainstStoredIndex]] twin, relaxed to
    * the any-order W-token window). */
  def proximityAgainstStoredIndex(spark: SparkSession, path: String,
                                  queries: DataFrame, queryIdCol: String,
                                  queryTextCol: String, k: Int,
                                  windowTokens: Int,
                                  maxTerms: Int = 100000): DataFrame = {
    require(windowTokens >= 1,
      s"bm25: windowTokens must be >= 1, got $windowTokens")
    val meta = readRetrievalIndexMeta(spark, path)
    require(meta.hasPositions,
      s"retrieval index at $path is bag-of-words only (built without " +
        "withPositions) — proximity probes need the positional " +
        "relation; rebuild via writeRetrievalIndex(..., " +
        "withPositions = true)")
    val stats = CorpusStats.of(meta.nDocs, meta.totalTokens)
    val w = probeWorkload(queryTerms(queries, queryIdCol, queryTextCol),
      maxTerms, "proximityAgainstStoredIndex")
    val terms = w.terms
    val cand = spread(readStoredPostings(spark, path, meta)
      .filter(col("token").isin(terms.toSeq: _*)))
    val pp = Checkpoints.sever(spread(
      readStoredPositions(spark, path, meta)
        .filter(col("token").isin(terms.toSeq: _*))))
    val dfreq = storedDfreq(spark, path, meta, terms).getOrElse(
      Checkpoints.sever(dfreqOf(cand)))
    rankedForensicTopK(cand, stats, w, k, dfreq,
      restrictedMatch = pairs =>
        proximityFromPositions(pp, w.rel, windowTokens, Some(pairs)),
      extraCol = "n_windows")
  }
}
