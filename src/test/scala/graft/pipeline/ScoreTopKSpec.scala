package graft.pipeline

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The document-at-a-time top-K kernel (`RetrievalOps.scoreTopK`)
  * against the relational form it replaced, `topKOf(scoredContrib(...))`:
  * both read the same candidate postings, df and corpus stats, on
  * seeded generated corpora, and must return the same (query_id, rank,
  * doc_id, score_micro) rows. */
class ScoreTopKSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** `nDocs` docs of 1 to 12 terms over a skewed `vocab`-term
    * vocabulary (low term ids are common). Ids are sparse and partly
    * negative, so the doc_id spread scatters them over every task. */
  private def genCorpus(seed: Long, nDocs: Int,
                        vocab: Int): Seq[(Long, String)] = {
    val r = new scala.util.Random(seed)
    (0 until nDocs).map { i =>
      val words = Seq.fill(1 + r.nextInt(12))(s"w${skewed(r, vocab)}")
      (i * 7919L - 100000L, words.mkString(" "))
    }
  }

  private def skewed(r: scala.util.Random, vocab: Int): Int =
    math.min(vocab - 1, (vocab * r.nextDouble() * r.nextDouble()).toInt)

  private def genQueries(seed: Long, n: Int,
                         vocab: Int): Seq[(Long, String)] = {
    val r = new scala.util.Random(seed + 1)
    (0 until n).map { q =>
      (100L + q, Seq.fill(1 + r.nextInt(4))(s"w${skewed(r, vocab)}")
        .mkString(" "))
    }
  }

  /** The candidate postings of a workload — every posting of every
    * query term, as the one-shot scorers build them — and the corpus
    * stats. */
  private def candOf(docs: Seq[(Long, String)], w: RetrievalOps.Workload)
      : (DataFrame, RetrievalOps.CorpusStats) = {
    val post = RetrievalOps.postingsWithDocLen(docs.toDF("doc_id", "text"),
      "text", "doc_id")
    val r = post.agg(countDistinct(col("doc_id")), sum(col("tf")))
      .collect()(0)
    (post.filter(col("token").isin(w.terms.toSeq: _*)),
      RetrievalOps.CorpusStats.of(r.getLong(0), r.getLong(1)))
  }

  private def workload(qs: Seq[(Long, String)]): RetrievalOps.Workload =
    new RetrievalOps.Workload(RetrievalOps.queryTerms(
      qs.toDF("query_id", "query_text"), "query_id", "query_text"))

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select("query_id", "rank", "doc_id", "score_micro").as[
      (Long, Long, Long, Long)].collect().toSeq.sorted

  /** Runs both forms over one input; returns the kernel's rows. */
  private def bothForms(cand: DataFrame, stats: RetrievalOps.CorpusStats,
                        w: RetrievalOps.Workload, k: Int,
                        dfreq: Option[DataFrame] = None,
                        label: String = ""): Seq[(Long, Long, Long, Long)] = {
    val kernel = rows(RetrievalOps.scoreTopK(cand, stats, w, k, dfreq))
    val relational = rows(RetrievalOps.topKOf(
      RetrievalOps.scoredContrib(cand, stats, w.rel, dfreq), k))
    assert(kernel == relational, s"$label k=$k: kernel != relational")
    kernel
  }

  test("generated corpora: the kernel ≡ the relational top-K for every " +
    "k, a query id on two workload rows included") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val docs = genCorpus(seed, 120, 40)
      // query 100 appears twice: its contributions count once per row,
      // as the relational join counts them
      val qs = genQueries(seed, 12, 40) :+ (100L -> "w3 w7")
      val w = workload(qs)
      val (cand, stats) = candOf(docs, w)
      for (k <- Seq(1, 3, 10)) {
        val got = bothForms(cand, stats, w, k, label = s"seed $seed")
        assert(got.nonEmpty)
      }
    }
  }

  test("score ties break by doc_id ascending") {
    // three texts, each on eight docs: every score ties within a text
    val texts = Seq("alpha beta", "alpha gamma gamma", "beta delta")
    val docs = (0 until 24).map(i => (i * 101L - 1000L, texts(i % 3)))
    val w = workload(Seq((1L, "alpha"), (2L, "beta gamma"),
      (3L, "alpha beta gamma delta")))
    val (cand, stats) = candOf(docs, w)
    val got = bothForms(cand, stats, w, 5, label = "ties")
    for ((q, rs) <- got.groupBy(_._1); i <- 1 until rs.size) {
      val (a, b) = (rs(i - 1), rs(i))
      assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3),
        s"query $q: rank ${a._2} (${a._3}, ${a._4}) before " +
          s"rank ${b._2} (${b._3}, ${b._4})")
    }
  }

  test("k past a query's candidate count, a query with no candidate, " +
    "and an absent term") {
    val docs = genCorpus(7L, 60, 30)
    val tf = docs.flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (t, xs) => t -> docs.count(_._2.split(" ").contains(t)) }
    val rare = tf.minBy(_._2)._1
    val w = workload(Seq((1L, rare), (2L, "absentword"),
      (3L, s"$rare absentword w0"), (4L, "nowhere neither")))
    val (cand, stats) = candOf(docs, w)
    val got = bothForms(cand, stats, w, 50, label = "sparse")
    val byQ = got.groupBy(_._1)
    assert(byQ(1L).size == tf(rare), "k = 50 keeps every candidate")
    assert(!byQ.contains(2L) && !byQ.contains(4L),
      s"queries with no candidate emit nothing: ${byQ.keySet}")
    assert(byQ(3L).nonEmpty)
  }

  test("a capped run whose cap truncates: the kernel ≡ the relational " +
    "form over the truncated candidates, scored with the true df") {
    val docs = genCorpus(11L, 150, 25)
    val w = workload(genQueries(11L, 10, 25))
    val (cand, stats) = candOf(docs, w)
    val (kept, dfreq) = RetrievalOps.truncatePerTerm(cand, stats, 3)
    assert(kept.count() < cand.count(), "the cap must truncate")
    bothForms(kept, stats, w, 4, Some(dfreq), label = "capped")
  }

  test("a two-epoch stored window: the stored probe ≡ the relational " +
    "form over the window's postings") {
    val dir = java.nio.file.Files.createTempDirectory("graft_kernel_win")
      .toString
    val docs = genCorpus(5L, 80, 30)
    val (built, appended) = docs.splitAt(50)
    RetrievalOps.writeRetrievalIndex(built.toDF("doc_id", "text"), "text",
      "doc_id", dir)
    RetrievalOps.appendRetrievalIndex(spark, dir,
      appended.toDF("doc_id", "text"), "text", "doc_id")
    val meta = RetrievalOps.readRetrievalIndexMeta(spark, dir)
    assert(meta.epoch == meta.base + 1, s"two epochs: $meta")
    val qs = genQueries(5L, 10, 30)
    val w = workload(qs)
    val stats = RetrievalOps.CorpusStats.of(meta.nDocs, meta.totalTokens)
    val cand = RetrievalOps.readStoredPostings(spark, dir, meta)
      .filter(col("token").isin(w.terms.toSeq: _*))
    for (k <- Seq(1, 5)) {
      val stored = rows(RetrievalOps.bm25AgainstStoredIndex(spark, dir,
        qs.toDF("query_id", "query_text"), "query_id", "query_text", k))
      assert(stored == bothForms(cand, stats, w, k, label = "window"))
    }
  }
}
