package graftbench

import graft.operators.{OrderBookOps, ParallelReplay}
import graft.pipeline.RetrievalOps
import graft.plans.BboWindow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.io.File

/** One workload: seeded inputs set up in the session, then a closed loop of
  * operations, each checked against a reference. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: File) {
  /** Generated input sizes, stamped into the record. */
  def inputSizes: Seq[(String, Long)]
  /** Input records one operation consumes (events, or queries). */
  def eventsPerOp: Long
  /** Results one operation answers: one whole replay, or one per query. */
  def queriesPerOp: Long
  def warmupOps: Int
  /** Generate and materialize the inputs; timed, and run several times. */
  def setup(rep: Int, t: Tracer): Unit
  /** Untimed: reference results for the correctness check. Returns the
    * (attempted, failed) checks it made itself. */
  def prepare(t: Tracer): (Int, Int)
  /** One operation: seconds for the public call to return its DataFrame,
    * and whether the output matched the reference. */
  def op(i: Int, t: Tracer): (Double, Boolean)
  /** Traced-run metrics measured outside the operations, with the
    * (attempted, failed) checks they made. */
  def extraLayers(t: Tracer): (Map[String, Double], Int, Int)
  def close(): Unit

  protected def seconds[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime(); val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, tiny: Boolean, work: File): Workload =
    name match {
      case "book_skew" => new BookWorkload(spark, seed, work, skew = true, tiny)
      case "book_wide" => new BookWorkload(spark, seed, work, skew = false, tiny)
      case "retrieval_serve" => new RetrievalWorkload(spark, seed, work, tiny)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (book_skew, book_wide, retrieval_serve)")
    }
}

/** The replay workloads. `book_skew`: O1 updates, n=5, a few products with
  * Zipf-skewed volume. `book_wide`: O3 mutations with modify, n=2, many
  * short books. */
final class BookWorkload(spark: SparkSession, seed: Long, work: File,
                         skew: Boolean, tiny: Boolean) extends Workload(spark, seed, work) {
  private val mode = if (skew) 0 else 2
  private val n = if (skew) 5 else 2

  // book_skew: Zipf(1.3) over 16 products puts ~40% of events on product 0
  private val skewProducts = 16
  private val skewEvents = if (tiny) 20000L else 400000L
  private val skewChunk = 50000
  // book_wide: ~40 events per product on average
  private val wideProducts = if (tiny) 500 else 10000
  private val wideMean = 40

  private lazy val counts: Array[Long] =
    if (skew) Gen.zipfCounts(skewEvents, skewProducts, 1.3)
    else Array.tabulate(wideProducts)(p => Gen.wideCount(seed, p, wideMean).toLong)
  private lazy val totalEvents = counts.sum
  /** The book that sets the replay's critical path: the deepest one. */
  private lazy val critical: Int = counts.indices.maxBy(counts(_))

  def inputSizes: Seq[(String, Long)] = Seq("events" -> totalEvents,
    "products" -> counts.length.toLong, "critical_book_events" -> counts(critical),
    "levels_n" -> n.toLong)
  def eventsPerOp: Long = totalEvents
  def queriesPerOp: Long = 1L
  def warmupOps: Int = 2

  private def events(p: Int): Gen.Events =
    if (skew) Gen.skewEvents(seed, p, 0, counts(p).toInt)
    else Gen.wideEvents(seed, p, counts(p).toInt)

  private val schema = StructType(Seq(
    StructField("product", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("is_bid", BooleanType, nullable = false),
    StructField("price", LongType, nullable = false),
    StructField("qty", LongType, nullable = false)) ++
    (if (skew) Nil else Seq(StructField("prev_price", LongType), StructField("prev_qty", LongType))))

  private var input: DataFrame = _
  private var expected = Reference.Empty

  def setup(rep: Int, t: Tracer): Unit = {
    if (input != null) input.unpersist(blocking = true)
    val sd = seed; val sk = skew; val cs = counts; val chunk = skewChunk
    // generation units: (product, from, until), chunked so the hot product
    // spreads over the input partitions
    val units = cs.indices.flatMap { p =>
      if (sk) (0L until cs(p) by chunk.toLong).map(f => (p, f.toInt, math.min(cs(p), f + chunk).toInt))
      else Seq((p, 0, cs(p).toInt))
    }
    val rows = spark.sparkContext.parallelize(units, spark.sparkContext.defaultParallelism)
      .flatMap { case (p, from, until) =>
        val e = if (sk) Gen.skewEvents(sd, p, from, until) else Gen.wideEvents(sd, p, until)
        Iterator.tabulate(e.size) { j =>
          val seq = (from + j).toLong
          if (sk) Row(e.product, seq, e.isBid(j), e.price(j), e.qty(j))
          else if (e.hasPrev(j)) Row(e.product, seq, e.isBid(j), e.price(j), e.qty(j),
            e.prevPrice(j), e.prevQty(j))
          else Row(e.product, seq, e.isBid(j), e.price(j), e.qty(j), null, null)
        }
      }
    t.span("setup.materialize") {
      input = spark.createDataFrame(rows, schema).cache()
      input.count()
    }
  }

  def prepare(t: Tracer): (Int, Int) = {
    expected = t.span("reference.fold") {
      counts.indices.iterator.map(p => Reference.checksum(mode, n, events(p)))
        .foldLeft(Reference.Empty)(_ ^ _)
    }
    (0, 0)
  }

  private def replay(df: DataFrame): DataFrame =
    if (skew) OrderBookOps.topNLevelsFromPriceUpdates(df, "price", "qty", "is_bid", n,
      Seq("product"), Seq("seq"))
    else OrderBookOps.topNLevelsFromPriceMutationsWithModify(df, "price", "qty", "is_bid",
      "prev_price", "prev_qty", n, Seq("product"), Seq("seq"))

  /** The Spark side of the checksum: one aggregate row per output. */
  private def checksum(out: DataFrame): Reference.Checksum = {
    val cols = (Seq("product", "seq") ++ OrderBookOps.bboFieldNames(n)).map(col)
    val r = out.select(xxhash64(cols: _*).as("h")).agg(bit_xor(col("h")), count(lit(1))).head()
    Reference.Checksum(r.getLong(0), r.getLong(1))
  }

  def op(i: Int, t: Tracer): (Double, Boolean) = {
    val (buildS, out) = seconds(t.span("operators.build")(replay(input)))
    val got = t.span("action")(checksum(out))
    (buildS, got == expected)
  }

  def extraLayers(t: Tracer): (Map[String, Double], Int, Int) = {
    val crit = events(critical)
    val folds = (0 until 5).map(_ => t.span("core.fold")(Reference.foldSeconds(mode, n, crit)))
    val foldS = folds.sorted.apply(2)
    val cc = t.span("core.counts") {
      Reference.coreCounts(mode, n, counts.indices.iterator.map(events), critical.toLong)
    }
    val core = Map(
      "core.fold_s" -> foldS,
      "core.fold_ev_per_s" -> crit.size / foldS,
      "core.tracked_deletes" -> cc.trackedDeletes.toDouble,
      "core.levels_live_max" -> cc.levelsLiveMax.toDouble,
      "core.state_bytes" -> cc.stateBytes.toDouble)
    if (!skew) return (core, 0, 0)
    // the other replay forms on the same input, checked against the same fold
    val (parS, par) = seconds(t.span("operators.parallel_auto") {
      checksum(ParallelReplay.topNLevelsFromPriceUpdatesParallelAuto(
        input, "price", "qty", "is_bid", n, "product", "seq"))
    })
    val (winS, win) = seconds(t.span("operators.window_form") {
      checksum(input.select(col("product"), col("seq"),
          BboWindow.fromPriceUpdates(col("price"), col("qty"), col("is_bid"), n,
            Seq(col("product")), Seq(col("seq"))).as("bbo"))
        .select(col("product"), col("seq"), col("bbo.*")))
    })
    val failed = Seq(par, win).count(_ != expected)
    (core ++ Map("operators.parallel_auto_s" -> parS, "operators.window_form_s" -> winS), 2, failed)
  }

  def close(): Unit = if (input != null) input.unpersist(blocking = true)
}

/** The serving workload: a stored BM25 index over a generated corpus, built
  * in set-up; each operation scores the same seeded batch of four-term
  * queries against it. */
final class RetrievalWorkload(spark: SparkSession, seed: Long, work: File, tiny: Boolean)
    extends Workload(spark, seed, work) {
  private val docs = if (tiny) 400 else 3000
  private val vocab = if (tiny) 500 else 5000
  private val (minLen, maxLen) = (10, 60)
  private val batchQueries = if (tiny) 20 else 200
  private val termsPerQuery = 4
  private val k = 10

  def inputSizes: Seq[(String, Long)] = Seq("docs" -> docs.toLong, "vocab" -> vocab.toLong,
    "queries_per_batch" -> batchQueries.toLong, "k" -> k.toLong)
  def eventsPerOp: Long = batchQueries.toLong
  def queriesPerOp: Long = batchQueries.toLong
  // the JIT compiler keeps compiling the driver's planning code for more
  // than a minute; after about 16 operations the times settle
  def warmupOps: Int = 16

  private val cdf = Gen.zipfCdf(vocab, 1.0)
  private var corpus: DataFrame = _
  private var index: File = _
  private var batch: DataFrame = _
  private var expected: Seq[(Long, Long, Long, Long)] = Nil
  var indexBuildS: Seq[Double] = Nil

  def setup(rep: Int, t: Tracer): Unit = {
    if (corpus != null) corpus.unpersist(blocking = true)
    if (index != null) Main.deleteTree(index)
    val sd = seed; val c = cdf; val (lo, hi) = (minLen, maxLen)
    val rows = spark.sparkContext.parallelize(0L until docs.toLong, spark.sparkContext.defaultParallelism)
      .map(d => Row(d, Gen.docText(sd, d, c, lo, hi)))
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    t.span("setup.materialize") {
      corpus = spark.createDataFrame(rows, schema).cache()
      corpus.count()
    }
    index = new File(work, s"index-$rep")
    val (s, _) = seconds(t.span("pipeline.index_build") {
      RetrievalOps.writeRetrievalIndex(corpus, "text", "doc_id", index.getPath)
    })
    indexBuildS :+= s
  }

  private def probe(): DataFrame =
    RetrievalOps.bm25AgainstStoredIndex(spark, index.getPath, batch, "query_id", "text", k)

  private val cols = Seq("query_id", "rank", "doc_id", "score_micro")

  private def rowsOf(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select(cols.map(col): _*).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted

  /** The gate: the stored probe's output must equal a one-shot `bm25TopK`
    * over the same corpus and queries, by `exceptAll` in both directions;
    * the one-shot rows are then each operation's reference. */
  def prepare(t: Tracer): (Int, Int) = {
    import spark.implicits._
    batch = (0 until batchQueries).map(q => (q.toLong, Gen.queryText(seed, q, cdf, termsPerQuery)))
      .toDF("query_id", "text")
    t.span("reference.bm25TopK") {
      val oneShot = RetrievalOps.bm25TopK(corpus, "text", "doc_id", batch, "query_id", "text", k)
        .select(cols.map(col): _*).localCheckpoint()
      val stored = probe().select(cols.map(col): _*).localCheckpoint()
      val same = stored.exceptAll(oneShot).isEmpty && oneShot.exceptAll(stored).isEmpty
      if (!same) System.err.println("retrieval_serve: stored probe != one-shot bm25TopK")
      expected = rowsOf(oneShot)
      (1, if (same) 0 else 1)
    }
  }

  def op(i: Int, t: Tracer): (Double, Boolean) = {
    val (buildS, out) = seconds(t.span("operators.build")(probe()))
    val got = t.span("action")(rowsOf(out))
    (buildS, got == expected)
  }

  def extraLayers(t: Tracer): (Map[String, Double], Int, Int) =
    (Map("pipeline.index_build_s" -> Main.median(indexBuildS)), 0, 0)

  def close(): Unit = {
    if (corpus != null) corpus.unpersist(blocking = true)
    if (index != null) Main.deleteTree(index)
  }
}
