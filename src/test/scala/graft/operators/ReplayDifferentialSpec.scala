package graft.operators

import graft.{CoreFoldOracle, SparkTestSession}
import graft.core.{EventGens, OrderBook, Transitions}
import graft.plans.BboWindow
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Differential test of the Spark replay forms against the `graft.core`
  * fold ([[graft.CoreFoldOracle]]): 40 streams per mode, drawn from a
  * fixed seed with [[EventGens]]' generators (crossed books, qty 0 on
  * absent levels), each followed by a full drain and a refill. The exec,
  * the window aggregate, the parallel-prefix replay, a checkpoint resume
  * and a resume from a checkpoint rolled forward one day (snapshot,
  * resumed snapshot, resume) must all match the oracle bit for bit at
  * n = 1, 2 and 5. All
  * streams of a mode share one DataFrame keyed by stream id, so each
  * (form, mode, n) is one Spark action. */
class ReplayDifferentialSpec extends AnyFunSuite {
  import ReplayDifferentialSpec.Ev
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Streams = 40
  /** Resume splits each stream here: day 1 is seq < Split. */
  private val Split = 30L
  /** The chained checkpoint's day 2 ends here; day 3 is seq >= Split2. */
  private val Split2 = 60L
  private val prev = Some(("prev_price", "prev_qty"))

  /** Stream `s` of `mode`: a generated body, a full drain of every live
    * level, then the body's first events again on the empty book. */
  private def stream(mode: Int, s: Int): Seq[Ev] = {
    val params = Gen.Parameters.default
    val seed = Seed(7919L * mode + s)
    val body: Seq[(Boolean, Long, Long, Option[Long], Option[Long])] = mode match {
      case 0 => Gen.listOfN(80, EventGens.genUpdate).pureApply(params, seed)
        .map { case (b, p, q) => (b, p, q, None, None) }
      case 1 => EventGens.validMutations(Gen.listOfN(80, EventGens.genRawMut)
          .pureApply(params, seed))
        .map { case (b, p, q) => (b, p, q, None, None) }
      case _ => EventGens.genModifyStream(60).pureApply(params, seed).map(e =>
        (e.isBid, e.price, e.qty, Option.when(e.hasPrevPrice)(e.prevPrice),
          Option.when(e.hasPrevQty)(e.prevQty)))
    }
    val book = new OrderBook(1)
    body.foreach { case (b, p, q, pp, pq) =>
      Transitions(mode, book, b, p, q, pp.isDefined, pp.getOrElse(0L),
        pq.isDefined, pq.getOrElse(0L))
    }
    val drain = EventGens.liveLevels(book).map { case (b, p, q) =>
      (b, p, if (mode == 0) 0L else -q, None, None)
    }
    (body ++ drain ++ body.take(10)).zipWithIndex.map {
      case ((b, p, q, pp, pq), i) => Ev(s, i.toLong, p, q, b, pp, pq)
    }
  }

  private def exec(mode: Int, df: DataFrame, n: Int): DataFrame = mode match {
    case 0 => OrderBookOps.topNLevelsFromPriceUpdates(
      df, "price", "qty", "is_bid", n, Seq("stream"), Seq("seq"))
    case 1 => OrderBookOps.topNLevelsFromPriceMutations(
      df, "price", "qty", "is_bid", n, Seq("stream"), Seq("seq"))
    case _ => OrderBookOps.topNLevelsFromPriceMutationsWithModify(
      df, "price", "qty", "is_bid", "prev_price", "prev_qty", n,
      Seq("stream"), Seq("seq"))
  }

  private def window(mode: Int, df: DataFrame, n: Int): DataFrame = {
    val (p, q, b) = (col("price"), col("qty"), col("is_bid"))
    val (keys, order) = (Seq(col("stream")), Seq(col("seq")))
    val bbo = mode match {
      case 0 => BboWindow.fromPriceUpdates(p, q, b, n, keys, order)
      case 1 => BboWindow.fromPriceMutations(p, q, b, n, keys, order)
      case _ => BboWindow.fromPriceMutationsWithModify(p, q, b,
        col("prev_price"), col("prev_qty"), n, keys, order)
    }
    df.withColumn("bbo", bbo).select(col("*"), col("bbo.*")).drop("bbo")
  }

  private def parallel(mode: Int, df: DataFrame, n: Int): DataFrame = mode match {
    case 0 => ParallelReplay.topNLevelsFromPriceUpdatesParallel(
      df, "price", "qty", "is_bid", n, "stream", "seq", segments = 3)
    case 1 => ParallelReplay.topNLevelsFromPriceMutationsParallel(
      df, "price", "qty", "is_bid", n, "stream", "seq", segments = 3)
    case _ => ParallelReplay.topNLevelsFromPriceMutationsWithModifyParallel(
      df, "price", "qty", "is_bid", "prev_price", "prev_qty", n,
      "stream", "seq", segments = 3)
  }

  private val (keys, order) = (Seq("stream"), Seq("seq"))

  /** The mode's end-of-day checkpoint of `day`. */
  private def snapshot(mode: Int, day: DataFrame, n: Int): DataFrame = mode match {
    case 0 => BookCheckpoint.bookStateSnapshots(day, "price", "qty", "is_bid", n, keys, order)
    case 1 => BookCheckpoint.bookStateSnapshotsFromMutations(day, "price", "qty", "is_bid",
      n, keys, order)
    case _ => BookCheckpoint.bookStateSnapshotsFromMutationsWithModify(day, "price", "qty",
      "is_bid", "prev_price", "prev_qty", n, keys, order)
  }

  /** `states` rolled forward over `day`: the next end-of-day checkpoint. */
  private def rolled(mode: Int, day: DataFrame, states: DataFrame, n: Int): DataFrame =
    mode match {
      case 0 => BookCheckpoint.bookStateSnapshotsResumed(day, states,
        "price", "qty", "is_bid", n, keys, order)
      case 1 => BookCheckpoint.bookStateSnapshotsResumedFromMutations(day, states,
        "price", "qty", "is_bid", n, keys, order)
      case _ => BookCheckpoint.bookStateSnapshotsResumedFromMutationsWithModify(day, states,
        "price", "qty", "is_bid", "prev_price", "prev_qty", n, keys, order)
    }

  /** `day`'s replay rows, each book starting from its row in `states`. */
  private def resumed(mode: Int, day: DataFrame, states: DataFrame, n: Int): DataFrame =
    mode match {
      case 0 => BookCheckpoint.resumeTopNLevelsFromPriceUpdates(day, states,
        "price", "qty", "is_bid", n, keys, order)
      case 1 => BookCheckpoint.resumeTopNLevelsFromPriceMutations(day, states,
        "price", "qty", "is_bid", n, keys, order)
      case _ => BookCheckpoint.resumeTopNLevelsFromPriceMutationsWithModify(day, states,
        "price", "qty", "is_bid", "prev_price", "prev_qty", n, keys, order)
    }

  private def days(df: DataFrame, from: Long, until: Long): DataFrame =
    df.filter(col("seq") >= from && col("seq") < until)

  /** Day 1 (seq < Split) folded to a checkpoint, day 2 resumed from it. */
  private def resume(mode: Int, df: DataFrame, n: Int): DataFrame =
    resumed(mode, days(df, Split, Long.MaxValue), snapshot(mode, days(df, 0, Split), n), n)

  /** Day 1 snapshotted, rolled forward over day 2 (Split <= seq < Split2),
    * and day 3 resumed from the rolled checkpoint. */
  private def chained(mode: Int, df: DataFrame, n: Int): DataFrame = {
    val state2 = rolled(mode, days(df, Split, Split2), snapshot(mode, days(df, 0, Split), n), n)
    resumed(mode, days(df, Split2, Long.MaxValue), state2, n)
  }

  /** (stream, seq, 4·n levels) of every output row, in (stream, seq) order. */
  private def levels(out: DataFrame, n: Int): Seq[Row] =
    out.select((Seq("stream", "seq") ++ OrderBookOps.bboFieldNames(n)).map(col): _*)
      .orderBy("stream", "seq").collect().toSeq

  /** Equal row for row; a failure names the first differing row. */
  private def same(got: Seq[Row], exp: Seq[Row], what: String): Unit = {
    assert(got.size == exp.size, s"$what: ${got.size} rows, oracle ${exp.size}")
    got.zip(exp).find { case (g, e) => g != e }.foreach { case (g, e) =>
      fail(s"$what: got $g, oracle $e")
    }
  }

  for ((mode, label) <- Seq(0 -> "O1 update", 1 -> "O2 mutation", 2 -> "O3 modify")) {
    test(s"exec, window, parallel and resumed replays == core-fold oracle on $label streams") {
      val df = (0 until Streams).flatMap(stream(mode, _)).toDF()
      for (n <- Seq(1, 2, 5)) {
        val oracle = CoreFoldOracle.replay(df, mode, n, "price", "qty", "is_bid",
            if (mode == 2) prev else None, Seq("stream"), Seq("seq"))
          .map(r => Row.fromSeq(r.toSeq.take(2) ++ r.toSeq.drop(df.columns.length)))
        assert(oracle.size > Streams * 60)
        for ((form, run) <- Seq[(String, (Int, DataFrame, Int) => DataFrame)](
            "exec" -> exec, "window" -> window, "parallel" -> parallel))
          same(levels(run(mode, df, n), n), oracle, s"$form n=$n")
        same(levels(resume(mode, df, n), n), oracle.filter(_.getLong(1) >= Split),
          s"resume n=$n")
        same(levels(chained(mode, df, n), n), oracle.filter(_.getLong(1) >= Split2),
          s"chained snapshots n=$n")
      }
    }
  }
}

object ReplayDifferentialSpec {
  case class Ev(stream: Int, seq: Long, price: Long, qty: Long, is_bid: Boolean,
                prev_price: Option[Long], prev_qty: Option[Long])
}
