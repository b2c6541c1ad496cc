package graft.operators

import graft.SparkTestSession
import graft.plans.BboWindow
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference's repetition-scaled goldens
  * (test_calculate_bbo.py:12-127: the 12-event fill-and-fully-drain
  * pattern at input repetition {10, 100, 1000} × n ∈ {1, 2, 4}), run
  * against EVERY batch engine form — custom physical operator, window
  * aggregate, parallel-prefix replay.
  * The pattern drains the book each cycle, so the expected top-1 values
  * repeat with period 12 and one id→expected map checks any repetition. */
class RepetitionGoldensSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def pattern12(reps: Int, mutation: Boolean): DataFrame = {
    val price = Seq(1L, 2, 3, 6, 5, 4, 3, 1, 2, 5, 4, 6)
    val qtyU = Seq(1L, 2, 3, 6, 5, 4, 0, 0, 0, 0, 0, 0)
    val qtyM = Seq(1L, 2, 3, 6, 5, 4, -3, -1, -2, -5, -4, -6)
    val isBid = Seq(true, true, true, false, false, false,
      true, true, true, false, false, false)
    val qty = if (mutation) qtyM else qtyU
    val rows = for (r <- 0 until reps; i <- 0 until 12)
      yield ("P", r * 12L + i, i + 1, price(i), qty(i), isBid(i))
    rows.toDF("product", "seq", "id", "price", "qty", "is_bid")
  }

  // id -> (bid_price_1, ask_price_1, bid_qty_1, ask_qty_1), py:49-55
  private val expected12 = Map(
    1 -> (Some(1L), None, Some(1L), None),
    2 -> (Some(2L), None, Some(2L), None),
    3 -> (Some(3L), None, Some(3L), None),
    4 -> (Some(3L), Some(6L), Some(3L), Some(6L)),
    5 -> (Some(3L), Some(5L), Some(3L), Some(5L)),
    6 -> (Some(3L), Some(4L), Some(3L), Some(4L)),
    7 -> (Some(2L), Some(4L), Some(2L), Some(4L)),
    8 -> (Some(2L), Some(4L), Some(2L), Some(4L)),
    9 -> (None, Some(4L), None, Some(4L)),
    10 -> (None, Some(4L), None, Some(4L)),
    11 -> (None, Some(6L), None, Some(6L)),
    12 -> (None, None, None, None))

  private def checkTop1(out: DataFrame, expRows: Long,
                        label: String): Unit = {
    val got = out.select(col("id"), col("bid_price_1"), col("ask_price_1"),
      col("bid_qty_1"), col("ask_qty_1")).collect()
    assert(got.length == expRows, label)
    got.foreach { r =>
      val id = r.getInt(0)
      def o(i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
      assert((o(1), o(2), o(3), o(4)) == expected12(id), s"$label id=$id")
    }
  }

  private val forms = Seq("exec", "window", "parallel")

  private def run(form: String, df: DataFrame, n: Int,
                  mutation: Boolean): DataFrame = form match {
    case "exec" =>
      if (mutation)
        OrderBookOps.topNLevelsFromPriceMutations(
          df, "price", "qty", "is_bid", n, Seq("product"), Seq("seq"))
      else
        OrderBookOps.topNLevelsFromPriceUpdates(
          df, "price", "qty", "is_bid", n, Seq("product"), Seq("seq"))
    case "window" =>
      val bbo =
        if (mutation)
          BboWindow.fromPriceMutations(col("price"), col("qty"), col("is_bid"),
            n, Seq(col("product")), Seq(col("seq")))
        else
          BboWindow.fromPriceUpdates(col("price"), col("qty"), col("is_bid"),
            n, Seq(col("product")), Seq(col("seq")))
      df.withColumn("bbo", bbo).select(col("id"), col("bbo.*"))
    case "parallel" =>
      if (mutation)
        ParallelReplay.topNLevelsFromPriceMutationsParallel(
          df, "price", "qty", "is_bid", n, "product", "seq", segments = 3)
      else
        ParallelReplay.topNLevelsFromPriceUpdatesParallel(
          df, "price", "qty", "is_bid", n, "product", "seq", segments = 3)
  }

  for (n <- Seq(1, 2, 4); reps <- Seq(10, 100, 1000)) {
    test(s"12-event goldens n=$n reps=$reps across all engine forms (py:12-127)") {
      val upd = pattern12(reps, mutation = false)
      val mut = pattern12(reps, mutation = true)
      for (form <- forms) {
        checkTop1(run(form, upd, n, mutation = false), 12L * reps,
          s"$form updates")
        checkTop1(run(form, mut, n, mutation = true), 12L * reps,
          s"$form mutations")
      }
    }
  }

  // Modify cycle (py:130-191): two seed adds, then a 6-event modify loop
  // that moves each level and returns the book to its loop-start state —
  // expected values repeat with period 6 after the two seeds.
  private def modifyPattern(reps: Int): DataFrame = {
    val rows = Seq(
      (0L, -2, 1L, 1L, true, None: Option[Long], None: Option[Long]),
      (1L, -1, 6L, 6L, false, None: Option[Long], None: Option[Long])) ++
      (0 until reps).flatMap { r =>
        Seq(
          (2 + r * 6L + 0, 1, 2L, 2L, true, Some(1L), Some(1L)),
          (2 + r * 6L + 1, 2, 3L, 3L, true, Some(2L), Some(2L)),
          (2 + r * 6L + 2, 3, 1L, 1L, true, Some(3L), Some(3L)),
          (2 + r * 6L + 3, 4, 5L, 5L, false, Some(6L), Some(6L)),
          (2 + r * 6L + 4, 5, 4L, 4L, false, Some(5L), Some(5L)),
          (2 + r * 6L + 5, 6, 6L, 6L, false, Some(4L), Some(4L)))
      }
    rows.toDF("seq", "id", "price", "qty", "is_bid", "prev_price", "prev_qty")
      .withColumn("product", lit("P"))
  }

  private val expectedModify = Map(
    -2 -> (Some(1L), None), -1 -> (Some(1L), Some(6L)),
    1 -> (Some(2L), Some(6L)), 2 -> (Some(3L), Some(6L)),
    3 -> (Some(1L), Some(6L)), 4 -> (Some(1L), Some(5L)),
    5 -> (Some(1L), Some(4L)), 6 -> (Some(1L), Some(6L)))

  private def runModify(form: String, df: DataFrame, n: Int): DataFrame =
    form match {
      case "exec" =>
        OrderBookOps.topNLevelsFromPriceMutationsWithModify(
          df, "price", "qty", "is_bid", "prev_price", "prev_qty", n,
          Seq("product"), Seq("seq"))
      case "window" =>
        val bbo = BboWindow.fromPriceMutationsWithModify(
          col("price"), col("qty"), col("is_bid"),
          col("prev_price"), col("prev_qty"), n,
          Seq(col("product")), Seq(col("seq")))
        df.withColumn("bbo", bbo).select(col("id"), col("bbo.*"))
      case "parallel" =>
        ParallelReplay.topNLevelsFromPriceMutationsWithModifyParallel(
          df, "price", "qty", "is_bid", "prev_price", "prev_qty", n,
          "product", "seq", segments = 3)
    }

  for (n <- Seq(1, 2, 4); reps <- Seq(10, 100, 1000)) {
    test(s"modify-cycle goldens n=$n reps=$reps across all engine forms (py:130-191)") {
      val df = modifyPattern(reps)
      for (form <- forms) {
        val got = runModify(form, df, n)
          .select(col("id"), col("bid_price_1"), col("ask_price_1"),
            col("bid_qty_1"), col("ask_qty_1")).collect()
        assert(got.length == 2L + 6L * reps, form)
        got.foreach { r =>
          val id = r.getInt(0)
          def o(i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
          val (bp, ap) = expectedModify(id)
          // qty == price throughout this fixture
          assert((o(1), o(2)) == (bp, ap), s"$form id=$id n=$n prices")
          assert((o(3), o(4)) == (bp, ap), s"$form id=$id n=$n qtys")
        }
      }
    }
  }
}
