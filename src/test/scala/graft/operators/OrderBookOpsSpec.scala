package graft.operators

import graft.SparkTestSession
import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end Spark golden tests ported from the reference's pytest suite
  * (polars_order_book/tests/test_calculate_bbo.py). */
class OrderBookOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The canonical 12-event pattern that fills then fully drains both sides
    * (test_calculate_bbo.py:17-34), repeated `reps` times. */
  private def pattern12(reps: Int, mutation: Boolean): DataFrame = {
    val price = Seq(1L, 2, 3, 6, 5, 4, 3, 1, 2, 5, 4, 6)
    val qtyU = Seq(1L, 2, 3, 6, 5, 4, 0, 0, 0, 0, 0, 0)
    val qtyM = Seq(1L, 2, 3, 6, 5, 4, -3, -1, -2, -5, -4, -6)
    val isBid = Seq(true, true, true, false, false, false, true, true, true, false, false, false)
    val qty = if (mutation) qtyM else qtyU
    val rows = for (r <- 0 until reps; i <- 0 until 12)
      yield (r * 12 + i, i + 1, price(i), qty(i), isBid(i))
    rows.toDF("seq", "id", "price", "qty", "is_bid")
  }

  private val expected12 = Map(
    // id -> (bid_price_1, ask_price_1, bid_qty_1, ask_qty_1), test_calculate_bbo.py:49-55
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

  private def checkTop1(out: DataFrame): Unit = {
    val got = out.select($"id", $"bid_price_1", $"ask_price_1", $"bid_qty_1", $"ask_qty_1")
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val id = r.getInt(0)
      def o(i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
      val exp = expected12(id)
      assert((o(1), o(2), o(3), o(4)) == exp, s"id=$id")
    }
  }

  for (n <- Seq(1, 2, 4); reps <- Seq(1, 10, 100)) {
    test(s"updates 12-event pattern n=$n reps=$reps (test_calculate_bbo.py:14-68)") {
      val out = OrderBookOps.topNLevelsFromPriceUpdates(
        pattern12(reps, mutation = false), "price", "qty", "is_bid", n,
        partitionBy = Nil, orderBy = Seq("seq"))
      checkTop1(out)
      assert(out.count() == 12L * reps)
    }
    test(s"mutations 12-event pattern n=$n reps=$reps (test_calculate_bbo.py:71-127)") {
      val out = OrderBookOps.topNLevelsFromPriceMutations(
        pattern12(reps, mutation = true), "price", "qty", "is_bid", n,
        partitionBy = Nil, orderBy = Seq("seq"))
      checkTop1(out)
    }
    test(s"modify fed all-null prevs == plain mutations n=$n reps=$reps (py:194-259)") {
      val in = pattern12(reps, mutation = true)
        .withColumn("prev_price", lit(null).cast("long"))
        .withColumn("prev_qty", lit(null).cast("long"))
      val out = OrderBookOps.topNLevelsFromPriceMutationsWithModify(
        in, "price", "qty", "is_bid", "prev_price", "prev_qty", n,
        partitionBy = Nil, orderBy = Seq("seq"))
      checkTop1(out)
    }
  }

  test("modify pattern (test_calculate_bbo.py:130-191)") {
    val rows = Seq(
      (0, -2, 1L, 1L, true, None, None),
      (1, -1, 6L, 6L, false, None, None)) ++
      (0 until 10).flatMap { r =>
        Seq(
          (2 + r * 6 + 0, 1, 2L, 2L, true, Some(1L), Some(1L)),
          (2 + r * 6 + 1, 2, 3L, 3L, true, Some(2L), Some(2L)),
          (2 + r * 6 + 2, 3, 1L, 1L, true, Some(3L), Some(3L)),
          (2 + r * 6 + 3, 4, 5L, 5L, false, Some(6L), Some(6L)),
          (2 + r * 6 + 4, 5, 4L, 4L, false, Some(5L), Some(5L)),
          (2 + r * 6 + 5, 6, 6L, 6L, false, Some(4L), Some(4L)))
      }
    val df = rows.toDF("seq", "id", "price", "qty", "is_bid", "prev_price", "prev_qty")
    for (n <- Seq(1, 2, 4)) {
      val out = OrderBookOps.topNLevelsFromPriceMutationsWithModify(
        df, "price", "qty", "is_bid", "prev_price", "prev_qty", n,
        partitionBy = Nil, orderBy = Seq("seq"))
      val exp = Map(
        -2 -> (Some(1L), None), -1 -> (Some(1L), Some(6L)),
        1 -> (Some(2L), Some(6L)), 2 -> (Some(3L), Some(6L)), 3 -> (Some(1L), Some(6L)),
        4 -> (Some(1L), Some(5L)), 5 -> (Some(1L), Some(4L)), 6 -> (Some(1L), Some(6L)))
      out.select($"id", $"bid_price_1", $"ask_price_1", $"bid_qty_1", $"ask_qty_1")
        .collect().foreach { r =>
          val id = r.getInt(0)
          def o(i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
          val (bp, ap) = exp(id)
          // qty == price throughout this fixture
          assert((o(1), o(2)) == (bp, ap), s"id=$id n=$n prices")
          assert((o(3), o(4)) == (bp, ap), s"id=$id n=$n qtys")
        }
    }
  }

  for (isBid <- Seq(true, false)) {
    test(s"multiple orders per level, modify cycling, is_bid=$isBid (py:262-320)") {
      val base = Seq(
        (0, 1, 1L, 1L, None, None),
        (1, 2, 1L, 1L, None, None),
        (2, 3, 2L, 2L, Some(1L), Some(1L)),
        (3, 4, 2L, 2L, Some(1L), Some(1L)))
      val cyc = (0 until 10).flatMap { r =>
        Seq(
          (4 + r * 4 + 0, 5, 1L, 1L, Some(2L), Some(2L)),
          (4 + r * 4 + 1, 6, 1L, 1L, Some(2L), Some(2L)),
          (4 + r * 4 + 2, 3, 2L, 2L, Some(1L), Some(1L)),
          (4 + r * 4 + 3, 4, 2L, 2L, Some(1L), Some(1L)))
      }
      val df = (base ++ cyc).toDF("seq", "id", "price", "qty", "prev_price", "prev_qty")
        .withColumn("is_bid", lit(isBid))
      val (bestPx, bestQty) =
        if (isBid) (Seq(1L, 1, 2, 2, 2, 1), Seq(1L, 2, 2, 4, 2, 2))
        else (Seq(1L, 1, 1, 2, 1, 1), Seq(1L, 2, 1, 4, 1, 2))
      for (n <- Seq(1, 2, 4)) {
        val out = OrderBookOps.topNLevelsFromPriceMutationsWithModify(
          df, "price", "qty", "is_bid", "prev_price", "prev_qty", n,
          partitionBy = Nil, orderBy = Seq("seq"))
        val (sideP, sideQ, otherP) =
          if (isBid) ("bid_price_1", "bid_qty_1", "ask_price_1")
          else ("ask_price_1", "ask_qty_1", "bid_price_1")
        out.select(col("id"), col(sideP), col(sideQ), col(otherP)).collect().foreach { r =>
          val id = r.getInt(0)
          assert(!r.isNullAt(1) && r.getLong(1) == bestPx(id - 1), s"id=$id n=$n px")
          assert(!r.isNullAt(2) && r.getLong(2) == bestQty(id - 1), s"id=$id n=$n qty")
          assert(r.isNullAt(3), s"id=$id n=$n other side")
        }
      }
    }
  }

  test("multi-product isolation: partitionBy keeps independent books") {
    val single = pattern12(1, mutation = false)
    val multi = Seq("A", "B", "C").zipWithIndex.flatMap { case (p, pi) =>
      (0 until 12).map { i =>
        val r = single.collect()(i)
        (p, i + pi, r.getInt(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
      }
    }.toDF("product", "seq", "id", "price", "qty", "is_bid")
    val out = OrderBookOps.topNLevelsFromPriceUpdates(
      multi, "price", "qty", "is_bid", 1,
      partitionBy = Seq("product"), orderBy = Seq("seq"))
    assert(out.count() == 36)
    out.select($"id", $"bid_price_1", $"ask_price_1", $"bid_qty_1", $"ask_qty_1")
      .collect().foreach { r =>
        val id = r.getInt(0)
        def o(i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
        assert((o(1), o(2), o(3), o(4)) == expected12(id), s"id=$id")
      }
  }

  test("errors surface as failed jobs (over-delete)") {
    val df = Seq((0, 5L, -1L, true)).toDF("seq", "price", "qty", "is_bid")
    val out = OrderBookOps.topNLevelsFromPriceMutations(
      df, "price", "qty", "is_bid", 1, Nil, Seq("seq"))
    val e = intercept[SparkException] { out.collect() }
    assert(e.getMessage.contains("Level not found") ||
      Option(e.getCause).exists(_.getMessage.contains("Level not found")))
  }

  test("null in required column raises missing-value error") {
    val df = Seq((0, Some(5L), Some(1L), Option.empty[Boolean]))
      .toDF("seq", "price", "qty", "is_bid")
    val out = OrderBookOps.topNLevelsFromPriceUpdates(
      df, "price", "qty", "is_bid", 1, Nil, Seq("seq"))
    val e = intercept[SparkException] { out.collect() }
    assert(e.getMessage.contains("Missing value") ||
      Option(e.getCause).exists(_.getMessage.contains("Missing value")))
  }

  test("nestBbo/unnestStruct round-trip") {
    val out = OrderBookOps.topNLevelsFromPriceUpdates(
      pattern12(1, mutation = false), "price", "qty", "is_bid", 2, Nil, Seq("seq"))
    val nested = OrderBookOps.nestBbo(out, 2)
    assert(nested.schema.fieldNames.contains("bbo"))
    val flat = OrderBookOps.unnestStruct(nested, "bbo")
    assert(flat.columns.toSet == out.columns.toSet)
    assert(flat.count() == 12)
  }

  test("custom exec == flatMapGroups implementation on derived events") {
    import graft.queries.EventStreams
    for (mutation <- Seq(false, true)) {
      val stream = EventStreams.bookStream(spark, "/root/testdata/sf0.001", qtyZeroEvery5 = !mutation)
      val out =
        if (mutation) OrderBookOps.topNLevelsFromPriceMutations(
          stream, "price", "qty", "is_bid", 3, Seq("product"), Seq("seq"))
        else OrderBookOps.topNLevelsFromPriceUpdates(
          stream, "price", "qty", "is_bid", 3, Seq("product"), Seq("seq"))
      val a = out.orderBy("product", "seq").collect().toSeq
      val b = graft.CoreFoldOracle.replay(stream, if (mutation) 1 else 0, 3,
        "price", "qty", "is_bid", None, Seq("product"), Seq("seq"))
      assert(a.size == 1000 && a == b, s"mutation=$mutation")
    }
  }

  test("updates 12-event pattern n=2 reps=1000 steady state (pytest max reps)") {
    val out = OrderBookOps.topNLevelsFromPriceUpdates(
      pattern12(1000, mutation = false), "price", "qty", "is_bid", 2,
      partitionBy = Nil, orderBy = Seq("seq"))
    checkTop1(out)
    assert(out.count() == 12000)
  }
}
