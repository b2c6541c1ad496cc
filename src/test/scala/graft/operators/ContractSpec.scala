package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** API-contract parity with the reference:
  * - n outside 1..=20 is rejected with the reference's exact message
  *   (calculate_bbo.rs:117-127 "Unsupported number of levels"), by the
  *   batch and the streaming replays alike;
  * - the SQL-registered bbo_* functions cast their event children, so
  *   INT-typed columns resolve cleanly instead of failing at execution;
  * - parallel replay requires an integral order column (cast(long) on a
  *   timestamp would truncate to seconds and break determinism), and
  *   every stream entry point integral partition and order keys.
  */
class ContractSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def stream = Seq(
    (1L, 0L, true, 10L, 5L), (2L, 0L, false, 12L, 3L), (3L, 0L, true, 11L, 2L))
    .toDF("seq", "product", "is_bid", "price", "qty")

  test("n outside 1..=20 is rejected with the reference message") {
    import graft.streaming.OrderBookStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val live = MemoryStream[(Long, Long, Boolean, Long, Long, Option[Long], Option[Long])]
      .toDF().toDF("seq", "product", "is_bid", "price", "qty", "prev_price", "prev_qty")
    // the batch API and the three stream entry points, each at query build
    val entryPoints: Seq[(String, Int => Any)] = Seq(
      "batch" -> (n => OrderBookOps.topNLevelsFromPriceUpdates(
        stream, "price", "qty", "is_bid", n, Seq("product"), Seq("seq"))),
      "stream updates" -> (n => OrderBookStream.topNLevelsFromPriceUpdates(
        live, "price", "qty", "is_bid", n, "product", "seq")),
      "stream mutations" -> (n => OrderBookStream.topNLevelsFromPriceMutations(
        live, "price", "qty", "is_bid", n, "product", "seq")),
      "stream modify" -> (n => OrderBookStream.topNLevelsFromPriceMutationsWithModify(
        live, "price", "qty", "is_bid", "prev_price", "prev_qty", n, "product", "seq")))
    for ((name, build) <- entryPoints; bad <- Seq(0, -1, 21, 100)) {
      val e = intercept[IllegalArgumentException](build(bad))
      assert(e.getMessage.contains(s"Unsupported number of levels: $bad"), name)
    }
    // boundary values are accepted
    for (ok <- Seq(1, 20)) {
      OrderBookOps.topNLevelsFromPriceUpdates(
        stream, "price", "qty", "is_bid", ok, Seq("product"), Seq("seq")).collect()
    }
  }

  test("every stream entry point rejects fractional keys at query build") {
    import graft.streaming.OrderBookStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val live = MemoryStream[(Long, Double, Long, Double, Boolean, Long, Long, Option[Long], Option[Long])]
      .toDF().toDF("seq", "seq_d", "product", "product_d", "is_bid", "price", "qty",
        "prev_price", "prev_qty")
    val entryPoints: Seq[(String, (String, String) => Any)] = Seq(
      "updates" -> ((k, o) => OrderBookStream.topNLevelsFromPriceUpdates(
        live, "price", "qty", "is_bid", 1, k, o)),
      "mutations" -> ((k, o) => OrderBookStream.topNLevelsFromPriceMutations(
        live, "price", "qty", "is_bid", 1, k, o)),
      "modify" -> ((k, o) => OrderBookStream.topNLevelsFromPriceMutationsWithModify(
        live, "price", "qty", "is_bid", "prev_price", "prev_qty", 1, k, o)),
      "ofi" -> ((k, o) => OrderBookStream.ofiFromPriceUpdates(
        live, "price", "qty", "is_bid", k, o)),
      "summary" -> ((k, o) => OrderBookStream.analyticsSummaryStream(
        live, "price", "qty", "is_bid", k, o)))
    for ((name, build) <- entryPoints;
         (key, order, bad) <- Seq(("product_d", "seq", "product_d"), ("product", "seq_d", "seq_d"))) {
      val e = intercept[IllegalArgumentException](build(key, order))
      assert(e.getMessage.contains(s"column '$bad' must be an integral type") &&
        e.getMessage.contains("fractional keys would silently merge books / scramble order"),
        s"$name: ${e.getMessage}")
    }
    // integral keys build
    entryPoints.foreach { case (_, build) => build("product", "seq") }
  }

  test("SQL bbo function accepts INT-typed price/qty columns") {
    graft.functions.GraftFunctions.registerAll(spark)
    Seq((1, 0, true, 10, 5), (2, 0, false, 12, 3), (3, 0, true, 11, 2))
      .toDF("seq", "product", "is_bid", "price", "qty")
      .createOrReplaceTempView("contract_int_stream")
    val out = spark.sql(
      """SELECT seq, bbo_from_price_updates(price, qty, is_bid, 1) OVER (
        |  PARTITION BY product ORDER BY seq
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bbo
        |FROM contract_int_stream""".stripMargin)
      .select(col("seq"), col("bbo.bid_price_1"), col("bbo.bid_qty_1"))
      .orderBy("seq").collect()
    assert(out.length == 3)
    assert(out(0).getLong(1) == 10L && out(0).getLong(2) == 5L)
    assert(out(2).getLong(1) == 11L && out(2).getLong(2) == 2L)
  }

  test("Column-typed overloads equal the string API, including expressions") {
    // prices arrive scaled ×100 as doubles; the Column overload can
    // normalize inline (the reference accepts pl.Expr the same way)
    val raw = Seq(
      (1L, 0L, true, 1000.0, 5L), (2L, 0L, false, 1200.0, 3L),
      (3L, 0L, true, 1100.0, 2L), (4L, 1L, true, 900.0, 7L))
      .toDF("seq", "product", "is_bid", "px100", "qty")
    val viaColumns = OrderBookOps.topNLevelsFromPriceUpdates(
        raw, round(col("px100") / 100).cast("long"), col("qty"), col("is_bid"), 1,
        Seq(col("product")), Seq(col("seq")))
      .orderBy("product", "seq").collect()
    val viaStrings = OrderBookOps.topNLevelsFromPriceUpdates(
        raw.withColumn("price", round(col("px100") / 100).cast("long")),
        "price", "qty", "is_bid", 1, Seq("product"), Seq("seq"))
      .drop("price").orderBy("product", "seq").collect()
    assert(viaColumns.length == 4)
    assert(viaColumns.toSeq == viaStrings.toSeq)
    // output columns: input unchanged + bbo fields, no temp leakage
    val cols = OrderBookOps.topNLevelsFromPriceUpdates(
      raw, col("px100").cast("long"), col("qty"), col("is_bid"), 1,
      Seq(col("product")), Seq(col("seq"))).columns.toSeq
    assert(cols == raw.columns.toSeq ++ OrderBookOps.bboFieldNames(1))
  }

  test("parallel replay rejects non-integral order columns") {
    val ts = stream.withColumn("ts", timestamp_seconds(col("seq")))
    val e = intercept[IllegalArgumentException] {
      ParallelReplay.topNLevelsFromPriceUpdatesParallel(
        ts, "price", "qty", "is_bid", 1, "product", "ts", segments = 2)
    }
    assert(e.getMessage.contains("integral"))
  }
}
