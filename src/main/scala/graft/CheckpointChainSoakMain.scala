package graft

import graft.operators.{BookCheckpoint, OrderBookOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-day checkpoint-chain soak for the book replay lifecycle: seven
  * synthetic trading days roll forward one
  * [[BookCheckpoint.bookStateSnapshotsResumed]] step at a time — the
  * production shape where each morning resumes from yesterday's
  * checkpoint file and the raw history is never replayed — and day 7's
  * resumed output is asserted equal (count + order-free column sums) to
  * the 7-day full replay filtered to day-7 rows. Also asserted: the
  * state relation stays ONE narrow row per product with byte size
  * bounded by live levels (independent of the event count folded
  * through it — the claim that makes a year-long chain viable).
  *
  * Deterministic xxhash64 event synthesis — no files, no RNG.
  * Args: [eventsPerDay] [nProducts] (defaults 2M / 10k). */
object CheckpointChainSoakMain {
  def main(args: Array[String]): Unit = {
    val perDay = args.headOption.map(_.toLong).getOrElse(2000000L)
    val nProducts = args.drop(1).headOption.map(_.toLong).getOrElse(10000L)
    val days = 7
    val n = 5
    val spark = GraftSession()

    def time[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$label%-52s $s%8.2f s"); (r, s)
    }

    // O1 updates: ~30 live price points per product side, every 7th
    // event a level removal, so books stay bounded and levels churn
    def day(d: Int): DataFrame =
      spark.range(d * perDay, (d + 1) * perDay).select(
        col("id").as("seq"),
        pmod(xxhash64(col("id"), lit(1)), lit(nProducts)).as("product"),
        (pmod(xxhash64(col("id"), lit(2)), lit(2)) === 0).as("is_bid"),
        (pmod(xxhash64(col("id"), lit(3)), lit(30)) + 100).as("price"),
        when(pmod(xxhash64(col("id"), lit(4)), lit(7)) === 0, lit(0L))
          .otherwise(pmod(xxhash64(col("id"), lit(5)), lit(50)) + 1)
          .as("qty"))

    var states: DataFrame = null
    var totalChain = 0.0
    for (d <- 0 until days - 1) {
      val (s, t) = time(f"fold day $d (${perDay}%,d events) into the chain") {
        val next =
          if (d == 0) BookCheckpoint.bookStateSnapshots(day(0),
            "price", "qty", "is_bid", n, Seq("product"), Seq("seq"))
          else BookCheckpoint.bookStateSnapshotsResumed(day(d), states,
            "price", "qty", "is_bid", n, Seq("product"), Seq("seq"))
        next.localCheckpoint() // the day boundary: state lands on disk
      }
      states = s; totalChain += t
    }
    val stateRows = states.count()
    val stateBytes = states.agg(sum(octet_length(col("book_state"))))
      .head().getLong(0)
    println(f"  chained state after ${days - 1} days: $stateRows%,d rows, " +
      f"${stateBytes / 1024}%,d KiB total (${stateBytes / stateRows}%,d B/product " +
      f"— bounded by live levels, not by the ${(days - 1) * perDay}%,d events folded)")
    require(stateRows == nProducts, s"expected $nProducts state rows, got $stateRows")

    val lastDay = day(days - 1).localCheckpoint()
    val (chainAgg, tResume) = time(f"resume day $days from the day-${days - 1} state") {
      BookCheckpoint.resumeTopNLevelsFromPriceUpdates(lastDay, states,
          "price", "qty", "is_bid", n, Seq("product"), Seq("seq"))
        .agg(count(lit(1)), sum(col("seq") * (coalesce(col("bid_price_1"), lit(0L)) +
          coalesce(col("ask_price_1"), lit(0L)) + coalesce(col("bid_qty_1"), lit(0L)))))
        .head()
    }
    val allDays = (0 until days).map(day).reduce(_ unionByName _)
    val (fullAgg, tFull) = time(f"full ${days}-day replay (${days * perDay}%,d events), day-$days slice") {
      OrderBookOps.topNLevelsFromPriceUpdates(allDays,
          "price", "qty", "is_bid", n, Seq("product"), Seq("seq"))
        .filter(col("seq") >= (days - 1) * perDay)
        .agg(count(lit(1)), sum(col("seq") * (coalesce(col("bid_price_1"), lit(0L)) +
          coalesce(col("ask_price_1"), lit(0L)) + coalesce(col("bid_qty_1"), lit(0L)))))
        .head()
    }
    require(chainAgg == fullAgg,
      s"day-$days resumed output diverged from the full replay: $chainAgg vs $fullAgg")
    println(f"  day-$days output == full replay (${chainAgg.getLong(0)}%,d rows, " +
      "order-free checksum equal); resume cost is one day " +
      f"($tResume%.1f s) vs the full-history replay ($tFull%.1f s)")
    println(f"SOAK OK  chain ${days - 1} days $totalChain%.1f s | " +
      f"resume $tResume%.1f s vs full $tFull%.1f s | state ${stateBytes / 1024}%,d KiB")
    spark.stop()
  }
}
