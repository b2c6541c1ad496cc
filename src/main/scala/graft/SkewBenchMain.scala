package graft

import org.apache.spark.sql.functions._

/** Skewed-stream bench: one product, deep stream — the case where the
  * serial replay's one-product-one-task model collapses to a single
  * core and ParallelReplay (auto-segmented) restores parallelism. */
object SkewBenchMain {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val spark = GraftSession()
    val ev = spark.range(n).select(
      col("id").as("seq"), lit(0L).as("product"),
      (col("id") % 2 === 0).as("is_bid"),
      (lit(50) + (col("id") * 2654435761L) % 45).as("price"),
      when((col("id") * 97) % 5 === 0, 0L)
        .otherwise(lit(1) + (col("id") * 48271L) % 100).as("qty"))
      .localCheckpoint() // materialize input so both runs time the replay
    // warmup both engines + codegen outside the timers
    graft.operators.OrderBookOps.topNLevelsFromPriceUpdates(
      ev.limit(200000), "price", "qty", "is_bid", 2, Seq("product"), Seq("seq")).count()
    graft.operators.ParallelReplay.topNLevelsFromPriceUpdatesParallel(
      ev.limit(200000), "price", "qty", "is_bid", 2, "product", "seq", 4).count()
    def time(label: String)(f: => Long): Double = {
      val t0 = System.nanoTime(); val rows = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$label%-28s $s%7.2f s  ($rows rows, ${n / s / 1e6}%.1f M ev/s)")
      s
    }
    val serial = time("serial replay (1 task)") {
      graft.operators.OrderBookOps.topNLevelsFromPriceUpdates(
        ev, "price", "qty", "is_bid", 2, Seq("product"), Seq("seq")).count()
    }
    for (s <- Seq(8, 16)) {
      val t = time(s"parallel segments=$s") {
        graft.operators.ParallelReplay.topNLevelsFromPriceUpdatesParallel(
          ev, "price", "qty", "is_bid", 2, "product", "seq", s).count()
      }
      println(f"segments=$s speedup: ${serial / t}%.2fx")
    }
    val segs = graft.operators.ParallelReplay.chooseSegments(ev, "product")
    println(s"auto-chosen segments: $segs")
    val auto = time("auto-parallel replay") {
      graft.operators.ParallelReplay.topNLevelsFromPriceUpdatesParallelAuto(
        ev, "price", "qty", "is_bid", 2, "product", "seq").count()
    }
    println(f"auto speedup: ${serial / auto}%.2fx")
    spark.stop()
  }
}
