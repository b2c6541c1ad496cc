package graft

import graft.core._

/** Core fold micro-bench (single thread), one snapshot per event as the
  * replay exec emits one row per event: unified vs scalar vs untracked at
  * n=1 — the reference's {untracked, basic, top-1} bench variants — and an
  * n=5 leg whose prices sit outside the JVM's boxed-Long cache, where the
  * boxed `snapshotInto` of the Row-based emitters allocates per level. */
object CoreBenchMain {
  def main(args: Array[String]): Unit = {
    val N = 2000000
    val prices = new Array[Long](N); val qtys = new Array[Long](N); val bids = new Array[Boolean](N)
    var i = 0
    while (i < N) {
      prices(i) = 50 + (i.toLong * 2654435761L) % 45
      qtys(i) = if ((i.toLong * 97) % 5 == 0) 0L else 1 + (i.toLong * 48271) % 100
      bids(i) = i % 2 == 0
      i += 1
    }
    val widePrices = prices.map(_ + 100000L)
    def run(label: String, mk: () => BookKernel, ps: Array[Long], boxed: Boolean = false): Unit = {
      val n = mk().n
      val longs = new Array[Long](4 * n)
      val anys = new Array[Any](4 * n)
      var best = Long.MaxValue
      for (_ <- 0 until 5) {
        val book = mk()
        val t0 = System.nanoTime()
        var j = 0
        while (j < N) {
          Transitions.applyUpdate(book, bids(j), ps(j), qtys(j))
          if (boxed) book.snapshotInto(anys, 0) else book.snapshotLongs(longs)
          j += 1
        }
        best = math.min(best, System.nanoTime() - t0)
      }
      println(f"$label%-40s ${N.toDouble / (best / 1e9) / 1e6}%8.1f M ev/s")
    }
    run("unified OrderBook(1)", () => new OrderBook(1), prices)
    run("scalar OrderBook1", () => new OrderBook1, prices)
    run("unified OrderBook(5), prices >= 100000", () => new OrderBook(5), widePrices)
    run("  same, boxed snapshotInto", () => new OrderBook(5), widePrices, boxed = true)
    // untracked baseline: setLevel only, snapshot via scan (topLevels(1))
    var bestU = Long.MaxValue
    for (_ <- 0 until 5) {
      val sides = Map(true -> new SimpleBookSide(true), false -> new SimpleBookSide(false))
      val t0 = System.nanoTime()
      var j = 0
      while (j < N) { sides(bids(j)).setLevel(prices(j), qtys(j)); sides(bids(j)).topLevels(1); j += 1 }
      bestU = math.min(bestU, System.nanoTime() - t0)
    }
    println(f"untracked SimpleBookSide ${N.toDouble / (bestU / 1e9) / 1e6}%6.1f M ev/s (best-on-demand scan)")
  }
}
