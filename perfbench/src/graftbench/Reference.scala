package graftbench

import graft.core.{BookCodec, BookKernel, BookSide, OrderBook, Transitions}
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Pure-JVM reference for the book workloads: the same `graft.core` fold
  * the engine runs, over the same generated events, reduced to the
  * checksum the benchmark also computes in Spark. */
object Reference {

  /** Spark's `xxhash64` seed; nulls leave the running hash unchanged. */
  val HashSeed = 42L

  /** Order-independent checksum: XOR of xxhash64(product, seq, 4·n level
    * columns) over every output row, plus the row count. */
  final case class Checksum(xor: Long, rows: Long) {
    def ^(o: Checksum): Checksum = Checksum(xor ^ o.xor, rows + o.rows)
  }
  val Empty = Checksum(0L, 0L)

  /** 0 = O1 price updates, 2 = O3 mutations with modify (the exec's modes). */
  def apply(mode: Int, book: BookKernel, e: Gen.Events, j: Int): Unit =
    if (mode == 0) Transitions.applyUpdate(book, e.isBid(j), e.price(j), e.qty(j))
    else Transitions.applyMutationWithModify(book, e.isBid(j), e.price(j), e.qty(j),
      e.hasPrev(j), e.prevPrice(j), e.hasPrev(j), e.prevQty(j))

  /** Fold one product's events from an empty book; `seq` is the event index. */
  def checksum(mode: Int, n: Int, e: Gen.Events): Checksum = {
    val book = BookKernel(n)
    val out = new Array[Any](4 * n)
    var x = 0L
    var j = 0
    while (j < e.size) {
      apply(mode, book, e, j)
      book.snapshotInto(out, 0)
      var h = XXH64.hashLong(j.toLong, XXH64.hashLong(e.product, HashSeed))
      var c = 0
      while (c < out.length) {
        if (out(c) != null) h = XXH64.hashLong(out(c).asInstanceOf[Long], h)
        c += 1
      }
      x ^= h
      j += 1
    }
    Checksum(x, e.size.toLong)
  }

  /** Timed single-thread fold of one book with a snapshot per event, as the
    * exec emits one row per event. Returns seconds. */
  def foldSeconds(mode: Int, n: Int, e: Gen.Events): Double = {
    val out = new Array[Any](4 * n)
    val book = BookKernel(n)
    val t0 = System.nanoTime()
    var j = 0
    while (j < e.size) { apply(mode, book, e, j); book.snapshotInto(out, 0); j += 1 }
    (System.nanoTime() - t0) / 1e9
  }

  /** Exact work and working-set counts from an untimed pass. */
  final case class CoreCounts(trackedDeletes: Long, levelsLiveMax: Long, stateBytes: Long)

  private def tracked(side: BookSide, price: Long): Boolean = {
    var i = 0
    while (i < side.n) { if (side.topPrice(i).contains(price)) return true; i += 1 }
    false
  }

  /** Counts over the given books; `stateBytes` is the `BookCodec` size of
    * the book given as `critical` at the end of its stream. */
  def coreCounts(mode: Int, n: Int, books: Iterator[Gen.Events], critical: Long): CoreCounts = {
    var deletes = 0L; var live = 0L; var bytes = 0L
    books.foreach { e =>
      val book = new OrderBook(n)
      var j = 0
      while (j < e.size) {
        val side = if (e.isBid(j)) book.bids else book.asks
        // the level a delete would remove, if the event removes one
        val removed =
          if (mode == 0) e.qty(j) == 0L && side.levelQty(e.price(j)).isDefined
          else e.hasPrev(j) && side.levelQty(e.prevPrice(j)).contains(e.prevQty(j))
        if (removed && tracked(side, if (mode == 0) e.price(j) else e.prevPrice(j)))
          deletes += 1
        apply(mode, book, e, j)
        live = math.max(live, math.max(book.bids.levelCount, book.asks.levelCount).toLong)
        j += 1
      }
      if (e.product == critical) bytes = BookCodec.serialize(book).length.toLong
    }
    CoreCounts(deletes, live, bytes)
  }
}
