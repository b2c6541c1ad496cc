package graft.core

import scala.collection.mutable

/** Polymorphic book interface: the unified N-level engine and the n=1
  * scalar engine plug into the same replay loops (the custom exec picks
  * the scalar engine for n == 1 via `BookKernel(n)`). */
trait BookKernel {
  /** Levels tracked per side. */
  def n: Int
  def addQty(isBid: Boolean, price: Long, qty: Long): Unit
  def deleteQty(isBid: Boolean, price: Long, qty: Long): Unit
  def modifyQty(isBid: Boolean, prevPrice: Long, prevQty: Long,
                newPrice: Long, newQty: Long): Unit
  def setLevel(isBid: Boolean, price: Long, qty: Long): Unit

  /** Allocation-free top-N snapshot in the reference's *grouped* field
    * order: bid_price_1..n, bid_qty_1..n, ask_price_1..n, ask_qty_1..n
    * (reference: polars_order_book/src/output.rs:89-120) into out(0 until
    * 4n). Returns both sides' depths packed by [[BookKernel.depths]]; the
    * slots past a side's depth are left as they were. */
  def snapshotLongs(out: Array[Long]): Int

  /** Level-map rescans run so far, each an O(levels) pass that refills
    * the tracked top-N after one of its levels is removed. */
  def rescans: Long

  private[this] var boxScratch: Array[Long] = null

  /** Boxed form of [[snapshotLongs]] for the Row-based emitters: writes
    * the 4n grouped slots into `out` from `offset`, null past a side's
    * depth. */
  final def snapshotInto(out: Array[Any], offset: Int): Unit = {
    if (boxScratch == null) boxScratch = new Array[Long](4 * n)
    val d = snapshotLongs(boxScratch)
    var block = 0 // bid prices, bid qtys, ask prices, ask qtys
    while (block < 4) {
      val depth = if (block < 2) BookKernel.bidDepth(d) else BookKernel.askDepth(d)
      var i = 0
      while (i < n) {
        out(offset + block * n + i) = if (i < depth) boxScratch(block * n + i) else null
        i += 1
      }
      block += 1
    }
  }
}

object BookKernel {
  /** The n=1 top-of-book case gets the scalar engine (reference keeps a
    * dedicated type for it too: book_side_tracked_basic.rs:44-148 and the
    * `1 => calculate_bbo_top_of_book` dispatch, calculate_bbo.rs:110-114);
    * every other depth uses the unified top-N array engine. */
  def apply(n: Int): BookKernel =
    if (n == 1) new OrderBook1 else new OrderBook(n)

  /** Pack the bid and ask depths that [[BookKernel.snapshotLongs]]
    * returns; n is at most 0xFFFF. */
  @inline def depths(bid: Int, ask: Int): Int = bid | (ask << 16)
  @inline def bidDepth(d: Int): Int = d & 0xFFFF
  @inline def askDepth(d: Int): Int = d >>> 16
}

/** n=1 scalar fast path: best price/qty tracked as three scalars instead
  * of length-1 arrays — no insert/replace shifting, a full-map rescan
  * only when the best level itself is removed. Mirrors the reference's
  * `BookSideWithBasicTracking` (book_side_tracked_basic.rs:44-148) with
  * the same side-unification-by-key-negation trick as [[BookSide]].
  * Error semantics identical to the unified engine. */
final class BookSideBasic(val isBid: Boolean) {

  private val levels = new mutable.LongMap[Long](64)
  private var hasBest = false
  private var bestKey = 0L
  private var bestQty = 0L

  @inline private def key(p: Long): Long = if (isBid) p else -p
  @inline private def price(k: Long): Long = if (isBid) k else -k

  def levelCount: Int = levels.size
  def bestPrice: Option[Long] = if (hasBest) Some(price(bestKey)) else None
  def bestQuantity: Option[Long] = if (hasBest) Some(bestQty) else None

  private[core] var rescans = 0L

  /** Full rescan — only after the best level is deleted (the reference
    * re-derives best from the map the same way,
    * book_side_tracked_basic.rs:117-131). */
  private def rescanBest(): Unit = {
    rescans += 1
    hasBest = false
    levels.foreach { case (k, q) =>
      if (!hasBest || k > bestKey) { hasBest = true; bestKey = k; bestQty = q }
    }
  }

  def addQty(p: Long, qty: Long): Unit = {
    val k = key(p)
    val existing = levels.contains(k)
    val newQty = if (existing) levels(k) + qty else qty
    levels(k) = newQty
    if (!hasBest || k > bestKey) { hasBest = true; bestKey = k; bestQty = newQty }
    else if (k == bestKey) bestQty = newQty
  }

  def deleteQty(p: Long, qty: Long): Unit = {
    val k = key(p)
    if (!levels.contains(k)) OrderBookException.levelNotFound(isBid, p)
    val curQty = levels(k)
    if (qty > curQty) OrderBookException.qtyExceedsAvailable(isBid, p, qty)
    if (qty == curQty) {
      levels.remove(k)
      if (hasBest && k == bestKey) rescanBest()
    } else {
      val newQty = curQty - qty
      levels(k) = newQty
      if (hasBest && k == bestKey) bestQty = newQty
    }
  }

  def setLevel(p: Long, qty: Long): Unit = {
    val k = key(p)
    if (qty == 0L) {
      if (levels.remove(k).isDefined && hasBest && k == bestKey) rescanBest()
    } else {
      levels(k) = qty
      if (!hasBest || k > bestKey) { hasBest = true; bestKey = k; bestQty = qty }
      else if (k == bestKey) bestQty = qty
    }
  }

  /** (price_1, qty_1) into out(offset), out(offset+1) when a best level
    * exists; returns the depth, 0 or 1. */
  def snapshotLongs(out: Array[Long], offset: Int): Int =
    if (hasBest) { out(offset) = price(bestKey); out(offset + 1) = bestQty; 1 }
    else 0
}

/** Two-sided n=1 book over the scalar sides. */
final class OrderBook1 extends BookKernel {
  val n = 1
  val bids = new BookSideBasic(isBid = true)
  val asks = new BookSideBasic(isBid = false)

  @inline private def side(isBid: Boolean): BookSideBasic = if (isBid) bids else asks

  def addQty(isBid: Boolean, price: Long, qty: Long): Unit =
    side(isBid).addQty(price, qty)

  def deleteQty(isBid: Boolean, price: Long, qty: Long): Unit =
    side(isBid).deleteQty(price, qty)

  def modifyQty(isBid: Boolean, prevPrice: Long, prevQty: Long,
                newPrice: Long, newQty: Long): Unit = {
    deleteQty(isBid, prevPrice, prevQty)
    addQty(isBid, newPrice, newQty)
  }

  def setLevel(isBid: Boolean, price: Long, qty: Long): Unit =
    side(isBid).setLevel(price, qty)

  def snapshotLongs(out: Array[Long]): Int =
    BookKernel.depths(bids.snapshotLongs(out, 0), asks.snapshotLongs(out, 2))

  def rescans: Long = bids.rescans + asks.rescans
}

/** Untracked baseline side: a bare level map with best-on-demand (full
  * scan per query). The reference keeps the same thing (`SimpleBookSide`)
  * as its benchmark baseline; here it doubles as a brute-force oracle
  * for the tracked engines in specs and as the yardstick that justifies
  * incremental top-N tracking (O(1) snapshot vs O(L) scan per event). */
final class SimpleBookSide(val isBid: Boolean) {
  private val levels = new mutable.LongMap[Long](64)
  @inline private def key(p: Long): Long = if (isBid) p else -p
  @inline private def price(k: Long): Long = if (isBid) k else -k

  def addQty(p: Long, qty: Long): Unit = {
    val k = key(p)
    levels(k) = (if (levels.contains(k)) levels(k) else 0L) + qty
  }

  def deleteQty(p: Long, qty: Long): Unit = {
    val k = key(p)
    if (!levels.contains(k)) OrderBookException.levelNotFound(isBid, p)
    val cur = levels(k)
    if (qty > cur) OrderBookException.qtyExceedsAvailable(isBid, p, qty)
    if (qty == cur) levels.remove(k) else levels(k) = cur - qty
  }

  def setLevel(p: Long, qty: Long): Unit = {
    val k = key(p)
    if (qty == 0L) levels.remove(k) else levels(k) = qty
  }

  /** Best-first (price, qty) levels by full sort — O(L log L) per call. */
  def topLevels(m: Int): Seq[(Long, Long)] =
    levels.toSeq.sortBy(-_._1).take(m).map { case (k, q) => (price(k), q) }
}
