package graft.core

import scala.collection.mutable

/** Errors mirroring the reference engine's failure modes
  * (reference: order_book_core/src/book_side_ops.rs:5-17,
  * polars_order_book/src/update.rs:8-16). Raised from executor tasks they
  * fail the Spark job, matching the reference's Polars `ComputeError`
  * surface (reference: polars_order_book/src/errors.rs:7-19).
  */
final class OrderBookException(msg: String) extends RuntimeException(msg)

object OrderBookException {
  def levelNotFound(isBid: Boolean, price: Long): Nothing =
    throw new OrderBookException(
      s"Level not found: side=${if (isBid) "Bid" else "Ask"} price=$price")
  def qtyExceedsAvailable(isBid: Boolean, price: Long, qty: Long): Nothing =
    throw new OrderBookException(
      s"Qty exceeds available: side=${if (isBid) "Bid" else "Ask"} price=$price qty=$qty")
  def missingValue(field: String): Nothing =
    throw new OrderBookException(s"Missing value in required column: $field")
}

/** One side of a limit order book with incrementally-maintained top-N levels.
  *
  * Prices are stored internally as side-adjusted *keys*: `key = price` for
  * bids and `key = -price` for asks, so that "better" is always "greater"
  * and one code path serves both sides — the same trick as the reference's
  * reversed `Ord` on `AskPrice` (reference:
  * order_book_core/src/price_level.rs:88-92).
  *
  * State is a hash map of key→qty (reference:
  * order_book_core/src/book_side.rs:26-27) plus a sorted best→worst array of
  * the top N levels, maintained with O(N) shifts per event and an O(L·N)
  * rescan only on tracked-level eviction (reference:
  * order_book/src/top_n_levels.rs:79-125,
  * order_book_core/src/book_side.rs:39-51).
  */
final class BookSide(val isBid: Boolean, val n: Int) {
  require(n >= 1, "n must be >= 1")

  private val levels = new mutable.LongMap[Long](64)
  // Top-N cache: Some-prefix of length `len`, sorted by key descending
  // (best first). worst is defined iff len == n.
  private[core] val topKeys = new Array[Long](n)
  private[core] val topQtys = new Array[Long](n)
  private[core] var len = 0

  @inline private def key(price: Long): Long = if (isBid) price else -price
  @inline private def price(key: Long): Long = if (isBid) key else -key

  @inline def levelCount: Int = levels.size
  def levelQty(p: Long): Option[Long] = levels.get(key(p))

  /** Codec support: iterate raw (key, qty) level entries. */
  private[core] def foreachLevel(f: (Long, Long) => Unit): Unit =
    levels.foreach { case (k, q) => f(k, q) }
  /** Codec support: insert a raw (key, qty) entry without cache updates. */
  private[core] def putLevelRaw(k: Long, q: Long): Unit = levels(k) = q

  /** i-th best tracked price/qty (0-based), or None if fewer levels. */
  def topPrice(i: Int): Option[Long] =
    if (i < len) Some(price(topKeys(i))) else None
  def topQty(i: Int): Option[Long] =
    if (i < len) Some(topQtys(i)) else None

  /** Rescans ([[nthBestLevel]] passes over the level map) run so far. */
  private[core] var rescans = 0L

  /** Write the tracked levels as (price_1..len, qty_1..len) into
    * out(offset until offset+len) and out(offset+n until offset+n+len);
    * returns len. Slots past len are left as they were. */
  def snapshotLongs(out: Array[Long], offset: Int): Int = {
    var i = 0
    while (i < len) {
      out(offset + i) = price(topKeys(i)); out(offset + n + i) = topQtys(i); i += 1
    }
    len
  }

  // ---- top-N cache primitives (reference: order_book/src/top_n_levels.rs) --

  /** Insert a new (key, qty) into the sorted cache; if full, the current
    * worst is evicted (it remains in the level map). Reference:
    * top_n_levels.rs:79-100. */
  private def insertSort(k: Long, q: Long): Unit = {
    val bound = math.min(len, n - 1)
    var ip = 0
    while (ip < bound && topKeys(ip) > k) ip += 1
    // shift [ip, n-2] right one slot (evicts slot n-1 when full)
    var i = math.min(len, n - 1)
    while (i > ip) {
      topKeys(i) = topKeys(i - 1); topQtys(i) = topQtys(i - 1); i -= 1
    }
    topKeys(ip) = k; topQtys(ip) = q
    if (len < n) len += 1
  }

  /** Remove the entry with key `k` (if tracked) and append the replacement
    * (the new overall worst) at the end. Reference: top_n_levels.rs:105-125. */
  private def replaceSort(k: Long, replKey: Long, replQty: Long, hasRepl: Boolean): Unit = {
    var i = 0
    while (i < len && topKeys(i) != k) i += 1
    if (i == len) return // not tracked — nothing to do
    while (i < len - 1) {
      topKeys(i) = topKeys(i + 1); topQtys(i) = topQtys(i + 1); i += 1
    }
    if (hasRepl) { topKeys(len - 1) = replKey; topQtys(len - 1) = replQty }
    else len -= 1
  }

  /** In-place qty overwrite for a tracked key; no-op when untracked.
    * Reference: top_n_levels.rs:127-138. */
  private def updateQtyTracked(k: Long, q: Long): Unit = {
    var i = 0
    while (i < len) {
      if (topKeys(i) == k) { topQtys(i) = q; return }
      i += 1
    }
  }

  /** (m+1)-th best level key among the map's levels, or None. Equivalent of
    * the reference's sort-and-nth_back fallback used only on eviction
    * (reference: order_book_core/src/book_side.rs:39-51) but done as a
    * single O(L·m) selection scan instead of a full sort. */
  private def nthBestLevel(m: Int): (Boolean, Long, Long) = {
    if (levels.size <= m) return (false, 0L, 0L)
    rescans += 1
    // selection of the (m+1) greatest keys; m is small (= n-1)
    val bestK = new Array[Long](m + 1)
    var cnt = 0
    levels.foreachKey { k =>
      if (cnt < m + 1) {
        var i = cnt
        bestK(i) = k
        while (i > 0 && bestK(i - 1) < bestK(i)) {
          val t = bestK(i - 1); bestK(i - 1) = bestK(i); bestK(i) = t; i -= 1
        }
        cnt += 1
      } else if (k > bestK(m)) {
        var i = m
        bestK(i) = k
        while (i > 0 && bestK(i - 1) < bestK(i)) {
          val t = bestK(i - 1); bestK(i - 1) = bestK(i); bestK(i) = t; i -= 1
        }
      }
    }
    val k = bestK(m)
    (true, k, levels(k))
  }

  // ---- mutation ops (reference: order_book/src/book_side_tracked.rs) ------

  /** Add (signed-accumulate) qty at price. Reference:
    * book_side_tracked.rs:62-124. */
  def addQty(p: Long, qty: Long): Unit = {
    val k = key(p)
    val existing = levels.contains(k)
    val newQty = if (existing) levels(k) + qty else qty
    levels(k) = newQty
    val full = len == n
    if (full && k < topKeys(n - 1)) {
      // worse than worst tracked — ignore
    } else if (existing) {
      if (full && k == topKeys(n - 1)) topQtys(n - 1) = newQty
      else updateQtyTracked(k, newQty)
    } else {
      insertSort(k, newQty)
    }
  }

  /** Delete qty at price; removes the level at exactly 0; errors on missing
    * level / over-delete. Reference: book_side_tracked.rs:126-159,
    * order_book_core/src/book_side.rs:89-112. */
  def deleteQty(p: Long, qty: Long): Unit = {
    val k = key(p)
    if (!levels.contains(k)) OrderBookException.levelNotFound(isBid, p)
    val curQty = levels(k)
    if (qty > curQty) OrderBookException.qtyExceedsAvailable(isBid, p, qty)
    val full = len == n
    if (qty == curQty) {
      levels.remove(k)
      if (full && topKeys(n - 1) > k) {
        // untracked level removed — ignore
      } else {
        val (hasRepl, rk, rq) = nthBestLevel(n - 1)
        replaceSort(k, rk, rq, hasRepl)
      }
    } else {
      val newQty = curQty - qty
      levels(k) = newQty
      if (full && topKeys(n - 1) > k) {
        // untracked — ignore
      } else {
        updateQtyTracked(k, newQty)
      }
    }
  }

  /** Snapshot-set the level's qty; qty == 0 removes the level (no error if
    * absent). Reference: book_side_tracked.rs:172-241. */
  def setLevel(p: Long, qty: Long): Unit = {
    val k = key(p)
    if (qty == 0L) {
      // an absent level is not tracked either: nothing to remove or rescan
      if (!levels.contains(k)) return
      levels -= k
      if (len == n) {
        if (k >= topKeys(n - 1)) {
          val (hasRepl, rk, rq) = nthBestLevel(n - 1)
          replaceSort(k, rk, rq, hasRepl)
        } // else: untracked removal — ignore
      } else {
        replaceSort(k, 0L, 0L, hasRepl = false)
      }
    } else {
      val existing = levels.contains(k)
      levels(k) = qty
      val full = len == n
      if (existing) {
        if (full && k == topKeys(n - 1)) topQtys(n - 1) = qty
        else if (!full || k > topKeys(n - 1)) updateQtyTracked(k, qty)
        // else: untracked — ignore
      } else if (!full || k > topKeys(n - 1)) {
        insertSort(k, qty)
      } // else: new untracked level — ignore
    }
  }
}

/** Two-sided book; routes by `is_bid` like the reference's `BidAskBook`
  * (reference: order_book_core/src/order_book.rs:24-71). */
final class OrderBook(val n: Int) extends BookKernel {
  require(n <= 0xFFFF, "n must be <= 65535")
  val bids = new BookSide(isBid = true, n)
  val asks = new BookSide(isBid = false, n)

  @inline private def side(isBid: Boolean): BookSide = if (isBid) bids else asks

  def addQty(isBid: Boolean, price: Long, qty: Long): Unit =
    side(isBid).addQty(price, qty)

  def deleteQty(isBid: Boolean, price: Long, qty: Long): Unit =
    side(isBid).deleteQty(price, qty)

  /** Modify = delete prev then add new; may move price, never cross side.
    * Reference: order_book_core/src/order_book.rs:44-55. */
  def modifyQty(isBid: Boolean, prevPrice: Long, prevQty: Long,
                newPrice: Long, newQty: Long): Unit = {
    deleteQty(isBid, prevPrice, prevQty)
    addQty(isBid, newPrice, newQty)
  }

  def setLevel(isBid: Boolean, price: Long, qty: Long): Unit =
    side(isBid).setLevel(price, qty)

  def snapshotLongs(out: Array[Long]): Int =
    BookKernel.depths(bids.snapshotLongs(out, 0), asks.snapshotLongs(out, 2 * n))

  def rescans: Long = bids.rescans + asks.rescans
}

/** Per-row transition functions — the three public operators' semantics
  * (reference: polars_order_book/src/update.rs:95-163). Polymorphic over
  * [[BookKernel]] so both the unified and the n=1 scalar engines share
  * them. */
object Transitions {

  /** One event under `mode` (0 O1 updates, 1 O2 mutations, 2 O3 modify):
    * the dispatch every replay form shares. Only O3 reads the prev
    * arguments. */
  def apply(mode: Int, book: BookKernel, isBid: Boolean, price: Long, qty: Long,
            hasPrevPrice: Boolean, prevPrice: Long,
            hasPrevQty: Boolean, prevQty: Long): Unit = mode match {
    case 0 => applyUpdate(book, isBid, price, qty)
    case 1 => applyMutation(book, isBid, price, qty)
    case 2 => applyMutationWithModify(book, isBid, price, qty,
      hasPrevPrice, prevPrice, hasPrevQty, prevQty)
  }

  /** O1 — price updates (level snapshots): always set_level.
    * Reference: update.rs:101-105. */
  def applyUpdate(book: BookKernel, isBid: Boolean, price: Long, qty: Long): Unit =
    book.setLevel(isBid, price, qty)

  /** O2 — price mutations (signed deltas): >0 add, <0 delete |qty|, ==0
    * no-op. Reference: update.rs:113-123. */
  def applyMutation(book: BookKernel, isBid: Boolean, price: Long, qty: Long): Unit =
    if (qty > 0) book.addQty(isBid, price, qty)
    else if (qty < 0) book.deleteQty(isBid, price, -qty)
  // qty == 0: no-op ("adding could create a level, deleting could fail")

  /** O3 — mutation-with-modify, the 9-case table from the reference
    * (update.rs:132-161). hasPrevQty/hasPrevPrice encode SQL NULLs. */
  def applyMutationWithModify(book: BookKernel, isBid: Boolean, price: Long, qty: Long,
                              hasPrevPrice: Boolean, prevPrice: Long,
                              hasPrevQty: Boolean, prevQty: Long): Unit = {
    if (!hasPrevQty && hasPrevPrice)
      throw new OrderBookException(
        s"prev_qty must not be null when prev_price is not null (price=$price qty=$qty)")
    if (qty > 0) {
      if (hasPrevQty && hasPrevPrice) book.modifyQty(isBid, prevPrice, prevQty, price, qty)
      else if (!hasPrevQty) book.addQty(isBid, price, qty)
      else book.deleteQty(isBid, price, prevQty - qty) // qty-only modify (update.rs:148-150)
    } else if (qty == 0) {
      if (!hasPrevQty) () // no-op
      else if (!hasPrevPrice) book.deleteQty(isBid, price, prevQty)
      else book.deleteQty(isBid, prevPrice, prevQty)
    } else { // qty < 0
      if (hasPrevQty || hasPrevPrice)
        throw new OrderBookException(
          s"Quantity must not be negative for a mutation with prev_quantity/prev_price set (price=$price qty=$qty)")
      book.deleteQty(isBid, price, -qty)
    }
  }
}
