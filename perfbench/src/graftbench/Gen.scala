package graftbench

/** Seeded input generators. Every value is a pure function of the seed and
  * a position, so a Spark task and the driver-side reference fold produce
  * the same events without shipping them: the engine only ever receives the
  * generated rows. */
object Gen {

  /** SplitMix64 finalizer over (seed, a, b): a counter-based RNG draw. */
  def mix(seed: Long, a: Long, b: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform draw in [0, 1) from the top 53 bits of a hash. */
  def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  /** Zipf(s) counts that sum to `total` over `k` ranks, rank 0 hottest. */
  def zipfCounts(total: Long, k: Int, s: Double): Array[Long] = {
    val w = Array.tabulate(k)(r => math.pow(r + 1.0, -s))
    val sum = w.sum
    val c = w.map(x => math.floor(total * x / sum).toLong)
    c(0) += total - c.sum
    c
  }

  /** Events of one product, column-wise. `prevPrice`/`prevQty` are null
    * (`hasPrev == false`) for the O1 streams and for O3 new orders. */
  final case class Events(product: Long, isBid: Array[Boolean], price: Array[Long],
                          qty: Array[Long], hasPrev: Array[Boolean],
                          prevPrice: Array[Long], prevQty: Array[Long]) {
    def size: Int = price.length
  }

  // ---- book_skew: O1 level snapshots ---------------------------------------

  /** Level distances are drawn as 1 + floor(Depth · u²), dense at the touch;
    * with one update in five deleting (qty 0), about Depth · 0.8 levels
    * stay live per side. */
  val SkewDepth = 250

  def skewMid(product: Long): Long = 100000L + 1000L * product

  /** Events [from, until) of product `p`'s O1 stream. */
  def skewEvents(seed: Long, p: Long, from: Int, until: Int): Events = {
    val m = until - from
    val isBid = new Array[Boolean](m); val price = new Array[Long](m)
    val qty = new Array[Long](m)
    val mid = skewMid(p)
    var j = 0
    while (j < m) {
      val h = mix(seed, p, from + j)
      val u = unit(h)
      val d = 1L + (SkewDepth * u * u).toLong
      val bid = (h & 1L) == 0L
      isBid(j) = bid
      price(j) = if (bid) mid - d else mid + d
      val hq = mix(seed ^ 0x5bd1e995L, p, from + j)
      qty(j) = if (java.lang.Long.remainderUnsigned(hq, 5L) == 0L) 0L
        else 100L * (1L + java.lang.Long.remainderUnsigned(hq >>> 8, 100L))
      j += 1
    }
    Events(p, isBid, price, qty, new Array[Boolean](m), new Array[Long](m), new Array[Long](m))
  }

  // ---- book_wide: O3 mutations with modify ---------------------------------

  val WideSlots = 4 // resting orders per side per product
  val WideDepth = 30

  /** Product `p`'s O3 stream. Each event touches one order slot: an empty
    * slot places a new order (prev null); a live slot is cancelled
    * (qty 0) one time in four and otherwise modified (new price and/or
    * qty). prev_price/prev_qty are the slot's previous state, the lag
    * over a per-order slot, so every delete is valid by construction. */
  def wideEvents(seed: Long, p: Long, count: Int): Events = {
    val isBid = new Array[Boolean](count); val price = new Array[Long](count)
    val qty = new Array[Long](count); val hasPrev = new Array[Boolean](count)
    val prevPrice = new Array[Long](count); val prevQty = new Array[Long](count)
    val slotPrice = new Array[Long](2 * WideSlots)
    val slotQty = new Array[Long](2 * WideSlots) // 0 = empty slot
    val mid = 50000L + 10L * (p % 1000L)
    def draw(h: Long, bid: Boolean): Long = {
      val d = 1L + java.lang.Long.remainderUnsigned(h, WideDepth.toLong)
      if (bid) mid - d else mid + d
    }
    var j = 0
    while (j < count) {
      val h = mix(seed, p, j)
      val s = java.lang.Long.remainderUnsigned(h, 2L * WideSlots).toInt
      val bid = s < WideSlots
      isBid(j) = bid
      val newQty = 100L * (1L + java.lang.Long.remainderUnsigned(h >>> 20, 50L))
      if (slotQty(s) == 0L) {
        price(j) = draw(h >>> 40, bid); qty(j) = newQty
        slotPrice(s) = price(j); slotQty(s) = newQty
      } else {
        hasPrev(j) = true; prevPrice(j) = slotPrice(s); prevQty(j) = slotQty(s)
        if (((h >>> 12) & 3L) == 0L) {
          price(j) = slotPrice(s); qty(j) = 0L; slotQty(s) = 0L
        } else {
          price(j) = if (((h >>> 14) & 1L) == 0L) slotPrice(s) else draw(h >>> 40, bid)
          qty(j) = newQty
          slotPrice(s) = price(j); slotQty(s) = newQty
        }
      }
      j += 1
    }
    Events(p, isBid, price, qty, hasPrev, prevPrice, prevQty)
  }

  /** Events per product of the wide stream: uniform in [mean/2, 3·mean/2]. */
  def wideCount(seed: Long, p: Long, mean: Int): Int =
    mean / 2 + java.lang.Long.remainderUnsigned(mix(seed ^ 0x27d4eb2fL, p, -1L), (mean + 1).toLong).toInt

  // ---- retrieval_serve: corpus and query batches ---------------------------

  /** Inverse-CDF table of a Zipf(s) vocabulary of `v` terms. */
  def zipfCdf(v: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(v)(r => math.pow(r + 1.0, -s))
    val sum = w.sum
    var acc = 0.0
    w.map { x => acc += x / sum; acc }
  }

  def term(cdf: Array[Double], h: Long): String = {
    val i = java.util.Arrays.binarySearch(cdf, unit(h))
    "w" + math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  def docText(seed: Long, d: Long, cdf: Array[Double], minLen: Int, maxLen: Int): String = {
    val len = minLen + java.lang.Long.remainderUnsigned(mix(seed, d, -1L), (maxLen - minLen + 1).toLong).toInt
    val sb = new StringBuilder
    var j = 0
    while (j < len) {
      if (j > 0) sb.append(' ')
      sb.append(term(cdf, mix(seed, d, j)))
      j += 1
    }
    sb.toString
  }

  /** Query `q`: `terms` distinct terms. */
  def queryText(seed: Long, q: Int, cdf: Array[Double], terms: Int): String = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    var j = 0
    while (out.size < terms) {
      out += term(cdf, mix(seed ^ 0x3c6ef372L, q, j)); j += 1
    }
    out.mkString(" ")
  }
}
