package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM golden tests for the book kernel, ported from the reference's
  * Rust tests (calculate_bbo.rs:270-520) and exercising the §2.4 transition
  * semantics directly — no Spark involved. */
class CoreBookSpec extends AnyFunSuite {

  private def snapshot(book: OrderBook): Seq[Option[Long]] = {
    val out = new Array[Any](4 * book.n)
    book.snapshotInto(out, 0)
    out.toSeq.map(v => Option(v).map(_.asInstanceOf[Long]))
  }

  // reference: calculate_bbo.rs test_calculate_bbo_from_simple_mutations
  test("simple mutations ladder, n=1") {
    val prices = Seq(1L, 2, 3, 4, 5, 9, 8, 7, 6)
    val qtys = Seq(10L, 20, 30, 40, 50, 90, 80, 70, 60)
    val isBid = Seq(true, true, true, true, true, false, false, false, false)
    val book = new OrderBook(1)
    val got = prices.indices.map { i =>
      Transitions.applyMutation(book, isBid(i), prices(i), qtys(i))
      snapshot(book) // (bid_price_1, bid_qty_1, ask_price_1, ask_qty_1)
    }
    val expBidP = Seq(1L, 2, 3, 4, 5, 5, 5, 5, 5).map(Some(_))
    val expBidQ = Seq(10L, 20, 30, 40, 50, 50, 50, 50, 50).map(Some(_))
    val expAskP = Seq(None, None, None, None, None, Some(9L), Some(8L), Some(7L), Some(6L))
    val expAskQ = Seq(None, None, None, None, None, Some(90L), Some(80L), Some(70L), Some(60L))
    prices.indices.foreach { i =>
      assert(got(i) == Seq(expBidP(i), expBidQ(i), expAskP(i), expAskQ(i)), s"row $i")
    }
  }

  // reference: calculate_bbo.rs test_calculate_bbo_from_simple_mutations2 (n=2)
  test("simple mutations ladder, n=2") {
    val prices = Seq(1L, 2, 3, 4, 5, 9, 8, 7, 6)
    val qtys = Seq(10L, 20, 30, 40, 50, 90, 80, 70, 60)
    val isBid = Seq(true, true, true, true, true, false, false, false, false)
    val book = new OrderBook(2)
    val got = prices.indices.map { i =>
      Transitions.applyMutation(book, isBid(i), prices(i), qtys(i))
      snapshot(book) // (bp1, bp2, bq1, bq2, ap1, ap2, aq1, aq2)
    }
    val bp1 = Seq(1L, 2, 3, 4, 5, 5, 5, 5, 5).map(Some(_))
    val bp2 = Seq(None, Some(1L), Some(2L), Some(3L), Some(4L), Some(4L), Some(4L), Some(4L), Some(4L))
    val bq1 = Seq(10L, 20, 30, 40, 50, 50, 50, 50, 50).map(Some(_))
    val bq2 = Seq(None, Some(10L), Some(20L), Some(30L), Some(40L), Some(40L), Some(40L), Some(40L), Some(40L))
    val ap1 = Seq(None, None, None, None, None, Some(9L), Some(8L), Some(7L), Some(6L))
    val ap2 = Seq(None, None, None, None, None, None, Some(9L), Some(8L), Some(7L))
    val aq1 = Seq(None, None, None, None, None, Some(90L), Some(80L), Some(70L), Some(60L))
    val aq2 = Seq(None, None, None, None, None, None, Some(90L), Some(80L), Some(70L))
    prices.indices.foreach { i =>
      assert(got(i) == Seq(bp1(i), bp2(i), bq1(i), bq2(i), ap1(i), ap2(i), aq1(i), aq2(i)), s"row $i")
    }
  }

  // reference: calculate_bbo.rs test_calculate_bbo_with_modifies (n=1)
  test("modify ladder, n=1") {
    val prices = Seq(1L, 2, 3, 4, 5, 9, 8, 7, 6, 1, 9)
    val qtys = Seq(10L, 20, 30, 40, 50, 90, 80, 70, 60, 1, 1)
    val isBid = Seq(true, true, true, true, true, false, false, false, false, true, false)
    val pp = Seq(None, Some(1L), Some(2L), Some(3L), Some(4L), None, Some(9L), Some(8L), Some(7L), Some(5L), Some(6L))
    val pq = Seq(None, Some(10L), Some(20L), Some(30L), Some(40L), None, Some(90L), Some(80L), Some(70L), Some(50L), Some(60L))
    val book = new OrderBook(1)
    val got = prices.indices.map { i =>
      Transitions.applyMutationWithModify(book, isBid(i), prices(i), qtys(i),
        pp(i).isDefined, pp(i).getOrElse(0L), pq(i).isDefined, pq(i).getOrElse(0L))
      snapshot(book)
    }
    val expBidP = Seq(1L, 2, 3, 4, 5, 5, 5, 5, 5, 1, 1).map(Some(_))
    val expBidQ = Seq(10L, 20, 30, 40, 50, 50, 50, 50, 50, 1, 1).map(Some(_))
    val expAskP = Seq(None, None, None, None, None, Some(9L), Some(8L), Some(7L), Some(6L), Some(6L), Some(9L))
    val expAskQ = Seq(None, None, None, None, None, Some(90L), Some(80L), Some(70L), Some(60L), Some(60L), Some(1L))
    prices.indices.foreach { i =>
      assert(got(i) == Seq(expBidP(i), expBidQ(i), expAskP(i), expAskQ(i)), s"row $i")
    }
  }

  // reference: calculate_bbo.rs test_calculate_bbo_with_modifies_cyclic
  test("cyclic modifies, n=1 and n=2 upper level empty") {
    val prices = Seq(1L, 6, 2, 3, 1, 5, 4, 6)
    val qtys = Seq(1L, 6, 2, 3, 1, 5, 4, 6)
    val isBid = Seq(true, false, true, true, true, false, false, false)
    val pp = Seq(None, None, Some(1L), Some(2L), Some(3L), Some(6L), Some(5L), Some(4L))
    val pq = Seq(None, None, Some(1L), Some(2L), Some(3L), Some(6L), Some(5L), Some(4L))
    for (n <- Seq(1, 2)) {
      val book = new OrderBook(n)
      val got = prices.indices.map { i =>
        Transitions.applyMutationWithModify(book, isBid(i), prices(i), qtys(i),
          pp(i).isDefined, pp(i).getOrElse(0L), pq(i).isDefined, pq(i).getOrElse(0L))
        snapshot(book)
      }
      val bp1 = Seq(1L, 1, 2, 3, 1, 1, 1, 1).map(Some(_))
      val ap1 = Seq(None, Some(6L), Some(6L), Some(6L), Some(6L), Some(5L), Some(4L), Some(6L))
      prices.indices.foreach { i =>
        val s = got(i)
        if (n == 1) {
          assert(s(0) == bp1(i) && s(1) == bp1(i) && s(2) == ap1(i) && s(3) == ap1(i), s"row $i n=1")
        } else {
          // grouped order: bp1 bp2 bq1 bq2 ap1 ap2 aq1 aq2; level 2 always empty
          assert(s(0) == bp1(i) && s(1).isEmpty && s(2) == bp1(i) && s(3).isEmpty, s"row $i n=2 bid")
          assert(s(4) == ap1(i) && s(5).isEmpty && s(6) == ap1(i) && s(7).isEmpty, s"row $i n=2 ask")
        }
      }
    }
  }

  test("updates: qty=0 on absent level is a safe no-op") {
    val book = new OrderBook(2)
    Transitions.applyUpdate(book, isBid = true, 5L, 10L)
    Transitions.applyUpdate(book, isBid = true, 99L, 0L)
    Transitions.applyUpdate(book, isBid = false, 7L, 0L)
    assert(snapshot(book) == Seq(Some(5L), None, Some(10L), None, None, None, None, None))
  }

  test("updates: qty=0 on an absent level inside the full cache's range runs no rescan") {
    val book = new OrderBook(2)
    (1L to 5L).foreach(p => Transitions.applyUpdate(book, isBid = true, p, p * 10))
    (10L to 14L).foreach(p => Transitions.applyUpdate(book, isBid = false, p, p))
    val full = Seq(Some(5L), Some(4L), Some(50L), Some(40L), Some(10L), Some(11L), Some(10L), Some(11L))
    assert(snapshot(book) == full && book.rescans == 0)
    // absent prices better than the worst tracked level (bid 4, ask 11)
    Transitions.applyUpdate(book, isBid = true, 7L, 0L)
    Transitions.applyUpdate(book, isBid = true, 6L, 0L)
    Transitions.applyUpdate(book, isBid = false, 9L, 0L)
    assert(snapshot(book) == full && book.rescans == 0)
    // a tracked removal still rescans and refills from the map
    Transitions.applyUpdate(book, isBid = true, 5L, 0L)
    assert(book.rescans == 1)
    assert(snapshot(book) == Seq(Some(4L), Some(3L), Some(40L), Some(30L)) ++ full.drop(4))
  }

  test("updates: set overwrites, zero removes, eviction refills from map") {
    val book = new OrderBook(2)
    // bids at 1..5; top-2 = (5,4)
    (1L to 5L).foreach(p => Transitions.applyUpdate(book, isBid = true, p, p * 10))
    assert(snapshot(book).take(4) == Seq(Some(5L), Some(4L), Some(50L), Some(40L)))
    // remove best -> refills from untracked 3
    Transitions.applyUpdate(book, isBid = true, 5L, 0L)
    assert(snapshot(book).take(4) == Seq(Some(4L), Some(3L), Some(40L), Some(30L)))
    // overwrite tracked qty
    Transitions.applyUpdate(book, isBid = true, 4L, 7L)
    assert(snapshot(book).take(4) == Seq(Some(4L), Some(3L), Some(7L), Some(30L)))
    // set better level -> insert at top, evict worst tracked
    Transitions.applyUpdate(book, isBid = true, 9L, 1L)
    assert(snapshot(book).take(4) == Seq(Some(9L), Some(4L), Some(1L), Some(7L)))
    // untracked update (2 < worst tracked 4) ignored by cache, kept in map
    Transitions.applyUpdate(book, isBid = true, 2L, 99L)
    assert(snapshot(book).take(4) == Seq(Some(9L), Some(4L), Some(1L), Some(7L)))
    // drain: removing both tracked levels pulls 3 then 2 back in
    Transitions.applyUpdate(book, isBid = true, 9L, 0L)
    Transitions.applyUpdate(book, isBid = true, 4L, 0L)
    assert(snapshot(book).take(4) == Seq(Some(3L), Some(2L), Some(30L), Some(99L)))
  }

  test("mutations: delete errors (LevelNotFound, QtyExceedsAvailable)") {
    val book = new OrderBook(1)
    intercept[OrderBookException] {
      Transitions.applyMutation(book, isBid = true, 5L, -1L)
    }
    Transitions.applyMutation(book, isBid = true, 5L, 10L)
    intercept[OrderBookException] {
      Transitions.applyMutation(book, isBid = true, 5L, -11L)
    }
    // partial delete then exact drain succeeds
    Transitions.applyMutation(book, isBid = true, 5L, -4L)
    Transitions.applyMutation(book, isBid = true, 5L, -6L)
    assert(snapshot(book) == Seq(None, None, None, None))
  }

  test("modify: invalid rows raise (9-case table panics)") {
    val book = new OrderBook(1)
    Transitions.applyMutationWithModify(book, isBid = true, 5L, 10L, hasPrevPrice = false, 0L, hasPrevQty = false, 0L)
    // qty < 0 with prevs set -> error (update.rs:158)
    intercept[OrderBookException] {
      Transitions.applyMutationWithModify(book, isBid = true, 5L, -1L, hasPrevPrice = true, 5L, hasPrevQty = true, 10L)
    }
    // prev_price set without prev_qty -> error (update.rs:159)
    intercept[OrderBookException] {
      Transitions.applyMutationWithModify(book, isBid = true, 5L, 1L, hasPrevPrice = true, 5L, hasPrevQty = false, 0L)
    }
  }

  test("ask side ordering is reversed (best = lowest price)") {
    val book = new OrderBook(3)
    Seq(9L, 7L, 8L, 6L).foreach(p => Transitions.applyMutation(book, isBid = false, p, p))
    // grouped order: bids (empty) then asks
    assert(snapshot(book).drop(6) == Seq(Some(6L), Some(7L), Some(8L), Some(6L), Some(7L), Some(8L)))
  }

  test("brute-force oracle: random update streams, top-N matches full rescan") {
    val rnd = new scala.util.Random(42)
    for (n <- Seq(1, 2, 5); trial <- 0 until 20) {
      val book = new OrderBook(n)
      val bidRef = scala.collection.mutable.HashMap[Long, Long]()
      val askRef = scala.collection.mutable.HashMap[Long, Long]()
      for (_ <- 0 until 400) {
        val isBid = rnd.nextBoolean()
        val price = 1L + rnd.nextInt(30)
        val qty = rnd.nextInt(5).toLong // 0 deletes
        Transitions.applyUpdate(book, isBid, price, qty)
        val ref = if (isBid) bidRef else askRef
        if (qty == 0L) ref.remove(price) else ref(price) = qty
        val got = snapshot(book)
        val expBid = bidRef.toSeq.sortBy(-_._1).take(n)
        val expAsk = askRef.toSeq.sortBy(_._1).take(n)
        val exp =
          expBid.map(x => Some(x._1)).padTo(n, None) ++ expBid.map(x => Some(x._2)).padTo(n, None) ++
            expAsk.map(x => Some(x._1)).padTo(n, None) ++ expAsk.map(x => Some(x._2)).padTo(n, None)
        assert(got == exp, s"n=$n trial=$trial")
      }
    }
  }

  test("brute-force oracle: random mutation streams (adds/deletes) match rescan") {
    val rnd = new scala.util.Random(7)
    for (n <- Seq(1, 3); trial <- 0 until 20) {
      val book = new OrderBook(n)
      val refs = Map(true -> scala.collection.mutable.HashMap[Long, Long](),
        false -> scala.collection.mutable.HashMap[Long, Long]())
      for (_ <- 0 until 400) {
        val isBid = rnd.nextBoolean()
        val ref = refs(isBid)
        // pick valid op: add, or delete some existing qty
        if (ref.isEmpty || rnd.nextBoolean()) {
          val price = 1L + rnd.nextInt(20)
          val qty = 1L + rnd.nextInt(9)
          Transitions.applyMutation(book, isBid, price, qty)
          ref(price) = ref.getOrElse(price, 0L) + qty
        } else {
          val (price, have) = ref.toSeq(rnd.nextInt(ref.size))
          val del = 1L + rnd.nextInt(have.toInt)
          Transitions.applyMutation(book, isBid, price, -del)
          if (del == have) ref.remove(price) else ref(price) = have - del
        }
        val got = snapshot(book)
        val expBid = refs(true).toSeq.sortBy(-_._1).take(n)
        val expAsk = refs(false).toSeq.sortBy(_._1).take(n)
        val exp =
          expBid.map(x => Some(x._1)).padTo(n, None) ++ expBid.map(x => Some(x._2)).padTo(n, None) ++
            expAsk.map(x => Some(x._1)).padTo(n, None) ++ expAsk.map(x => Some(x._2)).padTo(n, None)
        assert(got == exp, s"n=$n trial=$trial")
      }
    }
  }

  test("brute-force oracle: random valid modify streams (O3) match rescan") {
    val rnd = new scala.util.Random(2024)
    for (n <- Seq(1, 2, 4); trial <- 0 until 10) {
      val book = new OrderBook(n)
      // model: per side, live orders (price, qty); levels = sums per price
      val orders = Map(true -> scala.collection.mutable.ArrayBuffer[(Long, Long)](),
        false -> scala.collection.mutable.ArrayBuffer[(Long, Long)]())
      for (_ <- 0 until 500) {
        val isBid = rnd.nextBoolean()
        val os = orders(isBid)
        rnd.nextInt(4) match {
          case 0 | 3 => // add a new order (no prevs)
            val p = 1L + rnd.nextInt(15); val q = 1L + rnd.nextInt(9)
            Transitions.applyMutationWithModify(book, isBid, p, q, hasPrevPrice = false, 0, hasPrevQty = false, 0)
            os += ((p, q))
          case 1 if os.nonEmpty => // modify: move/resize an existing order
            val i = rnd.nextInt(os.size)
            val (p0, q0) = os(i)
            val p1 = 1L + rnd.nextInt(15); val q1 = 1L + rnd.nextInt(9)
            Transitions.applyMutationWithModify(book, isBid, p1, q1, hasPrevPrice = true, p0, hasPrevQty = true, q0)
            os(i) = (p1, q1)
          case 2 if os.nonEmpty => // cancel: qty=0 with prevs
            val i = rnd.nextInt(os.size)
            val (p0, q0) = os.remove(i)
            Transitions.applyMutationWithModify(book, isBid, p0, 0, hasPrevPrice = true, p0, hasPrevQty = true, q0)
          case _ => // fall back to add
            val p = 1L + rnd.nextInt(15); val q = 1L + rnd.nextInt(9)
            Transitions.applyMutationWithModify(book, isBid, p, q, hasPrevPrice = false, 0, hasPrevQty = false, 0)
            os += ((p, q))
        }
        // brute-force expectation from the model
        def levels(b: Boolean) = orders(b).groupBy(_._1).view
          .mapValues(_.map(_._2).sum).toSeq.filter(_._2 != 0)
        val expBid = levels(true).sortBy(-_._1).take(n)
        val expAsk = levels(false).sortBy(_._1).take(n)
        val exp =
          expBid.map(x => Some(x._1)).padTo(n, None) ++ expBid.map(x => Some(x._2)).padTo(n, None) ++
            expAsk.map(x => Some(x._1)).padTo(n, None) ++ expAsk.map(x => Some(x._2)).padTo(n, None)
        assert(snapshot(book) == exp, s"n=$n trial=$trial")
      }
    }
  }

  test("n larger than the level domain (sparse top-N array)") {
    for (n <- Seq(20, 100)) {
      val rnd = new scala.util.Random(5)
      val book = new OrderBook(n)
      val refs = Map(true -> scala.collection.mutable.HashMap[Long, Long](),
        false -> scala.collection.mutable.HashMap[Long, Long]())
      for (_ <- 0 until 300) {
        val isBid = rnd.nextBoolean()
        val price = 1L + rnd.nextInt(12) // only 12 possible levels << n
        val qty = rnd.nextInt(4).toLong
        Transitions.applyUpdate(book, isBid, price, qty)
        val ref = refs(isBid)
        if (qty == 0L) ref.remove(price) else ref(price) = qty
        val got = snapshot(book)
        val expBid = refs(true).toSeq.sortBy(-_._1).take(n)
        val expAsk = refs(false).toSeq.sortBy(_._1).take(n)
        val exp =
          expBid.map(x => Some(x._1)).padTo(n, None) ++ expBid.map(x => Some(x._2)).padTo(n, None) ++
            expAsk.map(x => Some(x._1)).padTo(n, None) ++ expAsk.map(x => Some(x._2)).padTo(n, None)
        assert(got == exp, s"n=$n")
      }
    }
  }

  test("mixed-operator soak: interleaved O1/O2/O3 ops match brute force") {
    for (seed <- 0 until 10; n <- Seq(1, 2, 3, 5)) {
      val rnd = new scala.util.Random(seed)
      val book = new OrderBook(n)
      val refs = Map(true -> scala.collection.mutable.HashMap[Long, Long](),
        false -> scala.collection.mutable.HashMap[Long, Long]())
      val orders = Map(true -> scala.collection.mutable.ArrayBuffer[(Long, Long)](),
        false -> scala.collection.mutable.ArrayBuffer[(Long, Long)]())
      for (step <- 0 until 200) {
        val isBid = rnd.nextBoolean()
        val ref = refs(isBid); val os = orders(isBid)
        rnd.nextInt(6) match {
          case 0 | 1 =>
            val p = 1L + rnd.nextInt(25); val q = rnd.nextInt(6).toLong
            Transitions.applyUpdate(book, isBid, p, q)
            if (q == 0) { ref.remove(p); os.filterInPlace(_._1 != p) }
            else { os.filterInPlace(_._1 != p); os += ((p, q)); ref(p) = q }
          case 2 =>
            val p = 1L + rnd.nextInt(25); val q = 1L + rnd.nextInt(8)
            Transitions.applyMutation(book, isBid, p, q)
            ref(p) = ref.getOrElse(p, 0L) + q; os += ((p, q))
          case 3 if os.nonEmpty =>
            val i = rnd.nextInt(os.size); val (p0, q0) = os(i)
            if (ref.getOrElse(p0, 0L) >= q0) {
              val p1 = 1L + rnd.nextInt(25); val q1 = 1L + rnd.nextInt(8)
              Transitions.applyMutationWithModify(book, isBid, p1, q1, true, p0, true, q0)
              val left = ref(p0) - q0
              if (left == 0) ref.remove(p0) else ref(p0) = left
              ref(p1) = ref.getOrElse(p1, 0L) + q1
              os(i) = (p1, q1)
            }
          case 4 if os.nonEmpty =>
            val i = rnd.nextInt(os.size); val (p0, q0) = os(i)
            if (ref.getOrElse(p0, 0L) >= q0) {
              Transitions.applyMutationWithModify(book, isBid, p0, 0L, true, p0, true, q0)
              val left = ref(p0) - q0
              if (left == 0) ref.remove(p0) else ref(p0) = left
              os.remove(i)
            }
          case _ =>
            if (ref.nonEmpty) {
              val (p, have) = ref.toSeq(rnd.nextInt(ref.size))
              val d = 1L + rnd.nextInt(have.toInt)
              Transitions.applyMutation(book, isBid, p, -d)
              if (d == have) { ref.remove(p); os.filterInPlace(_._1 != p) }
              else {
                ref(p) = have - d
                var rem = d; var j = os.length - 1
                while (rem > 0 && j >= 0) {
                  if (os(j)._1 == p) {
                    val take = math.min(rem, os(j)._2)
                    if (take == os(j)._2) os.remove(j) else os(j) = (p, os(j)._2 - take)
                    rem -= take
                  }
                  j -= 1
                }
              }
            }
        }
        val got = snapshot(book)
        def top(b: Boolean) = {
          val lv = refs(b).toSeq.filter(_._2 != 0)
          (if (b) lv.sortBy(-_._1) else lv.sortBy(_._1)).take(n)
        }
        val eb = top(true); val ea = top(false)
        val exp = eb.map(x => Some(x._1)).padTo(n, None) ++ eb.map(x => Some(x._2)).padTo(n, None) ++
          ea.map(x => Some(x._1)).padTo(n, None) ++ ea.map(x => Some(x._2)).padTo(n, None)
        assert(got == exp, s"seed=$seed n=$n step=$step")
      }
    }
  }
}
