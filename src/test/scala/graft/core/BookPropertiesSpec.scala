package graft.core

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** ScalaCheck property tests over the pure-JVM book kernels — the
  * randomized invariants SURVEY §5 calls out as cheap wins the
  * reference lacks: tracked top-N ≡ brute-force rescan on arbitrary
  * event streams, add⁻¹ = delete, O3-with-null-prevs ≡ O2, and the
  * bid/ask key-negation mirror. Pure JVM (no Spark session) — hundreds
  * of generated streams run in milliseconds. */
class BookPropertiesSpec extends AnyFunSuite {
  import EventGens._

  private def checkProp(name: String, p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, s"$name failed: $res")
  }

  /** Brute-force top-N of one side from a model map: bids best→worst =
    * price desc; asks best→worst = price asc. */
  private def bruteTop(model: mutable.Map[(Boolean, Long), Long],
                       isBid: Boolean, n: Int): Seq[(Long, Long)] = {
    val lv = model.collect { case ((b, p), q) if b == isBid => (p, q) }.toSeq
    val sorted = if (isBid) lv.sortBy(-_._1) else lv.sortBy(_._1)
    sorted.take(n)
  }

  /** Read the kernel snapshot back as (bids, asks) top lists. */
  private def snap(book: BookKernel, n: Int): (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val out = new Array[Any](4 * n)
    book.snapshotInto(out, 0)
    def side(off: Int) = (0 until n).flatMap { i =>
      Option(out(off + i)).map(p =>
        (p.asInstanceOf[Long], out(off + n + i).asInstanceOf[Long]))
    }
    (side(0), side(2 * n))
  }

  test("property: tracked top-N equals brute-force rescan on random update streams") {
    for (n <- Seq(1, 2, 3, 5)) {
      checkProp(s"topN-brute n=$n", Prop.forAll(Gen.listOfN(120, genUpdate)) { evs =>
        val book = BookKernel(n)
        val model = mutable.Map.empty[(Boolean, Long), Long]
        evs.forall { case (isBid, p, q) =>
          Transitions.applyUpdate(book, isBid, p, q)
          if (q == 0) model.remove((isBid, p)) else model((isBid, p)) = q
          val (bids, asks) = snap(book, n)
          bids == bruteTop(model, isBid = true, n) &&
            asks == bruteTop(model, isBid = false, n)
        }
      })
    }
  }

  test("property: mutation streams match brute force; full drain empties the book") {
    for (n <- Seq(1, 2, 4)) {
      checkProp(s"mutations n=$n", Prop.forAll(Gen.listOfN(100, genRawMut)) { raw =>
        val evs = validMutations(raw)
        val book = BookKernel(n)
        val model = mutable.Map.empty[(Boolean, Long), Long]
        val stepOk = evs.forall { case (isBid, p, q) =>
          Transitions.applyMutation(book, isBid, p, q)
          val nq = model.getOrElse((isBid, p), 0L) + q
          if (nq == 0) model.remove((isBid, p)) else model((isBid, p)) = nq
          val (bids, asks) = snap(book, n)
          bids == bruteTop(model, isBid = true, n) &&
            asks == bruteTop(model, isBid = false, n)
        }
        // add⁻¹ = delete: drain every remaining level; book must be empty
        model.toSeq.foreach { case ((isBid, p), q) =>
          Transitions.applyMutation(book, isBid, p, -q)
        }
        val (b2, a2) = snap(book, n)
        stepOk && b2.isEmpty && a2.isEmpty
      })
    }
  }

  test("property: O3 with null prevs is O2 on any valid mutation stream") {
    for (n <- Seq(1, 3)) {
      checkProp(s"o3-null-prev n=$n", Prop.forAll(Gen.listOfN(80, genRawMut)) { raw =>
        val evs = validMutations(raw)
        val b2 = BookKernel(n)
        val b3 = BookKernel(n)
        evs.forall { case (isBid, p, q) =>
          Transitions.applyMutation(b2, isBid, p, q)
          Transitions.applyMutationWithModify(b3, isBid, p, q,
            hasPrevPrice = false, prevPrice = 0L,
            hasPrevQty = false, prevQty = 0L)
          snap(b2, n) == snap(b3, n)
        }
      })
    }
  }

  test("property: random valid O3 modify streams match brute force at every step") {
    for (n <- Seq(1, 2, 4)) {
      checkProp(s"o3-modify n=$n", Prop.forAll(genModifyStream(80)) { evs =>
        val book = BookKernel(n)
        val model = mutable.Map.empty[(Boolean, Long), Long]
        evs.forall { ev =>
          Transitions.applyMutationWithModify(book, ev.isBid, ev.price, ev.qty,
            ev.hasPrevPrice, ev.prevPrice, ev.hasPrevQty, ev.prevQty)
          // replay the same semantics on the model
          if (ev.qty > 0 && ev.hasPrevQty && ev.hasPrevPrice) {
            val moved = model((ev.isBid, ev.prevPrice)) - ev.prevQty
            if (moved == 0) model.remove((ev.isBid, ev.prevPrice))
            else model((ev.isBid, ev.prevPrice)) = moved
            model((ev.isBid, ev.price)) = model.getOrElse((ev.isBid, ev.price), 0L) + ev.qty
          } else if (ev.qty > 0 && ev.hasPrevQty) {
            val left = model((ev.isBid, ev.price)) - (ev.prevQty - ev.qty)
            if (left == 0) model.remove((ev.isBid, ev.price))
            else model((ev.isBid, ev.price)) = left
          } else if (ev.qty > 0) {
            model((ev.isBid, ev.price)) = model.getOrElse((ev.isBid, ev.price), 0L) + ev.qty
          } else if (ev.hasPrevQty) {
            val at = if (ev.hasPrevPrice) ev.prevPrice else ev.price
            val left = model((ev.isBid, at)) - ev.prevQty
            if (left == 0) model.remove((ev.isBid, at))
            else model((ev.isBid, at)) = left
          }
          val (bids, asks) = snap(book, n)
          bids == bruteTop(model, isBid = true, n) &&
            asks == bruteTop(model, isBid = false, n)
        }
      })
    }
  }

  test("property: snapshotLongs with its depths == snapshotInto on every stream kind") {
    /** snapshotInto's boxed slots rebuilt from the unboxed snapshot. */
    def unboxed(book: BookKernel, n: Int): Seq[Any] = {
      val out = Array.fill(4 * n)(-1L) // stale slots must not leak past a depth
      val d = book.snapshotLongs(out)
      def side(base: Int, depth: Int) =
        (0 until 2 * n).map(i => if (i % n < depth) out(base + i) else null)
      side(0, BookKernel.bidDepth(d)) ++ side(2 * n, BookKernel.askDepth(d))
    }
    def boxed(book: BookKernel, n: Int): Seq[Any] = {
      val out = new Array[Any](4 * n + 1)
      book.snapshotInto(out, 1)
      out.toSeq.drop(1)
    }
    for (n <- Seq(1, 2, 5)) {
      checkProp(s"unboxed-updates n=$n", Prop.forAll(Gen.listOfN(120, genUpdate)) { evs =>
        val book = BookKernel(n)
        evs.forall { case (isBid, p, q) =>
          Transitions.applyUpdate(book, isBid, p, q)
          unboxed(book, n) == boxed(book, n)
        }
      })
      checkProp(s"unboxed-mutations n=$n", Prop.forAll(Gen.listOfN(100, genRawMut)) { raw =>
        val book = BookKernel(n)
        validMutations(raw).forall { case (isBid, p, q) =>
          Transitions.applyMutation(book, isBid, p, q)
          unboxed(book, n) == boxed(book, n)
        }
      })
      checkProp(s"unboxed-modify n=$n", Prop.forAll(genModifyStream(80)) { evs =>
        val book = BookKernel(n)
        evs.forall { ev =>
          Transitions.applyMutationWithModify(book, ev.isBid, ev.price, ev.qty,
            ev.hasPrevPrice, ev.prevPrice, ev.hasPrevQty, ev.prevQty)
          unboxed(book, n) == boxed(book, n)
        }
      })
    }
  }

  test("property: bid/ask mirror — negated prices on the other side track the same book") {
    for (n <- Seq(2, 5)) {
      checkProp(s"mirror n=$n", Prop.forAll(Gen.listOfN(100, genUpdate)) { evs =>
        val fwd = BookKernel(n)
        val mir = BookKernel(n)
        evs.forall { case (isBid, p, q) =>
          Transitions.applyUpdate(fwd, isBid, p, q)
          Transitions.applyUpdate(mir, !isBid, -p, q)
          val (fb, fa) = snap(fwd, n)
          val (mb, ma) = snap(mir, n)
          // mirrored book: its asks at -p are the forward book's bids
          fb == ma.map { case (p2, q2) => (-p2, q2) } &&
            fa == mb.map { case (p2, q2) => (-p2, q2) }
        }
      })
    }
  }
}
