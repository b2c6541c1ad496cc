package graft.core

import org.scalacheck.Gen
import scala.collection.mutable

/** Event-stream generators shared by the kernel property tests
  * ([[BookPropertiesSpec]]) and the Spark replay differential test
  * (`graft.operators.ReplayDifferentialSpec`): O1 level updates, valid O2
  * mutation streams and valid O3 modify streams. */
object EventGens {

  val genUpdate: Gen[(Boolean, Long, Long)] = for {
    isBid <- Gen.oneOf(true, false)
    price <- Gen.chooseNum(1L, 15L)
    qty <- Gen.chooseNum(0L, 5L) // 0 = remove the level (O1 semantics)
  } yield (isBid, price, qty)

  /** Valid mutation streams: deletes are clamped to the available qty in
    * a running model, so the stream never triggers the (separately
    * spec'd) error paths. */
  val genRawMut: Gen[(Boolean, Long, Long)] = for {
    isBid <- Gen.oneOf(true, false)
    price <- Gen.chooseNum(1L, 12L)
    qty <- Gen.chooseNum(-6L, 6L)
  } yield (isBid, price, qty)

  def validMutations(raw: List[(Boolean, Long, Long)]): List[(Boolean, Long, Long)] = {
    val model = mutable.Map.empty[(Boolean, Long), Long]
    raw.map { case (isBid, p, q) =>
      val have = model.getOrElse((isBid, p), 0L)
      val adj = if (q >= 0) q else -(math.min(-q, have)) // clamp over-deletes
      val nq = have + adj
      if (nq == 0) model.remove((isBid, p)) else model((isBid, p)) = nq
      (isBid, p, adj)
    }
  }

  /** Valid O3 modify streams: a driver walks a model book and emits a
    * random mix of the modify table's legal rows — plain adds, full
    * modifies (move/resize via prev_price+prev_qty), qty-only modifies
    * (prev_qty set, prev_price null, qty = prev_qty − delete), and
    * deletes-via-modify (qty = 0 with prevs). Each op is validated
    * against the model so the error branches (spec'd separately) never
    * fire. */
  case class ModifyEv(isBid: Boolean, price: Long, qty: Long,
                      hasPrevPrice: Boolean, prevPrice: Long,
                      hasPrevQty: Boolean, prevQty: Long)

  def genModifyStream(len: Int): Gen[List[ModifyEv]] = {
    val opPick = Gen.chooseNum(0, 3)
    def step(model: mutable.Map[(Boolean, Long), Long],
             isBid: Boolean, price: Long, qty: Long, op: Int): ModifyEv = {
      val sideLevels = model.keys.filter(_._1 == isBid).toSeq.sortBy(_._2)
      if (op == 0 || sideLevels.isEmpty) {
        // plain add (qty > 0, no prevs)
        val q = math.max(1L, qty)
        model((isBid, price)) = model.getOrElse((isBid, price), 0L) + q
        ModifyEv(isBid, price, q, hasPrevPrice = false, 0L, hasPrevQty = false, 0L)
      } else {
        val (_, lp) = sideLevels((price % sideLevels.size).toInt.abs)
        val have = model((isBid, lp))
        op match {
          case 1 => // full modify: move the whole level to `price` with qty q
            val q = math.max(1L, qty)
            model.remove((isBid, lp))
            model((isBid, price)) = model.getOrElse((isBid, price), 0L) + q
            ModifyEv(isBid, price, q, hasPrevPrice = true, lp, hasPrevQty = true, have)
          case 2 => // qty-only modify DOWN at lp: qty>0, prev_qty=have, deletes have-qty
            val q = math.max(1L, math.min(qty, have))
            if (q == have) // no-op delete of 0 is invalid; treat as plain add instead
              return step(model, isBid, price, qty, 0)
            model((isBid, lp)) = q
            ModifyEv(isBid, lp, q, hasPrevPrice = false, 0L, hasPrevQty = true, have)
          case _ => // delete the level via modify (qty == 0, prevs set)
            model.remove((isBid, lp))
            ModifyEv(isBid, lp, 0L, hasPrevPrice = true, lp, hasPrevQty = true, have)
        }
      }
    }
    Gen.listOfN(len, for {
      isBid <- Gen.oneOf(true, false)
      price <- Gen.chooseNum(1L, 12L)
      qty <- Gen.chooseNum(1L, 6L)
      op <- opPick
    } yield (isBid, price, qty, op)).map { raws =>
      val model = mutable.Map.empty[(Boolean, Long), Long]
      raws.map { case (isBid, p, q, op) => step(model, isBid, p, q, op) }
    }
  }

  /** The live (isBid, price, qty) levels of `book`, in level-map order:
    * the events that drain it fully. */
  def liveLevels(book: OrderBook): Seq[(Boolean, Long, Long)] = {
    val out = Seq.newBuilder[(Boolean, Long, Long)]
    book.bids.foreachLevel((k, q) => out += ((true, k, q)))
    book.asks.foreachLevel((k, q) => out += ((false, -k, q)))
    out.result()
  }
}
