package graft.plans

import graft.{CoreFoldOracle, SparkTestSession, SpecSupport}
import graft.core.{BookKernel, Transitions}
import graft.operators.OrderBookOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** BboReplayExec's row emitter (a reused 4·n-field UnsafeRow joined onto
  * the input UnsafeRow) against the `graft.core` fold oracle
  * ([[graft.CoreFoldOracle]]), value for value, in all three modes:
  * variable-length passthrough columns with nulls, n = 1 (the scalar
  * kernel) and n = 20 over books shallower than n, several books per
  * partition. The test names keep their original "ViaGroups oracle"
  * wording; that Row-based fold was deleted and the core fold took its
  * place. */
class BboReplayEmitSpec extends AnyFunSuite {
  import BboReplayEmitSpec.Ev
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** `products` books of `perBook` valid events each for `mode` (0 O1,
    * 1 O2, 2 O3). Prices sit in 1..6 per side, so no side is deeper than
    * 6 levels. O2 deletes never exceed the level; O3 events act on one of
    * three order slots per side, so every prev is the slot's live order. */
  private def events(mode: Int, products: Int, perBook: Int, seed: Long): Seq[Ev] = {
    val rnd = new scala.util.Random(seed)
    val notes = Array(null, "", "a", "a note long enough to leave the inline word", "é✓")
    (0 until products).flatMap { p =>
      val levels = mutable.Map.empty[(Boolean, Long), Long]
      val slots = mutable.Map.empty[(Boolean, Int), (Long, Long)]
      (0 until perBook).map { j =>
        val isBid = rnd.nextBoolean()
        val price = 1L + rnd.nextInt(6)
        val q = 1L + rnd.nextInt(9)
        val note = notes(rnd.nextInt(notes.length))
        val tag = if (rnd.nextInt(3) == 0) null else s"t$p-$j"
        def ev(pr: Long, qty: Long, pp: Option[Long], pq: Option[Long]) =
          Ev(p, j.toLong, pr, qty, isBid, pp, pq, note, tag)
        mode match {
          case 0 => ev(price, if (rnd.nextInt(4) == 0) 0L else q, None, None)
          case 1 =>
            val have = levels.getOrElse((isBid, price), 0L)
            val qty = if (have > 0 && rnd.nextBoolean()) -(1L + rnd.nextInt(have.toInt)) else q
            if (have + qty == 0) levels.remove((isBid, price)) else levels((isBid, price)) = have + qty
            ev(price, qty, None, None)
          case _ =>
            val slot = (isBid, rnd.nextInt(3))
            slots.get(slot) match {
              case None =>
                slots(slot) = (price, q); ev(price, q, None, None)
              case Some((pp, pq)) if rnd.nextInt(4) == 0 =>
                slots.remove(slot); ev(pp, 0L, Some(pp), Some(pq))
              case Some((pp, pq)) =>
                slots(slot) = (price, q); ev(price, q, Some(pp), Some(pq))
            }
        }
      }
    }
  }

  private val keys = Seq("product"); private val order = Seq("seq")
  private val prev = Some(("prev_price", "prev_qty"))

  private def replay(mode: Int, df: DataFrame, n: Int): DataFrame = mode match {
    case 0 => OrderBookOps.topNLevelsFromPriceUpdates(df, "price", "qty", "is_bid", n, keys, order)
    case 1 => OrderBookOps.topNLevelsFromPriceMutations(df, "price", "qty", "is_bid", n, keys, order)
    case _ => OrderBookOps.topNLevelsFromPriceMutationsWithModify(
      df, "price", "qty", "is_bid", "prev_price", "prev_qty", n, keys, order)
  }

  for (mode <- Seq(0, 1, 2); n <- Seq(1, 20)) {
    test(s"exec rows == ViaGroups oracle rows, mode=$mode n=$n, string passthrough with nulls") {
      val df = events(mode, products = 12, perBook = 60, seed = 31L * mode + n).toDF()
      val got = replay(mode, df, n)
      assert(got.schema == StructType(df.schema.fields ++
        OrderBookOps.bboFieldNames(n).map(StructField(_, LongType, nullable = true))))
      val a = got.orderBy("product", "seq").collect().toSeq
      val b = CoreFoldOracle.replay(df, mode, n, "price", "qty", "is_bid",
        if (mode == 2) prev else None, keys, order)
      assert(a.size == 12 * 60 && b.size == a.size)
      a.zip(b).foreach { case (x, y) => assert(x == y) }
      // the null padding past a side's depth is exercised
      if (n == 20) assert(a.forall(_.isNullAt(a.head.fieldIndex("bid_price_7"))))
      assert(a.exists(_.isNullAt(a.head.fieldIndex("note"))) &&
        a.exists(_.isNullAt(a.head.fieldIndex("tag"))))
      // several books were replayed by one task
      val perPartition = got.select(spark_partition_id().as("pid"), $"product")
        .groupBy("pid").agg(countDistinct("product").as("books"))
        .agg(max("books")).head().getLong(0)
      assert(perPartition >= 2)
    }
  }

  test("number of top-N rescans == the kernels' rescans summed over every book") {
    for (n <- Seq(1, 3)) {
      val evs = events(0, products = 9, perBook = 200, seed = 7L + n)
      val out = replay(0, evs.toDF(), n)
      assert(out.collect().length == evs.size)
      val expected = evs.groupBy(_.product).values.map { bookEvs =>
        val book = BookKernel(n)
        bookEvs.sortBy(_.seq).foreach(e => Transitions.applyUpdate(book, e.is_bid, e.price, e.qty))
        book.rescans
      }.sum
      assert(expected > 0)
      assert(SpecSupport.replayExec(out).metrics("numRescans").value == expected, s"n=$n")
    }
  }
}

object BboReplayEmitSpec {
  case class Ev(product: Int, seq: Long, price: Long, qty: Long, is_bid: Boolean,
                prev_price: Option[Long], prev_qty: Option[Long],
                note: String, tag: String)
}
