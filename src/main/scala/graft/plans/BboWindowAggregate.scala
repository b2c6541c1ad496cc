package graft.plans

import graft.core.{BookCodec, OrderBook, OrderBookException, Transitions}
import graft.operators.OrderBookOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.types._

/** The reference's expression form (a Polars expression plugin,
  * calculate_bbo.rs:127-268) re-expressed as a Catalyst
  * `TypedImperativeAggregate[OrderBook]` evaluated over a running window
  * frame (`UNBOUNDED PRECEDING .. CURRENT ROW`).
  *
  * Spark's unbounded-preceding frame calls `update` exactly once per row
  * in frame order and `eval` after each row, so the per-row stateful fold
  * is exact. `merge` throws: the fold is NOT associative (SURVEY.md §7.4),
  * and running window frames never merge buffers — attempting to use this
  * aggregate outside a window (where partial aggregation would merge)
  * fails loudly instead of silently mis-computing.
  *
  * modes: 0 = price updates (O1), 1 = price mutations (O2),
  * 2 = mutations with modify (O3; 5 child expressions).
  */
case class BboWindowAggregate(
    mode: Int,
    n: Int,
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[OrderBook] {

  OrderBookOps.requireLevels(n)
  require((mode == 2 && children.size == 5) || (mode != 2 && children.size == 3),
    "updates/mutations take (price, qty, is_bid); modify takes " +
      "(price, qty, is_bid, prev_price, prev_qty)")

  override def nullable: Boolean = false

  override val dataType: DataType =
    StructType(OrderBookOps.bboFieldNames(n)
      .map(StructField(_, LongType, nullable = true)))

  override def createAggregationBuffer(): OrderBook = new OrderBook(n)

  override def update(book: OrderBook, input: InternalRow): OrderBook = {
    val pv = children(0).eval(input)
    val qv = children(1).eval(input)
    val bv = children(2).eval(input)
    if (bv == null) OrderBookException.missingValue("is_bid")
    if (pv == null) OrderBookException.missingValue("price")
    if (qv == null) OrderBookException.missingValue("qty")
    val ppv = if (mode == 2) children(3).eval(input) else null
    val pqv = if (mode == 2) children(4).eval(input) else null
    Transitions(mode, book, bv.asInstanceOf[Boolean], pv.asInstanceOf[Long],
      qv.asInstanceOf[Long],
      ppv != null, if (ppv != null) ppv.asInstanceOf[Long] else 0L,
      pqv != null, if (pqv != null) pqv.asInstanceOf[Long] else 0L)
    book
  }

  override def merge(a: OrderBook, b: OrderBook): OrderBook =
    throw new UnsupportedOperationException(
      "bbo is an ordered stateful fold with no associative merge; evaluate " +
        "it over a running window frame (UNBOUNDED PRECEDING .. CURRENT ROW)")

  override def eval(book: OrderBook): Any = {
    val out = new Array[Any](4 * n)
    book.snapshotInto(out, 0)
    new GenericInternalRow(out)
  }

  override def serialize(book: OrderBook): Array[Byte] = BookCodec.serialize(book)
  override def deserialize(bytes: Array[Byte]): OrderBook = BookCodec.deserialize(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): BboWindowAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BboWindowAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BboWindowAggregate =
    copy(children = newChildren)

  override def prettyName: String = mode match {
    case 0 => "bbo_from_price_updates"
    case 1 => "bbo_from_price_mutations"
    case 2 => "bbo_from_price_mutations_with_modify"
  }
}

/** Column-level API for the window form: returns a struct column
  * (`bid_price_1..n, bid_qty_1..n, ask_price_1..n, ask_qty_1..n`) — the
  * reference's pre-`unnest` shape, composable inside any windowed
  * DataFrame expression. */
object BboWindow {

  private def runningFrame(partitionBy: Seq[Column], orderBy: Seq[Column]): WindowSpec = {
    require(orderBy.nonEmpty, "orderBy must be non-empty (order-sensitive fold)")
    val base = if (partitionBy.isEmpty) Window.partitionBy() else Window.partitionBy(partitionBy: _*)
    base.orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
  }

  private def agg(mode: Int, n: Int, cols: Seq[Column],
                  partitionBy: Seq[Column], orderBy: Seq[Column]): Column = {
    val children = cols.map(c => GraftColumnBridge.expression(c))
    val e = BboWindowAggregate(mode, n, children).toAggregateExpression()
    GraftColumnBridge.column(e).over(runningFrame(partitionBy, orderBy))
  }

  def fromPriceUpdates(price: Column, qty: Column, isBid: Column, n: Int,
                       partitionBy: Seq[Column], orderBy: Seq[Column]): Column =
    agg(0, n, Seq(price.cast("long"), qty.cast("long"), isBid.cast("boolean")),
      partitionBy, orderBy)

  def fromPriceMutations(price: Column, qty: Column, isBid: Column, n: Int,
                         partitionBy: Seq[Column], orderBy: Seq[Column]): Column =
    agg(1, n, Seq(price.cast("long"), qty.cast("long"), isBid.cast("boolean")),
      partitionBy, orderBy)

  def fromPriceMutationsWithModify(price: Column, qty: Column, isBid: Column,
                                   prevPrice: Column, prevQty: Column, n: Int,
                                   partitionBy: Seq[Column], orderBy: Seq[Column]): Column =
    agg(2, n, Seq(price.cast("long"), qty.cast("long"), isBid.cast("boolean"),
      prevPrice.cast("long"), prevQty.cast("long")), partitionBy, orderBy)
}
