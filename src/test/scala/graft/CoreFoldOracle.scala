package graft

import graft.core.{BookKernel, OrderBookException, Transitions}
import org.apache.spark.sql.{DataFrame, Row}

/** The test oracle for every Spark replay form: the `graft.core` fold on
  * the driver. The events are collected sorted by (partition keys, order
  * keys); each group folds from an empty `BookKernel(n)` through
  * `Transitions`, and each input row gets its 4·n top-N values appended
  * with `snapshotInto` — the replay operators' output, row for row. */
object CoreFoldOracle {

  /** Expected replay rows of `df`, sorted by (partitionBy, orderBy).
    * `mode` is 0 O1, 1 O2, 2 O3; `prev` names O3's prev price and qty
    * columns. */
  def replay(df: DataFrame, mode: Int, n: Int,
             price: String, qty: String, isBid: String,
             prev: Option[(String, String)],
             partitionBy: Seq[String], orderBy: Seq[String]): Seq[Row] = {
    val width = df.schema.size
    def long(r: Row, c: String): Option[Long] =
      Option(r.get(r.fieldIndex(c))).map(_.asInstanceOf[Number].longValue)
    var book: BookKernel = null
    var key: Seq[Any] = null
    df.orderBy((partitionBy ++ orderBy).map(df.col): _*).collect().toSeq.map { r =>
      val k = partitionBy.map(c => r.get(r.fieldIndex(c)))
      if (book == null || k != key) { book = BookKernel(n); key = k }
      val b = Option(r.get(r.fieldIndex(isBid)))
        .getOrElse(OrderBookException.missingValue(isBid)).asInstanceOf[Boolean]
      val p = long(r, price).getOrElse(OrderBookException.missingValue(price))
      val q = long(r, qty).getOrElse(OrderBookException.missingValue(qty))
      val pp = prev.flatMap(c => long(r, c._1))
      val pq = prev.flatMap(c => long(r, c._2))
      Transitions(mode, book, b, p, q, pp.isDefined, pp.getOrElse(0L),
        pq.isDefined, pq.getOrElse(0L))
      val out = new Array[Any](width + 4 * n)
      r.toSeq.copyToArray(out)
      book.snapshotInto(out, width)
      Row.fromSeq(out.toSeq)
    }
  }
}
