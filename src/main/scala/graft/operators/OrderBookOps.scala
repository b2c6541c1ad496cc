package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark-native form of the reference's three public operators
  * (reference: polars_order_book/polars_order_book/__init__.py:22-210).
  *
  * The kernel is a per-group, strictly ordered, stateful 1-row-in →
  * 1-row-out fold, which Spark cannot express as an associative aggregate
  * (no valid merge). It runs as one custom operator
  * ([[graft.plans.BboReplayExec]]): Spark plans a shuffle on the partition
  * keys and an in-partition sort on (keys, order), and the exec folds the
  * sorted rows with the `graft.core` kernel. Plain, decimal, parallel and
  * resumed replays all emit their rows from it, and checkpoint snapshots
  * their one row per book; the window aggregate
  * ([[graft.plans.BboWindow]]) is the Column/SQL surface.
  *
  * Scale model: one order book (= one `partitionBy` group, e.g. one
  * product) is replayed by exactly one task; distinct products replay in
  * parallel across the cluster. This mirrors the reference's contract that
  * multi-product frames must be processed under `group_by("product_id")`
  * (reference: README.md:184-197). Because row order is semantically
  * load-bearing and Spark shuffles destroy input order, the API *requires*
  * explicit order columns instead of trusting input order (the reference
  * trusts input order per README.md:182).
  *
  * Output: the input columns plus 4·n nullable LongType columns in the
  * reference's grouped field order `bid_price_1..n, bid_qty_1..n,
  * ask_price_1..n, ask_qty_1..n` (reference:
  * polars_order_book/src/output.rs:89-120).
  */
object OrderBookOps {

  /** bbo field names in the reference's grouped (materialized) order. */
  def bboFieldNames(n: Int): Seq[String] =
    (1 to n).map(i => s"bid_price_$i") ++ (1 to n).map(i => s"bid_qty_$i") ++
      (1 to n).map(i => s"ask_price_$i") ++ (1 to n).map(i => s"ask_qty_$i")

  /** The replay APIs' level bound, as the reference words it
    * (calculate_bbo.rs:117-127). The core kernel handles any n >= 1; the
    * bound is a public-API contract, checked when the query is built. */
  def requireLevels(n: Int): Unit =
    require(n >= 1 && n <= 20, s"Unsupported number of levels: $n")

  /** O1 — replay level snapshots: qty>0 sets the level's qty, qty==0
    * removes it. Reference: __init__.py:157-210,
    * polars_order_book/src/calculate_bbo.rs:127-170. */
  def topNLevelsFromPriceUpdates(
      df: DataFrame, price: String, qty: String, isBid: String, n: Int,
      partitionBy: Seq[String], orderBy: Seq[String]): DataFrame =
    replay(df, 0, price, qty, isBid, None, n, partitionBy, orderBy)

  /** O2 — replay signed deltas: qty>0 adds, qty<0 deletes |qty|, qty==0
    * no-op. Reference: __init__.py:101-154, calculate_bbo.rs:172-215. */
  def topNLevelsFromPriceMutations(
      df: DataFrame, price: String, qty: String, isBid: String, n: Int,
      partitionBy: Seq[String], orderBy: Seq[String]): DataFrame =
    replay(df, 1, price, qty, isBid, None, n, partitionBy, orderBy)

  /** O3 — as O2 plus modify (move/resize an order) when prev_price/prev_qty
    * are set; both-or-neither semantics per row enforced by the 9-case
    * transition table. Reference: __init__.py:22-98, calculate_bbo.rs:217-268,
    * update.rs:132-161. */
  def topNLevelsFromPriceMutationsWithModify(
      df: DataFrame, price: String, qty: String, isBid: String,
      prevPrice: String, prevQty: String, n: Int,
      partitionBy: Seq[String], orderBy: Seq[String]): DataFrame =
    replay(df, 2, price, qty, isBid, Some((prevPrice, prevQty)), n,
      partitionBy, orderBy)

  // ---- Column-typed overloads ------------------------------------------
  // The reference's primary API accepts `pl.Expr | str` (_utils.py:15-52);
  // these accept arbitrary Column expressions for the event and key
  // arguments by materializing them as internal temp columns around the
  // string-based fast path (the temps never appear in the output).

  def topNLevelsFromPriceUpdates(
      df: DataFrame, price: Column, qty: Column, isBid: Column, n: Int,
      partitionBy: Seq[Column], orderBy: Seq[Column]): DataFrame =
    viaTempColumns(df, Seq(price, qty, isBid), partitionBy, orderBy) {
      (d, ev, pb, ob) =>
        topNLevelsFromPriceUpdates(d, ev(0), ev(1), ev(2), n, pb, ob)
    }

  def topNLevelsFromPriceMutations(
      df: DataFrame, price: Column, qty: Column, isBid: Column, n: Int,
      partitionBy: Seq[Column], orderBy: Seq[Column]): DataFrame =
    viaTempColumns(df, Seq(price, qty, isBid), partitionBy, orderBy) {
      (d, ev, pb, ob) =>
        topNLevelsFromPriceMutations(d, ev(0), ev(1), ev(2), n, pb, ob)
    }

  def topNLevelsFromPriceMutationsWithModify(
      df: DataFrame, price: Column, qty: Column, isBid: Column,
      prevPrice: Column, prevQty: Column, n: Int,
      partitionBy: Seq[Column], orderBy: Seq[Column]): DataFrame =
    viaTempColumns(df, Seq(price, qty, isBid, prevPrice, prevQty),
      partitionBy, orderBy) { (d, ev, pb, ob) =>
      topNLevelsFromPriceMutationsWithModify(
        d, ev(0), ev(1), ev(2), ev(3), ev(4), n, pb, ob)
    }

  private def viaTempColumns(df: DataFrame, ev: Seq[Column],
      partitionBy: Seq[Column], orderBy: Seq[Column])
      (run: (DataFrame, Seq[String], Seq[String], Seq[String]) => DataFrame): DataFrame = {
    val evNames = ev.indices.map(i => s"__c_ev$i")
    val pbNames = partitionBy.indices.map(i => s"__c_pb$i")
    val obNames = orderBy.indices.map(i => s"__c_ob$i")
    val clash = df.columns.toSet.intersect((evNames ++ pbNames ++ obNames).toSet)
    require(clash.isEmpty, s"Input already has internal columns: $clash")
    val withAll = (evNames.zip(ev) ++ pbNames.zip(partitionBy) ++ obNames.zip(orderBy))
      .foldLeft(df) { case (d, (nm, c)) => d.withColumn(nm, c) }
    run(withAll, evNames, pbNames, obNames)
      .drop(evNames ++ pbNames ++ obNames: _*)
  }

  /** Plan the replay as the custom BboReplayNode: Spark inserts the one
    * exchange and sort, and the fold runs over UnsafeRows in
    * BboReplayExec. `mode` is 0 O1, 1 O2, 2 O3 (`prev` names O3's prev
    * price and qty columns). A non-null binary in the `state` column
    * restores the row's book from a [[graft.core.BookCodec]] blob and
    * folds no event. With `stateOut` named, the result is one row per
    * group, (partition keys, final book blob in `stateOut`), instead of
    * one row per event (checkpoints; see [[BookCheckpoint]]). */
  private[operators] def replay(
      df: DataFrame, mode: Int, price: String, qty: String, isBid: String,
      prev: Option[(String, String)], n: Int,
      partitionBy: Seq[String], orderBy: Seq[String],
      state: Option[String] = None,
      stateOut: Option[String] = None): DataFrame = {
    import graft.plans.{BboReplayNode, BboReplayStrategy}
    import org.apache.spark.sql.GraftColumnBridge
    requireLevels(n)
    require(orderBy.nonEmpty,
      "orderBy must be non-empty: Spark provides no implicit row order, and " +
        "book replay is order-sensitive (reference README.md:182)")
    val perEvent = stateOut.isEmpty
    if (perEvent) {
      val clash = df.columns.toSet.intersect(bboFieldNames(n).toSet)
      require(clash.isEmpty, s"Input already has output columns: $clash")
    }

    val spark = df.sparkSession
    BboReplayStrategy.ensureRegistered(spark)
    val analyzed = df.queryExecution.analyzed
    val resolver = spark.sessionState.analyzer.resolver
    def attr(name: String): catalyst.expressions.Attribute =
      analyzed.output.find(a => resolver(a.name, name)).getOrElse(
        throw new IllegalArgumentException(
          s"Column '$name' not found among ${analyzed.output.map(_.name).mkString(", ")}"))
    def asLong(name: String) = catalyst.expressions.Cast(attr(name), LongType)
    val node = BboReplayNode(
      mode, n,
      asLong(price),
      asLong(qty),
      catalyst.expressions.Cast(attr(isBid), BooleanType),
      prev.map(p => asLong(p._1)),
      prev.map(p => asLong(p._2)),
      state.map(attr),
      stateOut.map(catalyst.expressions.AttributeReference(_, BinaryType, nullable = false)()),
      partitionBy.map(attr(_): catalyst.expressions.Expression),
      orderBy.map(attr(_): catalyst.expressions.Expression),
      if (perEvent) BboReplayNode.mkBboAttrs(n) else Nil,
      analyzed)
    // re-aliased so that a self-join of a checkpoint relation resolves:
    // Spark renews a Project's aliases on the right side, not a custom node's
    GraftColumnBridge.ofRows(spark, if (perEvent) node else catalyst.plans.logical.Project(
      node.output.map(a => catalyst.expressions.Alias(a, a.name)()), node))
  }

  /** Columns of a lead row shaped like `schema`: each field takes its
    * value from `values` cast to the field's type, or null. Lead rows
    * (ranked before a group's events) carry a book's starting state into
    * the replay: checkpoint resume and parallel replay's segment seeds. */
  private[operators] def leadColumns(schema: StructType,
                                     values: Map[String, Column]): Seq[Column] =
    schema.fields.toSeq.map(f =>
      values.getOrElse(f.name, lit(null)).cast(f.dataType).as(f.name))

  /** Re-assemble the flat bbo columns into a single struct column, the
    * reference's pre-`unnest` shape (reference: README.md:34). */
  def nestBbo(df: DataFrame, n: Int, outputCol: String = "bbo"): DataFrame = {
    val names = bboFieldNames(n)
    df.withColumn(outputCol, struct(names.map(col): _*)).drop(names: _*)
  }

  /** Spark equivalent of Polars `unnest` (reference: README.md:34, 67). */
  def unnestStruct(df: DataFrame, structCol: String): DataFrame =
    df.select(col("*"), col(structCol + ".*")).drop(structCol)
}
