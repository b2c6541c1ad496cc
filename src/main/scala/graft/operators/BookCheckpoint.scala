package graft.operators

import graft.core.{BookCodec, OrderBook, OrderBookException, Transitions}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Checkpoint / resume for O1/O2/O3 book replays — the serving lifecycle of
  * the order-book side, mirroring the corpus artifacts' build-once /
  * consume-daily discipline: [[bookStateSnapshots]] replays a day's
  * stream and emits ONE row per group holding the final book serialized
  * with [[graft.core.BookCodec]] (the persistable end-of-day state);
  * [[resumeTopNLevelsFromPriceUpdates]] continues the NEXT day's replay
  * from that state without re-reading any history. Resuming from the
  * day-1 checkpoint over day-2 events is output-identical to replaying
  * day1+day2 and keeping the day-2 rows (BookCheckpointSpec pins it;
  * the registry row's oracle IS the full-replay oracle with a seq
  * filter).
  *
  * Scale model matches the replay operators: one group = one book = one
  * task; the checkpoint relation is one narrow row per group (bounded
  * by live levels, independent of event count). Resume runs through the
  * replay operator itself ([[graft.plans.BboReplayExec]]): each state
  * row becomes a lead row ranked before its group's events, which
  * restores the book, and its output row is dropped. The stored state
  * pins n — resuming at a different n fails loudly (the pinned-geometry
  * discipline every persisted artifact here follows).
  *
  * `mode` below is the replay operators' 0 O1, 1 O2, 2 O3; `prev` names
  * O3's prev price and qty columns.
  */
object BookCheckpoint {

  /** Final book state per group after replaying `df` (O1 level-snapshot
    * transitions) in `orderBy` order: (partition cols..., book_state).
    * Empty `partitionBy` folds one global book into a single row. */
  def bookStateSnapshots(df: DataFrame, price: String, qty: String,
                         isBid: String, n: Int, partitionBy: Seq[String],
                         orderBy: Seq[String]): DataFrame =
    snapshots(df, 0, price, qty, isBid, None, n, partitionBy, orderBy)

  /** [[bookStateSnapshots]] for the O2 transition (signed quantity
    * MUTATIONS fold into levels) — the checkpoint for mutation-stream
    * replays. */
  def bookStateSnapshotsFromMutations(df: DataFrame, price: String,
                                      qty: String, isBid: String, n: Int,
                                      partitionBy: Seq[String],
                                      orderBy: Seq[String]): DataFrame =
    snapshots(df, 1, price, qty, isBid, None, n, partitionBy, orderBy)

  /** [[bookStateSnapshots]] for the O3 transition (mutation-with-modify,
    * the reference's 9-case table at update.rs:132-161) — completes the
    * checkpoint lifecycle for all three public entry points. */
  def bookStateSnapshotsFromMutationsWithModify(
      df: DataFrame, price: String, qty: String, isBid: String,
      prevPrice: String, prevQty: String, n: Int,
      partitionBy: Seq[String], orderBy: Seq[String]): DataFrame =
    snapshots(df, 2, price, qty, isBid, Some((prevPrice, prevQty)), n,
      partitionBy, orderBy)

  private def snapshots(df: DataFrame, mode: Int, price: String, qty: String,
                        isBid: String, prev: Option[(String, String)], n: Int,
                        partitionBy: Seq[String], orderBy: Seq[String]): DataFrame = {
    OrderBookOps.requireLevels(n)
    require(orderBy.nonEmpty,
      "orderBy must be non-empty: book replay is order-sensitive")
    require(!df.columns.contains("book_state"),
      "Input already has output column book_state")
    val withEv = castedEvents(df, price, qty, isBid, prev)
    val numIn = df.schema.size
    val keySchema = StructType(partitionBy.map(c =>
      df.schema(df.schema.fieldIndex(c))).toArray)
    val outSchema = StructType(keySchema.fields :+
      StructField("book_state", BinaryType, nullable = false))
    implicit val outEnc: Encoder[Row] = Encoders.row(outSchema)
    val sortCols = orderBy.map(col)
    val width = keySchema.size + 1

    def fold(keyVals: Seq[Any], it: Iterator[Row]): Iterator[Row] = {
      val book = new OrderBook(n)
      it.foreach(applyRow(book, _, numIn, price, qty, isBid, mode))
      val out = new Array[Any](width)
      var i = 0
      while (i < keyVals.length) { out(i) = keyVals(i); i += 1 }
      out(width - 1) = BookCodec.serialize(book)
      Iterator.single(new GenericRowWithSchema(out, outSchema): Row)
    }

    if (partitionBy.isEmpty) {
      withEv.groupByKey(_ => 0)(Encoders.scalaInt)
        .flatMapSortedGroups(sortCols: _*)((_, it) => fold(Nil, it))
    } else {
      val keyIdx = partitionBy.map(withEv.schema.fieldIndex).toArray
      withEv.groupByKey(rowKey(keyIdx, keySchema))(Encoders.row(keySchema))
        .flatMapSortedGroups(sortCols: _*)(
          (k, it) => fold(k.toSeq, it))
    }
  }

  /** Roll a checkpoint FORWARD one day: per-group, the book initializes
    * from the stored state (absent groups start fresh), folds the new
    * events, and emits the NEW end-of-day state — the daily leg of a
    * multi-day checkpoint chain (state_d = fold(state_{d−1}, day_d)),
    * so day N's state costs one day of events, never a replay of the
    * whole history. Groups with a stored state but NO events today
    * CARRY FORWARD unchanged (a product that doesn't trade still has a
    * book tomorrow). Same loud contracts as resume: one state row per
    * group, stored n must match. CheckpointChainSoakMain measures a
    * 7-day chain at scale; BookCheckpointSpec pins chain ≡ one-shot. */
  def bookStateSnapshotsResumed(df: DataFrame, states: DataFrame,
                                price: String, qty: String, isBid: String,
                                n: Int, partitionBy: Seq[String],
                                orderBy: Seq[String],
                                stateCol: String = "book_state"): DataFrame =
    resumedSnapshots(df, states, 0, price, qty, isBid, None, n, partitionBy,
      orderBy, stateCol)

  /** [[bookStateSnapshotsResumed]] for the O2 mutation transition. */
  def bookStateSnapshotsResumedFromMutations(
      df: DataFrame, states: DataFrame, price: String, qty: String,
      isBid: String, n: Int, partitionBy: Seq[String],
      orderBy: Seq[String], stateCol: String = "book_state"): DataFrame =
    resumedSnapshots(df, states, 1, price, qty, isBid, None, n, partitionBy,
      orderBy, stateCol)

  /** [[bookStateSnapshotsResumed]] for the O3 modify transition. */
  def bookStateSnapshotsResumedFromMutationsWithModify(
      df: DataFrame, states: DataFrame, price: String, qty: String,
      isBid: String, prevPrice: String, prevQty: String, n: Int,
      partitionBy: Seq[String], orderBy: Seq[String],
      stateCol: String = "book_state"): DataFrame =
    resumedSnapshots(df, states, 2, price, qty, isBid,
      Some((prevPrice, prevQty)), n, partitionBy, orderBy, stateCol)

  private def resumedSnapshots(df: DataFrame, states: DataFrame, mode: Int,
                               price: String, qty: String, isBid: String,
                               prev: Option[(String, String)], n: Int,
                               partitionBy: Seq[String],
                               orderBy: Seq[String], stateCol: String): DataFrame = {
    OrderBookOps.requireLevels(n)
    require(orderBy.nonEmpty,
      "orderBy must be non-empty: book replay is order-sensitive")
    require(partitionBy.nonEmpty,
      "resumed snapshots require partition keys; add a constant key " +
        "column for a single global book")
    // the OUTPUT state column is `stateCol` too — day N's snapshots
    // must feed day N+1 with the same argument, or a non-default
    // stateCol chain breaks on its second day
    require(!df.columns.contains(stateCol),
      s"Input already has output column $stateCol")
    val withEv = castedEvents(df, price, qty, isBid, prev)
    val numIn = df.schema.size
    val keySchema = StructType(partitionBy.map(c =>
      df.schema(df.schema.fieldIndex(c))).toArray)
    val outSchema = StructType(keySchema.fields :+
      StructField(stateCol, BinaryType, nullable = false))
    implicit val outEnc: Encoder[Row] = Encoders.row(outSchema)
    val keyEnc: Encoder[Row] = Encoders.row(keySchema)
    val evKeyIdx = partitionBy.map(withEv.schema.fieldIndex).toArray
    val stKeyIdx = partitionBy.map(states.schema.fieldIndex).toArray
    val stStateIdx = states.schema.fieldIndex(stateCol)
    val sortCols = orderBy.map(col)
    val width = keySchema.size + 1

    withEv.groupByKey(rowKey(evKeyIdx, keySchema))(keyEnc)
      .cogroupSorted(
        states.groupByKey(rowKey(stKeyIdx, keySchema))(keyEnc))(
        sortCols: _*)() { (key, evIt, stIt) =>
        val stateRows = stIt.take(2).toList
        require(stateRows.size <= 1,
          s"resumed snapshots: multiple checkpoint rows for group " +
            s"${key.toSeq.mkString(",")}")
        val book = stateRows match {
          case r :: Nil => BookCodec.deserialize(
            r.getAs[Array[Byte]](stStateIdx))
          case _ => new OrderBook(n)
        }
        require(book.n == n,
          s"checkpoint was built at n=${book.n}; resumed snapshots " +
            s"requested n=$n (the stored state pins n)")
        var sawEvent = false
        evIt.foreach { row =>
          sawEvent = true
          applyRow(book, row, numIn, price, qty, isBid, mode)
        }
        // carry-forward: a stored group with no events today keeps its
        // state; a fresh group with no events (impossible via cogroup,
        // but defensive) emits nothing
        if (!sawEvent && stateRows.isEmpty) Iterator.empty
        else {
          val out = new Array[Any](width)
          var i = 0
          while (i < key.length) { out(i) = key.get(i); i += 1 }
          out(width - 1) = BookCodec.serialize(book)
          Iterator.single(new GenericRowWithSchema(out, outSchema): Row)
        }
      }
  }

  /** Continue an O1 replay from a [[bookStateSnapshots]] relation:
    * per-group, the book initializes from the stored state (groups
    * absent from `states` start fresh — a product that first trades
    * today) and each event row emits the usual top-N columns. The
    * stored state's n must equal the requested n. `states` must carry
    * the partition columns plus `book_state`; a group with more than
    * one state row fails loudly (a keyed checkpoint, not a multiset —
    * the snapshotDiff discipline). */
  def resumeTopNLevelsFromPriceUpdates(df: DataFrame, states: DataFrame,
                                       price: String, qty: String,
                                       isBid: String, n: Int,
                                       partitionBy: Seq[String],
                                       orderBy: Seq[String],
                                       stateCol: String = "book_state"): DataFrame =
    resume(df, states, 0, price, qty, isBid, None, n, partitionBy, orderBy,
      stateCol)

  /** [[resumeTopNLevelsFromPriceUpdates]] for the O2 transition. */
  def resumeTopNLevelsFromPriceMutations(df: DataFrame, states: DataFrame,
                                         price: String, qty: String,
                                         isBid: String, n: Int,
                                         partitionBy: Seq[String],
                                         orderBy: Seq[String],
                                         stateCol: String = "book_state"): DataFrame =
    resume(df, states, 1, price, qty, isBid, None, n, partitionBy, orderBy,
      stateCol)

  /** [[resumeTopNLevelsFromPriceUpdates]] for the O3 transition —
    * day-2 modify streams continue from the day-1 state. Rows whose
    * prev refers to day-1 history fold correctly because the modify
    * transition only reads the CURRENT book (which the checkpoint
    * restored), never the event history. */
  def resumeTopNLevelsFromPriceMutationsWithModify(
      df: DataFrame, states: DataFrame,
      price: String, qty: String, isBid: String,
      prevPrice: String, prevQty: String, n: Int,
      partitionBy: Seq[String], orderBy: Seq[String],
      stateCol: String = "book_state"): DataFrame =
    resume(df, states, 2, price, qty, isBid, Some((prevPrice, prevQty)), n,
      partitionBy, orderBy, stateCol)

  private def resume(df: DataFrame, states: DataFrame, mode: Int,
                     price: String, qty: String, isBid: String,
                     prev: Option[(String, String)], n: Int,
                     partitionBy: Seq[String], orderBy: Seq[String],
                     stateCol: String): DataFrame = {
    // checked here: the replay below always sees "__rank" +: orderBy
    require(orderBy.nonEmpty,
      "orderBy must be non-empty: book replay is order-sensitive")
    require(partitionBy.nonEmpty,
      "resume requires partition keys; add a constant key column for a " +
        "single global book")
    val internal = Seq("__state", "__rank")
    val clash = df.columns.toSet.intersect(internal.toSet)
    require(clash.isEmpty, s"Input already has internal columns: $clash")
    val events = df.withColumn("__state", lit(null).cast(BinaryType))
      .withColumn("__rank", lit(1))
    val leads = states.select(OrderBookOps.leadColumns(df.schema,
        partitionBy.map(k => k -> col(k)).toMap) ++
      Seq(col(stateCol).as("__state"), lit(0).as("__rank")): _*)
    OrderBookOps.replay(events.unionByName(leads), mode, price, qty, isBid,
        prev, n, partitionBy, "__rank" +: orderBy, state = Some("__state"))
      .filter(col("__rank") === 1)
      .drop(internal: _*)
  }

  /** Shared event casting: appends __g_price/__g_qty/__g_isbid (and, for
    * O3, the nullable __g_pprice/__g_pqty) after the passthrough columns
    * (read by the folds, never emitted). */
  private def castedEvents(df: DataFrame, price: String, qty: String,
                           isBid: String, prev: Option[(String, String)]): DataFrame = {
    val base = df.withColumn("__g_price", col(price).cast(LongType))
      .withColumn("__g_qty", col(qty).cast(LongType))
      .withColumn("__g_isbid", col(isBid).cast(BooleanType))
    prev.fold(base) { case (pp, pq) =>
      base.withColumn("__g_pprice", col(pp).cast(LongType))
        .withColumn("__g_pqty", col(pq).cast(LongType))
    }
  }

  /** One O1/O2/O3 transition with the replay operators' null contract. */
  private def applyRow(book: OrderBook, row: Row, numIn: Int,
                       price: String, qty: String,
                       isBid: String, mode: Int): Unit = {
    val iPrice = numIn; val iQty = numIn + 1; val iBid = numIn + 2
    val iPp = numIn + 3; val iPq = numIn + 4
    if (row.isNullAt(iBid)) OrderBookException.missingValue(isBid)
    if (row.isNullAt(iPrice)) OrderBookException.missingValue(price)
    if (row.isNullAt(iQty)) OrderBookException.missingValue(qty)
    val hasPp = mode == 2 && !row.isNullAt(iPp)
    val hasPq = mode == 2 && !row.isNullAt(iPq)
    Transitions(mode, book, row.getBoolean(iBid),
      row.getLong(iPrice), row.getLong(iQty),
      hasPp, if (hasPp) row.getLong(iPp) else 0L,
      hasPq, if (hasPq) row.getLong(iPq) else 0L)
  }

  private def rowKey(keyIdx: Array[Int], keySchema: StructType): Row => Row =
    r => {
      val vs = new Array[Any](keyIdx.length)
      var i = 0
      while (i < keyIdx.length) { vs(i) = r.get(keyIdx(i)); i += 1 }
      new GenericRowWithSchema(vs, keySchema): Row
    }
}
