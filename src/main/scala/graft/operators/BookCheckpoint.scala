package graft.operators

import org.apache.spark.sql.DataFrame
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
  * by live levels, independent of event count). Every fold here runs in
  * the replay operator itself ([[graft.plans.BboReplayExec]]):
  * snapshots run it in its end-of-group form, which emits (partition
  * keys, book blob) once per group instead of a row per event. A stored
  * state enters as a lead row ranked before its group's events, which
  * restores the book: resume drops the lead rows' output rows, and a
  * resumed snapshot re-emits the stored book of a group with no events
  * that day (carry-forward).
  * The stored state pins n — resuming at a different n fails loudly (the
  * pinned-geometry discipline every persisted artifact here follows), as
  * does a group with two state rows.
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
    require(orderBy.nonEmpty,
      "orderBy must be non-empty: book replay is order-sensitive")
    require(!df.columns.contains("book_state"),
      "Input already has output column book_state")
    OrderBookOps.replay(df, mode, price, qty, isBid, prev, n, partitionBy,
      orderBy, stateOut = Some("book_state"))
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
    require(partitionBy.nonEmpty,
      "resumed snapshots require partition keys; add a constant key " +
        "column for a single global book")
    // the OUTPUT state column is `stateCol` too — day N's snapshots
    // must feed day N+1 with the same argument, or a non-default
    // stateCol chain breaks on its second day
    require(!df.columns.contains(stateCol),
      s"Input already has output column $stateCol")
    OrderBookOps.replay(withLeadRows(df, states, partitionBy, orderBy, stateCol),
      mode, price, qty, isBid, prev, n, partitionBy, "__rank" +: orderBy,
      state = Some("__state"), stateOut = Some(stateCol))
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
    require(partitionBy.nonEmpty,
      "resume requires partition keys; add a constant key column for a " +
        "single global book")
    OrderBookOps.replay(withLeadRows(df, states, partitionBy, orderBy, stateCol),
        mode, price, qty, isBid, prev, n, partitionBy, "__rank" +: orderBy,
        state = Some("__state"))
      .filter(col("__rank") === 1)
      .drop("__state", "__rank")
  }

  /** `df`'s events (`__rank` 1, null `__state`) and one lead row per
    * `states` row: its partition keys, its `stateCol` blob in `__state`,
    * null elsewhere, `__rank` 0 — so each group's stored book restores
    * before its first event. */
  private def withLeadRows(df: DataFrame, states: DataFrame,
                           partitionBy: Seq[String], orderBy: Seq[String],
                           stateCol: String): DataFrame = {
    // checked here: the replay always sees "__rank" +: orderBy
    require(orderBy.nonEmpty,
      "orderBy must be non-empty: book replay is order-sensitive")
    val internal = Set("__state", "__rank")
    val clash = df.columns.toSet.intersect(internal)
    require(clash.isEmpty, s"Input already has internal columns: $clash")
    val events = df.withColumn("__state", lit(null).cast(BinaryType))
      .withColumn("__rank", lit(1))
    val leads = states.select(OrderBookOps.leadColumns(df.schema,
        partitionBy.map(k => k -> col(k)).toMap) ++
      Seq(col(stateCol).as("__state"), lit(0).as("__rank")): _*)
    events.unionByName(leads)
  }
}
