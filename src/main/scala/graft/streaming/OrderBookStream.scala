package graft.streaming

import graft.core.{BookCodec, OrderBook, OrderBookException, Transitions}
import graft.operators.OrderBookOps
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured-Streaming form of the book replay: the same per-product fold,
  * with book state carried across micro-batches in the state store
  * (`flatMapGroupsWithState`).
  *
  * Ordering contract: rows are sorted by the order column *within each
  * micro-batch group* before folding (Spark provides no cross-batch
  * ordering — late events are the caller's watermarking problem, exactly
  * as the reference requires pre-sorted input, README.md:182). State is
  * the compact BookCodec encoding, so a 1000-executor cluster holds one
  * small blob per product, not per row.
  */
object OrderBookStream {

  /** Typed micro-batch event of the stream replays (`pp`/`pq` are None
    * outside O3). `et` is the event-time when event-time eviction is
    * configured, null otherwise. */
  case class StreamEvent(pkey: Long, okey: Long, price: Long, qty: Long,
                         isBid: Boolean, pp: Option[Long], pq: Option[Long],
                         et: java.sql.Timestamp = null)

  /** Timeout mode: EVENT-time when a watermarked column is named
    * (eviction keyed to stream time — a faster-than-realtime historical
    * replay evicts after `idleTimeout` of EVENT time, not wall clock,
    * and a paused consumer evicts nothing), processing-time otherwise.
    * Event mode requires the input stream to carry
    * `withWatermark(eventTimeCol, …)` — Spark rejects the query at
    * analysis without it — and fires evictions as the WATERMARK passes
    * last-seen-event-time + idleTimeout (late data within the watermark
    * delay cannot resurrect an evicted book: eviction already waited
    * for it). */
  private[streaming] def timeoutConf(idleTimeout: Option[String],
                          eventTimeCol: Option[String]) =
    if (idleTimeout.isEmpty) GroupStateTimeout.NoTimeout()
    else if (eventTimeCol.isDefined) GroupStateTimeout.EventTimeTimeout()
    else GroupStateTimeout.ProcessingTimeTimeout()

  /** The stream key contract: every stream casts its partition and
    * order columns to long, so both must be integral. Checked when the
    * query is built. */
  private def requireIntegral(df: DataFrame, keys: String*): Unit =
    keys.foreach { c =>
      val t = df.schema(c).dataType
      require(t == LongType || t == IntegerType || t == ShortType || t == ByteType,
        s"column '$c' must be an integral type for the streaming replay " +
          s"(got ${t.catalogString}); fractional keys would silently merge " +
          "books / scramble order")
    }

  /** Arm the per-group idle timeout after folding a batch:
    * processing-time as a duration from now; event-time as the group's
    * max event time SEEN ACROSS ITS WHOLE LIFETIME + duration
    * (`maxSeenEvMs` — carried in the state, because re-arming from
    * just the current batch's max would let a late in-watermark event
    * PULL an already-armed timeout earlier and evict a live book),
    * floored at the current watermark (Spark refuses a timeout at or
    * below the watermark, and a group whose events run behind the
    * global max event time would otherwise throw mid-query). */
  private[streaming] def armIdleTimeout(state: GroupState[_], idleTimeout: Option[String],
                             eventMode: Boolean, maxSeenEvMs: Long): Unit =
    idleTimeout.foreach { d =>
      if (eventMode)
        state.setTimeoutTimestamp(
          math.max(maxSeenEvMs, state.getCurrentWatermarkMs()), d)
      else state.setTimeoutDuration(d)
    }

  /** Replay-stream state envelope: a one-byte version tag, the BookCodec
    * blob, then the incarnation's max seen event time (8 big-endian tail
    * bytes) — see [[armIdleTimeout]] for why the max must survive batches.
    *
    * The tag exists because the envelope has CHANGED shape across builds
    * (plain blob → blob+maxEv tail): without it, a checkpoint written by
    * an older build would silently lose its last 8 BookCodec bytes to the
    * maxEv read and resume from a corrupted book. A raw BookCodec blob
    * always begins 0x00 (it opens with `writeInt(n)`, n ≤ 20), so the
    * non-zero magic is unambiguous: any state whose first byte is not the
    * current tag is REJECTED loudly instead of misread. Restarting across
    * an envelope change therefore requires a fresh checkpoint directory —
    * the error says so. */
  private[streaming] val StateVersion: Byte = 0xB1.toByte
  private[streaming] def packBookState(blob: Array[Byte], maxEv: Long): Array[Byte] = {
    val out = new Array[Byte](blob.length + 9)
    out(0) = StateVersion
    System.arraycopy(blob, 0, out, 1, blob.length)
    var v = maxEv; var i = out.length - 1
    while (i > blob.length) { out(i) = (v & 0xFF).toByte; v >>>= 8; i -= 1 }
    out
  }
  private[streaming] def unpackBookState(packed: Array[Byte]): (Array[Byte], Long) = {
    require(packed.length >= 9 && packed(0) == StateVersion,
      "streaming book state has no (or a stale) version tag: this " +
        "checkpoint was written by an incompatible build of the replay " +
        "stream. Restart the query from a fresh checkpoint directory " +
        "(the packed-state envelope is not migrated across versions).")
    val blob = java.util.Arrays.copyOfRange(packed, 1, packed.length - 8)
    var v = 0L; var i = packed.length - 8
    while (i < packed.length) { v = (v << 8) | (packed(i) & 0xFFL); i += 1 }
    (blob, v)
  }

  /** The event-time column, PASSED THROUGH under a plain alias (null
    * when event-time eviction is off): Spark's event-time-timeout check
    * requires the watermark METADATA to survive into the grouping
    * input, and any cast or function over the column strips it — the
    * alias alone propagates it. */
  private[streaming] def etimeExpr(eventTimeCol: Option[String]) =
    eventTimeCol match {
      case Some(c) => col(c).as("et")
      case None => lit(null).cast(TimestampType).as("et")
    }

  /** Max event time of a batch in epoch millis (Long.MinValue when no
    * event times ride the batch). */
  private[streaming] def maxEventMs(ets: Iterator[java.sql.Timestamp]): Long = {
    var m = Long.MinValue
    ets.foreach(t => if (t != null && t.getTime > m) m = t.getTime)
    m
  }

  /** Streaming top-N-levels from price updates. `df` must be a streaming
    * DataFrame. Emits one row per input event (append mode).
    *
    * @param idleTimeout when set (e.g. "30 minutes"), a product's book
    *        state is EVICTED after that much processing time with no
    *        events — essential when the product universe is unbounded
    *        (delisted instruments, dead sessions) so the state store
    *        doesn't grow forever; a product re-appearing after eviction
    *        starts a fresh book. THE TRADE, stated plainly: eviction
    *        is silent (append mode cannot retract), and from the
    *        re-appearance on, this stream DIVERGES from the batch
    *        replay of the same events — the batch fold still carries
    *        the pre-gap book. Size the timeout above any legitimate
    *        quiet period (overnight, weekend) or reconcile against a
    *        batch checkpoint chain after gaps. None = state lives for
    *        the lifetime of the query (bounded universes).
    * @param eventTimeCol when ALSO set, eviction is keyed to EVENT time
    *        instead of wall clock: the state evicts when the stream's
    *        watermark passes last-seen-event-time + idleTimeout. This
    *        is the correct mode for faster-than-realtime historical
    *        replays (a day of events replayed in a minute evicts
    *        overnight-quiet products exactly where the day's timeline
    *        says, not after wall-clock minutes) and for paused
    *        consumers (no events → watermark stalls → nothing evicts).
    *        The input stream must carry `withWatermark(eventTimeCol,…)`
    *        — the query is rejected at analysis otherwise. All other
    *        eviction semantics are identical between the modes
    *        (EventTimeIdleSpec pins the parity). */
  def topNLevelsFromPriceUpdates(
      df: DataFrame, price: String, qty: String, isBid: String, n: Int,
      partitionBy: String, orderBy: String,
      idleTimeout: Option[String] = None,
      eventTimeCol: Option[String] = None): DataFrame =
    replayStream(df, 0, price, qty, isBid, None, n, partitionBy, orderBy,
      idleTimeout, eventTimeCol)

  def topNLevelsFromPriceMutations(
      df: DataFrame, price: String, qty: String, isBid: String, n: Int,
      partitionBy: String, orderBy: String,
      idleTimeout: Option[String] = None,
      eventTimeCol: Option[String] = None): DataFrame =
    replayStream(df, 1, price, qty, isBid, None, n, partitionBy, orderBy,
      idleTimeout, eventTimeCol)

  /** Streaming O3: mutations with modify (nullable prev columns).
    * `idleTimeout` evicts idle products' book state like the O1/O2
    * variants. */
  def topNLevelsFromPriceMutationsWithModify(
      df: DataFrame, price: String, qty: String, isBid: String,
      prevPrice: String, prevQty: String, n: Int,
      partitionBy: String, orderBy: String,
      idleTimeout: Option[String] = None,
      eventTimeCol: Option[String] = None): DataFrame =
    replayStream(df, 2, price, qty, isBid, Some((prevPrice, prevQty)), n,
      partitionBy, orderBy, idleTimeout, eventTimeCol)

  /** Typed state for the analytics replay: the book blob plus the
    * previous event's top-of-book (None ≡ "no previous two-sided
    * value", which covers both the first event and a one-sided
    * predecessor — exactly the cases the batch lag() yields NULL for)
    * and the running OFI sum. Field additions here change the state-store
    * row schema; Spark's state schema compatibility check rejects an old
    * checkpoint at restart (loudly — no migration), so a new field means
    * a fresh checkpoint directory, same as the packed-blob envelope. */
  case class OfiState(book: Array[Byte], pb: Option[Long], pqb: Option[Long],
                      pa: Option[Long], pqa: Option[Long], cum: Long,
                      maxEv: Long = Long.MinValue)

  /** Streaming twin of the book ANALYTICS chain: the O1 replay fold and
    * the best-level order-flow imbalance
    * ([[graft.operators.BookAnalytics.orderFlowImbalance]] — Cont,
    * Kukanov & Stoikov 2014 e_n) in ONE stateful pass. The batch form
    * needs a product-partitioned lag + running-sum window over the
    * replay output; on a stream that is one previous-quote scalar and
    * one running sum carried in the SAME state entry as the book blob —
    * no second state store, no second shuffle: the analytics ride the
    * replay's own groupByKey exchange.
    *
    * Emits one row per event: (product, seq, BBO n=1 columns, ofi,
    * cum_ofi) — append mode, ordering contract identical to the replay
    * ([[topNLevelsFromPriceUpdates]]). Microprice/spread/imbalance are
    * STATELESS over this output: `BookAnalytics.microprice` applies to
    * the returned stream unchanged (pinned by the stream spec), so the
    * full per-event analytics frame is this operator + one map.
    *
    * `idleTimeout` eviction DISCARDS the running cum_ofi with the book
    * (append mode cannot retract, and an OFI row needs an event to
    * hang on — there is nothing meaningful to emit at eviction time):
    * a product re-appearing after eviction restarts cum_ofi from 0 and
    * the stream diverges from the batch window form, silently. Size
    * the timeout above any legitimate quiet period, or use
    * [[analyticsSummaryStream]] — whose eviction path emits a final
    * superseding row — when the accumulated value must survive
    * eviction. */
  def ofiFromPriceUpdates(
      df: DataFrame, price: String, qty: String, isBid: String,
      partitionBy: String, orderBy: String,
      idleTimeout: Option[String] = None,
      eventTimeCol: Option[String] = None): DataFrame = {

    val outSchema = StructType(
      StructField(partitionBy, LongType) +:
        StructField(orderBy, LongType) +:
        (OrderBookOps.bboFieldNames(1).map(StructField(_, LongType, nullable = true)) ++
          Seq(StructField("ofi", LongType, nullable = false),
            StructField("cum_ofi", LongType, nullable = false))))

    requireIntegral(df, partitionBy, orderBy)
    val work = df.select(
      col(partitionBy).cast("long").as("pkey"),
      col(orderBy).cast("long").as("okey"),
      col(price).cast("long").as("price"),
      col(qty).cast("long").as("qty"),
      col(isBid).cast("boolean").as("is_bid"),
      etimeExpr(eventTimeCol))

    implicit val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    implicit val stEnc: Encoder[OfiState] = Encoders.product[OfiState]
    implicit val tupEnc: Encoder[(Long, Long, Long, Long, Boolean, java.sql.Timestamp)] =
      Encoders.product[(Long, Long, Long, Long, Boolean, java.sql.Timestamp)]

    val eventMode = eventTimeCol.isDefined
    work.as[(Long, Long, Long, Long, Boolean, java.sql.Timestamp)]
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[OfiState, Row](
        OutputMode.Append(), timeoutConf(idleTimeout, eventTimeCol)) {
        (key: Long, rows: Iterator[(Long, Long, Long, Long, Boolean, java.sql.Timestamp)],
         state: GroupState[OfiState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val st0 = if (state.exists) state.get
              else OfiState(null, None, None, None, None, 0L)
            val book = if (st0.book != null) BookCodec.deserialize(st0.book)
              else new OrderBook(1)
            var pb = st0.pb; var pqb = st0.pqb
            var pa = st0.pa; var pqa = st0.pqa
            var cum = st0.cum
            val sorted = rows.toArray.sortBy(_._2)
            val snap = new Array[Any](4)
            val out = sorted.iterator.map { case (_, okey, p, q, bSide, _) =>
              Transitions.applyUpdate(book, bSide, p, q)
              book.snapshotInto(snap, 0)
              val b = snap(0).asInstanceOf[java.lang.Long]
              val qb = snap(1).asInstanceOf[java.lang.Long]
              val a = snap(2).asInstanceOf[java.lang.Long]
              val qa = snap(3).asInstanceOf[java.lang.Long]
              // e_n exactly as the batch window form: a side contributes
              // 0 unless BOTH its current and previous best are present
              val bidFlow =
                if (b != null && pb.isDefined)
                  (if (b >= pb.get) qb.longValue else 0L) -
                    (if (b <= pb.get) pqb.get else 0L)
                else 0L
              val askFlow =
                if (a != null && pa.isDefined)
                  -(if (a <= pa.get) qa.longValue else 0L) +
                    (if (a >= pa.get) pqa.get else 0L)
                else 0L
              val ofi = bidFlow + askFlow
              cum += ofi
              pb = Option(b).map(_.longValue)
              pqb = Option(qb).map(_.longValue)
              pa = Option(a).map(_.longValue)
              pqa = Option(qa).map(_.longValue)
              new GenericRowWithSchema(
                Array[Any](key, okey, b, qb, a, qa, ofi, cum),
                outSchema): Row
            }.toArray
            val maxEv = math.max(st0.maxEv,
              maxEventMs(sorted.iterator.map(_._6)))
            state.update(OfiState(
              BookCodec.serialize(book), pb, pqb, pa, pqa, cum, maxEv))
            armIdleTimeout(state, idleTimeout, eventMode, maxEv)
            out.iterator
          }
      }(stEnc, rowEnc)
  }

  /** State for the running analytics summary: book blob + the lag
    * scalars behind TWA spread (previous event's spread and seq) and
    * realized variance (previous two-sided doubled mid), plus the
    * running sums and an emit counter that orders the per-batch
    * summary rows. */
  case class SummaryState(book: Array[Byte], lastSpread: Option[Long],
                          lastSeq: Option[Long], lastMid2: Option[Long],
                          nEvents: Long, nQuoted: Long, quotedTicks: Long,
                          area: Long, nQuotes: Long, nMoves: Long,
                          rvX4: Long, emit: Long,
                          maxEv: Long = Long.MinValue)

  /** Streaming twin of the per-product book SUMMARY analytics —
    * [[graft.operators.BookAnalytics.timeWeightedSpread]] and
    * [[graft.operators.BookAnalytics.realizedVariance]] in one stateful
    * pass over the raw O1 event stream. Both batch forms are windows +
    * groupBys over the replay output; on a stream each reduces to lag
    * scalars + running sums carried in the book's own state entry:
    *
    *  - TWA spread: the batch form weights each quote by the gap to
    *    its SUCCESSOR (lead) — reformulated as accumulating
    *    lastSpread · (seq − lastSeq) on each arrival, which needs no
    *    lookahead and sums to the identical area;
    *  - realized variance: Δ of the doubled mid over consecutive
    *    two-sided quotes, rv_x4 += Δ², exactly the batch lag chain.
    *
    * Emits ONE summary row per product per micro-batch (append mode
    * can't retract, so rows supersede; `emit` orders them — take the
    * max-emit row per product for the current values, pinned ≡ batch
    * by BookAnalyticsStreamSpec). Output: (product, emit, n_events,
    * n_quoted, quoted_ticks, twa_spread_permille, n_quotes, n_moves,
    * rv_x4).
    *
    * `idleTimeout` eviction emits a FINAL summary row (its emit is one
    * past the last batch's, so it supersedes under the max-emit rule)
    * and then drops the state — the accumulated analytics survive the
    * eviction. A product re-appearing afterwards starts FRESH counters
    * AND a fresh emit sequence from 0: its new rows sit below the
    * tombstone under max-emit until the new incarnation out-emits it,
    * so treat per-product summaries as per-incarnation ("since this
    * product's state began"), not forever-totals, whenever a timeout
    * is configured. */
  def analyticsSummaryStream(
      df: DataFrame, price: String, qty: String, isBid: String,
      partitionBy: String, orderBy: String,
      idleTimeout: Option[String] = None,
      eventTimeCol: Option[String] = None): DataFrame = {

    val outSchema = StructType(Seq(
      StructField(partitionBy, LongType, nullable = false),
      StructField("emit", LongType, nullable = false),
      StructField("n_events", LongType, nullable = false),
      StructField("n_quoted", LongType, nullable = false),
      StructField("quoted_ticks", LongType, nullable = true),
      StructField("twa_spread_permille", LongType, nullable = true),
      StructField("n_quotes", LongType, nullable = false),
      StructField("n_moves", LongType, nullable = false),
      StructField("rv_x4", LongType, nullable = false)))

    requireIntegral(df, partitionBy, orderBy)
    val work = df.select(
      col(partitionBy).cast("long").as("pkey"),
      col(orderBy).cast("long").as("okey"),
      col(price).cast("long").as("price"),
      col(qty).cast("long").as("qty"),
      col(isBid).cast("boolean").as("is_bid"),
      etimeExpr(eventTimeCol))

    implicit val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    implicit val stEnc: Encoder[SummaryState] = Encoders.product[SummaryState]
    implicit val tupEnc: Encoder[(Long, Long, Long, Long, Boolean, java.sql.Timestamp)] =
      Encoders.product[(Long, Long, Long, Long, Boolean, java.sql.Timestamp)]

    val eventMode = eventTimeCol.isDefined
    work.as[(Long, Long, Long, Long, Boolean, java.sql.Timestamp)]
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[SummaryState, Row](
        OutputMode.Append(), timeoutConf(idleTimeout, eventTimeCol)) {
        (key: Long, rows: Iterator[(Long, Long, Long, Long, Boolean, java.sql.Timestamp)],
         state: GroupState[SummaryState]) =>
          def summaryRow(st: SummaryState): Row = {
            // Spark's `div` truncates toward zero (IntegralDivide),
            // so plain Java division — NOT floorDiv — matches the
            // batch column when a crossed book makes the area negative
            val twa = if (st.quotedTicks > 0)
              java.lang.Long.valueOf(st.area * 1000L / st.quotedTicks)
            else null
            val ticks = if (st.nQuoted > 0)
              java.lang.Long.valueOf(st.quotedTicks) else null
            new GenericRowWithSchema(Array[Any](
              key, st.emit, st.nEvents, st.nQuoted, ticks, twa,
              st.nQuotes, st.nMoves, st.rvX4), outSchema): Row
          }
          if (state.hasTimedOut) {
            // eviction emits a FINAL summary row before the counters
            // are lost: the stored emit is already one past the last
            // emitted row's, so the tombstone supersedes every earlier
            // row of this state incarnation under the max-emit rule —
            // the accumulated analytics survive the eviction instead of
            // vanishing with the state
            val fin =
              if (state.exists && state.get.nEvents > 0)
                Iterator.single(summaryRow(state.get))
              else Iterator.empty
            state.remove()
            fin
          }
          else {
            var st = if (state.exists) state.get
              else SummaryState(null, None, None, None, 0, 0, 0, 0, 0, 0, 0, 0)
            val book = if (st.book != null) BookCodec.deserialize(st.book)
              else new OrderBook(1)
            val snap = new Array[Any](4)
            val sorted = rows.toArray.sortBy(_._2)
            sorted.foreach { case (_, okey, p, q, bSide, _) =>
              Transitions.applyUpdate(book, bSide, p, q)
              book.snapshotInto(snap, 0)
              val b = snap(0).asInstanceOf[java.lang.Long]
              val a = snap(2).asInstanceOf[java.lang.Long]
              // TWA: close the PREVIOUS event's interval
              val (nq, qt, ar) = st.lastSpread match {
                case Some(sp) =>
                  val dt = okey - st.lastSeq.get
                  (st.nQuoted + 1, st.quotedTicks + dt, st.area + sp * dt)
                case None => (st.nQuoted, st.quotedTicks, st.area)
              }
              val spread =
                if (b != null && a != null) Some(a.longValue - b.longValue)
                else None
              // RV: over the two-sided sub-stream only
              val (nQuotes2, nMoves2, rv2, lastMid2) =
                if (b != null && a != null) {
                  val mid2 = b.longValue + a.longValue
                  st.lastMid2 match {
                    case Some(prev) =>
                      val d = mid2 - prev
                      (st.nQuotes + 1, st.nMoves + 1, st.rvX4 + d * d,
                        Some(mid2))
                    case None =>
                      (st.nQuotes + 1, st.nMoves, st.rvX4, Some(mid2))
                  }
                } else (st.nQuotes, st.nMoves, st.rvX4, st.lastMid2)
              st = SummaryState(null, spread, Some(okey), lastMid2,
                st.nEvents + 1, nq, qt, ar, nQuotes2, nMoves2, rv2, st.emit,
                st.maxEv)
            }
            val out =
              if (st.nEvents == 0) Iterator.empty
              else Iterator.single(summaryRow(st))
            val maxEv = math.max(st.maxEv,
              maxEventMs(sorted.iterator.map(_._6)))
            state.update(st.copy(book = BookCodec.serialize(book),
              emit = st.emit + 1, maxEv = maxEv))
            armIdleTimeout(state, idleTimeout, eventMode, maxEv)
            out
          }
      }(stEnc, rowEnc)
  }

  /** The three stream replays: `mode` 0 O1, 1 O2, 2 O3 (`prev` names
    * O3's prev price and qty columns). */
  private def replayStream(
      df: DataFrame, mode: Int, price: String, qty: String, isBid: String,
      prev: Option[(String, String)], n: Int,
      partitionBy: String, orderBy: String,
      idleTimeout: Option[String], eventTimeCol: Option[String]): DataFrame = {
    OrderBookOps.requireLevels(n)
    val outSchema = StructType(
      StructField(partitionBy, LongType) +:
        StructField(orderBy, LongType) +:
        OrderBookOps.bboFieldNames(n).map(StructField(_, LongType, nullable = true)))

    requireIntegral(df, partitionBy, orderBy)
    val work = df.select(
      col(partitionBy).cast("long").as("pkey"),
      col(orderBy).cast("long").as("okey"),
      col(price).cast("long").as("price"),
      col(qty).cast("long").as("qty"),
      col(isBid).cast("boolean").as("isBid"),
      prev.fold(lit(null))(p => col(p._1)).cast("long").as("pp"),
      prev.fold(lit(null))(p => col(p._2)).cast("long").as("pq"),
      etimeExpr(eventTimeCol))

    val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    implicit val evEnc: Encoder[StreamEvent] = Encoders.product[StreamEvent]

    val eventMode = eventTimeCol.isDefined
    work.as[StreamEvent]
      .groupByKey(_.pkey)(Encoders.scalaLong)
      .flatMapGroupsWithState[Array[Byte], Row](
        OutputMode.Append(), timeoutConf(idleTimeout, eventTimeCol)) {
        (key: Long, rows: Iterator[StreamEvent], state: GroupState[Array[Byte]]) =>
          if (state.hasTimedOut) {
            // idle product: drop the book; a later re-appearance replays
            // from a fresh (empty) book
            state.remove()
            Iterator.empty
          } else {
            val (blob0, prevMaxEv) =
              if (state.exists) unpackBookState(state.get)
              else (null, Long.MinValue)
            val book =
              if (blob0 != null) BookCodec.deserialize(blob0) else new OrderBook(n)
            // fold in order within this micro-batch
            val sorted = rows.toArray.sortBy(_.okey)
            val out = sorted.iterator.map { e =>
              Transitions(mode, book, e.isBid, e.price, e.qty,
                e.pp.isDefined, e.pp.getOrElse(0L), e.pq.isDefined, e.pq.getOrElse(0L))
              val vals = new Array[Any](2 + 4 * n)
              vals(0) = key
              vals(1) = e.okey
              book.snapshotInto(vals, 2)
              new GenericRowWithSchema(vals, outSchema): Row
            }.toArray
            val maxEv = math.max(prevMaxEv,
              maxEventMs(sorted.iterator.map(_.et)))
            state.update(packBookState(BookCodec.serialize(book), maxEv))
            armIdleTimeout(state, idleTimeout, eventMode, maxEv)
            out.iterator
          }
      }(Encoders.BINARY, rowEnc)
  }
}
