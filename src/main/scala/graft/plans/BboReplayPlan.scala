package graft.plans

import graft.core.{BookCodec, BookKernel, OrderBook, OrderBookException, Transitions}
import graft.operators.OrderBookOps
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeRowJoiner
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{BinaryType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.bitset.BitSetMethods

/** Whole-operator form of the book replay: a custom LogicalPlan +
  * SparkStrategy + SparkPlan (SURVEY.md §4 "custom pieces actually
  * needed"), the fastest embodiment — the fold runs directly over
  * UnsafeRows with Spark-planned exchange + sort, no per-row aggregation-
  * buffer eval (window form). Emitting allocates nothing per row: the
  * kernel writes its top-N into a reused `Array[Long]`
  * ([[graft.core.BookKernel.snapshotLongs]]), that fills a reused 4·n-field
  * UnsafeRow, and one generated joiner appends it to the input UnsafeRow.
  * The kernel's own level map (`LongMap[Long]`) still boxes on each put
  * and on each key a rescan visits.
  *
  * Planner contract: `requiredChildDistribution` = clustered on the
  * partition keys (AllTuples when none → single global book) and
  * `requiredChildOrdering` = (partition keys, order keys), so
  * EnsureRequirements inserts exactly one hash exchange and one
  * in-partition sort — the same minimal plan as a window function, with a
  * straight-line fold instead of frame machinery.
  *
  * Two internal fields serve checkpoints
  * ([[graft.operators.BookCheckpoint]]) and are set by no public API:
  *  - `state` (input): a row whose binary state is non-null restores its
  *    group's book from a [[graft.core.BookCodec]] blob instead of
  *    folding an event. Checkpoints rank such lead rows before the
  *    group's events.
  *  - `stateOut` (output): unset, each input row emits itself plus its
  *    4·n levels (`child.output ++ bboAttrs`); set, the exec emits one
  *    row per group when the group ends (partition keys, then the
  *    non-null `BookCodec` blob of the final book) and nothing per row.
  */
case class BboReplayNode(
    mode: Int, // 0 updates, 1 mutations, 2 modify
    n: Int,
    price: Expression, qty: Expression, isBid: Expression,
    prevPrice: Option[Expression], prevQty: Option[Expression],
    state: Option[Expression],
    stateOut: Option[Attribute],
    partitionKeys: Seq[Expression],
    orderKeys: Seq[Expression],
    bboAttrs: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] =
    BboReplayNode.output(child.output, stateOut, partitionKeys, bboAttrs)

  override def producedAttributes: AttributeSet = AttributeSet(bboAttrs ++ stateOut)

  override protected def withNewChildInternal(newChild: LogicalPlan): BboReplayNode =
    copy(child = newChild)
}

object BboReplayNode {
  /** Fresh output attributes for the 4·n level columns. */
  def mkBboAttrs(n: Int): Seq[Attribute] =
    OrderBookOps.bboFieldNames(n)
      .map(f => AttributeReference(f, LongType, nullable = true)())

  /** The per-row output, or (partition keys, state) with `stateOut` set;
    * the keys are then bare child attributes. */
  def output(childOutput: Seq[Attribute], stateOut: Option[Attribute],
             partitionKeys: Seq[Expression], bboAttrs: Seq[Attribute]): Seq[Attribute] =
    stateOut.fold(childOutput ++ bboAttrs)(s =>
      partitionKeys.map { case a: Attribute => a } :+ s)
}

case class BboReplayExec(
    mode: Int, n: Int,
    price: Expression, qty: Expression, isBid: Expression,
    prevPrice: Option[Expression], prevQty: Option[Expression],
    state: Option[Expression],
    stateOut: Option[Attribute],
    partitionKeys: Seq[Expression],
    orderKeys: Seq[Expression],
    bboAttrs: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    BboReplayNode.output(child.output, stateOut, partitionKeys, bboAttrs)

  override def producedAttributes: AttributeSet = AttributeSet(bboAttrs ++ stateOut)

  override def requiredChildDistribution: Seq[Distribution] =
    if (partitionKeys.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(partitionKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((partitionKeys ++ orderKeys).map(SortOrder(_, Ascending)))

  override def outputPartitioning = child.outputPartitioning
  // one state row per group keeps no order key; claim no order then
  override def outputOrdering: Seq[SortOrder] =
    if (stateOut.isEmpty) child.outputOrdering else Nil

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numBooks" -> SQLMetrics.createMetric(sparkContext, "number of books replayed"),
    "numRescans" -> SQLMetrics.createMetric(sparkContext, "number of top-N rescans"),
    "numRestored" -> SQLMetrics.createMetric(sparkContext,
      "number of books restored from a checkpoint"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numBooks = longMetric("numBooks")
    val numRescans = longMetric("numRescans")
    val numRestored = longMetric("numRestored")
    val modeL = mode; val nL = n
    val childOutput = child.output
    val priceE = price; val qtyE = qty; val bidE = isBid
    val ppE = prevPrice; val pqE = prevQty
    val stateIdx = state.fold(-1) {
      case a: Attribute => childOutput.indexWhere(_.exprId == a.exprId)
    }
    val emitState = stateOut.isDefined
    val keyExprs = partitionKeys
    val childSchema = DataTypeUtils.fromAttributes(childOutput)
    val bboSchema = DataTypeUtils.fromAttributes(bboAttrs)

    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      // plan-time-resolved ordinal readers: the event expressions are
      // bare casts over attributes, so each field is a direct primitive
      // getter — no interpreted Cast.eval, no boxing per row
      val priceF = BboReplayExec.longField(priceE, childOutput)
      val qtyF = BboReplayExec.longField(qtyE, childOutput)
      val bidF = BboReplayExec.boolField(bidE, childOutput)
      val ppF = ppE.fold(BboReplayExec.Absent)(BboReplayExec.longField(_, childOutput))
      val pqF = pqE.fold(BboReplayExec.Absent)(BboReplayExec.longField(_, childOutput))
      var book: BookKernel = null
      var curKey: UnsafeRow = null
      var restored = false
      def newBook(): Unit = {
        if (book != null) numRescans += book.rescans
        // BookCodec writes an OrderBook; BookKernel(1) is an OrderBook1
        book = if (emitState) new OrderBook(nL) else BookKernel(nL)
        restored = false
        numBooks += 1
      }
      def restore(blob: Array[Byte]): Unit = {
        // the key prints with external values (a date as a date, not a
        // day count), as the Row it names in the user's data would
        require(!restored, "multiple checkpoint rows for group " +
          (if (curKey == null) ""
           else keyExprs.zipWithIndex.map { case (e, i) =>
             CatalystTypeConverters.convertToScala(
               curKey.get(i, e.dataType), e.dataType)
           }.mkString(",")))
        val b = BookCodec.deserialize(blob)
        require(b.n == nL,
          s"checkpoint was built at n=${b.n}; requested n=$nL " +
            "(the stored state pins n — rebuild the checkpoint to change it)")
        book = b
        restored = true
        numRestored += 1
      }
      /** Folds `row` into its group's book (restoring it from a state
        * row); true when the row starts a new group. */
      def step(row: InternalRow): Boolean = {
        var opened = false
        if (keyExprs.nonEmpty) {
          val k = keyProj(row)
          if (curKey == null || !curKey.equals(k)) {
            curKey = k.copy()
            newBook()
            opened = true
          }
        } else if (book == null) { newBook(); opened = true }

        if (stateIdx >= 0 && !row.isNullAt(stateIdx)) restore(row.getBinary(stateIdx))
        else {
          if (bidF.isNull(row)) OrderBookException.missingValue("is_bid")
          if (priceF.isNull(row)) OrderBookException.missingValue("price")
          if (qtyF.isNull(row)) OrderBookException.missingValue("qty")
          val hasPP = !ppF.isNull(row)
          val hasPQ = !pqF.isNull(row)
          Transitions(modeL, book, bidF.get(row), priceF.get(row), qtyF.get(row),
            hasPP, if (hasPP) ppF.get(row) else 0L,
            hasPQ, if (hasPQ) pqF.get(row) else 0L)
        }
        opened
      }
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
        if (book != null) { numRescans += book.rescans; book = null }
      })

      if (emitState) {
        // (keys, state) of a finished group: the key row joined with the blob
        val stateProj = UnsafeProjection.create(
          keyExprs.zipWithIndex.map { case (e, i) => BoundReference(i, e.dataType, e.nullable) } :+
            BoundReference(keyExprs.size, BinaryType, nullable = false))
        val joined = new JoinedRow
        def stateRow(key: InternalRow, b: BookKernel): InternalRow = {
          numOutputRows += 1
          stateProj(joined(if (key == null) InternalRow.empty else key,
            InternalRow(BookCodec.serialize(b.asInstanceOf[OrderBook]))))
        }
        // a row that opens a group ends the one before it; the partition's
        // last group ends with the input (`++` evaluates its side lazily)
        it.flatMap { row =>
          val key = curKey; val b = book
          if (step(row) && b != null) Some(stateRow(key, b)) else None
        } ++ Option(book).map(stateRow(curKey, _))
      } else {
        // appends the bbo row's 4n fields to the input row's bytes; the
        // input's variable-length offsets are rebased, nothing is re-encoded
        val joiner = GenerateUnsafeRowJoiner.create(childSchema, bboSchema)
        lazy val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
        val snap = new Array[Long](4 * nL)
        val bboRow = UnsafeRow.createFromByteArray(
          UnsafeRow.calculateBitSetWidthInBytes(4 * nL) + 32 * nL, 4 * nL)
        it.map { row =>
          step(row)
          BboReplayExec.fillBbo(bboRow, snap, book.snapshotLongs(snap), nL)
          numOutputRows += 1
          joiner.join(row match {
            case u: UnsafeRow => u
            case r => toUnsafe(r)
          }, bboRow)
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): BboReplayExec =
    copy(child = newChild)
}

object BboReplayExec {
  import org.apache.spark.sql.types._

  /** Write a [[BookKernel.snapshotLongs]] snapshot with depths `d` into
    * the reused 4·n-field `row`: each side's first depth levels as longs,
    * null past them. Writes the UnsafeRow layout directly (null bitset,
    * then one 8-byte slot per field); `UnsafeRow.setLong` re-reads and
    * rewrites the bitset word on every call. */
  def fillBbo(row: UnsafeRow, snap: Array[Long], d: Int, n: Int): Unit = {
    val obj = row.getBaseObject; val off = row.getBaseOffset
    val values = off + UnsafeRow.calculateBitSetWidthInBytes(4 * n)
    var w = off
    while (w < values) { Platform.putLong(obj, w, 0L); w += 8 }
    var block = 0 // bid prices, bid qtys, ask prices, ask qtys
    while (block < 4) {
      val depth = if (block < 2) BookKernel.bidDepth(d) else BookKernel.askDepth(d)
      var i = 0
      while (i < n) {
        val slot = block * n + i
        if (i < depth) Platform.putLong(obj, values + 8L * slot, snap(slot))
        else { Platform.putLong(obj, values + 8L * slot, 0L); BitSetMethods.set(obj, off, slot) }
        i += 1
      }
      block += 1
    }
  }

  /** Primitive field reader: `isNull` must be called before `get` on each
    * row (the generic fallback evaluates once in isNull and caches). */
  sealed abstract class LongField {
    def isNull(r: InternalRow): Boolean
    def get(r: InternalRow): Long
  }
  /** The reader of a column the mode does not have: always null. */
  val Absent: LongField = new LongField {
    def isNull(r: InternalRow) = true
    def get(r: InternalRow) = 0L
  }
  sealed abstract class BoolField {
    def isNull(r: InternalRow): Boolean
    def get(r: InternalRow): Boolean
  }

  private def ordinalOf(a: Attribute, output: Seq[Attribute]): Int =
    output.indexWhere(_.exprId == a.exprId)

  /** Resolve an event expression to a direct ordinal getter when it is a
    * bare (possibly cast) attribute — the shape the operator API always
    * produces — else fall back to one interpreted eval per row. */
  def longField(e: Expression, output: Seq[Attribute]): LongField = {
    def direct(a: Attribute): Option[LongField] = {
      val i = ordinalOf(a, output)
      if (i < 0) None
      else a.dataType match {
        case LongType => Some(new LongField {
          def isNull(r: InternalRow) = r.isNullAt(i)
          def get(r: InternalRow) = r.getLong(i)
        })
        case IntegerType => Some(new LongField {
          def isNull(r: InternalRow) = r.isNullAt(i)
          def get(r: InternalRow) = r.getInt(i).toLong
        })
        case ShortType => Some(new LongField {
          def isNull(r: InternalRow) = r.isNullAt(i)
          def get(r: InternalRow) = r.getShort(i).toLong
        })
        case ByteType => Some(new LongField {
          def isNull(r: InternalRow) = r.isNullAt(i)
          def get(r: InternalRow) = r.getByte(i).toLong
        })
        case _ => None
      }
    }
    val resolved = e match {
      case a: Attribute => direct(a)
      case c: Cast if c.dataType == LongType =>
        c.child match {
          case a: Attribute => direct(a)
          case _ => None
        }
      case _ => None
    }
    resolved.getOrElse {
      val bound = BindReferences.bindReference(e, output)
      new LongField {
        private var v: Any = _
        def isNull(r: InternalRow) = { v = bound.eval(r); v == null }
        def get(r: InternalRow) = v.asInstanceOf[Long]
      }
    }
  }

  def boolField(e: Expression, output: Seq[Attribute]): BoolField = {
    def direct(a: Attribute): Option[BoolField] = {
      val i = ordinalOf(a, output)
      if (i >= 0 && a.dataType == BooleanType) Some(new BoolField {
        def isNull(r: InternalRow) = r.isNullAt(i)
        def get(r: InternalRow) = r.getBoolean(i)
      }) else None
    }
    val resolved = e match {
      case a: Attribute => direct(a)
      case c: Cast if c.dataType == BooleanType =>
        c.child match {
          case a: Attribute => direct(a)
          case _ => None
        }
      case _ => None
    }
    resolved.getOrElse {
      val bound = BindReferences.bindReference(e, output)
      new BoolField {
        private var v: Any = _
        def isNull(r: InternalRow) = { v = bound.eval(r); v == null }
        def get(r: InternalRow) = v.asInstanceOf[Boolean]
      }
    }
  }
}

/** Planner strategy mapping the logical node to its exec. Registered
  * idempotently on the session by the OrderBookOps API (and available via
  * `GraftExtensions` for spark.sql.extensions-based setups). */
object BboReplayStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BboReplayNode(mode, n, p, q, b, pp, pq, st, stOut, keys, ord, attrs, child) =>
      BboReplayExec(mode, n, p, q, b, pp, pq, st, stOut, keys, ord, attrs,
        planLater(child)) :: Nil
    case _ => Nil
  }

  def ensureRegistered(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(this))
      spark.experimental.extraStrategies = cur :+ this
  }
}
