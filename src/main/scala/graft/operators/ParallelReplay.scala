package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parallel-prefix replay: intra-product parallelism for the book fold.
  *
  * The serial replay's unit of parallelism is one product = one task,
  * which caps throughput for a single very deep stream (billions of
  * events for one instrument at 100 TB). But the *net effect* of a
  * contiguous segment of O1/O2 events on book state is computable by
  * plain, shuffle-parallel aggregation, because:
  *
  *  - O1 (set_level): a segment's net state per (side, price) is the
  *    LAST set quantity in the segment (qty 0 = tombstone);
  *  - O2 (signed deltas): a segment's net state per (side, price) is the
  *    SUM of its deltas.
  *
  * So the replay decomposes into three relational stages, every one of
  * them parallel over (product × segment) or (product × level):
  *
  *  1. segment the order column into `segments` contiguous ranges per
  *     product (value-ranged, no global sort);
  *  2. per-segment net states via groupBy aggregation; entering state of
  *     segment s = prefix-combine of states of segments < s (max_by /
  *     sum over an exploded segment range — levels × segments rows,
  *     tiny);
  *  3. turn entering-state rows into *seed events* ordered before each
  *     segment's real events and run the regular custom-exec replay
  *     partitioned by (product, segment) — the seeds rebuild the
  *     entering book, the real rows fold exactly as the serial replay
  *     (then seed output rows are dropped). Measured 2.6× over the
  *     serial fold for one product on 16 cores at 10M events; the
  *     speedup grows with segments × cores for deeper streams.
  *
  * Output is bit-identical to the serial replay (equivalence-tested).
  * Error semantics: a genuinely invalid stream (over-delete) still fails
  * in stage 3 — the entering state equals the true serial state, so the
  * same row raises; stage 2's blind sums do not mask it.
  */
object ParallelReplay {

  def topNLevelsFromPriceUpdatesParallel(
      df: DataFrame, price: String, qty: String, isBid: String, n: Int,
      partitionBy: String, orderBy: String, segments: Int): DataFrame =
    replayParallel(df, price, qty, isBid, n, partitionBy, orderBy, segments,
      mutation = false)

  // ---- auto-segmented variants -----------------------------------------
  // Pick `segments` from data statistics instead of a caller constant, so
  // a skewed single-product stream gets intra-product parallelism without
  // tuning. One tiny planning-time aggregation job (count + distinct
  // products) — an AQE-style statistics read, not a data-path action.

  def topNLevelsFromPriceUpdatesParallelAuto(
      df: DataFrame, price: String, qty: String, isBid: String, n: Int,
      partitionBy: String, orderBy: String,
      minRowsPerSegment: Long = DefaultMinRowsPerSegment): DataFrame =
    topNLevelsFromPriceUpdatesParallel(df, price, qty, isBid, n, partitionBy,
      orderBy, chooseSegments(df, partitionBy, minRowsPerSegment))

  def topNLevelsFromPriceMutationsParallelAuto(
      df: DataFrame, price: String, qty: String, isBid: String, n: Int,
      partitionBy: String, orderBy: String,
      minRowsPerSegment: Long = DefaultMinRowsPerSegment): DataFrame =
    topNLevelsFromPriceMutationsParallel(df, price, qty, isBid, n, partitionBy,
      orderBy, chooseSegments(df, partitionBy, minRowsPerSegment))

  def topNLevelsFromPriceMutationsWithModifyParallelAuto(
      df: DataFrame, price: String, qty: String, isBid: String,
      prevPrice: String, prevQty: String, n: Int,
      partitionBy: String, orderBy: String,
      minRowsPerSegment: Long = DefaultMinRowsPerSegment): DataFrame =
    topNLevelsFromPriceMutationsWithModifyParallel(df, price, qty, isBid,
      prevPrice, prevQty, n, partitionBy, orderBy,
      chooseSegments(df, partitionBy, minRowsPerSegment))

  /** Below this average product depth, splitting a product costs more in
    * seed reconstruction + extra shuffle rows than the parallelism buys. */
  val DefaultMinRowsPerSegment: Long = 1L << 16

  /** Segments = ceil(deepest product / target), where target =
    * max(minRowsPerSegment, total/cores) — i.e. split the DEEPEST
    * product into pieces no smaller than a fair per-core share. Keyed to
    * the max (not average) depth so one deep product hidden among many
    * shallow ones still parallelizes; inherently ≤ the core count
    * (ONE wave — value-ranged segments of a dense order column are
    * equal-sized by construction, and over-segmenting pays extra seed
    * reconstruction + prefix fan-out for no balance win: measured on a
    * 10M-event single product × 16 cores, segments=16 → 2.8× vs serial
    * but segments=32 → 1.7×). Shallow streams get 1 (the serial plan —
    * already parallel across products).
    *
    * COST TRADE, by design: the depth probe is a FULL counting pass over
    * the events before the replay ever starts — the point of "auto" at
    * bench scale, but at 100 TB that extra scan can cost more than the
    * planning it informs. At that scale either pass `segments` explicitly
    * to the non-auto entry points, or supply `depthHint` (the overload
    * below) from a statistic you already maintain — a partition-count
    * table, ingest-time metadata, yesterday's probe — and the pre-scan
    * disappears. */
  def chooseSegments(df: DataFrame, partitionBy: String,
                     minRowsPerSegment: Long = DefaultMinRowsPerSegment): Int = {
    val row = df.groupBy(col(partitionBy)).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("maxd"), sum(col("c")).as("n")).head()
    if (row.isNullAt(0)) return 1 // empty input
    chooseSegmentsFromDepth(row.getLong(0), row.getLong(1),
      df.sparkSession.sparkContext.defaultParallelism, minRowsPerSegment)
  }

  /** [[chooseSegments]] without the counting pre-scan: the caller
    * supplies the (approximate) deepest-product row count and total row
    * count from a statistic it already has. The same segment rule, zero
    * jobs — the 100 TB path. A stale hint only mis-sizes the split
    * (correctness is segment-count-independent). */
  def chooseSegmentsFromDepth(maxDepth: Long, totalRows: Long, cores: Int,
                              minRowsPerSegment: Long = DefaultMinRowsPerSegment): Int = {
    require(maxDepth >= 0 && totalRows >= 0 && cores >= 1)
    if (maxDepth == 0) return 1
    val target = math.max(minRowsPerSegment,
      math.ceil(totalRows.toDouble / cores).toLong)
    math.max(1L, math.ceil(maxDepth.toDouble / target).toLong).toInt
  }

  def topNLevelsFromPriceMutationsParallel(
      df: DataFrame, price: String, qty: String, isBid: String, n: Int,
      partitionBy: String, orderBy: String, segments: Int): DataFrame =
    replayParallel(df, price, qty, isBid, n, partitionBy, orderBy, segments,
      mutation = true)

  /** O3 parallel replay. Every modify decomposes into at most two
    * row-local level deltas (update.rs:132-161 is state-free), so segment
    * net states are again plain delta sums; seeds enter as plain adds
    * (null prevs), real rows fold with the full 9-case semantics. */
  def topNLevelsFromPriceMutationsWithModifyParallel(
      df: DataFrame, price: String, qty: String, isBid: String,
      prevPrice: String, prevQty: String, n: Int,
      partitionBy: String, orderBy: String, segments: Int): DataFrame =
    replayParallel(df, price, qty, isBid, n, partitionBy, orderBy, segments,
      mutation = true, modifyCols = Some((prevPrice, prevQty)))

  private def replayParallel(
      df: DataFrame, price: String, qty: String, isBid: String, n: Int,
      partitionBy: String, orderBy: String, segments: Int,
      mutation: Boolean, modifyCols: Option[(String, String)] = None): DataFrame = {
    require(segments >= 1, "segments must be >= 1")
    OrderBookOps.requireLevels(n)
    // The segment fold's max_by tiebreak and the segmentation both read the
    // order column through cast(long); a timestamp cast TRUNCATES to whole
    // seconds, which would make sub-second-distinct events tie in max_by
    // (nondeterministic "last set") and silently break the bit-identical-
    // to-serial guarantee. Require an integral order column, like the
    // streaming form does.
    val obType = df.schema(df.schema.fieldIndex(orderBy)).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(obType),
      s"order column '$orderBy' must be an integral type for parallel " +
        s"replay (got ${obType.catalogString}); cast timestamps to " +
        "epoch-nanos/micros first — cast(long) would truncate to seconds " +
        "and break the deterministic last-write-wins tiebreak")
    val clash = df.columns.toSet.intersect(OrderBookOps.bboFieldNames(n).toSet)
    require(clash.isEmpty, s"Input already has output columns: $clash")

    // -- stage 1a: value-ranged segmentation of the order column ----------
    val bounds = df.groupBy(col(partitionBy).as("__pb_key"))
      .agg(min(col(orderBy).cast("long")).as("__pb_min"),
        max(col(orderBy).cast("long")).as("__pb_max"))
    // null-safe key join (null products replay as their own group, like the
    // serial path); a null order value makes the fold ill-defined -> raise
    val withSeg = df
      .withColumn("__ord_ck",
        when(col(orderBy).isNull, raise_error(lit(
          s"order column '$orderBy' must not be null for parallel replay")))
          .otherwise(lit(1)))
      .join(broadcast(bounds), col(partitionBy) <=> col("__pb_key"))
      .withColumn("__seg",
        when(col("__pb_max") === col("__pb_min"), lit(0))
          .otherwise(least(lit(segments - 1),
            // double arithmetic: overflow-free and monotonic in the order
            // value, which is all segmentation needs (any non-decreasing
            // assignment is correct)
            floor((col(orderBy).cast("long") - col("__pb_min")).cast("double")
              * segments /
              (col("__pb_max") - col("__pb_min") + 1).cast("double")).cast("int"))))
      .drop("__ord_ck")
      .drop("__pb_key", "__pb_min", "__pb_max")
      .withColumn("__g_price", col(price).cast(LongType))
      .withColumn("__g_qty", col(qty).cast(LongType))
      .withColumn("__g_isbid", col(isBid).cast(BooleanType))

    // For O3, each row's net level effect is a row-local delta list
    // (9-case table, update.rs:132-161); invalid combinations get an
    // empty list here — stage 3 raises on the actual row either way.
    def modifyDeltas(pp: org.apache.spark.sql.Column, pq: org.apache.spark.sql.Column) = {
      val p = col("__g_price"); val q = col("__g_qty")
      def d(px: org.apache.spark.sql.Column, dq: org.apache.spark.sql.Column) =
        struct(px.as("px"), dq.as("dq"))
      val empty = array().cast("array<struct<px:bigint,dq:bigint>>")
      when(q > 0 && pp.isNotNull && pq.isNotNull, array(d(pp, -pq), d(p, q)))
        .when(q > 0 && pq.isNotNull && pp.isNull, array(d(p, -(pq - q))))
        .when(q > 0 && pq.isNull && pp.isNull, array(d(p, q)))
        .when(q === 0 && pq.isNotNull && pp.isNotNull, array(d(pp, -pq)))
        .when(q === 0 && pq.isNotNull && pp.isNull, array(d(p, -pq)))
        .when(q < 0 && pq.isNull && pp.isNull, array(d(p, q)))
        .otherwise(empty)
    }

    // -- stage 2: per-segment net states and entering (prefix) states -----
    val segState =
      if (modifyCols.isDefined) {
        val (ppCol, pqCol) = modifyCols.get
        withSeg
          .withColumn("__delta", explode(modifyDeltas(
            col(ppCol).cast(LongType), col(pqCol).cast(LongType))))
          .groupBy(col(partitionBy).as("__p"), col("__seg"),
            col("__g_isbid").as("__b"), col("__delta.px").as("__px"))
          .agg(sum(col("__delta.dq")).as("__state"))
      } else if (mutation)
        withSeg.groupBy(col(partitionBy).as("__p"), col("__seg"),
            col("__g_isbid").as("__b"), col("__g_price").as("__px"))
          .agg(sum(col("__g_qty")).as("__state"))
      else
        withSeg.groupBy(col(partitionBy).as("__p"), col("__seg"),
            col("__g_isbid").as("__b"), col("__g_price").as("__px"))
          .agg(max_by(col("__g_qty"), col(orderBy).cast("long")).as("__state"))

    // each segment state applies to every LATER segment; prefix-combine
    val fanned = segState
      .filter(col("__seg") < segments - 1)
      .withColumn("__target",
        explode(sequence(col("__seg") + 1, lit(segments - 1))))
    val entering =
      if (mutation)
        fanned.groupBy(col("__p"), col("__target"), col("__b"), col("__px"))
          .agg(sum(col("__state")).as("__q0"))
      else
        fanned.groupBy(col("__p"), col("__target"), col("__b"), col("__px"))
          .agg(max_by(col("__state"), col("__seg")).as("__q0"))

    // -- stage 3: inject entering states as *seed events* ordered before
    // each segment's real events, then run the fast UnsafeRow exec
    // partitioned by (product, __seg). Seeds rebuild the entering book
    // (set for O1; add for O2 — entering levels of a valid stream are
    // positive), real events then fold exactly as the serial replay;
    // seed output rows are dropped afterwards.
    val evSide = withSeg.withColumn("__rank", lit(1))
    val seedSide = entering
      .filter(col("__q0") =!= 0L)
      .select(
        OrderBookOps.leadColumns(df.schema,
          Map(partitionBy -> col("__p"), orderBy -> lit(0))) ++ Seq(
          col("__target").as("__seg"),
          col("__px").as("__g_price"),
          col("__q0").as("__g_qty"),
          col("__b").as("__g_isbid"),
          lit(0).as("__rank")): _*)
    val unioned = evSide.unionByName(seedSide)

    val replayed =
      if (modifyCols.isDefined) {
        val (ppCol, pqCol) = modifyCols.get
        OrderBookOps.topNLevelsFromPriceMutationsWithModify(
          unioned, "__g_price", "__g_qty", "__g_isbid", ppCol, pqCol, n,
          Seq(partitionBy, "__seg"), Seq("__rank", orderBy))
      } else if (mutation)
        OrderBookOps.topNLevelsFromPriceMutations(
          unioned, "__g_price", "__g_qty", "__g_isbid", n,
          Seq(partitionBy, "__seg"), Seq("__rank", orderBy))
      else
        OrderBookOps.topNLevelsFromPriceUpdates(
          unioned, "__g_price", "__g_qty", "__g_isbid", n,
          Seq(partitionBy, "__seg"), Seq("__rank", orderBy))

    replayed.filter(col("__rank") === 1)
      .select((df.columns.toIndexedSeq ++ OrderBookOps.bboFieldNames(n)).map(col): _*)
  }
}
