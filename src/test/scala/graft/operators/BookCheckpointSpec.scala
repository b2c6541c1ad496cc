package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint/resume contract: resuming day 2 from the persisted day-1
  * book state is output-identical to the full replay's day-2 rows; the
  * stored state pins n; unknown groups start fresh; duplicate
  * checkpoint rows fail loudly. */
class BookCheckpointSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Deterministic multi-product O1 stream: prices cycle, every 5th qty
    * is 0 (level removal), seq is the global order. */
  private def stream(nRows: Int): DataFrame =
    spark.range(nRows).select(
      col("id").as("seq"),
      (col("id") % 3).as("product"),
      (col("id") % 2 === 0).as("is_bid"),
      (col("id") * 2654435761L % 23 + 10).as("price"),
      when(col("id") % 5 === 0, 0L)
        .otherwise(col("id") * 48271 % 50 + 1).as("qty"))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("resume from day-1 state == full replay restricted to day 2") {
    val full = stream(400)
    val day1 = full.filter(col("seq") < 200)
    val day2 = full.filter(col("seq") >= 200)
    val state = BookCheckpoint.bookStateSnapshots(day1,
      "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
    assert(state.count() == 3) // one row per product
    val resumed = BookCheckpoint.resumeTopNLevelsFromPriceUpdates(day2,
      state, "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
    val reference = OrderBookOps.topNLevelsFromPriceUpdates(full,
        "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
      .filter(col("seq") >= 200)
    assert(rows(resumed.orderBy("seq")) == rows(reference.orderBy("seq")))
  }

  test("mutations mode: resume from day-1 state == full O2 replay's day 2") {
    // signed mutations that never over-delete: adds only (all positive)
    val full = spark.range(300).select(
      col("id").as("seq"),
      (col("id") % 3).as("product"),
      (col("id") % 2 === 0).as("is_bid"),
      (col("id") * 2654435761L % 23 + 10).as("price"),
      (col("id") * 48271 % 50 + 1).as("qty"))
    val day1 = full.filter(col("seq") < 150)
    val day2 = full.filter(col("seq") >= 150)
    val state = BookCheckpoint.bookStateSnapshotsFromMutations(day1,
      "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
    val resumed = BookCheckpoint.resumeTopNLevelsFromPriceMutations(day2,
      state, "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
    val reference = OrderBookOps.topNLevelsFromPriceMutations(full,
        "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
      .filter(col("seq") >= 150)
    assert(rows(resumed.orderBy("seq")) == rows(reference.orderBy("seq")))
  }

  test("modify mode: resume from day-1 state == full O3 replay's day 2") {
    import org.apache.spark.sql.expressions.Window
    // valid modify stream: slot names "the order"; lag over the slot's
    // FULL history gives exact prevs, so day-2 rows modify day-1 orders
    val base = spark.range(300).select(
      col("id").as("seq"),
      (col("id") % 3).as("product"),
      (col("id") % 2 === 0).as("is_bid"),
      (col("id") * 2654435761L % 23 + 10).as("price"),
      (col("id") * 48271 % 50 + 1).as("qty"),
      ((col("id") * 31) % 4).as("slot"))
    val w = Window.partitionBy(col("product"), col("is_bid"), col("slot"))
      .orderBy(col("seq"))
    val full = base
      .withColumn("prev_price", lag(col("price"), 1).over(w))
      .withColumn("prev_qty", lag(col("qty"), 1).over(w))
    val day1 = full.filter(col("seq") < 150)
    val day2 = full.filter(col("seq") >= 150)
    val state = BookCheckpoint.bookStateSnapshotsFromMutationsWithModify(day1,
      "price", "qty", "is_bid", "prev_price", "prev_qty", 2,
      Seq("product"), Seq("seq"))
    val resumed = BookCheckpoint.resumeTopNLevelsFromPriceMutationsWithModify(
      day2, state, "price", "qty", "is_bid", "prev_price", "prev_qty", 2,
      Seq("product"), Seq("seq"))
    val reference = OrderBookOps.topNLevelsFromPriceMutationsWithModify(full,
        "price", "qty", "is_bid", "prev_price", "prev_qty", 2,
        Seq("product"), Seq("seq"))
      .filter(col("seq") >= 150)
    assert(rows(resumed.orderBy("seq")) == rows(reference.orderBy("seq")))
  }

  test("a group with no checkpoint row starts from an empty book") {
    val full = stream(120)
    // checkpoint built WITHOUT product 2's history
    val state = BookCheckpoint.bookStateSnapshots(
      full.filter(col("seq") < 60 && col("product") =!= 2),
      "price", "qty", "is_bid", 1, Seq("product"), Seq("seq"))
    val day2 = full.filter(col("seq") >= 60)
    val resumed = BookCheckpoint.resumeTopNLevelsFromPriceUpdates(day2,
      state, "price", "qty", "is_bid", 1, Seq("product"), Seq("seq"))
    // product 2's rows equal a FRESH replay of only its day-2 events
    val fresh = OrderBookOps.topNLevelsFromPriceUpdates(
        day2.filter(col("product") === 2),
        "price", "qty", "is_bid", 1, Seq("product"), Seq("seq"))
    assert(rows(resumed.filter(col("product") === 2).orderBy("seq"))
      == rows(fresh.orderBy("seq")))
    // the checkpointed products still match the spliced reference
    val reference = OrderBookOps.topNLevelsFromPriceUpdates(
        full.filter(col("product") =!= 2), "price", "qty", "is_bid", 1,
        Seq("product"), Seq("seq"))
      .filter(col("seq") >= 60)
    assert(rows(resumed.filter(col("product") =!= 2).orderBy("seq"))
      == rows(reference.orderBy("seq")))
  }

  test("the replay exec counts one restored book per checkpoint row") {
    val full = stream(120)
    // K = 2 state rows (products 0 and 1) for N = 3 products with events
    val state = BookCheckpoint.bookStateSnapshots(
      full.filter(col("seq") < 60 && col("product") =!= 2),
      "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
    val resumed = BookCheckpoint.resumeTopNLevelsFromPriceUpdates(
      full.filter(col("seq") >= 60), state,
      "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
    assert(resumed.collect().length == 60)
    val exec = graft.SpecSupport.replayExec(resumed)
    assert(exec.metrics("numRestored").value == 2)
    assert(exec.metrics("numBooks").value == 3)
  }

  test("snapshots and resumed snapshots run in the replay exec") {
    val full = stream(120)
    // 2 state rows (products 0 and 1) for 3 products; product 1 is idle on day 2
    val state = BookCheckpoint.bookStateSnapshots(
      full.filter(col("seq") < 60 && col("product") =!= 2),
      "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
    assert(state.collect().length == 2)
    val snapExec = graft.SpecSupport.replayExec(state)
    assert(snapExec.metrics("numBooks").value == 2)
    assert(snapExec.metrics("numOutputRows").value == 2)
    val rolled = BookCheckpoint.bookStateSnapshotsResumed(
      full.filter(col("seq") >= 60 && col("product") =!= 1), state,
      "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
    assert(rolled.collect().length == 3)
    val exec = graft.SpecSupport.replayExec(rolled)
    assert(exec.metrics("numRestored").value == 2)
    assert(exec.metrics("numBooks").value == 3)
    assert(exec.metrics("numOutputRows").value == 3)
  }

  test("a snapshot relation joins with itself") {
    val state = BookCheckpoint.bookStateSnapshots(stream(60),
      "price", "qty", "is_bid", 1, Seq("product"), Seq("seq"))
    val pairs = state.as("a").join(state.as("b"), col("a.product") === col("b.product"))
      .select(col("a.book_state") === col("b.book_state")).collect()
    assert(pairs.length == 3 && pairs.forall(_.getBoolean(0)))
  }

  test("the stored state pins n: resuming at a different n fails loudly") {
    val full = stream(60)
    val state = BookCheckpoint.bookStateSnapshots(
      full.filter(col("seq") < 30),
      "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
    val e = intercept[Exception] {
      BookCheckpoint.resumeTopNLevelsFromPriceUpdates(
        full.filter(col("seq") >= 30), state,
        "price", "qty", "is_bid", 3, Seq("product"), Seq("seq")).collect()
    }
    assert(e.getMessage.contains("checkpoint was built at n=2") ||
      e.getCause != null && e.getCause.getMessage.contains("checkpoint was built at n=2"))
  }

  test("7-day checkpoint chain == one-shot snapshot AND full-replay day 7") {
    val full = stream(700)
    def day(d: Int) = full.filter(
      col("seq") >= d * 100 && col("seq") < (d + 1) * 100)
    // roll the state forward one day at a time
    var states = BookCheckpoint.bookStateSnapshots(day(0),
      "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
    for (d <- 1 until 7) {
      states = BookCheckpoint.bookStateSnapshotsResumed(day(d), states,
        "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
        .localCheckpoint() // the day boundary: yesterday's state is a file
    }
    // chained state ≡ one-shot state over the whole week — compared
    // SEMANTICALLY via a probe day (a qty-0 update at an absent price
    // is a no-op that makes every book emit its current top-2), since
    // the codec's level-map byte order legitimately differs between a
    // deserialize-and-advance book and a fresh replay of the same events
    val oneShot = BookCheckpoint.bookStateSnapshots(full,
      "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
    val probe = spark.range(3).select(
      lit(10000L).as("seq"), col("id").as("product"),
      lit(true).as("is_bid"), lit(999L).as("price"), lit(0L).as("qty"))
    def probed(st: DataFrame) = rows(
      BookCheckpoint.resumeTopNLevelsFromPriceUpdates(probe, st,
        "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
        .orderBy("product"))
    assert(probed(states) == probed(oneShot))
    assert(states.count() == 3, "one state row per live product")
    // resuming day 7 from the day-6 chained state == full replay's day 7
    val states6 = {
      var s = BookCheckpoint.bookStateSnapshots(day(0),
        "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
      for (d <- 1 until 6)
        s = BookCheckpoint.bookStateSnapshotsResumed(day(d), s,
          "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
          .localCheckpoint()
      s
    }
    val resumed = BookCheckpoint.resumeTopNLevelsFromPriceUpdates(day(6),
      states6, "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
    val reference = OrderBookOps.topNLevelsFromPriceUpdates(full,
        "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
      .filter(col("seq") >= 600)
    assert(rows(resumed.orderBy("seq")) == rows(reference.orderBy("seq")))
  }

  test("resumed snapshots carry forward groups with no events that day") {
    val full = stream(120)
    val day1 = full.filter(col("seq") < 60)
    // day 2 contains ONLY product 0's events; products 1 and 2 are idle
    val day2 = full.filter(col("seq") >= 60 && col("product") === 0)
    val s1 = BookCheckpoint.bookStateSnapshots(day1,
      "price", "qty", "is_bid", 1, Seq("product"), Seq("seq"))
    val s2 = BookCheckpoint.bookStateSnapshotsResumed(day2, s1,
      "price", "qty", "is_bid", 1, Seq("product"), Seq("seq"))
    val m1 = s1.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val m2 = s2.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(m2.keySet == Set(0L, 1L, 2L))
    assert(m2(1L) == m1(1L) && m2(2L) == m1(2L), "idle books must carry forward")
    assert(m2(0L) != m1(0L), "traded book must have advanced")
  }

  test("duplicate checkpoint rows for one group fail loudly") {
    val full = stream(60)
    val state = BookCheckpoint.bookStateSnapshots(
      full.filter(col("seq") < 30),
      "price", "qty", "is_bid", 1, Seq("product"), Seq("seq"))
    val doubled = state.union(state)
    val e = intercept[Exception] {
      BookCheckpoint.resumeTopNLevelsFromPriceUpdates(
        full.filter(col("seq") >= 30), doubled,
        "price", "qty", "is_bid", 1, Seq("product"), Seq("seq")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("multiple checkpoint rows")))
  }

  test("resume rejects an empty orderBy at query build time, in every mode") {
    val full = stream(60)
      .withColumn("pp", lit(null).cast("long"))
      .withColumn("pq", lit(null).cast("long"))
    val state = BookCheckpoint.bookStateSnapshots(
      full.filter(col("seq") < 30),
      "price", "qty", "is_bid", 1, Seq("product"), Seq("seq"))
    val day2 = full.filter(col("seq") >= 30)
    val calls: Seq[() => DataFrame] = Seq(
      () => BookCheckpoint.resumeTopNLevelsFromPriceUpdates(day2, state,
        "price", "qty", "is_bid", 1, Seq("product"), Seq()),
      () => BookCheckpoint.resumeTopNLevelsFromPriceMutations(day2, state,
        "price", "qty", "is_bid", 1, Seq("product"), Seq()),
      () => BookCheckpoint.resumeTopNLevelsFromPriceMutationsWithModify(
        day2, state, "price", "qty", "is_bid", "pp", "pq", 1,
        Seq("product"), Seq()))
    calls.foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(
        "orderBy must be non-empty: book replay is order-sensitive"))
    }
  }

  test("a duplicate checkpoint row names its group with external values") {
    val full = stream(60)
      .withColumn("day", date_add(lit(java.sql.Date.valueOf("2024-03-01")),
        col("product").cast("int")))
    val state = BookCheckpoint.bookStateSnapshots(
      full.filter(col("seq") < 30),
      "price", "qty", "is_bid", 1, Seq("day"), Seq("seq"))
    val e = intercept[Exception] {
      BookCheckpoint.resumeTopNLevelsFromPriceUpdates(
        full.filter(col("seq") >= 30), state.union(state),
        "price", "qty", "is_bid", 1, Seq("day"), Seq("seq")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null &&
      m.matches("(?s).*multiple checkpoint rows for group 2024-03-0[123].*")),
      msgs(e).mkString(" | "))
  }

  test("a non-default stateCol chains day over day (output column is " +
    "stateCol, clash checked against it)") {
    val full = stream(300)
    val day = (d: Int) =>
      full.filter(col("seq") >= d * 100 && col("seq") < (d + 1) * 100)
    // day 1 state under the custom name, via a rename of the producer
    var states = BookCheckpoint.bookStateSnapshots(day(0),
        "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
      .withColumnRenamed("book_state", "snap")
    // two more days fed back with the SAME stateCol argument — the
    // round-11 defect made day 2 throw (output was book_state, so day
    // 3's fieldIndex("snap") failed)
    for (d <- 1 to 2)
      states = BookCheckpoint.bookStateSnapshotsResumed(day(d), states,
        "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"),
        stateCol = "snap")
    assert(states.columns.toSeq == Seq("product", "snap"))
    // and the chained result equals the default-named chain
    var ref = BookCheckpoint.bookStateSnapshots(day(0),
      "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
    for (d <- 1 to 2)
      ref = BookCheckpoint.bookStateSnapshotsResumed(day(d), ref,
        "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"))
    val got = states.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val exp = ref.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(got == exp)
    // the clash check follows the custom name: an input already carrying
    // `snap` is refused, one carrying `book_state` is fine
    val clash = day(1).withColumn("snap", lit(Array[Byte]()))
    val e = intercept[IllegalArgumentException] {
      BookCheckpoint.bookStateSnapshotsResumed(clash, states,
        "price", "qty", "is_bid", 2, Seq("product"), Seq("seq"),
        stateCol = "snap")
    }
    assert(e.getMessage.contains("snap"))
  }
}
