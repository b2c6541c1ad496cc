package graft

import graft.pipeline.StatsOps
import org.apache.spark.sql.functions._

/** Scale soak for the persisted HLL register index (the 7th stored
  * artifact): build over a large value stream, append a delta, and
  * estimate from storage — with the claims behind the design measured,
  * not asserted:
  *
  *  1. the register relation (and therefore the stored artifact and
  *     every estimate-side job) stays ≤ groups × m rows while the
  *     input grows arbitrarily;
  *  2. append cost tracks the DELTA (one register fold over new rows +
  *     a register-sized max-merge), never a rescan of history;
  *  3. the estimate lands inside the sketch's documented error band
  *     (~1.04/√m relative) against the closed-form distinct count the
  *     generator guarantees — at cardinalities (tens of millions) the
  *     small-SF oracle gate cannot reach.
  *
  * Inputs are deterministic functions of spark.range — no files, no
  * RNG; true cardinalities are closed-form (range sizes), so accuracy
  * is checked without an exact-distinct job over the data.
  * Args: [nRows] [deltaRows] (defaults 50M / 10M). */
object SketchSoakMain {
  def main(args: Array[String]): Unit = {
    val nRows = args.headOption.map(_.toLong).getOrElse(50000000L)
    val nDelta = args.drop(1).headOption.map(_.toLong).getOrElse(10000000L)
    val m = 1024
    val spark = GraftSession()

    def time[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$label%-52s $s%8.2f s"); (r, s)
    }

    // each group folds its OWN dense range mod a distinct cardinality:
    // a full range mod d covers every residue exactly (no coverage
    // holes), duplicates arrive via the wraparound so the fold does
    // real max-merging, and the true distinct counts are the moduli
    val d0 = nRows * 7 / 10
    val d1 = nRows / 5
    def day1 = spark.range(2 * nRows).select(
      when(col("id") < nRows, lit("g0")).otherwise(lit("g1")).as("g"),
      when(col("id") < nRows, concat(lit("v"), pmod(col("id"), lit(d0))))
        .otherwise(concat(lit("v"), pmod(col("id") - nRows, lit(d1))))
        .as("v"))
    // delta: straddles g0's value boundary — the lower half re-sends
    // known values (append must not double-count), the upper half is new
    def day2 = spark.range(d0 - nDelta / 2, d0 + nDelta / 2)
      .select(lit("g0").as("g"), concat(lit("v"), col("id")).as("v"))

    val dir = java.nio.file.Files.createTempDirectory("graft_hll_soak")
      .toString + "/idx"
    val (_, tBuild) = time(f"build HLL index over $nRows%,d rows (m=$m)") {
      StatsOps.writeHllIndex(day1, Seq("g"), col("v"), dir, m)
    }
    val meta1 = StatsOps.readHllIndexMeta(spark, dir)
    println(f"  stored registers: ${meta1.regRows}%,d rows " +
      f"(bound ${2 * m}%,d = groups x m) for ${nRows}%,d input rows")
    require(meta1.regRows <= 2L * m)

    val (_, tAppend) = time(f"append $nDelta%,d-row delta (epoch ${meta1.epoch + 1})") {
      StatsOps.appendHllIndex(spark, dir, day2, col("v"))
    }
    println(f"  append/build = ${tAppend / tBuild}%.2f x at a " +
      f"${nDelta.toDouble / nRows}%.2f x delta (cost tracks the delta, " +
      "plus a register-sized merge)")

    val (est, tEst) = time("estimate from storage (no data scan)") {
      StatsOps.estimateFromStoredHll(spark, dir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    // closed-form truths: g0 = its modulus plus the delta's new upper
    // half (the lower half re-sent known values); g1 = its modulus
    val trueG0 = d0 + nDelta / 2
    val trueG1 = d1
    Seq(("g0", trueG0), ("g1", trueG1)).foreach { case (g, truth) =>
      val e = est(g)
      val errPermille = math.abs(e - truth) * 1000 / truth
      println(f"  $g: est $e%,d vs true $truth%,d (err ${errPermille}%d permille; " +
        f"3-sigma band at m=$m ~ ${3 * 1040 / math.sqrt(m.toDouble)}%.0f)")
      require(errPermille < (3 * 1040 / math.sqrt(m.toDouble)).toLong + 10,
        s"$g estimate outside the 3-sigma band")
    }
    // ---- quantile-sketch index (8th artifact) at the same scale ----------
    // uniform value stream with CLOSED-FORM quantiles: v = (id % D)·37,
    // each value appearing nRows/D times — the true p‰ quantile is
    // ((rank−1) // (nRows/D))·37 exactly. The append leg folds in a
    // SECOND copy of the same distribution: counts double, quantiles
    // must NOT move (scale invariance) — a strong truth that needs no
    // union-side recount.
    val S = 5
    val qD = math.max(nRows / 50, 1000L)
    val qC = nRows / qD
    def qday = spark.range(qC * qD).select(lit("q0").as("g"),
      (pmod(col("id"), lit(qD)) * 37L).as("v"))
    val qPerms = Seq(500, 900, 990)
    def qTrue(p: Int): Long = {
      val n = qC * qD
      val rank = (p * n + 999) / 1000
      (rank - 1) / qC * 37L
    }
    val qDir = java.nio.file.Files.createTempDirectory("graft_qs_soak")
      .toString + "/idx"
    val (_, tQBuild) = time(
      f"build quantile index over ${qC * qD}%,d rows (subBits=$S)") {
      StatsOps.writeQuantileIndex(qday, Seq("g"), col("v"), qDir, S)
    }
    val qMeta1 = StatsOps.readQuantileIndexMeta(spark, qDir)
    val qBound = (64 - S + 1).toLong * (1L << S)
    println(f"  stored buckets: ${qMeta1.bucketRows}%,d rows " +
      f"(bound $qBound%,d) for ${qC * qD}%,d input rows")
    require(qMeta1.bucketRows <= qBound)
    val qFirst = StatsOps.quantilesFromStoredSketch(spark, qDir, qPerms)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val (_, tQAppend) = time(
      f"append a second full copy (epoch ${qMeta1.epoch + 1})") {
      StatsOps.appendQuantileIndex(spark, qDir, qday, col("v"))
    }
    val (qStored, tQRead) = time("quantiles from storage (no data scan)") {
      StatsOps.quantilesFromStoredSketch(spark, qDir, qPerms)
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    }
    require(qStored == qFirst,
      s"doubling every count moved a quantile: $qFirst -> $qStored")
    qPerms.foreach { p =>
      val truth = qTrue(p); val got = qStored(p.toLong)
      val errPermille =
        if (truth == 0) 0L else math.abs(truth - got) * 1000 / truth
      println(f"  p$p: sketch $got%,d vs true $truth%,d " +
        f"(err ${errPermille}%d permille; guarantee < ${1000 >> S}%d + grid)")
      require(got <= truth, s"p$p: sketch $got must not exceed true $truth")
      require(truth - got <= math.max(truth >> S, 1L) + (1L << S),
        s"p$p outside the 2^-$S band: $got vs $truth")
    }
    println(f"  append/build = ${tQAppend / tQBuild}%.2f x at a 1.00 x " +
      "delta (bounded merge rides the delta fold)")

    println(f"SOAK OK  hll build $tBuild%.1f s append $tAppend%.1f s " +
      f"estimate $tEst%.2f s | ${meta1.regRows}%,d registers | qsketch " +
      f"build $tQBuild%.1f s append $tQAppend%.1f s read $tQRead%.2f s | " +
      f"${qMeta1.bucketRows}%,d buckets")
    spark.stop()
  }
}
