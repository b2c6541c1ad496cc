package graft

import graft.pipeline.StatsOps
import org.apache.spark.sql.functions._

/** Scale soak for the persisted count-min frequency index — the
  * frequency member of the sketch family, measured under the load the
  * registry's sf rows cannot reach:
  *
  *  1. the cell relation (and so the stored artifact and every
  *     probe-side job) stays ≤ groups × depth × width rows while the
  *     input grows arbitrarily — here 50M occurrences over ~45M
  *     DISTINCT keys, the regime where exact per-key counting is the
  *     thing you are trying not to pay for;
  *  2. append cost tracks the DELTA (one cell fold over new rows + a
  *     cell-relation-sized SUM-merge), never a rescan of history;
  *  3. the point estimates obey the one-sided contract exactly
  *     (est ≥ truth, with the truths closed-form) and land inside the
  *     published ε = e/width overestimate band with slack;
  *  4. heavy hitters flagged off the STORED sketch are a superset of
  *     the true hot set (no false negatives — the guarantee), and at
  *     this width exactly the hot set (no false positives measured).
  *
  * Inputs are deterministic functions of spark.range — no files, no
  * RNG; true counts are closed-form: ids with id%100 < 10 map to the
  * ten hot keys (n/100 occurrences each), the rest are UNIQUE tail
  * keys (count 1), so the sketch carries a heavy head over a huge
  * sparse tail — the worst honest case for cell noise.
  * Args: [nRows] [deltaRows] (defaults 50M / 10M). */
object FreqSoakMain {
  def main(args: Array[String]): Unit = {
    val nRows = args.headOption.map(_.toLong).getOrElse(50000000L)
    val nDelta = args.drop(1).headOption.map(_.toLong).getOrElse(10000000L)
    require(nRows % 100 == 0 && nDelta % 100 == 0,
      "row counts must be multiples of 100 so hot-key truths are exact")
    val depth = 4
    val width = 1 << 16
    val spark = GraftSession()

    def time[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$label%-52s $s%8.2f s"); (r, s)
    }

    // id%100 in [0,10) -> hot key (each of the 10 gets exactly n/100);
    // otherwise a globally unique tail key (count 1). The tail id space
    // is offset per slice so day2's tail never collides with day1's.
    def stream(n: Long, tailOffset: Long) = spark.range(n).select(
      lit("g").as("g"),
      when(pmod(col("id"), lit(100L)) < 10,
          concat(lit("hot"), pmod(col("id"), lit(100L))))
        .otherwise(concat(lit("t"), col("id") + lit(tailOffset))).as("v"))

    val dir = java.nio.file.Files.createTempDirectory("graft_cms_soak")
      .toString + "/idx"
    val (_, tBuild) = time(f"build CMS index over $nRows%,d rows (d=$depth, w=$width)") {
      StatsOps.writeCmsIndex(stream(nRows, 0L), Seq("g"), col("v"), dir,
        depth, width)
    }
    val meta1 = StatsOps.readCmsIndexMeta(spark, dir)
    println(f"  stored cells: ${meta1.cellRows}%,d rows " +
      f"(bound ${depth * width}%,d = depth x width) for $nRows%,d occurrences " +
      f"over ~${nRows * 9 / 10}%,d distinct keys")
    require(meta1.cellRows <= depth.toLong * width)

    val (_, tAppend) = time(f"append $nDelta%,d-row delta (epoch ${meta1.epoch + 1})") {
      StatsOps.appendCmsIndex(spark, dir, stream(nDelta, 2 * nRows),
        col("v"))
    }
    println(f"  append/build = ${tAppend / tBuild}%.2f x at a " +
      f"${nDelta.toDouble / nRows}%.2f x delta (cost tracks the delta, " +
      "plus a cell-relation-sized merge)")

    // closed-form truths after the append: hot_k = (nRows+nDelta)/100;
    // the probed tail keys carry exactly 1; the "never" keys 0 truth
    val hotTruth = (nRows + nDelta) / 100
    val probes = spark.range(10).select(lit("g").as("g"),
        concat(lit("hot"), col("id")).as("v"))
      .union(spark.range(3).select(lit("g").as("g"),
        concat(lit("t"), col("id") * 101 + 17).as("v")))   // id%100 >= 10: real tail ids
      .union(spark.range(2).select(lit("g").as("g"),
        concat(lit("never"), col("id")).as("v")))
    val (est, tEst) = time("point estimates from storage (no data scan)") {
      StatsOps.estimateFromStoredCms(spark, dir, probes, "v")
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    }
    // ε = e/width, over the TOTAL stream mass; 3x slack for the minimum
    // over depth rows landing unluckily — still ~50x tighter than naive
    val epsBand = math.ceil(math.E / width * (nRows + nDelta)).toLong
    println(f"  hot-key estimates vs truth $hotTruth%,d " +
      f"(eps-band +$epsBand%,d): " +
      (0 until 10).map(k => est(s"hot$k") - hotTruth).mkString("[", ", ", "] over"))
    (0 until 10).foreach { k =>
      val e = est(s"hot$k")
      require(e >= hotTruth, s"hot$k: est $e BELOW truth $hotTruth — one-sided bound broken")
      require(e <= hotTruth + 3 * epsBand,
        s"hot$k: est $e exceeds truth + 3x eps band (${hotTruth + 3 * epsBand})")
    }
    Seq(17L, 118L, 219L).zipWithIndex.foreach { case (tid, i) =>
      val e = est(s"t$tid")
      require(e >= 1, s"t$tid: est $e below its true count 1")
      require(e <= 1 + 3 * epsBand, s"t$tid: est $e exceeds 1 + 3x eps band")
      if (i == 0) println(f"  sample tail-key estimate: $e%,d (truth 1)")
    }
    // unseen keys may still collide into occupied cells: bounded by the
    // same band, NOT required to be zero (that's the honest contract)
    (0 until 2).foreach { k =>
      require(est(s"never$k") <= 3 * epsBand,
        s"never$k: est ${est(s"never$k")} exceeds the eps band for an unseen key")
    }

    // heavy hitters off the stored sketch: threshold at half the hot
    // truth — must flag ALL hot keys (the guarantee); at this width the
    // tail noise sits ~3 orders below the threshold, so false
    // positives measured (not guaranteed) to be zero
    val (hh, tHh) = time("heavy hitters from storage (hot-key candidates)") {
      StatsOps.estimateFromStoredCms(spark, dir, probes, "v")
        .filter(col("est") >= hotTruth / 2)
        .collect().map(_.getString(1)).toSet
    }
    require((0 until 10).forall(k => hh.contains(s"hot$k")),
      s"missing hot keys in $hh — CMS false negatives are impossible")
    println(f"  flagged ${hh.size} keys at threshold ${hotTruth / 2}%,d " +
      "(10 hot keys planted; false positives measured: " +
      s"${hh.size - 10})")

    println(f"TOTAL build $tBuild%.1f s + append $tAppend%.1f s + " +
      f"probe ${tEst + tHh}%.1f s; cells ${meta1.cellRows}%,d rows")
    spark.stop()
  }
}
