package graft

import graft.pipeline.SnapshotOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot-lifecycle soak at ~2000× bench scale: two deterministic
  * 10M-doc crawls (digests synthesized via xxhash64 — the operators
  * compare stored digests, so the hash kernel itself is out of scope
  * here), a daily-delta-sized change set (1/1000 removed, 1/1000 added,
  * 1/500 revised), measured on local[32] and recorded in BASELINE.md:
  *
  *  1. [[SnapshotOps.snapshotDiff]] — one narrow-row full-outer join
  *     over 2×10M (id, digest, source) rows; per-status counts are
  *     asserted against the closed-form residue-class arithmetic, so a
  *     join/classification bug fails the soak rather than skewing it.
  *  2. [[SnapshotOps.applyDelta]] — 10M-row base, 30k upserts, 10k
  *     tombstones: the dead-id side broadcasts and the base is never
  *     exchanged, so merge cost should track a base scan. Equality with
  *     the new crawl is asserted by count + digest-sum (order-free).
  *
  * Inputs are deterministic functions of spark.range — no files, no
  * RNG. Args: [nDocs] (default 10M). */
object SnapshotSoakMain {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val spark = GraftSession()

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label%-46s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
    }

    // crawl N: all ids except ≡3 (mod 1000); crawl N+1: except ≡7
    // (mod 1000), digests revised for ids ≡0 (mod 500)
    def snap(isNew: Boolean): DataFrame = {
      val drop = if (isNew) 7 else 3
      spark.range(n).filter(col("id") % 1000 =!= drop)
        .select(col("id").as("doc_id"),
          when(lit(isNew) && col("id") % 500 === 0,
            xxhash64(col("id"), lit(2)))
            .otherwise(xxhash64(col("id"), lit(1))).as("dig"),
          concat(lit("src"), col("id") % 5).as("source"))
    }

    val statuses = time(f"diff ${n}%,d vs ${n}%,d docs (per-status counts)") {
      SnapshotOps.snapshotDiff(snap(isNew = false), snap(isNew = true),
          "doc_id", col("dig"), Seq("source"))
        .groupBy("status").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val added = n / 1000
    val changed = n / 500
    val expected = Map("added" -> added, "removed" -> added,
      "changed" -> changed, "unchanged" -> (n - 2 * added - changed))
    require(statuses == expected, s"diff counts $statuses != $expected")
    println(s"  statuses: $statuses")

    val nw = snap(isNew = true)
    val (mergedCnt, mergedSum) = time(
      f"applyDelta: ${n}%,d base + ${3 * added}%,d upserts") {
      val upserts = nw.filter(
        col("doc_id") % 1000 === 3 || col("doc_id") % 500 === 0)
      val deletes = spark.range(n).filter(col("id") % 1000 === 7)
        .select(col("id").as("doc_id"))
      val r = SnapshotOps.applyDelta(snap(isNew = false), upserts, deletes,
          "doc_id")
        .agg(count(lit(1)), sum(col("dig").cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    val e = nw.agg(count(lit(1)), sum(col("dig").cast("decimal(38,0)"))).head()
    require(mergedCnt == e.getLong(0) && mergedSum == e.getDecimal(1),
      s"merge ($mergedCnt, $mergedSum) != new crawl (${e.getLong(0)}, ${e.getDecimal(1)})")
    println(s"  merge == new crawl: $mergedCnt rows, digest-sum match")
    spark.stop()
  }
}
