package graft

import graft.pipeline.TextOps
import org.apache.spark.sql.functions._

/** BPE trainer soak at realistic vocabulary scale: real corpora carry
  * ~1M+ distinct words, and every merge round runs on that |V|-row
  * relation (the corpus itself is touched once, by wordVocab — not
  * measured here beyond that single pass). Input is a deterministic
  * synthetic vocabulary: base-26 encodings of spark.range ids, one
  * word per row — ~7-char words over a 26-symbol alphabet, so pair
  * statistics stay non-degenerate across rounds.
  *
  * Args: [nWords] [nMerges] (defaults 2M / 5). Prints per-round-ish
  * wall clock (train includes all rounds) and the merge table. */
object BpeSoakMain {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val rounds = args.drop(1).headOption.map(_.toInt).getOrElse(5)
    val spark = GraftSession()

    val docs = spark.range(n)
      .select(col("id").as("doc_id"), conv(col("id"), 10, 26).as("text"))

    val t0 = System.nanoTime()
    val merges = TextOps.bpeTrain(docs, "text", rounds)
    val s = (System.nanoTime() - t0) / 1e9
    println(f"bpeTrain: ${n}%,d-word vocab, $rounds merges: $s%8.2f s" +
      f" (${s / rounds}%.2f s/round)")
    merges.foreach { case (rank, l, r, c) =>
      println(f"  merge $rank%2d: '$l' + '$r' (count $c%,d)")
    }
    require(merges.size == rounds && merges.forall(_._4 > 0),
      s"expected $rounds positive-count merges, got $merges")
    spark.stop()
  }
}
