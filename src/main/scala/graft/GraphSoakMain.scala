package graft

import graft.pipeline.LinkGraphOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank soak at web-graph proportions: a deterministic synthetic
  * host graph (1M hosts, ~20M weighted edges from a multiplicative-hash
  * formula — heavy-tailed in-degree: host 0 receives every i≡0 (mod 97)
  * edge on top of its hash traffic, the hot-host skew a real web graph
  * has), 5 synchronous integer-exact iterations on local[32], recorded
  * in BASELINE.md.
  *
  * Two invariants, both exact by the integer recurrence:
  *  1. BIT-REPRODUCIBILITY AT DIFFERENT PARALLELISM — the whole run
  *     repeats with a different shuffle-partition count and must agree
  *     rank-for-rank (order-free checksum + count of disagreements via
  *     join); floating-point PageRank cannot make this promise, the
  *     fixed-point variant is built on it.
  *  2. MASS CEILING — every rank ≤ base + d·(total initial mass)/1000
  *     and the planted hot host strictly outranks the 99.9th-percentile
  *     host (authority ordering survives scale).
  *
  * Inputs are deterministic functions of spark.range — no files, no
  * RNG. Args: [nHosts] [nEdges] (defaults 1M / 20M). */
object GraphSoakMain {
  def main(args: Array[String]): Unit = {
    val nHosts = args.headOption.map(_.toLong).getOrElse(1000000L)
    val nEdges = args.drop(1).headOption.map(_.toLong).getOrElse(20000000L)
    val spark = GraftSession()

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label%-46s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
    }

    // edge i: src = i % nHosts, dst = (Knuth-hash(i) + 7) % nHosts,
    // except every 97th edge is redirected at host 0 (the planted hot
    // host); weight 1 + i % 3. Self-loops dropped like hostGraph does —
    // the +7 offset makes them impossible for the hash edges
    // (i·(M−1) ≡ −7 (mod nHosts) has no solution: the left side is
    // always a multiple of gcd(M−1, 10⁶) = 80, and 80 ∤ 10⁶−7; without
    // the offset, every host ≡ 0 (mod 12500) had ALL its out-edges on
    // the self-loop lattice and vanished from the graph), so every
    // host appears as a source and the rank-count assertion is exact.
    def edges: DataFrame =
      spark.range(nEdges)
        .select((col("id") % nHosts).as("src"),
          when(col("id") % 97 === 0, lit(0L))
            .otherwise(pmod(col("id") * 2654435761L + 7L, lit(nHosts)))
            .as("dst"),
          (col("id") % 3 + 1).as("w"))
        .filter(col("src") =!= col("dst"))
        .select(concat(lit("h"), col("src")).as("src_host"),
          concat(lit("h"), col("dst")).as("dst_host"),
          col("w"))
        .groupBy("src_host", "dst_host").agg(sum("w").as("w"))

    def run(parts: Int): DataFrame = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      LinkGraphOps.pageRankHosts(edges, "src_host", "dst_host", "w",
        iterations = 5)
    }

    val r32 = time(f"pagerank ${nHosts}%,d hosts / ${nEdges}%,d edges, " +
      "5 iters (32 parts)") {
      run(32).persist()
    }
    val cnt = r32.count()
    // expected node count from the POST-FILTER edge relation, not the
    // nHosts constant: the no-self-loop argument above is specific to
    // the default 10⁶ geometry — a custom [nHosts] can lose a host
    // whose every out-edge self-looped and that nothing points at,
    // which is correct behavior, not a soak failure
    val expectedHosts = edges.select(col("src_host").as("host"))
      .union(edges.select(col("dst_host").as("host")))
      .distinct().count()
    require(cnt == expectedHosts,
      s"rank relation has $cnt rows, expected $expectedHosts distinct " +
        "hosts in the edge relation")
    require(nHosts != 1000000L || cnt == nHosts,
      s"default geometry must cover every host (got $cnt of $nHosts) — " +
        "the offset argument in the edge comment broke")

    val r7 = time("same graph, 5 iters (7 partitions)") {
      run(7).persist()
    }
    val mismatches = r32.alias("a")
      .join(r7.alias("b"), col("a.host") === col("b.host"), "full")
      .filter(col("a.rank_micro").isNull || col("b.rank_micro").isNull ||
        col("a.rank_micro") =!= col("b.rank_micro"))
      .count()
    require(mismatches == 0L,
      s"$mismatches hosts disagree across parallelism — the integer " +
        "recurrence must be exchange-order-free")
    println(f"  bit-reproducible across parallelism: $cnt%,d ranks agree")

    val stats = r32.agg(max("rank_micro").as("mx"),
        expr("cast(percentile_approx(rank_micro, 0.999) as bigint)")
          .as("p999"),
        sum("rank_micro").as("mass")).collect()(0)
    val hot = r32.filter(col("host") === "h0").collect()(0).getLong(1)
    val ceiling = 150000L + 850L * (nHosts * 1000000L) / 1000L
    require(stats.getLong(0) <= ceiling, "rank exceeded the mass ceiling")
    require(hot == stats.getLong(0) && hot > stats.getLong(1),
      s"planted hot host must top the table: hot=$hot " +
        s"max=${stats.getLong(0)} p999=${stats.getLong(1)}")
    println(f"  hot host h0 rank ${hot}%,d micro; p99.9 " +
      f"${stats.getLong(1)}%,d; surviving mass " +
      f"${stats.getLong(2)}%,d of ${nHosts * 1000000L}%,d initial")

    // ---- leg 2: the STORED lifecycle at the same scale — the edge
    // corpus folds in as 10 daily segments through the exactly-once
    // ingest with compactEvery=3 bounding the window, and the served
    // ranks must agree RANK-FOR-RANK with leg 1's one-shot run (sums
    // commute with the fold; the store must not change a single micro)
    spark.conf.set("spark.sql.shuffle.partitions", 32)
    val dir = java.nio.file.Files.createTempDirectory("graft_hg_soak")
      .toString + "/g"
    val nSeg = 10
    val t0 = System.nanoTime()
    (0 until nSeg).foreach { s =>
      val lo = nEdges * s / nSeg; val hi = nEdges * (s + 1) / nSeg
      val seg = spark.range(lo, hi)
        .select((col("id") % nHosts).as("src"),
          when(col("id") % 97 === 0, lit(0L))
            .otherwise(pmod(col("id") * 2654435761L + 7L, lit(nHosts)))
            .as("dst"),
          (col("id") % 3 + 1).as("w"))
        .filter(col("src") =!= col("dst"))
        .select(concat(lit("h"), col("src")).as("src_host"),
          concat(lit("h"), col("dst")).as("dst_host"), col("w"))
      val t = System.nanoTime()
      require(graft.pipeline.LinkGraphOps.ingestHostGraphBatch(spark, dir,
        seg, "src_host", "dst_host", "w", batchId = s.toLong))
      require(!graft.pipeline.LinkGraphOps.ingestHostGraphBatch(spark, dir,
        seg, "src_host", "dst_host", "w", batchId = s.toLong),
        "replayed segment must skip")
      graft.pipeline.LinkGraphOps.maybeCompactHostGraphIndex(spark, dir, 3)
      println(f"  segment $s%2d folded (+ replay skip + compact check) " +
        f"${(System.nanoTime() - t) / 1e9}%6.2f s")
    }
    println(f"${"stored lifecycle: 10 exactly-once segment folds"}%-52s " +
      f"${(System.nanoTime() - t0) / 1e9}%8.2f s")
    val m = graft.pipeline.LinkGraphOps.readHostGraphMeta(spark, dir)
    require(m.epoch - m.base + 1 <= 3,
      s"window must stay bounded by compactEvery=3, meta was $m")
    val served = time("pagerank OFF THE STORE, 5 iters") {
      graft.pipeline.LinkGraphOps.pageRankStoredGraph(spark, dir, 5)
        .persist()
    }
    val servedDisagree = r32.alias("a")
      .join(served.alias("b"), col("a.host") === col("b.host"), "full")
      .filter(col("a.rank_micro").isNull || col("b.rank_micro").isNull ||
        col("a.rank_micro") =!= col("b.rank_micro"))
      .count()
    require(servedDisagree == 0L,
      s"$servedDisagree hosts disagree between the maintained store " +
        "and the one-shot graph — the fold must be exact")
    println(f"  maintained store ≡ one-shot: $cnt%,d ranks agree; " +
      f"window ${m.base}%d..${m.epoch}%d, total_w ${m.totalW}%,d")
    spark.stop()
  }
}
