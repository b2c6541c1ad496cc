package graft

import graft.pipeline.SimilarityOps
import org.apache.spark.sql.functions._

/** Recall at PRODUCTION ANN geometry — the measurement the registry's
  * recall ladders deliberately do not make: the q_*_recall_compare
  * queries pin caps BELOW the corpus's bucket occupancy to price the
  * cap (the degenerate regime), so until this soak nobody had measured
  * what the banded generator actually keeps at a geometry sized the
  * way a production run would size it.
  *
  * Corpus: `nVecs` dim-32 vectors where each twin pair (2k, 2k+1)
  * shares a base vector plus a ±1.25% perturbation on the odd member —
  * ~0.999 mutual cosine, far above the 0.95 threshold — and distinct
  * bases are near-orthogonal in expectation (random dim-32 cosine
  * ~N(0, 1/32)), so the planted truth is exactly the twin pairs and
  * the denominator is computed EXACTLY by a map-only pass (one row per
  * pair, both vectors rebuilt from the id — no join).
  *
  * Geometry, sized the production way with [[SimilarityOps.planesFor]]:
  * target per-bucket occupancy ~cap 64 (the candidate-volume budget:
  * a bucket's pair term is ≤ cap²/2) → planesFor(n, 64) planes per
  * band (16 at 1M: 65,536 buckets/band, ~15 vectors each), bands
  * filling the 48-plane family (3 at 1M). At that occupancy the
  * DEFAULT hot-bucket cap (10,000) never bites — the run must be
  * pigeonhole-WARN-free, asserted by capturing stderr around the call.
  *
  * Reference leg: the registry regime (single-bucket, planes = 6 →
  * 64 buckets, ~15,625 occupancy vs cap 10,000) keeps NOTHING at this
  * scale — every bucket is over the cap. Measured side by side so
  * BASELINE.md states both ends: degenerate-regime recall 0, production
  * geometry ~99%.
  *
  * Deterministic xxhash64 inputs — no files, no RNG.
  * Args: [nVecs] (default 1M, must be even). */
object RecallSoakMain {
  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toLong).getOrElse(1000000L)
    require(nVecs >= 2 && nVecs % 2 == 0, s"nVecs must be even, got $nVecs")
    val dim = 32
    val threshold = 0.95
    val spark = GraftSession()

    def time[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$label%-56s $s%8.2f s"); (r, s)
    }
    def capturingErr[T](f: => T): (T, String) = {
      val baos = new java.io.ByteArrayOutputStream()
      val old = System.err
      System.setErr(new java.io.PrintStream(baos, true, "UTF-8"))
      try { val r = f; (r, baos.toString("UTF-8")) }
      finally { System.setErr(old); System.err.print(baos.toString("UTF-8")) }
    }

    // base from the twin seed (id with the low bit cleared), ±1.25%
    // perturbation only on the odd member
    def baseSql(idExpr: String, j: String) =
      s"(pmod(xxhash64($idExpr, $j, 71), 2001) - 1000) / 500.0"
    def epsSql(idExpr: String, j: String) =
      s"(pmod(xxhash64($idExpr, $j, 73), 101) - 50) / 2000.0"
    val corpus = spark.range(nVecs).select(
      col("id").as("vec_id"),
      expr(s"""transform(sequence(0, ${dim - 1}), j -> CAST(
           |  ${baseSql("id - id % 2", "j")} + (id % 2) * ${epsSql("id", "j")}
           |  AS FLOAT))""".stripMargin).as("embedding"))
      .localCheckpoint()

    // ---- exact planted truth: map-only, one row per twin pair -----------
    val (nTruth, tTruth) = time(
      f"exact twin-pair truth over ${nVecs / 2}%,d pairs (map-only)") {
      spark.range(nVecs / 2).select(
        expr(s"""aggregate(sequence(0, ${dim - 1}),
             |  named_struct('ab', 0.0D, 'aa', 0.0D, 'bb', 0.0D),
             |  (s, j) -> named_struct(
             |    'ab', s.ab + (${baseSql("2 * id", "j")})
             |              * (${baseSql("2 * id", "j")} + ${epsSql("2 * id + 1", "j")}),
             |    'aa', s.aa + (${baseSql("2 * id", "j")})
             |              * (${baseSql("2 * id", "j")}),
             |    'bb', s.bb + (${baseSql("2 * id", "j")} + ${epsSql("2 * id + 1", "j")})
             |              * (${baseSql("2 * id", "j")} + ${epsSql("2 * id + 1", "j")})),
             |  s -> s.ab / (sqrt(s.aa) * sqrt(s.bb)))""".stripMargin)
          .as("cos"))
        .filter(col("cos") >= threshold).count()
    }
    println(f"  $nTruth%,d of ${nVecs / 2}%,d twin pairs above $threshold " +
      "(the recall denominator)")
    require(nTruth * 10 >= nVecs / 2 * 9,
      s"twin construction drifted: only $nTruth of ${nVecs / 2} pairs above $threshold")

    // ---- production geometry from the sizing helper ---------------------
    val occupancyBudget = 64 // per-bucket candidate budget (pair term <= 64^2/2)
    val r = SimilarityOps.planesFor(nVecs, maxBucketFreq = occupancyBudget)
    val bands = math.max(48 / r, 1) // fill the verified 48-plane family
    println(s"  geometry: planesFor($nVecs, cap=$occupancyBudget) = $r " +
      s"planes/band x $bands bands (2^$r buckets/band, default hot-band " +
      s"cap ${SimilarityOps.DefaultMaxBucketFreq} nowhere near occupancy)")

    def twinPairs(pairs: org.apache.spark.sql.DataFrame): Long =
      pairs.filter(col("id_b") === col("id_a") + 1 && col("id_a") % 2 === 0)
        .count()

    val ((keptTwins, err), tBanded) = time(
      f"banded near-dup pairs at production geometry, $nVecs%,d vectors") {
      capturingErr {
        twinPairs(SimilarityOps.cosineNearDupPairsBanded(
          corpus, "vec_id", "embedding", threshold,
          bands = bands, planesPerBand = r))
      }
    }
    require(!err.contains("pigeonhole"),
      "production geometry must be pigeonhole-WARN-free; captured: " + err)
    val recallPermille = keptTwins * 1000 / nTruth
    println(f"  kept $keptTwins%,d of $nTruth%,d planted pairs = " +
      f"$recallPermille%d permille recall, WARN-free " +
      f"(sign-agreement model: band ~(1-angle/pi)^$r, " +
      f"${bands} independent bands)")
    require(recallPermille >= 950,
      s"production-geometry recall $recallPermille permille below the 950 floor")

    // ---- the registry's degenerate regime, same corpus ------------------
    // planes = 6 -> 64 buckets, ~n/64 occupancy: every bucket is over
    // the default cap at 1M, so the single-bucket generator keeps
    // nothing — the regime the recall LADDERS pin on purpose, priced
    // here on the same planted truth (expectedDegenerate mutes the
    // WARN exactly as the harness queries do)
    val (keptDegen, tDegen) = time(
      f"single-bucket generator at registry geometry (planes=6)") {
      twinPairs(SimilarityOps.cosineNearDupPairs(
        corpus, "vec_id", "embedding", threshold, planes = 6,
        expectedDegenerate = true))
    }
    val degenOccupancy = nVecs / 64
    println(f"  kept $keptDegen%,d planted pairs " +
      f"(${keptDegen * 1000 / nTruth}%d permille) at ~$degenOccupancy%,d " +
      f"vectors/bucket vs cap ${SimilarityOps.DefaultMaxBucketFreq}%,d — " +
      (if (degenOccupancy > SimilarityOps.DefaultMaxBucketFreq)
        "the pigeonhole regime: the typical bucket is over the cap " +
          "(surviving pairs live in the plane family's few below-average " +
          "buckets); geometry is the whole game"
      else
        "under the cap at this n; scale to 1M+ for the pigeonhole regime"))

    println(f"SOAK OK  truth $nTruth%,d pairs in $tTruth%.1f s | " +
      f"production geometry ${r}x$bands: $recallPermille permille " +
      f"in $tBanded%.1f s, WARN-free | registry geometry: " +
      f"${keptDegen * 1000 / nTruth} permille in $tDegen%.1f s")
    spark.stop()
  }
}
