package graft.plans

import graft.SparkTestSession
import graft.queries.Registry
import org.scalatest.funsuite.AnyFunSuite

/** Whole-registry physical-plan audit — the scale-shape regression
  * guard: every query the engine ships must plan without the shapes
  * that kill a 100 TB run. Plans are built (not executed) against the
  * smallest testdata; queries that derive broadcast constants at plan
  * time (quantile cutoffs, k-means centroids) run their scalar-sized
  * jobs, nothing else executes.
  *
  * Allowed exceptions are the documented exact-scoring verifiers, each
  * justified where it is defined:
  *  - q_embed_topk: THE brute-force ground truth (bounded query sample);
  *  - q_ann_recall: composes that ground truth to score the ANN index;
  *  - q_embed_pq_topk: ADC scores the code relation against a broadcast
  *    per-query dot table (tiny build side by construction).
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private val nestedLoopAllowed =
    Set("q_embed_topk", "q_ann_recall", "q_embed_pq_topk",
      // PQ quality track: same labeled verifier shapes — pqTopK's
      // broadcast code scan, plus the brute-force ground truth in the
      // recall comparison
      "q_embed_pq_trained", "q_pq_recall_compare",
      // bigramLmScore attaches the vocabulary size V — a ONE-ROW
      // aggregate — via crossJoin(broadcast): a single-row build side
      // makes the nested loop the optimal (and only sensible) plan;
      // Catalyst folds any constant-key equi-join disguise back to
      // this shape anyway
      "q_lm_score",
      // the NB classifier attaches its one-row totals/priors relation
      // (n_pos, n_neg, t_pos, t_neg — a global aggregate / the model
      // meta) via crossJoin(broadcast): the q_lm_score V-scalar shape
      "q_quality_classifier")
      // (q_cap_recall_compare / q_band_recall_compare once sat here for
      // their one-row denominator cross-join; the denominator is now a
      // collected literal, so their plans are BNLJ-free again. So did
      // the ten q_bm25_* rows for their one-row corpus-stats cross-join;
      // the stats now ride as literals.)

  private def planOf(name: String): String =
    Registry.byName(name).run(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("no cartesian product in any registry plan") {
    Registry.all.foreach { q =>
      assert(!planOf(q.name).contains("CartesianProduct"),
        s"${q.name} plans a CartesianProduct")
    }
  }

  test("nested-loop joins only in the documented exact-scoring verifiers") {
    Registry.all.foreach { q =>
      val plan = planOf(q.name)
      if (nestedLoopAllowed(q.name))
        // assert the BNLJ is actually present — an allow-listed query
        // that stops planning one should lose its entry, and a
        // disjunction with !contains("NestedLoop") is vacuously true
        assert(plan.contains("BroadcastNestedLoopJoin"),
          s"${q.name}: allow-list entry no longer needed — tighten it")
      else
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"${q.name} plans a BroadcastNestedLoopJoin")
    }
  }

  // The expensive custom kernels. None may appear inside a FileScan's
  // DataFilters: that means an optimizer rule (e.g. the size(arr) > 0
  // predicate InferFiltersFromGenerate adds below an inner Generate)
  // substituted the kernel through a projection and pushed it into the
  // scan — evaluating it TWICE per row and defeating the columnar batch.
  private val kernelNames = Seq("token_shingle_hash", "minhash_sig",
    "simhash48", "pq_encode", "adc_dot", "lsh_bucket", "long_array_dot",
    "bloom_positions", "bloom_might_contain", "centroid_top_cells")

  test("no custom kernel is pushed into a scan's DataFilters") {
    // walk the actual dataFilters expression trees, NOT the plan string:
    // toString truncates long expression lists with "...", which can
    // hide a kernel beyond the ellipsis (it hid the inferred
    // isnotnull(centroid_top_cells(...)) join-key constraint in
    // q_semantic_dedup's first cut). queryExecution.sparkPlan, not
    // executedPlan: the AdaptiveSparkPlanExec wrapper has no children,
    // so collect() over the executed plan silently skips every
    // AQE-wrapped query (the shapes audited here are static — AQE never
    // introduces a scan filter).
    Registry.all.foreach { q =>
      val plan = Registry.byName(q.name).run(spark, sfDir)
        .queryExecution.sparkPlan
      val scans = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      scans.foreach { s =>
        val names = s.dataFilters
          .flatMap(_.collect { case e => e.prettyName }).toSet
        kernelNames.foreach { k =>
          assert(!names.contains(k),
            s"${q.name}: kernel $k evaluated inside a scan filter (double " +
              s"eval — see minhashSig's posexplode_outer note): " +
              s"${s.dataFilters.mkString("; ")}")
        }
      }
    }
  }

  test("no inferred null-check evaluates a kernel in any Filter") {
    // the constraint-inference half of the double-eval class: an
    // inner-join key or Generate input computed by a kernel grows an
    // isnotnull(kernel(...)) constraint that FilterExec evaluates per
    // row ON TOP of the projection's own evaluation. Only null-checks
    // are flagged — a kernel as the filter's PREDICATE (the bloom
    // probes) is that kernel's single intended evaluation site.
    //
    // md5 is audited alongside the custom kernels: every HashFns
    // primitive hashes a non-null cast, so an isnotnull(…md5…) is
    // ALWAYS an inference artifact and always a per-row re-evaluation
    // (it put a second md5 into q_temperature_sample's scan on the
    // first cut). md5 as a predicate/projection input is untouched —
    // only null-checks over it are flagged.
    import org.apache.spark.sql.catalyst.expressions.{IsNotNull, IsNull}
    val nullCheckAudited = kernelNames :+ "md5"
    Registry.all.foreach { q =>
      val plan = Registry.byName(q.name).run(spark, sfDir)
        .queryExecution.sparkPlan
      val conditions =
        plan.collect {
          case f: org.apache.spark.sql.execution.FilterExec => f.condition
        } ++
        plan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.dataFilters
        }.flatten
      conditions.foreach { c =>
        val bad = c.collect {
          case n: IsNotNull if n.exists(e => nullCheckAudited.contains(e.prettyName)) => n
          case n: IsNull if n.exists(e => nullCheckAudited.contains(e.prettyName)) => n
        }
        assert(bad.isEmpty,
          s"${q.name}: inferred null-check re-evaluates a kernel (make " +
            s"the key non-nullable via unreachable coalesce — the " +
            s"lshCosineTopK discipline): ${bad.mkString("; ")}")
      }
    }
  }

  test("the probe-seam barrier survives optimization at its filter site") {
    // the stored-digest probe pins its bloom prescreen with the
    // repo-owned nondeterministic identity (graft.functions.Barrier);
    // these rows must keep it in a FilterExec condition — if an
    // optimizer release ever learns to look through it, the failure
    // mode is silent double evaluation, so the pin is spec-load-bearing
    val probeRows = Seq("q_dedup_stored", "q_e2e_admit")
    probeRows.foreach { name =>
      val plan = Registry.byName(name).run(spark, sfDir)
        .queryExecution.sparkPlan
      val inFilter = plan.collect {
        case f: org.apache.spark.sql.execution.FilterExec => f.condition
      }.exists(_.exists(_.prettyName == "nondet_barrier"))
      assert(inFilter,
        s"$name: nondet_barrier missing from every FilterExec — the " +
          "bloom prescreen lost its pin")
      val scans = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      scans.foreach { s =>
        assert(!s.dataFilters.exists(
            _.exists(_.prettyName == "nondet_barrier")),
          s"$name: nondet_barrier was pushed into a scan — the barrier " +
            "no longer blocks pushdown")
      }
    }
  }

  test("no unpartitioned window exec in any registry plan") {
    Registry.all.foreach { q =>
      val bad = planOf(q.name).linesIterator.filter { l =>
        val t = l.trim
        (t.contains("Window ") || t.contains("WindowGroupLimit ")) &&
          t.contains("], [], [")
      }.toList
      assert(bad.isEmpty,
        s"${q.name} plans an unpartitioned window: ${bad.headOption.getOrElse("")}")
    }
  }
}
