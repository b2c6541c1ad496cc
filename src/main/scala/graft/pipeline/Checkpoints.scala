package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Lineage-severing materialization shared by the pipeline operators that
  * compute a small intermediate relation once so a self-join or an
  * iterative consumer does not re-plant the whole build subtree on every
  * reference (the banded pair generator's 4-scan double-plant, the corpus
  * filter's survivor gate, the e2e pipeline's stage boundaries).
  *
  * The severing mode is read per call from the session conf key
  * [[Checkpoints.ConfKey]] (`spark.graft.checkpoint`):
  *
  *  - `"local"` (default): `localCheckpoint(eager)`. Blocks live in
  *    executor storage only — fast (no checkpoint-dir round trip), but
  *    NOT fault-tolerant: lineage is truncated, so losing an executor
  *    after materialization FAILS downstream jobs instead of recomputing
  *    the lost blocks. The right trade in local mode and on stable,
  *    non-preemptible clusters.
  *  - `"reliable"`: `checkpoint(eager)`. Blocks are written to the
  *    directory registered via `SparkContext.setCheckpointDir` (required
  *    — this helper fails fast with a pointer when unset). Survives
  *    executor loss at the cost of one write+read of the relation to
  *    checkpoint storage. The right trade on preemptible / spot fleets,
  *    where the local mode's lost-block failure is a when, not an if.
  *
  * Both modes run a Spark job AT CALL TIME (eager): every call site here
  * materializes exactly the relation whose double-plant was measured, and
  * a lazy checkpoint would keep the doubled plan alive until the first
  * action anyway — the eagerness is the point, not an accident (the
  * round-10 advice note on `cosineNearDupPairsBanded`).
  *
  * The rule for a call site: sever a relation only when two or more
  * consumers read it, or a loop iterates over it. Each call costs at
  * least one job (two when the relation ends in an exchange under AQE),
  * and a relation read once is cheaper left in its consumer's plan. The
  * stored BM25 probe is the worked case: its termstats slice has one
  * reader in the exact and capped modes (the df broadcast) and is not
  * severed there, while the max-score mode reads the same slice three
  * times (df, per-term and per-block bounds) and severs it. Its query
  * terms have two readers, the literal term filter and the scoring
  * join, and both want them on the driver (the filter as literals, the
  * join as a broadcast), so they are collected once and re-planted as
  * a local relation instead of severed.
  */
object Checkpoints {
  /** Session conf key selecting the severing mode: "local" | "reliable". */
  val ConfKey = "spark.graft.checkpoint"

  /** Materialize `df` once and cut its lineage, honoring [[ConfKey]]. */
  def sever(df: DataFrame): DataFrame =
    df.sparkSession.conf.get(ConfKey, "local") match {
      case "local" => df.localCheckpoint()
      case "reliable" =>
        require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
          s"$ConfKey=reliable requires SparkContext.setCheckpointDir(...) " +
            "to be set first (the reliable mode writes blocks there)")
        df.checkpoint()
      case other => throw new IllegalArgumentException(
        s"$ConfKey must be 'local' or 'reliable', got '$other'")
    }
}
