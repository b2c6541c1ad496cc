package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites — with a LIVENESS GUARD:
  * ~100 suites share one forked JVM, and a fatal error anywhere (heap
  * exhaustion in the DAGScheduler event loop stops the SparkContext)
  * used to cascade into every later suite failing with "Cannot call
  * methods on a stopped SparkContext" (the r18 driver gate's red
  * BarrierSpec was exactly this). Suites fetch the session through a
  * `lazy val spark = SparkTestSession.spark`, so re-checking liveness
  * here confines a killed context to the suite it died in: the next
  * suite's first access rebuilds the session. */
object SparkTestSession {
  /** Fixed, not box-sized, so plan-shape assertions see the same
    * partition count everywhere; the confs are the shipped profile. */
  val Cores = 4

  @volatile private var current: SparkSession = _

  def spark: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) {
      // a stopped default session would otherwise be handed back by
      // getOrCreate on some code paths — clear both registries first
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      current = GraftSession(Cores)
    }
    current
  }
}
