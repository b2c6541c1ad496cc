package graft

/** Helpers shared across specs — one copy, because each is the kind
  * that rots when duplicated: the err capture swaps JVM-global state,
  * the epoch lister encodes the `e<digits>` layout contract, and the
  * replay-exec finder walks AQE's plan wrappers. */
object SpecSupport {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import graft.plans.BboReplayExec

  /** The BboReplayExec in `df`'s executed plan (after an action, its
    * metrics hold that run's counts). */
  def replayExec(df: DataFrame): BboReplayExec = {
    def find(p: SparkPlan): Option[BboReplayExec] = p match {
      case e: BboReplayExec => Some(e)
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case q: QueryStageExec => find(q.plan)
      case other => other.children.iterator.map(find).collectFirst { case Some(e) => e }
    }
    find(df.queryExecution.executedPlan).getOrElse(
      throw new AssertionError(s"no BboReplayExec in\n${df.queryExecution.executedPlan}"))
  }

  /** Run `f` with System.err captured, returning (result, captured
    * text) — the WARN-assertion helper. The swap is JVM-GLOBAL and
    * restored in a finally; suites run single-threaded here, but do
    * not nest captures. */
  def capturingErr[T](f: => T): (T, String) = {
    val baos = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(baos, true, "UTF-8"))
    try { val r = f; (r, baos.toString("UTF-8")) }
    finally System.setErr(old)
  }

  /** Epoch-shaped children (`e<digits>`) of a local dir, by name. */
  def epochs(root: String): Set[String] =
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .map(_.getName)
      .filter(n => n.length > 1 && n.startsWith("e") &&
        n.drop(1).forall(_.isDigit))
      .toSet
}
