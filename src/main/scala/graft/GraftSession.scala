package graft

import org.apache.spark.sql.SparkSession

/** The one session profile every main and the test session build from,
  * so a plan checked in a spec or dumped by a diagnostic main is the plan
  * the bench runs: `local[cores]`, shuffle partitions = cores, AQE on,
  * shuffled-hash joins allowed where their size conditions hold
  * (`preferSortMergeJoin=false`, A/B in OPTIMIZATION_r19.md), UTC, no
  * UI. `cores` defaults to SPARK_GRAFT_CPUS, else every core the JVM
  * sees. A diagnostic varies one runtime conf with `spark.conf.set` on
  * top of the profile (see [[AbConfProbeMain]]). */
object GraftSession {
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The profile as a builder, for a caller that adds to it (extensions)
    * before `getOrCreate`. */
  def builder(cores: Int = defaultCores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** A session with the profile, Spark logging at WARN. */
  def apply(cores: Int = defaultCores): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
