package graft

import graft.queries.Registry

/** Dumps `.explain("formatted")` for the requested registry queries to
  * `<outDir>/<name>_<suffix>.txt` — the r18 optimization round's plan
  * evidence (plans/r18, before and after files). The [[GraftSession]]
  * profile Bench runs, so the dumped plan is the one the bench executes.
  * Usage: runMain graft.PlanExplainMain <outDir> <suffix> [names...]
  * (no names → every bench row). */
object PlanExplainMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PlanExplainMain <outDir> <suffix> [names...]")
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val names = if (args.length > 2) args.drop(2).toSeq
      else Registry.all.filter(_.bench).map(_.name)
    names.foreach { n =>
      val df = Registry.byName(n).run(spark, sfDir)
      // "formatted" via the public API that returns a string
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"dumped $n")
    }
    spark.stop()
  }
}
