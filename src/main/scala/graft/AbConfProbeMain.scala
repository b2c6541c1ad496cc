package graft

/** Same-session A/B: run ONE registry query alternating a runtime
  * session conf between reps on top of the [[GraftSession]] profile —
  * drift between separate JVMs reaches 2× on a shared box, so only
  * alternating same-session pairs decide a knob (e.g. the profile's
  * join preference: `spark.sql.join.preferSortMergeJoin false true`).
  * Usage:
  *   runMain graft.AbConfProbeMain <query> <confKey> <valA> <valB> [pairs]
  */
object AbConfProbeMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: AbConfProbeMain <query> <confKey> <valA> <valB> [pairs]")
    val Array(qname, key, valA, valB) = args.take(4)
    val pairs = if (args.length > 4) args(4).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    val q = graft.queries.Registry.all.find(_.name == qname)
      .getOrElse(sys.error(s"no registry query named $qname"))
    def leg(v: String): Double = {
      spark.conf.set(key, v)
      val t0 = System.nanoTime()
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    leg(valA) // uncounted warmup
    val as = collection.mutable.ArrayBuffer[Double]()
    val bs = collection.mutable.ArrayBuffer[Double]()
    for (i <- 1 to pairs) {
      as += leg(valA); println(f"AB $qname $key=$valA rep$i: ${as.last}%.2f s")
      bs += leg(valB); println(f"AB $qname $key=$valB rep$i: ${bs.last}%.2f s")
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    println(f"AB MEDIANS $qname: $valA=${med(as.toSeq)}%.2f s " +
      f"$valB=${med(bs.toSeq)}%.2f s")
    spark.stop()
  }
}
