package graft

import org.scalatest.funsuite.AnyFunSuite

/** The test session carries the profile Bench and Verify ship, so plan
  * assertions check the plans the bench runs. */
class SessionProfileSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("test session carries the shipped GraftSession profile") {
    val conf = spark.conf
    assert(conf.get("spark.sql.join.preferSortMergeJoin") == "false")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    val cores = spark.sparkContext.defaultParallelism
    assert(cores == SparkTestSession.Cores)
    assert(conf.get("spark.sql.shuffle.partitions").toInt == cores)
  }
}
