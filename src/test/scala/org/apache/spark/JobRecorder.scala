package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a block of code runs, for job-count pins. Each job is
  * listed, in submission order, by the names of its stages ("collect at
  * RetrievalOps.scala:1374", "parquet at MetaIO.scala:52"). Only jobs
  * that carry this call's local-property tag count, so jobs of other
  * threads stay out; adaptive-execution jobs inherit the tag from the
  * calling thread. The listener bus is drained before the listener
  * detaches, so no job start is missed. The object lives in this
  * package because `SparkContext.listenerBus` is private to it. */
object JobRecorder {
  private val TagKey = "graft.test.jobRecorder"

  def record[T](sc: SparkContext)(f: => T): (T, Seq[Seq[String]]) = {
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new ConcurrentLinkedQueue[(Int, Seq[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(TagKey) == tag))
          jobs.add(e.jobId -> e.stageInfos.sortBy(_.stageId).map(_.name))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    val prior = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try {
      val out = f
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.asScala.toSeq.sortBy(_._1).map(_._2))
    } finally {
      sc.setLocalProperty(TagKey, prior)
      sc.removeSparkListener(listener)
    }
  }
}
