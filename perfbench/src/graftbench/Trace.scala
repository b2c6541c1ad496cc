package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** A timed interval: `start`/`end` in epoch milliseconds. `parent` is 0 for
  * a root span; `op` is the operation id the span belongs to. */
final case class Span(id: Int, name: String, parent: Int, op: String,
                      start: Double, end: Double)

object Tracer {
  val SpanKey = "graftbench.span"
  val OpKey = "graftbench.op"
}

/** Spans recorded by the benchmark around each public call. Kept in memory
  * and written out when the run ends; a disabled tracer only runs the body. */
final class Tracer(sc: SparkContext, var enabled: Boolean) {
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  var op: String = ""

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      sc.setLocalProperty(Tracer.OpKey, op)
      val start = nowMs
      try body
      finally {
        spans += Span(id, name, parent, op, start, nowMs)
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }
}

/** Records Spark's job, stage and task events and the SQL metric ids of
  * every executed plan, tagged with the benchmark span that ran them. */
final class LayerListener extends SparkListener {
  final case class JobRec(id: Int, op: String, parent: Int, callSite: String, kind: String,
                          start: Long, var end: Long)
  final case class StageRec(id: Int, op: String, job: Int, submit: Long, complete: Long)
  final case class TaskRec(stage: Int, op: String, runMs: Long, cpuNs: Long, gcMs: Long,
                           bytesWritten: Long, recordsWritten: Long, writeNs: Long,
                           fetchWaitMs: Long, updates: Map[Long, Long])
  final case class Acc(node: String, metric: String, postingsFilter: Boolean)

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val accs = mutable.HashMap.empty[Long, Acc]
  private val stageOwner = mutable.HashMap.empty[Int, (String, Int)]
  private val execCallSite = mutable.HashMap.empty[Long, (String, String)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val op = prop(Tracer.OpKey).getOrElse("")
    // jobs that AQE submits from its own threads carry no user call site;
    // the SQL execution they belong to records the action's
    val (short, long) = prop("spark.sql.execution.id").flatMap(id => execCallSite.get(id.toLong))
      .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(s => (s.name, s.details))
        .getOrElse(("", "")))
    jobs += JobRec(e.jobId, op, prop(Tracer.SpanKey).map(_.toInt).getOrElse(0),
      short, callKind(short, long), e.time, e.time)
    e.stageIds.foreach(s => stageOwner(s) = (op, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val (op, job) = stageOwner.getOrElse(i.stageId, ("", -1))
    stages += StageRec(i.stageId, op, job, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val updates = e.taskInfo.accumulables.iterator.flatMap { a =>
        a.update match {
          case Some(v: Long) => Some(a.id -> v)
          case _ => None
        }
      }.toMap
      tasks += TaskRec(e.stageId, stageOwner.get(e.stageId).map(_._1).getOrElse(""),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleWriteMetrics.writeTime, m.shuffleReadMetrics.fetchWaitTime, updates)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execCallSite(s.executionId) = (s.description, s.details)
      index(s.sparkPlanInfo)
    }
    case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized(index(u.sparkPlanInfo))
    case _ =>
  }

  private def index(p: SparkPlanInfo): Unit = {
    val pf = p.nodeName == "Filter" && scansPostings(p, 4)
    p.metrics.foreach(m => accs(m.accumulatorId) = Acc(p.nodeName, m.name, pf))
    p.children.foreach(index)
  }

  /** Whether a parquet scan of a stored index's postings sits under `p`. */
  private def scansPostings(p: SparkPlanInfo, depth: Int): Boolean =
    p.children.exists { c =>
      (c.nodeName.startsWith("Scan parquet") &&
        c.metadata.get("Location").exists(_.contains("/postings/"))) ||
        (depth > 0 && c.nodeName != "Filter" && scansPostings(c, depth - 1))
    }

  /** Bucket of a job's call site, from its short form ("collect at
    * RetrievalOps.scala:1391") and its long form (the stack from the Spark
    * method called), which tells a `DataFrameWriter.parquet` from a
    * `DataFrameReader.parquet`. */
  def callKind(short: String, long: String): String =
    if (long.linesIterator.take(2).exists(_.contains("DataFrameWriter"))) "write"
    else short.takeWhile(_ != ' ') match {
      case "collect" | "count" | "head" | "first" | "take" | "takeAsList" | "tail" |
           "collectAsList" | "toLocalIterator" | "isEmpty" | "show" | "reduce" => "collect"
      case "localCheckpoint" | "checkpoint" => "checkpoint"
      case _ => "other"
    }

  /** Sum over the tasks of the updates of the SQL metrics matching `p`. */
  private def sumOf(ts: Iterable[TaskRec])(p: Acc => Boolean): Long =
    ts.iterator.flatMap(_.updates).collect { case (id, v) if accs.get(id).exists(p) => v }.sum

  private def sql(node: String, metric: String)(a: Acc): Boolean =
    a.node == node && a.metric == metric

  /** Per-layer metrics of operation `op`, which ran over [startMs, endMs]. */
  def layers(op: String, startMs: Double, endMs: Double, cores: Int): Map[String, Double] = synchronized {
    val wallMs = endMs - startMs
    val js = jobs.filter(_.op == op)
    val ss = stages.filter(_.op == op)
    val ts = tasks.filter(_.op == op)
    val kinds = js.groupBy(_.kind).map { case (k, v) => k -> v.size.toDouble }
    val runS = ts.map(_.runMs).sum / 1e3
    val replayStage = ts.filter(t => sumOf(Seq(t))(_.node == "BboReplay") > 0)
      .groupBy(_.stage).toSeq.sortBy(-_._2.size).headOption
    val replay = replayStage.map { case (sid, stTasks) =>
      val runs = stTasks.map(_.runMs).sorted
      val crit = stTasks.maxBy(_.runMs)
      val stage = ss.find(_.id == sid)
      Map(
        "plans.replay_stage.run_s" -> stage.map(s => (s.complete - s.submit) / 1e3).getOrElse(0.0),
        "plans.replay_stage.tasks" -> runs.size.toDouble,
        "plans.replay_stage.task_max_s" -> runs.last / 1e3,
        "plans.replay_stage.task_skew" -> runs.last / math.max(1.0, Main.median(runs.map(_.toDouble).toSeq)),
        "plans.replay_stage.task_max.sort_s" -> sumOf(Seq(crit))(sql("Sort", "sort time")) / 1e3)
    }.getOrElse(Map.empty)
    val peak = ts.map(t => sumOf(Seq(t))(sql("Sort", "peak memory"))).foldLeft(0L)(math.max)
    val candidates = sumOf(ts)(a => a.postingsFilter && a.metric == "number of output rows")
    Map(
      "driver.jobs" -> js.size.toDouble,
      "driver.jobs.collect" -> kinds.getOrElse("collect", 0.0),
      "driver.jobs.checkpoint" -> kinds.getOrElse("checkpoint", 0.0),
      "driver.jobs.write" -> kinds.getOrElse("write", 0.0),
      "driver.jobs.other" -> kinds.getOrElse("other", 0.0),
      "driver.stages" -> ss.size.toDouble,
      "driver.gap_s" -> (wallMs - Spans.unionMs(js.map(j => (j.start.toDouble, j.end.toDouble)).toSeq,
        startMs, endMs)) / 1e3,
      "exec.run_s" -> runS,
      "exec.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "exec.tasks" -> ts.size.toDouble,
      "exec.core_util" -> runS / (wallMs / 1e3 * cores),
      "exchange.bytes_written" -> ts.map(_.bytesWritten).sum.toDouble,
      "exchange.records" -> ts.map(_.recordsWritten).sum.toDouble,
      "exchange.write_s" -> ts.map(_.writeNs).sum / 1e9,
      "exchange.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3,
      "plans.replay.rows" -> sumOf(ts)(sql("BboReplay", "number of output rows")).toDouble,
      "plans.replay.books" -> sumOf(ts)(sql("BboReplay", "number of books replayed")).toDouble,
      "plans.sort_s" -> sumOf(ts)(sql("Sort", "sort time")) / 1e3,
      "plans.sort_peak_mb" -> peak / 1048576.0,
      "plans.spill_bytes" -> sumOf(ts)(sql("Sort", "spill size")).toDouble,
      "pipeline.candidate_rows" -> candidates.toDouble) ++ replay
  }

  /** Spark jobs and stages as spans: a job's parent is the benchmark span
    * that was open when it started, a stage's parent is its job. */
  def sparkSpans(firstId: Int): Seq[Span] = synchronized {
    val jobIds = jobs.zipWithIndex.map { case (j, i) => j.id -> (firstId + i) }.toMap
    val js = jobs.zipWithIndex.map { case (j, i) =>
      Span(firstId + i, s"spark.job ${j.kind}: ${j.callSite}", j.parent, j.op,
        j.start.toDouble, j.end.toDouble)
    }
    val ss = stages.zipWithIndex.map { case (s, i) =>
      Span(firstId + jobs.size + i, s"spark.stage ${s.id}", jobIds.getOrElse(s.job, 0), s.op,
        s.submit.toDouble, s.complete.toDouble)
    }
    (js ++ ss).toSeq
  }
}

object Spans {
  /** Self time: the span's duration minus the time its children cover. */
  def selfMs(all: Seq[Span]): Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.end - s.start - unionMs(iv, s.start, s.end))
    }.toMap
  }

  /** Length of the union of the intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var covered = 0.0; var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }
}
