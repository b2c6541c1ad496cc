package graftbench

import org.apache.spark.graftbench.BusAccess
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable

/** Runs one workload: set-up (several times, median reported), the untimed
  * reference, warm-up, then a closed loop of operations for `--seconds`.
  * `--trace 0` prints the end-to-end metrics; `--trace 1` runs untraced and
  * traced operations and prints the per-layer metrics. Prints a `RECORD`
  * line and then a `RESULT` line, both JSON. */
object Main {

  final case class OpRun(label: String, wall: Double, buildS: Double, start: Double, end: Double)

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s_p50" -> "s", "wall_s_tail" -> "s",
    "events_per_s" -> "1/s", "queries_per_s" -> "1/s", "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "core.fold_ev_per_s" -> "1/s", "core.fold_s" -> "s",
    "core.tracked_deletes" -> "count", "core.levels_live_max" -> "count",
    "core.state_bytes" -> "B",
    "operators.build_s" -> "s", "operators.parallel_auto_s" -> "s",
    "operators.window_form_s" -> "s",
    "plans.replay.rows" -> "count", "plans.replay.books" -> "count",
    "plans.replay.useful_ratio" -> "ratio",
    "plans.replay_stage.run_s" -> "s", "plans.replay_stage.tasks" -> "count",
    "plans.replay_stage.task_max_s" -> "s",
    "plans.replay_stage.task_skew" -> "ratio",
    "plans.replay_stage.task_max.sort_s" -> "s",
    "plans.replay_stage.task_max.fold_s" -> "s",
    "plans.replay_stage.task_max.rest_s" -> "s",
    "plans.sort_s" -> "s", "plans.sort_peak_mb" -> "MB", "plans.spill_bytes" -> "B",
    "exchange.bytes_written" -> "B", "exchange.records" -> "count",
    "exchange.write_s" -> "s", "exchange.fetch_wait_s" -> "s",
    "exec.run_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.tasks" -> "count", "exec.core_util" -> "ratio",
    "driver.jobs" -> "count", "driver.jobs.collect" -> "count",
    "driver.jobs.checkpoint" -> "count", "driver.jobs.write" -> "count",
    "driver.jobs.other" -> "count", "driver.stages" -> "count", "driver.gap_s" -> "s",
    "pipeline.index_build_s" -> "s", "pipeline.candidate_rows" -> "count",
    "trace.build_self_s" -> "s", "trace.action_self_s" -> "s", "trace.overhead_s" -> "s")

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case s: Seq[_] => s.map(json).mkString("[", ", ", "]")
    case p: Product => json(p.productIterator.toSeq)
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Logs a finished phase on stderr; returns its seconds. */
  private def progress(phase: String, t0: Long): Double = {
    val s = (System.nanoTime() - t0) / 1e9
    System.err.println(f"graftbench: $phase%s done in $s%.2f s")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val runSeconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val tiny = opt.get("tiny").contains("1")
    val work = new File(opt("work"))
    work.mkdirs()

    // The session profile graft.Bench ships: AQE on, shuffle partitions =
    // cores, shuffled-hash joins allowed, UTC, no UI. Local dirs stay in the
    // work directory.
    val spark = SparkSession.builder()
      .appName(s"graftbench-$workload")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext

    val wl = Workload(workload, spark, seed, tiny, work)
    val tracer = new Tracer(sc, enabled = trace)
    val listener = new LayerListener
    if (trace) sc.addSparkListener(listener)
    var attempted = 0
    var failed = 0

    // set-up, several times: the median is setup_s. The first, cold set-up
    // is the slowest, so with five the median is a warmed one.
    val setupReps = if (tiny) 1 else 5
    val setupS = (0 until setupReps).map { r =>
      tracer.op = s"setup$r"
      val t0 = System.nanoTime()
      tracer.span("setup")(wl.setup(r, tracer))
      progress(s"set-up $r", t0)
    }
    tracer.op = "reference"
    val t0Ref = System.nanoTime()
    val (pa, pf) = wl.prepare(tracer)
    progress("reference", t0Ref)
    attempted += pa; failed += pf

    def runOp(i: Int, label: String): OpRun = {
      tracer.op = s"$label$i"
      val start = tracer.nowMs
      val t0 = System.nanoTime()
      val (buildS, ok) =
        try tracer.span("op")(wl.op(i, tracer))
        catch { case e: Exception =>
          System.err.println(s"$workload: op $label$i failed: ${e.getClass.getName}: ${e.getMessage}")
          (0.0, false)
        }
      val wall = (System.nanoTime() - t0) / 1e9
      attempted += 1
      if (!ok) {
        failed += 1
        System.err.println(s"$workload: op $label$i: output differs from the reference")
      }
      OpRun(tracer.op, wall, buildS, start, tracer.nowMs)
    }
    def loop(label: String, secs: Double): Seq[OpRun] = {
      System.gc() // the measured loop starts from a collected heap
      val out = mutable.ArrayBuffer.empty[OpRun]
      val t0 = System.nanoTime()
      while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < secs) out += runOp(out.size, label)
      out.toSeq
    }

    tracer.enabled = false
    if (trace) sc.removeSparkListener(listener)
    val t0Warm = System.nanoTime()
    // warm-up: at least warmupOps operations and a quarter of the run length
    var warm = 0
    while (warm < (if (tiny) 1 else wl.warmupOps) ||
        (!tiny && (System.nanoTime() - t0Warm) / 1e9 < runSeconds / 4)) {
      runOp(warm, "warmup"); warm += 1
    }
    progress("warm-up", t0Warm)

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "tiny" -> tiny,
      "cores" -> cores, "run_seconds" -> runSeconds,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "inputs" -> wl.inputSizes.toMap, "setup_reps_s" -> setupS)

    val metrics: Seq[(String, Double, String)] = if (!trace) {
      val samples = loop("op", runSeconds).map(_.wall)
      val sorted = samples.sorted
      val n = sorted.size
      // the highest percentile with at least ten samples beyond it, but
      // never below the middle sample: with fewer than 22 samples no
      // sample above the middle has ten beyond it
      val tailAt = math.max(n - 11, n / 2)
      val p50 = median(samples)
      record ++= Seq("samples" -> n, "wall_s" -> samples,
        "tail_percentile" -> 100.0 * (tailAt + 1) / n)
      val value = Map(
        "setup_s" -> median(setupS),
        "wall_s_p50" -> p50,
        "wall_s_tail" -> sorted(tailAt),
        "events_per_s" -> wl.eventsPerOp / p50,
        "queries_per_s" -> wl.queriesPerOp / p50,
        "peak_rss_mb" -> peakRssMb())
      EndToEnd.map { case (k, u) => (k, value(k), u) }
    } else {
      // untraced and traced halves: their median difference is the overhead
      val untraced = loop("untraced", runSeconds / 2).map(_.wall)
      tracer.enabled = true
      sc.addSparkListener(listener)
      val tracedRuns = loop("traced", runSeconds / 2)
      BusAccess.drain(sc)
      sc.removeSparkListener(listener)
      val allSpans = tracer.spans.toSeq ++ listener.sparkSpans(100000)
      val self = Spans.selfMs(allSpans)
      val traced = tracedRuns.map { r =>
        def selfS(name: String) =
          allSpans.find(s => s.op == r.label && s.name == name).map(s => self(s.id) / 1e3).getOrElse(0.0)
        (r.wall, listener.layers(r.label, r.start, r.end, cores) ++ Map(
          "operators.build_s" -> r.buildS,
          "trace.build_self_s" -> selfS("operators.build"),
          "trace.action_self_s" -> selfS("action")))
      }
      val (extra, ea, ef) =
        try wl.extraLayers(tracer)
        catch { case e: Exception =>
          System.err.println(s"$workload: traced extras failed: ${e.getClass.getName}: ${e.getMessage}")
          (Map.empty[String, Double], 1, 1)
        }
      attempted += ea; failed += ef
      val perOp = traced.map(_._2)
      val med = perOp.flatMap(_.keys).distinct.map(k => k -> median(perOp.flatMap(_.get(k)))).toMap ++ extra
      val derived = mutable.Map[String, Double](
        "trace.overhead_s" -> (median(traced.map(_._1)) - median(untraced)))
      if (med.contains("plans.replay.rows"))
        derived("plans.replay.useful_ratio") = med("plans.replay.rows") / wl.eventsPerOp
      if (med.contains("plans.replay_stage.task_max_s") && med.contains("core.fold_s")) {
        derived("plans.replay_stage.task_max.fold_s") = med("core.fold_s")
        derived("plans.replay_stage.task_max.rest_s") = med("plans.replay_stage.task_max_s") -
          med("plans.replay_stage.task_max.sort_s") - med("core.fold_s")
      }
      val all = med ++ derived
      record ++= Seq("untraced_wall_s" -> untraced, "traced_wall_s" -> traced.map(_._1))
      writeTrace(new File(opt("trace-file")), allSpans, self)
      PerLayer.map { case (k, u) => (k, all.getOrElse(k, 0.0), u) }
    }

    wl.close()
    spark.stop()
    record ++= Seq("attempted" -> attempted, "failed" -> failed,
      "failed_ratio" -> failed.toDouble / math.max(1, attempted))
    println("RECORD " + json(record))
    val m = metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap
    println("RESULT " + json(Map("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> m)))
  }

  private def writeTrace(f: File, spans: Seq[Span], self: Map[Int, Double]): Unit = {
    val rows = spans.sortBy(_.start).map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self(s.id))
    }
    Files.write(f.toPath, json(Map("spans" -> rows)).getBytes(StandardCharsets.UTF_8))
  }
}
