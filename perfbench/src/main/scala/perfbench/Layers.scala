package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Turns the traced run's spans and listener counters into the per-layer
  * metrics. Unless noted, a value is the mean per traced timed operation
  * (gesture, curation pass or ingest batch); calls that happen only during
  * set-up are reported per set-up.
  */
object Layers {

  /** Every operator call the workloads make, as `<Object>.<fn>`. */
  val Operators: Seq[String] = Seq(
    // spreadsheet
    "Filters.range", "Histograms.histogram1d", "Histograms.heatmap", "HeavyHitters.exact",
    "Quantiles.exact", "Stats.basicStats", "NextK.page",
    // curation
    "TextOps.tokenCount", "Dedup.exact", "Joins.semi", "Dedup.minHashLSH",
    "Dedup.connectedComponentsStar", "Dedup.keepRepresentativesOf", "NgramSpans.decontamClean",
    "Sampling.uniformByHash", "Classifier.trainLogistic", "Classifier.scoreLogistic",
    "Sampling.selectByBudget", "Export.writeJsonlShards",
    // ingest
    "Dedup.buildLshIndex", "StreamDedup.dedupAgainstLshIndex", "StreamDedup.decontamGate",
    "Dedup.lshIndexPairs", "Dedup.incrementalComponents", "Dedup.appendToLshIndex")

  /** The per-layer metrics a traced run prints, with units. */
  val PerLayer: Seq[(String, String)] = Seq(
    "workload.self_ms" -> "ms", "sources.self_ms" -> "ms", "session.self_ms" -> "ms",
    "operators.self_ms" -> "ms", "streaming.self_ms" -> "ms",
    "session.sketch_calls" -> "count", "session.memo_hits" -> "count",
    "session.memo_hit_ratio" -> "ratio", "session.sketch_self_ms" -> "ms",
    "session.child_ms" -> "ms",
    "sources.open_ms" -> "ms", "sources.scan_mb" -> "MB", "sources.scan_rows" -> "count",
    "sources.write_mb" -> "MB", "sources.files_written" -> "count",
    "sources.index_files" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.queries" -> "count",
    "catalyst.exchanges" -> "count",
    "exec.driver_gap_ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.scheduler_delay_ms" -> "ms",
    "exec.core_busy_ratio" -> "ratio", "exec.task_ms" -> "ms", "exec.cpu_ms" -> "ms",
    "exec.gc_ms" -> "ms", "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
    "exec.shuffle_fetch_wait_ms" -> "ms", "exec.spill_mb" -> "MB", "exec.result_mb" -> "MB",
    "exec.stage_skew_max" -> "ratio", "exec.failed_tasks" -> "count",
    "operators.Dedup.lsh_verify_ratio" -> "ratio",
    "streaming.batches" -> "count", "streaming.add_batch_ms" -> "ms",
    "streaming.trigger_overhead_ms" -> "ms",
    "storage.persistent_rdds" -> "count", "storage.memory_mb" -> "MB",
    "storage.disk_mb" -> "MB",
    "trace.overhead_ms" -> "ms", "trace.overhead_ratio" -> "ratio") ++
    Operators.flatMap(o => Seq(s"operators.$o.self_ms" -> "ms", s"operators.$o.jobs" -> "count"))

  val SpanLayers: Seq[String] = Seq("workload", "sources", "session", "operators", "streaming")

  /** Self time of each span: its duration minus the part its children cover. */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> ((s.end - s.start) - Tracer.covered(cs, s.start, s.end))
    }.toMap
  }

  def report(t: Tracer, cores: Int): Map[String, Double] = {
    val timedOps = t.ops.filter(_.kind != "setup")
    val setupOps = t.ops.filter(_.kind == "setup")
    val n = math.max(1, timedOps.size).toDouble
    val spans = t.allSpans
    val self = selfNs(spans)
    val timedIds = timedOps.map(_.id).toSet
    val setupIds = setupOps.map(_.id).toSet
    val out = mutable.Map.empty[String, Double]

    def sumCount(k: String) = timedOps.map(_.counts(k)).sum
    def selfMs(ss: Seq[Span]) = ss.map(s => self(s.id)).sum / 1e6
    val timedSpans = spans.filter(s => timedIds(s.op))

    SpanLayers.foreach(l => out(s"$l.self_ms") = selfMs(timedSpans.filter(_.layer == l)) / n)
    val sketches = timedSpans.filter(_.name == "ViewSession.sketch")
    out("session.sketch_calls") = sketches.size / n
    out("session.memo_hits") = sumCount("session.memo_hits") / n
    out("session.memo_hit_ratio") =
      if (sketches.isEmpty) 0.0 else sumCount("session.memo_hits") / sketches.size
    out("session.sketch_self_ms") = selfMs(sketches) / n
    out("session.child_ms") = selfMs(timedSpans.filter(_.name == "ViewSession.child")) / n
    out("sources.open_ms") = selfMs(timedSpans.filter(_.name == "Tables.parquet")) / n

    val perOp = Seq("sources.scan_mb", "sources.scan_rows", "sources.write_mb",
      "sources.files_written", "catalyst.analysis_ms", "catalyst.optimization_ms",
      "catalyst.planning_ms", "catalyst.queries", "catalyst.exchanges", "exec.jobs",
      "exec.stages", "exec.tasks", "exec.scheduler_delay_ms", "exec.task_ms", "exec.cpu_ms",
      "exec.gc_ms", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
      "exec.shuffle_fetch_wait_ms", "exec.spill_mb", "exec.result_mb", "exec.failed_tasks")
    perOp.foreach(k => out(k) = sumCount(k) / n)

    val wallMs = timedOps.map(r => (r.wallEndMs - r.wallStartMs).toDouble).sum
    out("exec.driver_gap_ms") = timedOps.map { r =>
      (r.wallEndMs - r.wallStartMs) - Tracer.covered(r.jobIntervals.toSeq, r.wallStartMs, r.wallEndMs)
    }.sum / n
    out("exec.core_busy_ratio") = if (wallMs > 0) sumCount("exec.task_ms") / (wallMs * cores) else 0.0
    out("exec.stage_skew_max") = (0.0 +: timedOps.map(_.skewMax)).max

    val batches = sumCount("streaming.batches")
    out("streaming.batches") = batches
    out("streaming.add_batch_ms") =
      if (batches > 0) sumCount("streaming.add_batch_ms") / batches else 0.0
    out("streaming.trigger_overhead_ms") =
      if (batches > 0) sumCount("streaming.trigger_overhead_ms") / batches else 0.0

    val jobsBySpan = t.ops.flatMap(_.spanJobs).groupMapReduce(_._1)(_._2)(_ + _)
    Operators.foreach { o =>
      val named = spans.filter(s => s.layer == "operators" && s.name == o)
      val inTimed = named.filter(s => timedIds(s.op))
      val (use, div) =
        if (inTimed.nonEmpty) (inTimed, n)
        else (named.filter(s => setupIds(s.op)), math.max(1, setupOps.size).toDouble)
      out(s"operators.$o.self_ms") = selfMs(use) / div
      out(s"operators.$o.jobs") = use.map(s => jobsBySpan.getOrElse(s.id, 0)).sum / div
    }
    out.toMap
  }

  /** Spark block storage held now (cached and checkpointed RDDs). */
  def storage(spark: SparkSession): Map[String, Double] = {
    val sc = spark.sparkContext
    val infos = sc.getRDDStorageInfo
    Map(
      "storage.persistent_rdds" -> sc.getPersistentRDDs.size.toDouble,
      "storage.memory_mb" -> infos.map(_.memSize).sum / Tracer.MB,
      "storage.disk_mb" -> infos.map(_.diskSize).sum / Tracer.MB)
  }

  /** The per-layer self-time report: one line per layer. */
  def printSelfTimes(r: Map[String, Double], timed: Int): Unit = {
    val total = SpanLayers.map(l => r(s"$l.self_ms")).sum
    println(f"self time per traced op ($timed ops, ${total}%.1f ms):")
    SpanLayers.foreach { l =>
      val v = r(s"$l.self_ms")
      println(f"  layer $l%-10s ${v}%10.1f ms  ${if (total > 0) 100 * v / total else 0.0}%5.1f%%")
    }
    val cat = r("catalyst.analysis_ms") + r("catalyst.optimization_ms") + r("catalyst.planning_ms")
    println(f"  layer catalyst   ${cat}%10.1f ms  (inside the spans above)")
    println(f"  layer exec       ${r("exec.task_ms")}%10.1f task-ms, driver gap ${r("exec.driver_gap_ms")}%.1f ms")
  }

  def writeSpans(t: Tracer, p: Path): Unit = {
    Files.createDirectories(p.getParent)
    val lines = t.allSpans.map(s => Json.obj(Map("id" -> s.id, "name" -> s.name,
      "layer" -> s.layer, "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.start,
      "end_ns" -> s.end)))
    Files.write(p, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}
