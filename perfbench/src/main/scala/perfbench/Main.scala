package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one timed operation of a workload produced. `firstMs` is the time
  * to its first visible result; `items` is what the throughput counts.
  */
final case class OpOutcome(kind: String, latMs: Double, firstMs: Double, items: Long,
                           ok: Boolean, traced: Boolean)

/** Shared handles of one run. Every file the run writes lives under
  * `runDir`, which the launcher creates and checks for leftovers.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val runDir: Path,
                val seed: Long, val cores: Int) {
  def dir(name: String): Path = runDir.resolve(name)
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** A closed-loop workload: one client issues an operation, waits for it,
  * checks its output outside the timed span, and issues the next.
  */
abstract class Workload(val ctx: Ctx) {
  /** Make the inputs (and any index) for set-up repetition `rep`. */
  def prepare(rep: Int): Unit
  /** How many times set-up prepares the inputs; `setup_s` takes the median. */
  def setupReps: Int = 3
  /** Drop what `prepare(rep)` made, before the next repetition. */
  def discard(rep: Int): Unit
  /** Load what the output checks compare against (not part of set-up). */
  def loadChecks(): Unit = ()
  /** Start serving: open sessions/queries over the last prepared inputs. */
  def start(): Unit = ()
  def warmup(): Unit
  def runOp(i: Int, traced: Boolean): OpOutcome
  /** The timed loop ends only between units of this many operations... */
  def opsPerUnit: Int = 1
  /** ...and after at least this many operations, so every run measures the
    * same mix of work and enough samples for its percentiles.
    */
  def minOps: Int = 2
  def close(): Unit = ()
  def inputProps: Map[String, Any]
  /** Extra per-layer values only this workload can measure (traced run). */
  def layerExtras(): Map[String, Double] = Map.empty
  /** The directories the workload writes: inputs, index, landing dir,
    * stream checkpoint, labels and exports. Deleted when the run ends.
    */
  def scratchDirs: Seq[Path] = {
    val ds = Files.list(ctx.runDir)
    try ds.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.startsWith("data") || n == "export"
    }.toSeq finally ds.close()
  }
  /** Directory of the workload's LSH index, if it keeps one. */
  def indexDir: Option[Path] = None
  def spark: SparkSession = ctx.spark
  def tracer: Tracer = ctx.tracer

  /** Time `f` as one operation (root span when traced); the tracer settles
    * after the clock stops.
    */
  protected def timed[T](kind: String, traced: Boolean)(f: => T): (T, Double) = {
    val before = if (tracer.enabled && traced) dataFiles() else Set.empty[Path]
    val t0 = System.nanoTime()
    val r = tracer.op(kind, traced)(f)
    val ms = (System.nanoTime() - t0) / 1e6
    if (tracer.isTracing) tracer.count("sources.files_written", (dataFiles() -- before).size)
    tracer.settle()
    (r, ms)
  }

  /** Files the run has written so far, Spark's scratch space excluded. */
  private def dataFiles(): Set[Path] = {
    val local = ctx.dir("spark-local")
    val w = Files.walk(ctx.runDir)
    try w.iterator().asScala.filter(p => !p.startsWith(local) && Files.isRegularFile(p)).toSet
    finally w.close()
  }
}

object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val runDir = Paths.get(opts("run-dir")).toAbsolutePath
    val cores = opts("cores").toInt
    val traceOut = opts.get("trace-out").map(Paths.get(_))

    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - tSession) / 1e9

    val ctx = new Ctx(spark, new Tracer(spark, trace), runDir, seed, cores)
    val wl: Workload = workload match {
      case "spreadsheet" => new Spreadsheet(ctx)
      case "curation"    => new Curation(ctx)
      case "ingest"      => new Ingest(ctx)
      case other         => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: session start + the median of the input/index preparations
    // + one warm-up pass
    val prepS = (0 until wl.setupReps).map { rep =>
      if (rep > 0) wl.discard(rep - 1)
      val t = System.nanoTime()
      ctx.tracer.op("setup", traced = rep == wl.setupReps - 1)(wl.prepare(rep))
      val s = (System.nanoTime() - t) / 1e9
      ctx.tracer.settle()
      s
    }
    wl.loadChecks()
    val tWarm = System.nanoTime()
    wl.start()
    wl.warmup()
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = sessionS + median(prepS) + warmS
    ctx.log(f"setup: session $sessionS%.2f s, prepare ${prepS.map(s => f"$s%.2f").mkString("/")} s, warm-up $warmS%.2f s")

    // timed loop: closed, one client; in the traced run half the
    // operations are traced (ABBA order, so warm-up drift cancels) and the
    // two halves give the tracing overhead
    val outs = mutable.ArrayBuffer.empty[OpOutcome]
    val t0 = System.nanoTime()
    var i = 0
    while (i < wl.minOps || i % wl.opsPerUnit != 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      outs += wl.runOp(i, traced = trace && (i % 4 == 0 || i % 4 == 3))
      i += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val extras = if (trace) wl.layerExtras() else Map.empty[String, Double]
    val idxFiles = wl.indexDir.map(countFiles).getOrElse(0L)
    wl.close()

    val storage = Layers.storage(spark)
    val heapMb = retainedHeapMb()
    val attempted = outs.size
    val failed = outs.count(!_.ok)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val lat = outs.map(_.latMs).toIndexedSeq
        val (tailPct, tail) = tailPercentile(lat)
        println(f"op latency tail: p$tailPct%.0f over ${lat.size} ops")
        Seq(
          ("setup_s", setupS, "s"),
          ("op_p50_ms", median(lat), "ms"),
          ("op_tail_ms", tail, "ms"),
          ("first_result_p50_ms", median(outs.map(_.firstMs).toIndexedSeq), "ms"),
          ("throughput_per_s", outs.map(_.items).sum / (lat.sum / 1000.0), "1/s"),
          ("heap_retained_mb", heapMb, "MB"))
      } else {
        val layer = Layers.report(ctx.tracer, cores)
        Layers.printSelfTimes(layer, ctx.tracer.ops.count(_.kind != "setup"))
        val tracedLat = outs.filter(_.traced).map(_.latMs).toIndexedSeq
        val plainLat = outs.filterNot(_.traced).map(_.latMs).toIndexedSeq
        val overhead = median(tracedLat) - median(plainLat)
        println(f"tracing overhead: traced op p50 ${median(tracedLat)}%.1f ms vs untraced " +
          f"${median(plainLat)}%.1f ms (${tracedLat.size}/${plainLat.size} ops): $overhead%+.1f ms")
        traceOut.foreach(p => Layers.writeSpans(ctx.tracer, p))
        val all = layer ++ extras ++ storage ++ Map(
          "sources.index_files" -> idxFiles.toDouble,
          "trace.overhead_ms" -> overhead,
          "trace.overhead_ratio" -> (if (median(plainLat) > 0) overhead / median(plainLat) else 0.0))
        Layers.PerLayer.map { case (n, unit) => (n, all.getOrElse(n, 0.0), unit) }
      }

    println("op latencies (ms): " + outs.map(o => f"${o.latMs}%.0f").mkString(" "))
    outs.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      println(f"op $k%-8s n=${os.size}%3d p50 ${median(os.map(_.latMs).toIndexedSeq)}%9.1f ms")
    }
    println("inputs: " + Json.obj(wl.inputProps ++ Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "loop_s" -> loopS, "ops" -> attempted)))
    println(s"ops_failed_ratio: ${failed.toDouble / math.max(1, attempted)} ($failed of $attempted)")
    metrics.foreach { case (n, v, u) => println(f"metric $n%-44s $v%14.4f $u") }
    val result = Json.obj(Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap))
    spark.stop()
    // the workload's scratch dirs go; the launcher counts whatever is left
    wl.scratchDirs.foreach(Fs.rm)
    println("PERFBENCH_RESULT " + result)
  }

  /** Median of the defined (non-NaN) values; NaN when there are none. */
  def median(all: IndexedSeq[Double]): Double = {
    val xs = all.filterNot(_.isNaN)
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  }

  /** The highest percentile on a fixed grid with at least ten samples
    * beyond it; the maximum when there are fewer than eleven samples.
    */
  def tailPercentile(xs: IndexedSeq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    val grid = Seq(99.0, 90.0, 80.0, 75.0, 50.0)
    grid.find(p => n * (1 - p / 100) >= 10) match {
      case Some(p) => (p, s(math.min(n - 1, math.ceil(n * p / 100).toInt - 1)))
      case None    => (100.0, s.last)
    }
  }

  /** Heap that survives a full collection: the heap pools' usage right
    * after the last GC, so allocation by other threads after it does not
    * count.
    */
  def retainedHeapMb(): Double = {
    // several full collections: objects behind weak references and
    // finalizers need more than one to go
    (0 until 3).foreach { _ => System.gc(); System.runFinalization(); Thread.sleep(100) }
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / Tracer.MB
  }

  def countFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.filter(Files.isRegularFile(_)).count() finally w.close()
    }
}

/** Minimal JSON rendering for the result line. */
object Json {
  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else BigDecimal(d).toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

object Fs {
  /** Delete a file tree (no-op when absent). */
  def rm(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally w.close()
    }
}
