package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed span: times are nanoseconds since the tracer started. */
final case class Span(id: Long, name: String, layer: String, parent: Long, op: Long,
                      start: Long, end: Long)

/** Engine-side counters of one traced operation, filled by the listeners. */
final class OpRecord(val id: Long, val kind: String) {
  var rootSpan = 0L
  var wallStartMs = 0L
  var wallEndMs = 0L
  val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val spanJobs = mutable.Map.empty[Long, Int].withDefaultValue(0)
  val jobStart = mutable.Map.empty[Int, Long]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  var skewMax = 0.0
  def add(k: String, v: Double): Unit = counts(k) += v
}

/** The traced run's recorder. Spans are opened around every call the
  * benchmark makes into a layer of the program; Spark jobs are tagged with
  * the innermost open span through a local property, so the listeners can
  * charge jobs, stages and tasks to the span and operation that caused
  * them. Everything stays in memory until the run ends.
  *
  * With `enabled = false` every method is a pass-through and no listener
  * is registered: the untraced run pays nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val origin = System.nanoTime()
  private val seq = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile private var cur: OpRecord = null
  val ops = mutable.ArrayBuffer.empty[OpRecord]

  if (enabled) {
    sc.addSparkListener(new EngineListener)
    spark.listenerManager.register(new CatalystListener)
    spark.streams.addListener(new StreamListener)
  }

  /** Run one operation of the workload. A traced operation opens the root
    * span; the caller times around this call and then calls [[settle]].
    */
  def op[T](kind: String, traced: Boolean)(f: => T): T =
    if (!enabled || !traced) f
    else {
      val rec = new OpRecord(seq.incrementAndGet(), kind)
      rec.wallStartMs = System.currentTimeMillis()
      ops += rec
      cur = rec
      val id = seq.incrementAndGet()
      rec.rootSpan = id
      val t0 = System.nanoTime()
      try f finally {
        val t1 = System.nanoTime()
        rec.wallEndMs = System.currentTimeMillis()
        spans.add(Span(id, kind, "workload", 0L, rec.id, t0 - origin, t1 - origin))
      }
    }

  /** Wait until the listeners have seen every event of the operation that
    * just ran, then detach it. Called outside the timed span.
    */
  def settle(): Unit = if (enabled) {
    org.apache.spark.perfbench.BusDrain.drain(sc)
    cur = null
  }

  /** A span around one call into `layer`. Jobs started inside it carry
    * its id. On a thread with no open span (the stream thread) the parent
    * is the current operation's root span.
    */
  def span[T](layer: String, name: String)(f: => T): T = {
    val rec = cur
    if (rec == null) f
    else {
      val id = seq.incrementAndGet()
      val st = stack.get
      val parent = st.headOption.getOrElse(rec.rootSpan)
      stack.set(id :: st)
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try f finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(SpanProp, prev)
        stack.set(st)
        spans.add(Span(id, name, layer, parent, rec.id, t0 - origin, t1 - origin))
      }
    }
  }

  /** Add to a named counter of the current traced operation. */
  def count(name: String, v: Double): Unit = {
    val rec = cur
    if (rec != null) rec.synchronized(rec.add(name, v))
  }

  def isTracing: Boolean = cur != null

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  private final class EngineListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val rec = cur
      if (rec != null) rec.synchronized {
        rec.add("exec.jobs", 1)
        rec.jobStart(e.jobId) = e.time
        val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        sp.foreach(s => rec.spanJobs(s.toLong) += 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val rec = cur
      if (rec != null) rec.synchronized {
        rec.jobStart.remove(e.jobId).foreach(s => rec.jobIntervals += ((s, e.time)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val rec = cur
      if (rec == null) return
      val info = e.taskInfo
      val m = e.taskMetrics
      rec.synchronized {
        rec.add("exec.tasks", 1)
        if (!info.successful) rec.add("exec.failed_tasks", 1)
        if (m != null) {
          rec.add("exec.task_ms", m.executorRunTime.toDouble)
          rec.add("exec.cpu_ms", m.executorCpuTime / 1e6)
          rec.add("exec.gc_ms", m.jvmGCTime.toDouble)
          val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime
          rec.add("exec.scheduler_delay_ms", math.max(0L, delay).toDouble)
          rec.add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
          rec.add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
          rec.add("exec.shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          rec.add("exec.spill_mb", m.diskBytesSpilled / MB)
          rec.add("exec.result_mb", m.resultSize / MB)
          rec.add("sources.scan_mb", m.inputMetrics.bytesRead / MB)
          rec.add("sources.scan_rows", m.inputMetrics.recordsRead.toDouble)
          rec.add("sources.write_mb", m.outputMetrics.bytesWritten / MB)
          rec.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            m.executorRunTime
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val rec = cur
      if (rec == null) return
      rec.synchronized {
        rec.add("exec.stages", 1)
        rec.stageTaskMs.remove(e.stageInfo.stageId).foreach { ds =>
          if (ds.size >= 2) {
            val sorted = ds.sorted
            val med = math.max(1L, sorted(sorted.size / 2))
            rec.skewMax = math.max(rec.skewMax, sorted.last.toDouble / med)
          }
        }
      }
    }
  }

  private final class CatalystListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val rec = cur
      if (rec == null) return
      val phases = qe.tracker.phases
      def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val exchanges = PlanWalk.collectWithSubqueries(qe.executedPlan) {
        case x: ShuffleExchangeLike => x
      }.size
      rec.synchronized {
        rec.add("catalyst.queries", 1)
        rec.add("catalyst.analysis_ms", ms("analysis"))
        rec.add("catalyst.optimization_ms", ms("optimization"))
        rec.add("catalyst.planning_ms", ms("planning"))
        rec.add("catalyst.exchanges", exchanges.toDouble)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private final class StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val rec = cur
      val p = e.progress
      if (rec == null || p.numInputRows <= 0) return
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      rec.synchronized {
        rec.add("streaming.batches", 1)
        rec.add("streaming.add_batch_ms", d("addBatch"))
        rec.add("streaming.trigger_overhead_ms", d("triggerExecution") - d("addBatch"))
      }
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val MB: Double = 1024.0 * 1024.0

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Length of the union of `[s, e)` intervals, each clipped to `[lo, hi)`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
