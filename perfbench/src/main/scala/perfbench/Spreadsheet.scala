package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{ViewId, ViewSession}
import graft.operators._
import graft.sources.Tables

/** One simulated spreadsheet user running a seeded script of gestures
  * through `graft.ViewSession` over a sharded lineitem table and a
  * one-file events table. A fixed share of gestures re-issues an earlier
  * one, which is the only way the session memo is reached.
  *
  * Each gesture's output is checked against a recomputation on the driver
  * from the generated rows themselves (independent of Spark), outside the
  * timed span; a re-issued gesture must equal its first result.
  */
final class Spreadsheet(ctx: Ctx) extends Workload(ctx) {
  import Spreadsheet._

  private var dataDir: java.nio.file.Path = _
  private def tablePath(t: Int) = dataDir.resolve(if (t == 0) "lineitem" else "events").toString
  private var script: IndexedSeq[Gesture] = IndexedSeq.empty
  private var session: Runner = _
  private var oracle: Map[Int, Table] = Map.empty

  def prepare(rep: Int): Unit = {
    dataDir = ctx.dir(s"data$rep")
    Gen.writeLineitem(spark, ctx.seed, LineRows, LineFiles, tablePath(0))
    Gen.writeEvents(spark, ctx.seed, EventRows, tablePath(1))
    script = Script.generate(new SplittableRandom(ctx.seed), Blocks)
  }

  def discard(rep: Int): Unit = Fs.rm(ctx.dir(s"data$rep"))

  override def loadChecks(): Unit =
    oracle = Map(0 -> Table.load(spark, tablePath(0)), 1 -> Table.load(spark, tablePath(1)))

  override def start(): Unit = session = new Runner(script)

  /** One block of gestures from a different seed, on its own session. */
  def warmup(): Unit = {
    val w = new Runner(Script.generate(new SplittableRandom(ctx.seed ^ 0x5DEECE66DL), 1))
    w.script.indices.foreach(i => w.run(i, traced = false))
  }

  def runOp(i: Int, traced: Boolean): OpOutcome = {
    require(i < script.size, s"gesture script exhausted after ${script.size} gestures")
    session.run(i, traced)
  }

  /** Whole blocks only, at least four (52 gestures: p75 has 13 beyond it). */
  override def opsPerUnit: Int = FreshKinds.size + RepeatsPerBlock
  override def minOps: Int = 4 * opsPerUnit

  override def close(): Unit = oracle = Map.empty

  def inputProps: Map[String, Any] = Map(
    "lineitem_rows" -> LineRows, "lineitem_files" -> LineFiles,
    "events_rows" -> EventRows, "events_files" -> 1,
    "repeat_share" -> RepeatsPerBlock.toDouble / (FreshKinds.size + RepeatsPerBlock),
    "progressive_share" -> FreshKinds.count(_ == "prog").toDouble / (FreshKinds.size + RepeatsPerBlock),
    "progressive_batches" -> ProgBatches, "gesture_kinds" -> FreshKinds.distinct.mkString(","),
    "memo_cap" -> 256, "script_gestures" -> script.size)

  /** Executes a script on one ViewSession; view index i of the script is
    * the i-th view the script creates (0 = lineitem, 1 = events). Each
    * view also keeps its row subset of the driver-side oracle table.
    */
  private final class Runner(val script: IndexedSeq[Gesture]) {
    val vs = new ViewSession(spark)
    val views = mutable.ArrayBuffer.empty[ViewId]
    val rows = mutable.ArrayBuffer.empty[(Int, Array[Int])]
    val first = mutable.Map.empty[Int, Seq[Row]]
    Seq(0, 1).foreach { t =>
      views += vs.open(s"t$t", Tables.parquet(spark, tablePath(t)))
      rows += ((t, Array.range(0, oracle(t).n)))
    }

    def run(i: Int, traced: Boolean): OpOutcome = {
      val g = script(i)
      val hits0 = vs.memoHits
      var firstMs = Double.NaN
      val t0 = System.nanoTime()
      val (got, ms) = timed(g.kind, traced) {
        val r = exec(g, () => firstMs = (System.nanoTime() - t0) / 1e6)
        tracer.count("session.memo_hits", (vs.memoHits - hits0).toDouble)
        r
      }
      val ok = scala.util.Try {
        g match {
          case Repeat(j) => sameRows(got, first(j))
          case _ =>
            first(i) = got
            sameRows(got, expected(g))
        }
      }.getOrElse(false)
      if (!ok) ctx.log(s"gesture $i ($g) failed its check")
      OpOutcome(g.kind, ms, firstMs, 1L, ok, traced)
    }

    private def sketch(v: Int, key: String, op: String)(f: DataFrame => DataFrame): Seq[Row] =
      tracer.span("session", "ViewSession.sketch") {
        vs.sketch(views(v), key)(df => tracer.span("operators", op)(f(df)))
      }.collect().toSeq

    private val count1: DataFrame => DataFrame = _.agg(count(lit(1)).as("n"))

    /** The client-side monoid merge of two small histogram partials: summed
      * per bucket in memory, as the rendering client holds them.
      */
    private def mergeHist(a: DataFrame, b: DataFrame): DataFrame = {
      val sums = (a.collect() ++ b.collect()).groupMapReduce(_.getInt(0))(_.getLong(1))(_ + _)
      val rs = sums.toSeq.sortBy(_._1).map { case (k, c) => Row(k, c) }
      spark.createDataFrame(java.util.Arrays.asList(rs: _*), a.schema)
    }

    /** Runs gesture `g` and returns its rendered rows. */
    def exec(g: Gesture, firstPartial: () => Unit): Seq[Row] = g match {
      case Open(t) =>
        val df = tracer.span("sources", "Tables.parquet")(Tables.parquet(spark, tablePath(t)))
        views += tracer.span("session", "ViewSession.open")(vs.open(s"t$t", df))
        rows += ((t, rows(t)._2))
        sketch(views.size - 1, "count", "count")(count1)
      case Brush(p, c, lo, hi) =>
        views += tracer.span("session", "ViewSession.child") {
          vs.child(views(p), s"brush:$c:$lo:$hi")(df =>
            tracer.span("operators", "Filters.range")(Filters.range(df, c, lo, hi)))
        }
        val (t, sub) = rows(p)
        val x = oracle(t).num(c)
        rows += ((t, sub.filter(r => x(r) >= lo && x(r) <= hi)))
        sketch(views.size - 1, "count", "count")(count1)
      case Hist(v, c, lo, hi, n) =>
        sketch(v, s"hist:$c:$lo:$hi:$n", "Histograms.histogram1d")(
          Histograms.histogram1d(_, c, lo, hi, n))
      case Heat(v, x, xlo, xhi, y, ylo, yhi, n) =>
        sketch(v, s"heat:$x:$y:$n", "Histograms.heatmap")(
          Histograms.heatmap(_, x, xlo, xhi, n, y, ylo, yhi, n))
      case Heavy(v, k) =>
        sketch(v, s"heavy:$k", "HeavyHitters.exact")(HeavyHitters.exact(_, Seq(k), 1L, TopK))
      case Quant(v, c) =>
        sketch(v, s"quant:$c", "Quantiles.exact")(Quantiles.exact(_, c, Probs))
      case Stat(v, c) =>
        sketch(v, s"stats:$c", "Stats.basicStats")(Stats.basicStats(_, c))
      case Page(v, keys, start) =>
        sketch(v, s"page:${keys.mkString(",")}:$start", "NextK.page")(
          NextK.page(_, keys.map(SortKey(_)), start.map(_.map(lit)), TopK))
      case Prog(v, c, lo, hi, n) =>
        val steps = tracer.span("session", "ViewSession.progressive") {
          vs.progressive(views(v), ProgBatches,
            df => tracer.span("operators", "Histograms.histogram1d")(
              Histograms.histogram1d(df, c, lo, hi, n)),
            mergeHist)
        }
        var last = Seq.empty[Row]
        var k = 0
        while (tracer.span("session", "ViewSession.progressive")(steps.hasNext)) {
          last = tracer.span("session", "ViewSession.progressive")(steps.next())._2.collect().toSeq
          if (k == 0) firstPartial()
          k += 1
        }
        last
      case Repeat(j) =>
        exec(script(j), firstPartial)
    }

    /** The rows gesture `g` must render, computed from the oracle table. */
    def expected(g: Gesture): Seq[Row] = g match {
      case Open(t) => Seq(Row(oracle(t).n.toLong))
      case Brush(_, _, _, _) => Seq(Row(rows.last._2.length.toLong))
      case Hist(v, c, lo, hi, n) => hist(v, c, lo, hi, n)
      case Prog(v, c, lo, hi, n) => hist(v, c, lo, hi, n)
      case Heat(v, x, xlo, xhi, y, ylo, yhi, n) =>
        val (t, sub) = rows(v)
        val (xs, ys) = (oracle(t).num(x), oracle(t).num(y))
        sub.filter(r => xs(r) >= xlo && xs(r) <= xhi && ys(r) >= ylo && ys(r) <= yhi)
          .groupMapReduce(r => (bucket(xs(r), xlo, xhi, n), bucket(ys(r), ylo, yhi, n)))(_ => 1L)(_ + _)
          .toSeq.sortBy(_._1).map { case ((a, b), c) => Row(a, b, c) }
      case Heavy(v, k) =>
        val (t, sub) = rows(v)
        val key = oracle(t).key(k)
        sub.groupMapReduce(key)(_ => 1L)(_ + _).toSeq
          .sortWith { case ((ka, ca), (kb, cb)) => ca > cb || (ca == cb && Table.lt(ka, kb)) }
          .take(TopK).map { case (kv, c) => Row(kv, c) }
      case Quant(v, c) =>
        val (t, sub) = rows(v)
        val s = sub.map(oracle(t).num(c)).sorted
        Seq(Row.fromSeq(Probs.map { p =>
          val pos = p * (s.length - 1)
          val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
          s(lo) + (s(hi) - s(lo)) * (pos - lo)
        }))
      case Stat(v, c) =>
        val (t, sub) = rows(v)
        val x = sub.map(oracle(t).num(c))
        val mean = x.sum / x.length
        val sd = math.sqrt(x.map(d => (d - mean) * (d - mean)).sum / (x.length - 1))
        Seq(Row(x.length.toLong, 0L, x.min, x.max, mean, sd))
      case Page(v, keys, start) =>
        val (t, sub) = rows(v)
        val (k1, k2) = (oracle(t).num(keys(0)), oracle(t).num(keys(1)))
        val ord = Ordering.Tuple2[Double, Double]
        val from = start.fold(sub)(s => sub.filter(r => ord.gteq((k1(r), k2(r)), (s(0), s(1)))))
        val firstKeys = mutable.TreeSet.empty[(Double, Double)](ord)
        from.foreach { r =>
          firstKeys += ((k1(r), k2(r)))
          if (firstKeys.size > TopK) firstKeys -= firstKeys.last
        }
        val counts = from.filter(r => firstKeys((k1(r), k2(r))))
          .groupMapReduce(r => (k1(r), k2(r)))(_ => 1L)(_ + _)
        firstKeys.toSeq.map { case (a, b) =>
          Row(oracle(t).typed(keys(0), a), oracle(t).typed(keys(1), b), counts((a, b)))
        }
      case Repeat(_) => Nil
    }

    private def hist(v: Int, c: String, lo: Double, hi: Double, n: Int): Seq[Row] = {
      val (t, sub) = rows(v)
      val x = oracle(t).num(c)
      sub.filter(r => x(r) >= lo && x(r) <= hi).groupMapReduce(r => bucket(x(r), lo, hi, n))(_ => 1L)(_ + _)
        .toSeq.sortBy(_._1).map { case (b, cnt) => Row(b, cnt) }
    }
  }
}

object Spreadsheet {
  val LineRows = 300000L
  val LineFiles = 8
  val ProgBatches = 4
  val EventRows = 100000L
  val Blocks = 80
  val RepeatsPerBlock = 3
  val TopK = 20
  val Probs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.99)
  /** One block: every gesture kind once, progressive histograms twice. */
  val FreshKinds: Seq[String] =
    Seq("open", "brush", "hist", "heat", "heavy", "quant", "stats", "page", "prog", "prog")

  sealed trait Gesture { def kind: String }
  final case class Open(table: Int) extends Gesture { def kind = "open" }
  final case class Brush(parent: Int, c: String, lo: Double, hi: Double) extends Gesture {
    def kind = "brush" }
  final case class Hist(v: Int, c: String, lo: Double, hi: Double, n: Int) extends Gesture {
    def kind = "hist" }
  final case class Heat(v: Int, x: String, xlo: Double, xhi: Double, y: String, ylo: Double,
                        yhi: Double, n: Int) extends Gesture { def kind = "heat" }
  final case class Heavy(v: Int, key: String) extends Gesture { def kind = "heavy" }
  final case class Quant(v: Int, c: String) extends Gesture { def kind = "quant" }
  final case class Stat(v: Int, c: String) extends Gesture { def kind = "stats" }
  final case class Page(v: Int, keys: Seq[String], start: Option[Seq[Double]]) extends Gesture {
    def kind = "page" }
  final case class Prog(v: Int, c: String, lo: Double, hi: Double, n: Int) extends Gesture {
    def kind = "prog" }
  final case class Repeat(of: Int) extends Gesture { def kind = "repeat" }

  /** Numeric columns and their value domains, per table (0 = lineitem). */
  val Numeric: Map[Int, Seq[(String, Double, Double)]] = Map(
    0 -> Seq(("l_quantity", 1.0, 50.0), ("l_extendedprice", 900.0, 100900.0),
      ("l_discount", 0.0, 0.10), ("l_tax", 0.0, 0.08)),
    1 -> Seq(("value", 0.0, 1000.0), ("user_id", 0.0, 5000.0)))
  val HeavyKeys: Map[Int, Seq[String]] = Map(0 -> Seq("l_suppkey", "l_partkey"),
    1 -> Seq("user_id", "event_type"))
  val PageKeys: Map[Int, Seq[String]] = Map(0 -> Seq("l_quantity", "l_orderkey"),
    1 -> Seq("user_id", "event_id"))

  /** `Histograms.bucket`'s equal-width bucket, in double arithmetic. */
  def bucket(x: Double, lo: Double, hi: Double, n: Int): Int =
    math.min(math.floor((x - lo) / ((hi - lo) / n)).toInt, n - 1)

  /** The columns the gestures touch, held on the driver for the checks:
    * numeric columns as doubles, key columns with their own type.
    */
  final class Table(val n: Int, val num: Map[String, Array[Double]], val key: Map[String, Int => Any],
                    longs: Set[String]) {
    def typed(c: String, v: Double): Any = if (longs(c)) v.toLong else v
  }

  object Table {
    def load(spark: org.apache.spark.sql.SparkSession, path: String): Table = {
      val df = spark.read.parquet(path)
      def named(t: String) = df.schema.fields.filter(_.dataType.simpleString == t).map(_.name).toSeq
      val longs = named("bigint")
      val numeric = named("double") ++ longs
      val strings = named("string")
      val rs = df.select((numeric ++ strings).map(col): _*).collect()
      val num = numeric.zipWithIndex.map { case (c, i) =>
        c -> rs.map(r => r.get(i) match { case l: Long => l.toDouble; case d: Double => d })
      }.toMap
      val strs = strings.zipWithIndex.map { case (c, i) =>
        c -> rs.map(_.getString(numeric.size + i))
      }.toMap
      val key: Map[String, Int => Any] =
        num.map { case (c, a) => c -> ((r: Int) => if (longs.contains(c)) a(r).toLong: Any else a(r)) } ++
          strs.map { case (c, a) => c -> ((r: Int) => a(r)) }
      new Table(rs.length, num, key, longs.toSet)
    }

    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Long, y: Long)     => x < y
      case (x: Double, y: Double) => x < y
      case (x: String, y: String) => x < y
      case _                      => a.toString < b.toString
    }
  }

  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && (0 until x.size).forall { i =>
        (x.get(i), y.get(i)) match {
          case (p: Number, q: Number) if integral(p) && integral(q) => p.longValue == q.longValue
          case (p: Number, q: Number) =>
            val (u, w) = (p.doubleValue, q.doubleValue)
            math.abs(u - w) <= 1e-6 * math.max(1.0, math.abs(w))
          case (p, q) => p == q
        }
      }
    }

  private def integral(n: Number): Boolean = n match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short | _: java.lang.Byte => true
    case _ => false
  }

  /** A seeded gesture script of `blocks` blocks. Block b works on table
    * b % 2 (0 = lineitem): it opens that table again, brushes a child
    * view, runs every sketch kind on the view the block starts from, two
    * progressive histograms on the current lineitem view, and
    * `RepeatsPerBlock` re-issues of earlier gestures. The structure — which
    * kinds, columns and views, and which kinds are re-issued — is the same
    * for every seed, so runs on different seeds do the same mix of work;
    * the seed draws the order within each block, the ranges, the page
    * starts and the data.
    */
  object Script {
    private val repeatable = IndexedSeq("hist", "heat", "heavy", "quant", "stats", "page")

    def generate(r: SplittableRandom, blocks: Int): IndexedSeq[Gesture] = {
      val depth = mutable.ArrayBuffer(0, 0) // per view index
      val current = mutable.Map(0 -> 0, 1 -> 1) // table -> view its next block works on
      val latest = mutable.Map.empty[String, Int] // kind -> script index of its last fresh gesture
      val out = mutable.ArrayBuffer.empty[Gesture]
      def zoom(lo: Double, hi: Double): (Double, Double) = {
        val w = (hi - lo) * (0.5 + 0.5 * r.nextDouble())
        val a = lo + (hi - lo - w) * r.nextDouble()
        (round3(a), round3(a + w))
      }
      def newView(d: Int): Unit = depth += d
      (0 until blocks).foreach { b =>
        val t = b % 2
        val round = b / 2
        val v = current(t)
        val cols = Numeric(t)
        def colAt(k: Int) = cols((round + k) % cols.size)
        var progs = 0
        var child = -1
        val deferred = mutable.ArrayBuffer.empty[String]
        def emit(g: Gesture): Unit = {
          if (repeatable.contains(g.kind)) latest(g.kind) = out.size
          out += g
        }
        val slots = mutable.ArrayBuffer.from(FreshKinds) ++
          (0 until RepeatsPerBlock).map(k => "repeat:" + repeatable((b * RepeatsPerBlock + k) % repeatable.size))
        shuffle(r, slots)
        slots.foreach {
          case "open" => emit(Open(t)); newView(0)
          case "brush" =>
            val parent = if (depth(v) < 2) v else t
            val (c, lo, hi) = colAt(0)
            val (x, y) = zoom(lo, hi)
            child = depth.size
            emit(Brush(parent, c, x, y)); newView(depth(parent) + 1)
          case "hist" =>
            val (c, lo, hi) = colAt(1)
            val (x, y) = zoom(lo, hi)
            emit(Hist(v, c, x, y, Seq(20, 50, 100)(round % 3)))
          case "heat" =>
            val ((xc, xlo, xhi), (yc, ylo, yhi)) = (colAt(0), colAt(1))
            emit(Heat(v, xc, xlo, xhi, yc, ylo, yhi, 20))
          case "heavy" => emit(Heavy(v, HeavyKeys(t)(round % HeavyKeys(t).size)))
          case "quant" => emit(Quant(v, colAt(2)._1))
          case "stats" => emit(Stat(v, colAt(3)._1))
          case "page" =>
            val first = if (t == 0) (1 + r.nextInt(50)).toDouble else r.nextInt(5000).toDouble
            emit(Page(v, PageKeys(t), Some(Seq(first, 0.0))))
          case "prog" =>
            val (c, lo, hi) = Numeric(0)((round + progs) % Numeric(0).size)
            progs += 1
            emit(Prog(current(0), c, lo, hi, 50))
          case rep =>
            val kind = rep.stripPrefix("repeat:")
            latest.get(kind) match {
              case Some(j) => out += Repeat(j)
              case None    => deferred += kind // its first gesture comes later in this block
            }
        }
        deferred.foreach(kind => out += Repeat(latest(kind)))
        if (child >= 0) current(t) = child
      }
      out.toIndexedSeq
    }

    private def round3(x: Double) = math.round(x * 1000) / 1000.0

    private def shuffle[T](r: SplittableRandom, xs: mutable.ArrayBuffer[T]): Unit =
      (xs.size - 1 to 1 by -1).foreach { i =>
        val j = r.nextInt(i + 1); val t = xs(i); xs(i) = xs(j); xs(j) = t
      }
  }
}
