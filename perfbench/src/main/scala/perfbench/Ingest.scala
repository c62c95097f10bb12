package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.sources.Tables
import graft.streaming.StreamDedup

/** The write path: seeded micro-batches land one at a time in a directory
  * that a `readStream`/`foreachBatch` query serves. Per batch it gates the
  * documents against a persisted LSH index and the eval slice, folds the
  * batch into the near-duplicate component labels, and appends the
  * accepted documents to the index. The next batch lands only after
  * `processAllAvailable()` returns.
  */
final class Ingest(ctx: Ctx) extends Workload(ctx) {
  import Ingest._
  private var base: Path = _
  private var eval: IndexedSeq[Gen.Doc] = IndexedSeq.empty
  private var corpus: Gen.Corpus = _
  private var query: StreamingQuery = _
  private def idx = base.resolve("index").toString
  private def landing = base.resolve("landing")

  /** Written by the stream thread, read after `processAllAvailable()`. */
  @volatile private var out: BatchOut = _
  @volatile private var labelsVersion = 0
  @volatile private var failure: Throwable = _

  def prepare(rep: Int): Unit = {
    base = ctx.dir(s"data$rep")
    eval = Gen.evalSlice(ctx.seed, EvalDocs)
    corpus = Gen.corpus(ctx.seed, 21, CorpusDocs, eval, 0.0, CorpusNearShare, 0.0)
    Gen.writeDocs(spark, corpus.docs, base.resolve("corpus").toString, files = ctx.cores)
    Gen.writeDocs(spark, eval, base.resolve("eval").toString)
    val docs = tracer.span("sources", "Tables.parquet")(
      Tables.parquet(spark, base.resolve("corpus").toString))
    tracer.span("operators", "Dedup.buildLshIndex")(Dedup.buildLshIndex(docs, "doc_id", "text", idx))
    val pairs = tracer.span("operators", "Dedup.minHashLSH")(
      Dedup.minHashLSH(docs, "doc_id", "text", n = 2, threshold = 0.5))
    val labels = tracer.span("operators", "Dedup.connectedComponentsStar")(
      Dedup.connectedComponentsStar(docs.select(col("doc_id")), "doc_id", pairs))
    labelsVersion = 0
    tracer.span("sources", "Tables.exportParquet")(Tables.exportParquet(labels, labelsDir(0)))
    Files.createDirectories(landing)
    Files.createDirectories(base.resolve("staging"))
  }

  def discard(rep: Int): Unit = Fs.rm(ctx.dir(s"data$rep"))

  private def labelsDir(v: Int) = base.resolve(s"labels/v$v").toString

  override def start(): Unit = {
    val evalDf = Tables.parquet(spark, base.resolve("eval").toString)
    query = spark.readStream.schema(Gen.DocSchema).option("maxFilesPerTrigger", 1)
      .parquet(landing.toString)
      .writeStream
      .option("checkpointLocation", base.resolve("checkpoint").toString)
      .foreachBatch((b: DataFrame, _: Long) => onBatch(b, evalDf))
      .start()
  }

  /** The per-batch serving path, on the stream thread. */
  private def onBatch(batch: DataFrame, evalDf: DataFrame): Unit =
    try tracer.span("streaming", "foreachBatch") {
      val b = batch.persist()
      try {
        val verdict = tracer.span("operators", "StreamDedup.dedupAgainstLshIndex")(
          StreamDedup.dedupAgainstLshIndex(spark, b, "doc_id", "text", idx)).collect().toSeq
        val contam = tracer.span("operators", "StreamDedup.decontamGate")(
          StreamDedup.decontamGate(evalDf, b, "doc_id", "text", n = 8)).collect().toSeq
        val verdictAt = System.nanoTime()
        val pairs = tracer.span("operators", "Dedup.lshIndexPairs")(
          Dedup.lshIndexPairs(spark, b, "doc_id", "text", idx))
        val old = tracer.span("sources", "Tables.parquet")(
          Tables.parquet(spark, labelsDir(labelsVersion)))
        val labels = tracer.span("operators", "Dedup.incrementalComponents")(
          Dedup.incrementalComponents(old, b.select(col("doc_id")), "doc_id", pairs))
        tracer.span("sources", "Tables.exportParquet")(
          Tables.exportParquet(labels, labelsDir(labelsVersion + 1)))
        Fs.rm(java.nio.file.Paths.get(labelsDir(labelsVersion)))
        labelsVersion += 1
        val rejected = verdict.filter(_.getAs[Boolean]("is_dup")).map(_.getAs[Long]("doc_id")) ++
          contam.filter(_.getAs[Boolean]("is_contaminated")).map(_.getAs[Long]("doc_id"))
        val acceptedIds = b.select(col("doc_id")).collect().map(_.getLong(0)).toSet -- rejected
        val accepted = b.filter(col("doc_id").isin(acceptedIds.toSeq: _*))
        tracer.span("operators", "Dedup.appendToLshIndex")(
          Dedup.appendToLshIndex(accepted, "doc_id", "text", idx))
        out = BatchOut(verdict, contam, acceptedIds.size, verdictAt)
      } finally b.unpersist()
    } catch { case t: Throwable => failure = t; throw t }

  private var batchSeq = 0
  // index verify-array and label row counts after the last checked batch
  private var indexRows = 0L
  private var labelRows = 0L

  override def loadChecks(): Unit = {
    indexRows = spark.read.parquet(s"$idx/arrays").count()
    labelRows = spark.read.parquet(labelsDir(labelsVersion)).count()
  }

  override def minOps: Int = 5

  /** Two preparations, not three: each builds an index and the labels. */
  override def setupReps: Int = 2

  /** Land one seeded batch and wait for its commit. */
  private def land(traced: Boolean): OpOutcome = {
    val k = batchSeq
    batchSeq += 1
    val (docs, near, contaminated) = makeBatch(k)
    val staged = base.resolve(s"staging/b$k")
    Gen.writeDocs(spark, docs, staged.toString)
    val part = Files.list(staged).filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().get()
    out = null
    val t0 = System.nanoTime()
    val (_, ms) = timed("batch", traced) {
      Files.move(part, landing.resolve(f"b$k%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      query.processAllAvailable()
    }
    Fs.rm(staged)
    val o = out
    val ok = o != null && failure == null && scala.util.Try {
      val ids = docs.map(_.id).toSet
      val dup = o.verdict.filter(_.getAs[Boolean]("is_dup")).map(_.getAs[Long]("doc_id")).toSet
      val hot = o.contam.filter(_.getAs[Boolean]("is_contaminated")).map(_.getAs[Long]("doc_id")).toSet
      val (index0, labels0) = (indexRows, labelRows)
      indexRows = spark.read.parquet(s"$idx/arrays").count()
      labelRows = spark.read.parquet(labelsDir(labelsVersion)).count()
      o.verdict.map(_.getAs[Long]("doc_id")).sorted == ids.toSeq.sorted &&
        o.contam.map(_.getAs[Long]("doc_id")).sorted == ids.toSeq.sorted &&
        near.subsetOf(dup) && contaminated.subsetOf(hot) &&
        indexRows == index0 + o.accepted && labelRows == labels0 + docs.size
    }.getOrElse(false)
    if (!ok) ctx.log(s"ingest batch $k failed its check" + Option(failure).fold("")(f => s": $f"))
    val firstMs = if (o == null) ms else (o.verdictAt - t0) / 1e6
    OpOutcome("batch", ms, firstMs, docs.size.toLong, ok, traced)
  }

  /** Batch `k`: held-out fresh documents plus planted near duplicates of
    * corpus documents and planted contaminated documents, at fixed counts.
    */
  private def makeBatch(k: Int): (Seq[Gen.Doc], Set[Long], Set[Long]) = {
    val r = Gen.rng(ctx.seed, 1000L + k)
    val idBase = 10000000L + k.toLong * BatchDocs
    val longOnes = corpus.docs.filter(_.tokens.size >= 40)
    val nNear = math.round(BatchDocs * NearShare).toInt
    val nContam = math.round(BatchDocs * ContamShare).toInt
    val docs = (0 until BatchDocs).map { j =>
      val id = idBase + j
      if (j < nNear) Gen.nearDup(r, longOnes(r.nextInt(longOnes.size)), id)
      else if (j < nNear + nContam)
        Gen.contaminate(r, Gen.freshDoc(r, id, 20), eval(r.nextInt(eval.size)), 12)
      else Gen.freshDoc(r, id, 20)
    }
    (docs, docs.take(nNear).map(_.id).toSet, docs.slice(nNear, nNear + nContam).map(_.id).toSet)
  }

  def warmup(): Unit = (0 until WarmBatches).foreach(_ => land(traced = false))

  def runOp(i: Int, traced: Boolean): OpOutcome = land(traced)

  override def close(): Unit = if (query != null) { query.stop(); query.awaitTermination() }

  override def indexDir: Option[Path] = Option(base).map(_.resolve("index"))

  def inputProps: Map[String, Any] = Map(
    "corpus_docs" -> CorpusDocs, "corpus_files" -> ctx.cores, "eval_docs" -> EvalDocs,
    "corpus_near_dup_share" -> CorpusNearShare, "batch_docs" -> BatchDocs,
    "batch_near_dup_share" -> NearShare, "batch_contaminated_share" -> ContamShare,
    "warmup_batches" -> WarmBatches, "batches" -> batchSeq)
}

object Ingest {
  final case class BatchOut(verdict: Seq[Row], contam: Seq[Row], accepted: Int, verdictAt: Long)

  val CorpusDocs = 2000
  val EvalDocs = 100
  val CorpusNearShare = 0.04
  val BatchDocs = 200
  val NearShare = 0.10
  val ContamShare = 0.05
  val WarmBatches = 2
}
