package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.CacheScope
import graft.operators._
import graft.sources.Tables

/** The batch LLM-data curation pipeline, one full pass per operation:
  * token-count filter → exact dedup → MinHash-LSH → star connected
  * components → representatives → span decontamination against a held-out
  * eval slice → logistic quality classifier (trained on a hash sample) and
  * scoring → per-source token budget → JSONL shard export.
  */
final class Curation(ctx: Ctx) extends Workload(ctx) {
  import Curation._
  private var dataDir: java.nio.file.Path = _
  private var planted: Gen.Corpus = _
  private def docsPath = dataDir.resolve("documents").toString
  private def evalPath = dataDir.resolve("eval").toString

  def prepare(rep: Int): Unit = {
    dataDir = ctx.dir(s"data$rep")
    val eval = Gen.evalSlice(ctx.seed, EvalDocs)
    planted = Gen.corpus(ctx.seed, 11, Docs, eval, ExactShare, NearShare, ContamShare)
    Gen.writeDocs(spark, planted.docs, docsPath, files = ctx.cores)
    Gen.writeDocs(spark, eval, evalPath)
  }

  def discard(rep: Int): Unit = Fs.rm(ctx.dir(s"data$rep"))

  /** One untraced pass with a single classifier iteration: every plan of
    * the pipeline runs once, at a fraction of a full pass's cost.
    */
  def warmup(): Unit = pass(-1, traced = false, iters = 1)

  def runOp(i: Int, traced: Boolean): OpOutcome = pass(i, traced, Iters)

  def inputProps: Map[String, Any] = Map(
    "docs" -> Docs, "doc_files" -> ctx.cores, "eval_docs" -> EvalDocs,
    "exact_dup_share" -> ExactShare, "near_dup_share" -> NearShare,
    "contaminated_share" -> ContamShare, "planted_exact" -> planted.exactDups.size,
    "planted_near" -> planted.nearDups.size, "planted_contaminated" -> planted.contaminated.size,
    "classifier_iters" -> Iters, "classifier_buckets" -> Buckets,
    "sample_fraction" -> SampleFraction, "token_budget_per_source" -> Budget,
    "shards" -> Shards)

  private def op[T](name: String)(f: => T): T = tracer.span("operators", name)(f)

  private def survivorsOf(docs: DataFrame, scope: CacheScope): DataFrame = {
    val tok = op("TextOps.tokenCount")(TextOps.tokenCount(docs, "doc_id", "text"))
    val quality = docs.join(tok, Seq("doc_id")).filter(col("n_tokens") >= MinTokens)
    val reps = op("Dedup.exact")(Dedup.exact(quality, "doc_id", "text"))
      .select(col("rep_id").as("doc_id"))
    scope.pin(op("Joins.semi")(Joins.semi(quality, reps, Seq("doc_id"))))
  }

  private def pass(k: Int, traced: Boolean, iters: Int): OpOutcome = {
    val exportDir = ctx.dir(s"export/pass$k")
    val t0 = System.nanoTime()
    var firstMs = 0.0
    CacheScope.scoped { scope =>
      val (res, ms) = timed("pass", traced) {
        val docs = tracer.span("sources", "Tables.parquet")(Tables.parquet(spark, docsPath))
        val eval = tracer.span("sources", "Tables.parquet")(Tables.parquet(spark, evalPath))
        val survivors = survivorsOf(docs, scope)
        val pairs = op("Dedup.minHashLSH")(
          Dedup.minHashLSH(survivors, "doc_id", "text", n = 2, threshold = 0.5, scope = scope))
        val comps = op("Dedup.connectedComponentsStar")(
          Dedup.connectedComponentsStar(survivors.select(col("doc_id")), "doc_id", pairs))
        firstMs = (System.nanoTime() - t0) / 1e6
        val kept = op("Dedup.keepRepresentativesOf")(
          Dedup.keepRepresentativesOf(survivors, "doc_id", comps))
        // the cleaned corpus feeds the sample, the scoring and the budget
        val clean = scope.pin(op("NgramSpans.decontamClean")(
          NgramSpans.decontamClean(kept, eval, "doc_id", "text", n = 8))
          .join(kept.select(col("doc_id"), col("lang"), col("source")), Seq("doc_id")))
        val sample = op("Sampling.uniformByHash")(
          Sampling.uniformByHash(clean, "doc_id", SampleFraction, ctx.seed))
        val model = op("Classifier.trainLogistic")(Classifier.trainLogistic(
          sample.filter(col("lang") === "en"), sample.filter(col("lang") =!= "en"),
          "doc_id", "clean_text", n = 2, buckets = Buckets, iters = iters))
        val scored = clean.join(op("Classifier.scoreLogistic")(
          Classifier.scoreLogistic(clean, "doc_id", "clean_text", model)), Seq("doc_id"))
        val selected = op("Sampling.selectByBudget")(Sampling.selectByBudget(scored, "source",
          "doc_id", "n_kept_tokens", "score", Budget, scope = scope))
          .select(col("doc_id"), col("clean_text").as("text"), col("lang"), col("source"),
            col("score"))
        op("Export.writeJsonlShards")(
          Export.writeJsonlShards(selected, "doc_id", Shards, exportDir.toString, ctx.seed))
        (docs, comps, kept, selected)
      }
      val (docs, comps, kept, selected) = res
      val ok = scala.util.Try(check(docs, comps, kept, selected, exportDir.toString)).getOrElse(false)
      if (!ok) ctx.log(s"curation pass $k failed its check")
      Fs.rm(exportDir)
      OpOutcome("pass", ms, firstMs, Docs.toLong, ok, traced)
    }
  }

  /** Kept ids are input ids, exactly one per component (never a planted
    * exact copy), and the exported shards hold exactly the selected rows.
    */
  private def check(docs: DataFrame, comps: DataFrame, kept: DataFrame, selected: DataFrame,
                    exportDir: String): Boolean = {
    val keptIds = kept.select(col("doc_id").cast("long")).collect().map(_.getLong(0))
    val inputIds = docs.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val reps = comps.select(col("rep_id")).distinct().collect().map(_.getLong(0)).toSet
    val shardRows = spark.read.json(exportDir).groupBy(col("shard")).count()
      .collect().map(_.getLong(1)).sum
    keptIds.forall(inputIds) && keptIds.distinct.length == keptIds.length &&
      keptIds.toSet == reps && !keptIds.exists(planted.exactDups) &&
      shardRows == selected.count()
  }

  /** LSH candidate pairs that verify as near duplicates (traced run only;
    * computed after the timed loop).
    */
  override def layerExtras(): Map[String, Double] = CacheScope.scoped { scope =>
    val survivors = survivorsOf(Tables.parquet(spark, docsPath), scope)
    val cand = Dedup.minHashLSHCandidates(survivors, "doc_id", "text", n = 2, scope = scope).count()
    val verified = Dedup.minHashLSH(survivors, "doc_id", "text", n = 2, threshold = 0.5,
      scope = scope).count()
    Map("operators.Dedup.lsh_verify_ratio" -> (if (cand > 0) verified.toDouble / cand else 0.0))
  }
}

object Curation {
  val Docs = 1000
  val EvalDocs = 100
  val ExactShare = 0.01
  val NearShare = 0.04
  val ContamShare = 0.02
  val MinTokens = 20
  val SampleFraction = 0.5
  val Buckets = 512
  val Iters = 2
  val Budget = 2500L
  val Shards = 8
}
