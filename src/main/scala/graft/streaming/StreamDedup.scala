package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{Dedup, Similarity, TextOps}

/** Incremental ingest dedup (SURVEY.md §2.9 × §2.11): documents arriving
  * as a STREAM are near-dup-checked against a STATIC reference corpus —
  * the production shape for continuous crawl ingestion, where the corpus's
  * MinHash band-bucket table is built once by a batch job and each
  * incoming batch only has to route into it.
  *
  * Plan shape (the reason this scales at ingest time):
  *  - the stream side computes each document's shingle-hash array AND its
  *    band signatures MAP-SIDE (pure per-row expressions — no shuffle, no
  *    state; this is what LSH banding buys at ingest);
  *  - candidates come from a STREAM-STATIC equi join on (band, bsig) —
  *    stateless by construction (Spark re-plans the static side per
  *    micro-batch; at scale the bucket table is the batch job's parquet,
  *    bucket-partitioned, so the join prunes);
  *  - exact-Jaccard verification joins candidates to the corpus's stored
  *    shingle arrays and runs `array_intersect` — identical verification
  *    contract to the batch `Dedup.minHashLSH` (zero false positives);
  *  - ONE streaming aggregation per incoming doc folds band collisions:
  *    `collect_list` + `array_distinct` count distinct verified matches
  *    (streaming forbids `countDistinct` and chained aggregations — this
  *    stays a single stateful operator).
  *
  * Within-batch/within-stream near-dup pairs are deliberately out of
  * scope: dedup AMONG the arriving documents is the batch operator's job
  * (`Dedup.minHashLSH` on the accepted batch); this operator answers
  * "is this new doc a near-dup of anything we already have", which is the
  * decision an ingest gate actually makes.
  */
object StreamDedup {

  /** Memoized persisted eval-gram sets for [[decontamGate]], keyed by
    * (session, canonicalized eval plan, n) — structural plan equality, so
    * two gates over the same benchmark frame share ONE MEMORY_AND_DISK
    * cache (and one guard count) instead of accumulating copies per
    * construction. Entries are frame-sized handles; the cached DATA obeys
    * the maxEvalGrams bound.
    *
    * Lifecycle: an entry whose persisted blocks were dropped (a
    * `clearCache()`, explicit unpersist, or executor loss) is REBUILT on
    * the next construction — re-derived, re-persisted, and re-counted, so
    * the broadcast-size guard always reflects the data the gate will
    * actually ship (an eval source that grew under the same canonicalized
    * plan — overwritten parquet path, refreshed table — is re-guarded,
    * not served from the stale snapshot). [[clearMemo]] evicts
    * explicitly; entries of STOPPED sessions are swept on every
    * construction, so a long-lived JVM cycling sessions (test suites,
    * notebook servers) does not retain dead sessions or their plans.
    */
  private val evalGramCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int),
    (DataFrame, Long)]()

  /** Drop every memoized eval-gram cache (unpersisting each): the next
    * gate construction re-derives, re-persists, and re-guards. Call after
    * mutating an eval source in place (same path/plan, new data) to force
    * the rebuild immediately rather than at the next block drop.
    */
  def clearMemo(): Unit = {
    val it = evalGramCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      it.remove()
      try e.getValue._1.unpersist()
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Entry count (test observability for the eviction contracts). */
  private[graft] def memoSize: Int = evalGramCache.size()

  /** Sweep entries whose session has been stopped — their cached blocks
    * are gone with the session's executors, and keeping the keys would
    * strongly retain the stopped session (and its analyzed plan) for the
    * JVM lifetime.
    */
  private def sweepDeadSessions(): Unit = {
    val it = evalGramCache.keySet().iterator()
    while (it.hasNext) {
      if (it.next()._1.sparkContext.isStopped) it.remove()
    }
  }

  private val nameSeq = new AtomicLong(0)

  /** Flag every incoming document against the reference corpus.
    *
    * `incoming` may be a streaming OR a batch DataFrame with columns
    * (idCol, textCol) — the same plan serves both, which is also how the
    * stream≡batch parity test pins correctness. Returns one row per
    * incoming document: (doc_id, n_matches, is_dup), n_matches = number
    * of DISTINCT corpus documents with exact n-gram Jaccard ≥ threshold
    * among the band-collision candidates. Incoming docs with no shingles
    * (empty/short text) surface with n_matches = 0 — an `explode_outer`
    * of a null band array keeps them alive through the join.
    *
    * Recall contract: identical to `Dedup.minHashLSH` — a true near-dup
    * pair is found iff some band collides (probability
    * 1-(1-s^rowsPerBand)^bands); verification is exact, so false
    * positives are impossible.
    */
  def dedupAgainstCorpus(corpus: DataFrame, incoming: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 2, bands: Int = 8, rowsPerBand: Int = 4,
                         threshold: Double = 0.5, seed: Long = 42L): DataFrame = {
    graft.functions.VectorExprs.register(corpus.sparkSession) // native bandSigs
    // static side: the index tables `Dedup.buildLshIndex` persists,
    // derived in-plan
    val p = Dedup.LshParams(n, bands, rowsPerBand, seed)
    val (cbuckets, carrs) = Dedup.lshTables(corpus, idCol, textCol, p)
    flagAgainst(cbuckets, carrs, incoming, idCol, textCol, p, threshold)
  }

  /** Serve-side twin of [[dedupAgainstCorpus]] probing a PERSISTED
    * `Dedup.buildLshIndex` artifact: no corpus shingling at ingest time —
    * the executed plan is the stream side's map-side signatures joined to
    * two parquet reads (buckets, verify arrays). Band parameters (n,
    * bands, rowsPerBand, seed) come from the index's own `params` table,
    * so probe signatures always match the stored buckets — a drifted
    * parameter would otherwise yield silent zero recall, the failure mode
    * this contract removes. Same output and recall contract as the fused
    * form (test-pinned parity).
    */
  def dedupAgainstLshIndex(spark: SparkSession, incoming: DataFrame,
                           idCol: String, textCol: String, indexDir: String,
                           threshold: Double = 0.5): DataFrame = {
    val p = Dedup.readLshParams(spark, indexDir)
    val (cbuckets, carrs) = Dedup.readLshTables(spark, indexDir)
    flagAgainst(cbuckets, carrs, incoming, idCol, textCol, p, threshold)
  }

  /** Shared tail of the fused and index-served ingest forms: map-side
    * probe signatures on the incoming rows, (band, bsig) candidate join,
    * exact-Jaccard verify against the stored arrays, one streaming-legal
    * distinct-match aggregation.
    */
  private def flagAgainst(cbuckets: DataFrame, carrs: DataFrame,
                          incoming: DataFrame, idCol: String, textCol: String,
                          p: Dedup.LshParams, threshold: Double): DataFrame = {
    graft.functions.VectorExprs.register(incoming.sparkSession) // native bandSigs
    // stream side: shingle-hash array and band signatures per ROW —
    // `array_distinct` over hashes mirrors shingleSet's distinct-shingle
    // contract (identical sets absent 64-bit collisions); the token array
    // materializes first per the HOF re-evaluation rule in TextOps
    val sh = if (p.n == 1) col("__toks") else TextOps.shingles(col("__toks"), p.n)
    val withIds = incoming
      .select(col(idCol).as("s_id"), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col("s_id"),
        array_sort(array_distinct(transform(sh, x => xxhash64(x)))).as("s_ids"))
    val sBands = withIds.select(
      col("s_id"), col("s_ids"),
      explode_outer(when(size(col("s_ids")) > 0,
        Dedup.bandSigs(col("s_ids"), p.bands, p.rowsPerBand, p.seed))).as("bk"))
      .select(col("s_id"), col("s_ids"),
        col("bk.band").as("band"), col("bk.bsig").as("bsig"))

    // candidates + exact verify; left joins keep no-candidate docs alive
    val verified = sBands
      .join(cbuckets, Seq("band", "bsig"), "left")
      .join(carrs, Seq("c_id"), "left")
      .select(col("s_id"),
        when(col("c_ids").isNotNull, {
          val (i, n1, n2) = Dedup.jaccardTerms(col("s_ids"), col("c_ids"))
          Dedup.jaccard(i, n1, n2)
        }).as("jacc"),
        col("c_id"))

    // one streaming-legal aggregation: distinct verified corpus matches
    // per incoming doc (collect_list skips nulls; array_distinct folds
    // the same pair colliding in several bands)
    verified
      .groupBy(col("s_id").as("doc_id"))
      .agg(size(array_distinct(collect_list(
        when(col("jacc") >= threshold, col("c_id"))))).cast("long").as("n_matches"))
      .withColumn("is_dup", col("n_matches") > 0)
  }

  /** Embedding sibling of [[dedupAgainstCorpus]]: incoming vectors are
    * near-dup-flagged against a static corpus through its IVF coarse
    * quantizer — the ingest gate for an embedded corpus. The centroid
    * table is trained once on the STATIC side (at scale: loaded from the
    * batch job's persisted index) and rides the plan as a literal, so the
    * stream's bucket probing is a pure map-side expression (the native
    * `NearestCentroids` codegen loop); candidates come from a stateless
    * stream-static join on `bucket`; verification is exact cosine.
    *
    * Recall contract mirrors `ivfDupPairs`: a true match is found iff the
    * corpus vector lives in one of the incoming vector's `nprobe` nearest
    * buckets — false positives are impossible (exact verify), recall
    * rises with nprobe and reaches 1.0 at `nprobe = nlist` (the exact
    * mode, test-pinned). One row per incoming vector:
    * (vec_id, n_matches, is_dup).
    */
  def embeddingDedupAgainstCorpus(corpus: DataFrame, incoming: DataFrame,
                                  idCol: String, vecCol: String,
                                  nlist: Int = 16, nprobe: Int = 4,
                                  threshold: Double = 0.45,
                                  seed: Long = 42L): DataFrame = {
    // train-then-delegate (the ivfDupPairs convention): the gate
    // machinery lives in ONE place, shared with the pinned entry point
    val cs: Seq[Seq[Double]] =
      Similarity.trainCentroids(corpus, idCol, vecCol, nlist, seed).toSeq.map(_.toSeq)
    embeddingDedupWithCentroids(corpus, incoming, idCol, vecCol, cs, nprobe, threshold)
  }

  /** [[embeddingDedupAgainstCorpus]] under a CALLER-SUPPLIED coarse
    * quantizer — the streaming embedding gate with training factored out
    * (the `ivfDupPairsWithCentroids` convention). With PINNED centroids
    * the whole gate is deterministic replayable arithmetic — corpus
    * assignment, map-side probe selection, the rounded-cosine verify,
    * the distinct-match fold — so the streamed result sits under the
    * exact oracle hash gate (catalog `dedup_stream_embedding_pinned`);
    * quantizer quality stays with the trained rows' recall/zero-FP
    * tests.
    */
  def embeddingDedupWithCentroids(corpus: DataFrame, incoming: DataFrame,
                                  idCol: String, vecCol: String,
                                  cs: Seq[Seq[Double]], nprobe: Int,
                                  threshold: Double): DataFrame =
    embeddingDedupWithAssignments(
      assignCentroids(corpus, idCol, vecCol, cs),
      incoming, idCol, vecCol, cs, nprobe, threshold)

  /** The corpus side of the embedding gate: each vector's 1-nearest
    * centroid assignment, as the (c_id, c_vec, bucket) frame the
    * candidate join consumes — the same shape `Similarity.buildIvfIndex`
    * persists. Deterministic replayable arithmetic under pinned
    * centroids; factored out so a long-lived gate can derive it ONCE and
    * persist it instead of paying the full corpus assignment in every
    * micro-batch's re-planned static side.
    */
  def assignCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      cs: Seq[Seq[Double]]): DataFrame = {
    require(cs.nonEmpty, "centroid list must be non-empty")
    graft.functions.VectorExprs.register(corpus.sparkSession)
    import graft.functions.VectorExprs.nearestCentroids
    corpus
      .select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .withColumn("bucket", element_at(nearestCentroids(col("c_vec"), cs, 1), 1))
  }

  /** [[embeddingDedupWithCentroids]] with the corpus ASSIGNMENT side
    * precomputed (an [[assignCentroids]] frame, typically read back from
    * a batch job's parquet): the streaming query re-plans its static side
    * per trigger, so serving from the stored assignment times each
    * micro-batch by the batch, not the corpus. Output is identical to the
    * fused form for an assignment derived from the same centroids (the
    * 1-nearest argmin is deterministic; parity test-pinned).
    */
  def embeddingDedupWithAssignments(assignments: DataFrame, incoming: DataFrame,
                                    idCol: String, vecCol: String,
                                    cs: Seq[Seq[Double]], nprobe: Int,
                                    threshold: Double): DataFrame = {
    require(cs.nonEmpty, "centroid list must be non-empty")
    graft.functions.VectorExprs.register(incoming.sparkSession)
    flagEmbedding(assignments, incoming, idCol, vecCol, cs, nprobe, threshold)
  }

  /** Serve-side twin of [[embeddingDedupAgainstCorpus]] probing a
    * persisted `Similarity.buildIvfIndex` artifact: no quantizer training
    * and no corpus assignment pass at ingest time — centroids load once
    * per plan (sketch-sized), stored bucket assignments ARE the corpus
    * side of the join. Same output as the fused form when the index was
    * built with the same (nlist, seed) over the same corpus (the trainer
    * is deterministic; test-pinned), and the same recall contract:
    * exact-verify forbids false positives at any nprobe.
    */
  def embeddingDedupAgainstIvfIndex(spark: SparkSession, incoming: DataFrame,
                                    idCol: String, vecCol: String,
                                    indexDir: String, nprobe: Int = 4,
                                    threshold: Double = 0.45): DataFrame = {
    graft.functions.VectorExprs.register(spark)
    val cs = Similarity.readCentroids(spark, indexDir)
    val cbuckets = Similarity.readAssignments(spark, indexDir)
      .select(col("n_id").as("c_id"), col("n_vec").as("c_vec"), col("bucket"))
    flagEmbedding(cbuckets, incoming, idCol, vecCol, cs, nprobe, threshold)
  }

  /** Shared tail of the fused and index-served embedding gates: map-side
    * nprobe bucket probing on the incoming rows (centroids ride the plan
    * as a literal), stateless stream-static join on bucket, exact-cosine
    * verify, one streaming-legal distinct-match aggregation.
    */
  private def flagEmbedding(cbuckets: DataFrame, incoming: DataFrame,
                            idCol: String, vecCol: String,
                            cs: Seq[Seq[Double]], nprobe: Int,
                            threshold: Double): DataFrame = {
    import graft.functions.VectorExprs.nearestCentroids
    val probes = incoming
      .select(col(idCol).as("s_id"), col(vecCol).as("s_vec"))
      .withColumn("bucket", explode(nearestCentroids(col("s_vec"), cs, nprobe)))
    probes.join(cbuckets, Seq("bucket"), "left")
      .select(col("s_id"),
        // rounded to 6 dp BEFORE the threshold compare — the batch
        // embedding-dedup family's shared contract (bucketVerifiedPairs,
        // cosineDupPairs), which also makes the pinned gate row exactly
        // replayable at the threshold boundary. cosineNative: the verify
        // fan-out is candidates × dim multiply-adds — the gate's dominant
        // cost — and the interpreted fold form evaluated per element;
        // the native fdot kernel is bit-identical (VectorExprsSpec)
        when(col("c_id").isNotNull,
          round(Similarity.cosineNative(col("s_vec"), col("c_vec")), 6)).as("sim"),
        col("c_id"))
      .groupBy(col("s_id").as("vec_id"))
      .agg(size(array_distinct(collect_list(
        when(col("sim") >= threshold, col("c_id"))))).cast("long").as("n_matches"))
      .withColumn("is_dup", col("n_matches") > 0)
  }

  /** The embeddings fixture split 90/10 into corpus and replayed stream,
    * flagged via [[embeddingDedupAgainstCorpus]] with the √N-sized
    * quantizer — the catalog/bench entry point.
    */
  def embeddingIngestDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val incoming = graft.sources.Tables
      .streamTable(spark, sfDir, "embeddings", emb.schema)
      .filter(pmod(col("vec_id"), lit(10)) === 0)
    val nlist = Similarity.autoNlist(corpus.count())
    val flagged = embeddingDedupAgainstCorpus(corpus, incoming,
      "vec_id", "embedding", nlist = nlist, nprobe = 4)
    runKeyed(flagged)
  }

  /** Pinned-quantizer sibling of [[embeddingIngestDedup]] — same split
    * and output, the entry the hash-gated catalog row drives. Serve-cost
    * hygiene: the corpus assignment is derived ONCE and persisted to
    * scratch parquet, then the gate runs through
    * [[embeddingDedupWithAssignments]] — without this the streaming
    * query's re-planned static side re-assigned the WHOLE corpus on
    * every micro-batch (a production gate would pay it every trigger).
    * Assignment under pinned centroids is deterministic, so the result —
    * and the catalog row's oracle hash — is unchanged.
    */
  def embeddingIngestDedupPinned(spark: SparkSession, sfDir: String,
                                 cs: Seq[Seq[Double]], nprobe: Int,
                                 threshold: Double): DataFrame = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val incoming = graft.sources.Tables
      .streamTable(spark, sfDir, "embeddings", emb.schema)
      .filter(pmod(col("vec_id"), lit(10)) === 0)
    val dir = graft.QueryDefs.ioDir(sfDir, "stream_embed_pinned_assign")
    // flat layout: the bucket-partitioned (pruning) deployment is the
    // index-served row's job (buildIvfIndex already stores assignments
    // bucket-partitioned); at gate scale the partitioned write/discovery
    // overhead exceeds the pruning it buys (measured)
    assignCentroids(corpus, "vec_id", "embedding", cs)
      .write.mode("overwrite").parquet(dir)
    runKeyed(embeddingDedupWithAssignments(spark.read.parquet(dir), incoming,
      "vec_id", "embedding", cs, nprobe, threshold))
  }

  /** Index-served sibling of [[embeddingIngestDedup]]: same split and
    * output, corpus side served from the persisted `buildIvfIndex`
    * artifact at `indexDir` (the production gate configuration).
    */
  def embeddingIngestDedupFromIndex(spark: SparkSession, sfDir: String,
                                    indexDir: String): DataFrame = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val incoming = graft.sources.Tables
      .streamTable(spark, sfDir, "embeddings", emb.schema)
      .filter(pmod(col("vec_id"), lit(10)) === 0)
    runKeyed(embeddingDedupAgainstIvfIndex(spark, incoming,
      "vec_id", "embedding", indexDir, nprobe = 4))
  }

  /** SERVE-ONLY sibling of [[embeddingIngestDedupPinned]]: the corpus
    * assignment is read back from `assignDir` — a PRE-BUILT
    * [[assignCentroids]] parquet (the caller builds it once, out of
    * band) — so this measures what a long-lived production gate pays
    * PER SESSION: load the assignment, run the triggers. Identical
    * output to the pinned row (same centroids ⇒ same deterministic
    * assignment ⇒ same oracle hash); the pinned row keeps timing
    * build + serve as the cold-start cost, this row times the steady
    * state.
    */
  def embeddingIngestDedupServed(spark: SparkSession, sfDir: String,
                                 assignDir: String, cs: Seq[Seq[Double]],
                                 nprobe: Int, threshold: Double): DataFrame = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val incoming = graft.sources.Tables
      .streamTable(spark, sfDir, "embeddings", emb.schema)
      .filter(pmod(col("vec_id"), lit(10)) === 0)
    runKeyed(embeddingDedupWithAssignments(spark.read.parquet(assignDir),
      incoming, "vec_id", "embedding", cs, nprobe, threshold))
  }

  /** Perceptual-fingerprint sibling of [[dedupAgainstCorpus]] — the
    * MULTIMODAL ingest gate: incoming assets, already reduced to 64-bit
    * perceptual fingerprints (image dHash, audio fingerprint — any
    * `Dedup.hammingPairs` source), are near-dup-flagged against a static
    * corpus at exact Hamming radius `maxHamming`.
    *
    * Plan shape (the text gate's, with fingerprints for shingles): the
    * stream side computes its pigeonhole band signatures MAP-SIDE
    * (`Dedup.hammingBandSigs` — pure per-row expressions, legal streaming
    * and batch); candidates come from a stateless stream-static equi join
    * on (band, bits); verification is the exact `bit_count` Hamming
    * distance (recall 1.0 at the radius by the pigeonhole argument —
    * a true pair within `maxHamming` agrees exactly on ≥ 1 band); ONE
    * streaming aggregation folds band collisions into distinct-match
    * counts. Incoming assets with a NULL fingerprint (undecodable
    * payload) surface with n_matches = 0 — the `explode_outer` guard,
    * mirroring the empty-shingle contract of the text gate. Returns one
    * row per incoming asset: (id, n_matches, is_dup).
    */
  def fingerprintDedupAgainstCorpus(corpusFp: DataFrame, incomingFp: DataFrame,
                                    idCol: String, hashCol: String,
                                    maxHamming: Int = 3): DataFrame = {
    val cb = corpusFp.filter(col(hashCol).isNotNull)
      .select(col(idCol).as("c_id"), col(hashCol).as("c_hash"))
      .select(col("c_id"), col("c_hash"),
        explode(Dedup.hammingBandSigs(col("c_hash"), maxHamming)).as("bk"))
      .select(col("c_id"), col("c_hash"),
        col("bk.band").as("band"), col("bk.bits").as("bits"))
    val sb = incomingFp
      .select(col(idCol).as("s_id"), col(hashCol).as("s_hash"))
      .select(col("s_id"), col("s_hash"),
        explode_outer(when(col("s_hash").isNotNull,
          Dedup.hammingBandSigs(col("s_hash"), maxHamming))).as("bk"))
      .select(col("s_id"), col("s_hash"),
        col("bk.band").as("band"), col("bk.bits").as("bits"))
    sb.join(cb, Seq("band", "bits"), "left")
      .select(col("s_id"),
        when(col("c_hash").isNotNull &&
          bit_count(col("s_hash").bitwiseXOR(col("c_hash"))) <= maxHamming,
          col("c_id")).as("m"))
      .groupBy(col("s_id").as(idCol))
      .agg(size(array_distinct(collect_list(col("m")))).cast("long").as("n_matches"))
      .withColumn("is_dup", col("n_matches") > 0)
  }

  /** The documents fixture as a synthetic IMAGE corpus (real PNG encode +
    * decode + dHash per row, the `multimodal_image_dedup` construction),
    * split into static corpus (doc_id % 10 ≠ 0) and a replayed incoming
    * stream (doc_id % 10 = 0), gated through
    * [[fingerprintDedupAgainstCorpus]] — the catalog/bench entry point.
    * Corpus docs with doc_id % 20 = 1 render the PREVIOUS id's pattern,
    * planting exactly one corpus near-dup for every OTHER incoming doc
    * (those with doc_id % 20 = 0 and a successor in the table) while the
    * % 20 = 10 half stays novel — closed-form oracle with both outcomes;
    * all other pattern pairs sit ≥ Hamming 14 apart (the bijective-mix
    * contract).
    */
  def imageIngestDedup(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val base = when(pmod(col("doc_id"), lit(20)) === 1, col("doc_id") - 1)
      .otherwise(col("doc_id"))
    val corpusFp = graft.operators.Multimodal.imageHashes(
      graft.operators.Multimodal.synthesizePatternPng(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0).select(col("doc_id")), base),
      "doc_id", col("png"))
    val incoming = graft.sources.Tables
      .streamTable(spark, sfDir, "documents", docs.schema)
      .filter(pmod(col("doc_id"), lit(10)) === 0)
    val incomingFp = graft.operators.Multimodal.imageHashes(
      graft.operators.Multimodal.synthesizePatternPng(
        incoming.select(col("doc_id")), base),
      "doc_id", col("png"))
    runKeyed(fingerprintDedupAgainstCorpus(corpusFp, incomingFp, "doc_id", "dhash"))
  }

  /** Audio sibling of [[imageIngestDedup]]: the documents fixture as a
    * synthetic WAV corpus (real RIFF encode + decode + gain-invariant
    * fingerprint per row, the `multimodal_audio_dedup` construction),
    * split static/stream on doc_id % 10 and gated through
    * [[fingerprintDedupAgainstCorpus]]. The planted corpus near-dups
    * (% 20 = 1 docs render the PREVIOUS id's pattern) play at GAIN 2 —
    * the gate must match them through the fingerprint's gain invariance,
    * exactly the robustness `multimodal_audio_dedup` pins batch-side.
    * Same closed-form oracle as the image gate: incoming doc d matches
    * iff d % 20 = 0 and d+1 exists; the % 20 = 10 half stays novel.
    */
  def audioIngestDedup(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val isCopy = pmod(col("doc_id"), lit(20)) === 1
    val base = when(isCopy, col("doc_id") - 1).otherwise(col("doc_id"))
    val gain = when(isCopy, lit(2)).otherwise(lit(1))
    val corpusFp = graft.operators.Multimodal.audioHashes(
      graft.operators.Multimodal.synthesizePatternWav(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0).select(col("doc_id")),
        base, gain),
      "doc_id", col("wav"))
    val incoming = graft.sources.Tables
      .streamTable(spark, sfDir, "documents", docs.schema)
      .filter(pmod(col("doc_id"), lit(10)) === 0)
    val incomingFp = graft.operators.Multimodal.audioHashes(
      graft.operators.Multimodal.synthesizePatternWav(
        incoming.select(col("doc_id")), base, gain),
      "doc_id", col("wav"))
    runKeyed(fingerprintDedupAgainstCorpus(corpusFp, incomingFp, "doc_id", "afp"))
  }

  /** Complete-mode memory-sink runner for a KEYED streaming aggregate
    * (same lifecycle as StreamWindows.runToResult; shared by both ingest
    * paths).
    */
  private def runKeyed(flagged: DataFrame): DataFrame = {
    val spark = flagged.sparkSession
    val name = s"graft_stream_ingest_${nameSeq.incrementAndGet()}"
    val q = flagged.writeStream
      .format("memory").queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.stop()
    val sink = spark.table(name)
    val rows = sink.collect()
    spark.catalog.dropTempView(name)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), sink.schema)
  }

  /** The documents fixture split into reference corpus (doc_id % 10 ≠ 0)
    * and a replayed incoming stream (doc_id % 10 = 0), flagged against
    * each other — the catalog/bench entry point. Complete-mode memory
    * sink, `Trigger.AvailableNow`, result copied out and the sink view
    * dropped (same lifecycle as StreamWindows.runToResult, which cannot
    * be reused verbatim: this result is keyed, not windowed).
    */
  def ingestDedup(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val incoming = graft.sources.Tables
      .streamTable(spark, sfDir, "documents", docs.schema)
      .filter(pmod(col("doc_id"), lit(10)) === 0)
    runKeyed(dedupAgainstCorpus(corpus, incoming, "doc_id", "text"))
  }

  /** Index-served sibling of [[ingestDedup]]: same split and output, but
    * the corpus side is the persisted `buildLshIndex` artifact at
    * `indexDir` — the configuration a production gate actually runs
    * (index built once by batch, probed per micro-batch).
    */
  def ingestDedupFromIndex(spark: SparkSession, sfDir: String,
                           indexDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val incoming = graft.sources.Tables
      .streamTable(spark, sfDir, "documents", docs.schema)
      .filter(pmod(col("doc_id"), lit(10)) === 0)
    runKeyed(dedupAgainstLshIndex(spark, incoming, "doc_id", "text", indexDir))
  }

  /** Streaming DECONTAMINATION gate: incoming documents flagged against a
    * STATIC eval/benchmark window-hash set at exact-substring (sliding
    * n-token window) granularity — the ingest-time form of
    * [[graft.operators.NgramSpans.decontamStats]]'s gram accounting.
    * Returns one row per incoming non-null-text document:
    * (id, n_grams, n_hit_grams, is_contaminated).
    *
    * Plan shape: window hashes compute MAP-SIDE on the stream (pure
    * per-row expressions via `windowHashArray` — no shuffle, no window
    * functions, so the same plan is legal streaming and batch); the eval
    * window set is a stream-static equi join against a benchmark-sized
    * static side (broadcast); ONE streaming aggregation per doc folds the
    * flags. Span-level CUTTING stays a batch concern — the gate decides
    * accept/quarantine, the batch `decontamClean` rewrites.
    *
    * `incoming` may be streaming or batch — stream ≡ batch parity is
    * pinned in StreamDedupSpec against the batch operator itself.
    *
    * Broadcast-size guard: the eval window-hash set ships WHOLE to every
    * executor (that is the design — the benchmark side is small by
    * contract), so a caller who swaps the frames — or points `eval` at a
    * raw training corpus — would OOM the entire fleet, not one task. The
    * gate therefore counts the distinct eval grams ONCE at build time
    * (the eval side is static; the count is one pass over the small
    * frame) and FAILS LOUDLY past `maxEvalGrams` (the
    * `maxCellsPerInterval` precedent: a guard the caller must consciously
    * raise, never a silent degradation). The default (2²⁴ ≈ 16.8M grams,
    * ~32 B of md5 key each — a few hundred MB broadcast) is generous for
    * any real benchmark suite; a train-corpus-sized side blows through it
    * by orders of magnitude.
    *
    * NOTE: construction is EAGER — the guard runs one Spark job (a count
    * over the eval side) at gate build, even when the returned frame is
    * never executed; a caller constructing gates speculatively pays that
    * count up front. The persisted eval gram set is MEMOIZED per
    * (session, canonicalized eval plan, n), so constructing the gate
    * repeatedly in one session (bench passes, several streaming queries
    * over one benchmark suite) reuses a single cache — and a memo hit
    * skips the guard job too — instead of accumulating one
    * MEMORY_AND_DISK copy per construction. A memo entry is only served
    * while its persisted blocks are still registered: after a
    * `clearCache()` (or any unpersist) the next construction REBUILDS —
    * re-deriving, re-persisting, and re-running the guard count — so an
    * eval source that changed in place under the same canonicalized plan
    * is re-guarded and re-snapshotted, never silently served stale.
    * [[clearMemo]] forces that eviction immediately.
    */
  def decontamGate(eval: DataFrame, incoming: DataFrame,
                   idCol: String, textCol: String, n: Int = 8,
                   maxEvalGrams: Long = 1L << 24): DataFrame = {
    import graft.operators.NgramSpans
    require(maxEvalGrams > 0, s"maxEvalGrams must be positive, got $maxEvalGrams")
    sweepDeadSessions()
    // persisted: the guard count materializes the SAME cache every
    // micro-batch then reuses — without it each micro-batch re-derives
    // the distinct eval gram set from text (measured doubling the gate's
    // cost), and the guard count would add a third derivation. Bounded
    // by the guard itself (≤ maxEvalGrams rows). `compute` (not
    // computeIfAbsent) so an entry whose cache blocks were dropped is
    // rebuilt atomically: persistence is the marker that the memoized
    // nEval still describes the data — once the blocks are gone the
    // source may have changed, and serving the old handle would both
    // skip the size guard on the regrown data and pin a stale snapshot
    val key = (eval.sparkSession, eval.queryExecution.analyzed.canonicalized, n)
    val (evalGrams, nEval) = evalGramCache.compute(key, (_, prev) => {
      if (prev != null &&
          prev._1.storageLevel != org.apache.spark.storage.StorageLevel.NONE) prev
      else {
        val g = NgramSpans.windowHashArray(eval, idCol, textCol, n)
          .select(explode(col("__grams")).as("__gram")).distinct()
          .withColumn("__hit", lit(true))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (g, g.count())
      }
    })
    if (nEval > maxEvalGrams) {
      // don't leak (or keep serving) the oversized cache with the failure
      evalGramCache.remove(key)
      evalGrams.unpersist()
      throw new IllegalArgumentException(
        s"decontamGate: eval window-hash set has $nEval distinct grams > " +
          s"maxEvalGrams=$maxEvalGrams — the eval side broadcasts to every " +
          "executor and must stay benchmark-sized; check the frames are not " +
          "swapped, or consciously raise the cap")
    }
    NgramSpans.windowHashArray(incoming, idCol, textCol, n)
      .select(col(idCol), explode_outer(col("__grams")).as("__gram"))
      .join(broadcast(evalGrams), Seq("__gram"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__gram")).as("n_grams"),
        count(when(col("__hit"), 1)).as("n_hit_grams"))
      .withColumn("is_contaminated", col("n_hit_grams") > 0)
  }

  /** The documents fixture split into a static eval/benchmark side
    * (doc_id % 10 ≠ 0) and a replayed incoming stream (doc_id % 10 = 0),
    * gated at window granularity — the catalog/bench entry point (same
    * split and sink lifecycle as [[ingestDedup]]).
    */
  def ingestDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val eval = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val incoming = graft.sources.Tables
      .streamTable(spark, sfDir, "documents", docs.schema)
      .filter(pmod(col("doc_id"), lit(10)) === 0)
    runKeyed(decontamGate(eval, incoming, "doc_id", "text"))
  }
}
