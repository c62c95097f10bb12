package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SimHashAgg

/** Deduplication family for training-data pipelines (north-star extension):
  * exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design:
  *  - exact: one groupBy on a content hash — single shuffle of (hash, id);
  *  - jaccardPairs: exact pairs via prefix-filtered set-similarity join —
  *    candidates only on each doc's globally-rarest shingles, exact
  *    verification on candidates; linear shuffles, no all-pairs blowup;
  *  - minHashLSH: signature (one groupBy) → band buckets (one groupBy) →
  *    candidate pairs (bucket-local join) → exact verify on candidates
  *    only. Work is linear in corpus + candidates;
  *  - simHash: one 64-bit fingerprint per doc via a mergeable Aggregator;
  *    near-dup ⇔ small Hamming distance; pairing via pigeonhole bit-bands
  *    (bucket-local join, recall 1.0 at the given radius).
  */
object Dedup {

  /** Exact dedup: one representative (min id) per identical text + the
    * duplicate count. Content-hash groupBy — only (sha2, id) pairs are
    * shuffled, never the text itself (at 100 TB this matters).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), sha2(col(textCol), 256).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_copies"))

  /** Sub-document (boilerplate) dedup — the line-dedup pass of a
    * training-data pipeline (RefinedWeb/Gopher-style): split each doc
    * into fixed-size non-overlapping token spans, count each span's
    * DISTINCT-document occurrences corpus-wide, and mark spans appearing
    * in more than `maxDocs` documents as boilerplate (navigation bars,
    * headers, license footers repeat verbatim across pages; genuine
    * content doesn't). Returns per-doc
    * (id, n_spans, n_dropped_spans, n_kept_tokens) — the cleaning stats a
    * pipeline gates on. Spans reuse `TextOps.chunkTokens` (overlap 0), so
    * "span" is a real newline-free line surrogate; on a corpus with
    * actual lines, split on newlines upstream and pass line-sized spans.
    *
    * Scale shape: explode to spans (map-side), one shuffle keyed by span
    * hash for the distinct-doc counts, and the spans⋈counts join is
    * co-partitioned on that same hash (no extra exchange); the final
    * per-doc rollup is a second linear shuffle. Only (hash, id) pairs
    * move — never text.
    */
  def subdocDedup(df: DataFrame, idCol: String, textCol: String,
                  spanTokens: Int = 10, maxDocs: Int = 1): DataFrame =
    subdocSpanCounts(df, idCol, textCol, spanTokens, emitText = false)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        count(when(col("n_docs") > maxDocs, 1)).as("n_dropped_spans"),
        coalesce(sum(when(col("n_docs") <= maxDocs, col("n_chunk_tokens"))), lit(0L))
          .as("n_kept_tokens"))

  /** The TRANSFORM sibling of [[subdocDedup]]: the span-stripped document
    * itself — kept spans re-joined in original span order — plus the kept
    * span count. A doc whose every span is boilerplate (e.g. an exact
    * duplicate at maxDocs=1: all its spans recur in the twin) disappears
    * from the output, which is the pipeline-correct gating for a document
    * that is 100% boilerplate.
    *
    * Scale shape: identical linear shuffles as the stats form, except the
    * kept span TEXT rides the final per-doc rollup — per-doc payload, the
    * same order as rewriting the corpus at all, and the per-doc
    * collect_list is doc-sized by construction.
    */
  def subdocDedupClean(df: DataFrame, idCol: String, textCol: String,
                       spanTokens: Int = 10, maxDocs: Int = 1): DataFrame =
    subdocSpanCounts(df, idCol, textCol, spanTokens, emitText = true)
      .filter(col("n_docs") <= maxDocs)
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("chunk_no"), col("chunk_text")))),
            x => x.getField("chunk_text")), " ").as("clean_text"),
        count(lit(1)).as("n_kept_spans"))

  /** Shared head of both sub-document dedup forms: spans + corpus-wide
    * distinct-doc counts, co-partitioned on the span hash (the join reuses
    * the groupBy's hash partitioning — no extra exchange).
    */
  private def subdocSpanCounts(df: DataFrame, idCol: String, textCol: String,
                               spanTokens: Int, emitText: Boolean): DataFrame = {
    val spans = TextOps.chunkTokens(df, idCol, textCol, spanTokens, 0,
      emitText = emitText)
    val spanDocs = spans.groupBy(col("chunk_hash"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
    spans.join(spanDocs, Seq("chunk_hash"))
  }

  /** Connected components over an undirected near-dup pair graph — the
    * step a real dedup pipeline runs AFTER pair detection: pairs chain
    * (A~B, B~C ⇒ {A,B,C} even when A!~C), and the pipeline keeps ONE
    * representative per component, not per pair. Returns (id, rep_id)
    * for EVERY vertex, rep_id = the smallest id in its component
    * (singletons map to themselves).
    *
    * Algorithm: min-label propagation — each round every vertex adopts
    * the smallest label among itself and its neighbors; converges in
    * O(component diameter) rounds. Near-dup components are small and
    * dense (that is WHY they are dup clusters), so the round count is
    * tiny in practice; `maxIters` guards pathological chains and the
    * operator FAILS LOUDLY rather than return unconverged (= wrong)
    * labels. Each round is two linear shuffles (edge join + min
    * aggregation). For corpora that DO present high-diameter components
    * (e.g. paginated crawls chaining page-to-page), use the implemented
    * sibling [[connectedComponentsStar]] — alternating small-star/
    * large-star contraction, O(log² n) rounds regardless of diameter.
    *
    * Durability contract: each round truncates lineage with
    * `localCheckpoint` — executor-LOCAL blocks, NOT fault-tolerant. On a
    * single-JVM run that is free; on a real cluster an executor loss
    * mid-run (or after, while downstream still reads the labels) fails
    * the job, which matters for a dedup pass measured in hours. Set
    * `spark.sparkContext.setCheckpointDir(...)` before calling and the
    * loop upgrades itself to RELIABLE checkpoints (HDFS/object-store
    * backed, survives executor loss) at the cost of one write+read of the
    * two-long-per-vertex label table per round. Either way the previous
    * round's blocks are released as soon as the next round materializes,
    * so storage holds at most two label-table copies, not `maxIters`.
    */
  def connectedComponents(vertices: DataFrame, idCol: String,
                          pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    requireIntegralId(vertices, idCol, "connectedComponents")
    // Symmetrize with a map-side explode, NOT pairs.union(pairs.swapped):
    // union scans the pair plan TWICE, and for an expensive generator
    // (the MinHash-LSH candidate+verify DAG) that doubles the dominant
    // cost of the whole operator before the cache ever materializes.
    val edges = pairs
      .select(col("d1").cast("long").as("a"), col("d2").cast("long").as("b"))
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct().cache()
    var labels = vertices
      .select(col(idCol).cast("long").as("id"))
      .withColumn("rep_id", col("id"))
    var prev: DataFrame = null // previous round's checkpointed frame
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("id").as("src"), col("rep_id")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("rep_id")).as("nbr_min"))
      // checkpoint, not cache: an iterative frame's LINEAGE doubles
      // per round, and Catalyst re-analyzes the whole tree each iteration
      // — by round ~12 planning time alone explodes. Checkpointing
      // truncates the plan to the materialized partitions (label-table-
      // sized); local vs reliable per the durability contract in the
      // scaladoc. The round is ONE shuffling pass: the OLD label rides
      // the checkpoint, so the changed count is a local scan over the
      // materialized table — not the re-join (a second shuffle of two
      // label tables per round) this replaces
      val tagged = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("rep_id").as("old_rep"),
          least(col("rep_id"), coalesce(col("nbr_min"), col("rep_id"))).as("rep_id"))
      val next = Iterative.checkpoint(tagged)
      changed = next.filter(col("rep_id") =!= col("old_rep")).count()
      // `next` no longer reads round iter-1's blocks — release them now,
      // or maxIters label-table copies pile up in storage memory for the
      // life of the session
      if (prev != null) Iterative.releaseCheckpoint(prev)
      prev = if (iter > 0) labels else null // round 0's `labels` is the lazy seed
      labels = next
      iter += 1
    }
    if (prev != null) Iterative.releaseCheckpoint(prev)
    edges.unpersist()
    require(changed == 0,
      s"connectedComponents did not converge in $maxIters rounds — " +
        "component diameter exceeds the near-dup contract; raise maxIters " +
        "or use a star-contraction variant")
    labels.select(col("id"), col("rep_id"))
  }

  /** Connected components by alternating star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — the high-diameter
    * sibling of [[connectedComponents]]. Min-label propagation needs
    * O(component diameter) rounds, so a pathological chain (a crawl of
    * paginated near-identical pages, each page similar only to its
    * neighbors) can exceed any sane round budget; star contraction
    * converges in O(log² n) rounds REGARDLESS of diameter by rewriting the
    * edge set itself until every component is a star centered on its
    * minimum id. Same output contract as [[connectedComponents]]:
    * (id, rep_id) for every vertex, rep_id = component minimum, singletons
    * map to themselves.
    *
    * Per round (one large-star + one small-star):
    *  - large-star: every vertex u computes m = min(Γ(u) ∪ {u}) and
    *    re-points each LARGER neighbor v > u at m — long tails fold onto
    *    local minima in parallel;
    *  - small-star: every vertex u re-points its smaller-or-equal
    *    neighborhood (and itself) at its minimum neighbor — flattening
    *    two-level trees into stars.
    * Both are a groupBy(min) + a join co-partitioned on the same key (two
    * linear shuffles), and both only ever re-point edges at SMALLER ids,
    * so the edge set's id-sum strictly decreases until the star fixpoint.
    * The fixpoint test is an exact set comparison (count + anti-join) on
    * the materialized (checkpoint-truncated) edge tables; rounds are
    * O(log²), so the extra per-round pass cannot dominate. Durability and
    * storage follow [[connectedComponents]]'s contract: reliable
    * checkpoints when a checkpoint dir is set, at most two edge-table
    * copies held, loud failure rather than unconverged labels.
    */
  def connectedComponentsStar(vertices: DataFrame, idCol: String,
                              pairs: DataFrame, maxIters: Int = 48): DataFrame = {
    requireIntegralId(vertices, idCol, "connectedComponentsStar")

    // canonical edges: larger id -> smaller id, self-loops dropped
    val init = pairs
      .select(col("d1").cast("long").as("a"), col("d2").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct()

    // large-star over the symmetric view: for every undirected edge
    // {u, v} (kept once as v > u), the larger endpoint re-points at
    // m(u) = min(Γ(u) ∪ {u}); output is canonical again since m <= u < v
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      sym.filter(col("v") > col("u"))
        .join(mins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    // small-star over canonical edges: every vertex u re-points its
    // smaller neighborhood (and itself) at min(Γ⁻(u)); m < v < u keeps
    // the output canonical
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      e.join(mins, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }

    // termination = the STRUCTURAL goal itself, not plan-level fixpoint:
    // the canonical edge set is a star forest iff every child u carries
    // exactly one edge AND no node is both child and root — precisely the
    // state where (u, v) IS the (id, rep) mapping. ONE job per round
    // (this was two: a multi-edge count probe plus a child∩root semi
    // join): both endpoint roles union into a single per-node aggregate
    // over the materialized (shrinking) edge table — c = child-edge
    // count, r = appears-as-root flag — and a violation is c > 1 (a
    // multi-edge child) or c > 0 ∧ r > 0 (a node on both sides), exactly
    // the two conditions the separate probes tested
    def isStarForest(e: DataFrame): Boolean =
      e.select(col("u").as("k"), lit(1).as("child"), lit(0).as("root"))
        .union(e.select(col("v").as("k"), lit(0).as("child"), lit(1).as("root")))
        .groupBy(col("k"))
        .agg(sum(col("child")).as("c"), max(col("root")).as("r"))
        .filter(col("c") > 1 || (col("c") > 0 && col("r") > 0))
        .limit(1).count() == 0

    var edges = Iterative.checkpoint(init)
    var prev: DataFrame = null
    var done = isStarForest(edges)
    var iter = 0
    while (!done && iter < maxIters) {
      val next = Iterative.checkpoint(smallStar(largeStar(edges)))
      done = isStarForest(next)
      if (prev != null) Iterative.releaseCheckpoint(prev)
      prev = edges
      edges = next
      iter += 1
    }
    if (prev != null) Iterative.releaseCheckpoint(prev)
    require(done,
      s"connectedComponentsStar did not converge in $maxIters rounds — " +
        "this exceeds the O(log^2 n) contract; raise maxIters")
    // at the fixpoint every non-root points straight at its component
    // minimum; roots and singletons self-map
    vertices.select(col(idCol).cast("long").as("id"))
      .join(edges.select(col("u").as("id"), col("v").as("star_rep")), Seq("id"), "left")
      .select(col("id"), coalesce(col("star_rep"), col("id")).as("rep_id"))
  }

  /** INCREMENTAL component maintenance — fold an ingest batch into an
    * existing clustering without re-running CC over the corpus. Given the
    * previous labels (id, rep_id) for every already-clustered doc, the
    * batch's new ids, and `newPairs` = every near-dup pair INVOLVING a
    * new doc (new-vs-corpus from an LSH index probe, new-vs-new from
    * banding the batch — the [[buildLshIndex]]/probe path produces
    * exactly this), returns updated (id, rep_id) labels for the union.
    *
    * Why it's correct: the old labels partition the corpus into
    * components whose representative IS the component minimum, so
    * contracting every old component to its rep preserves connectivity —
    * a new edge (a, b) connects rep(a) to rep(b). CC therefore only
    * needs to run on the CONTRACTED graph of touched vertices (old reps
    * and new ids that appear in `newPairs`) — an ingest-batch-sized
    * problem regardless of corpus size — and the result composes:
    * final(x) = sub(rep(x)) when rep(x) was touched, else rep(x).
    * The min-id contract survives composition because each old rep is
    * already its component's minimum, so the contracted graph's min IS
    * the member-level min. Output is exactly
    * `connectedComponents(old ∪ new, oldPairs ∪ newPairs)` (parity-
    * pinned in the spec, including the case where one new doc BRIDGES
    * two previously-separate old components).
    *
    * Scale shape (the reason this exists): the iterative CC loop — the
    * expensive, hard-to-scale part — runs on the touched subgraph only
    * (≤ 2·|newPairs| vertices); the corpus-sized work is ONE linear
    * rep-keyed broadcast-able join to re-label members of merged
    * components. A nightly 0.1% ingest thus pays 0.1%-sized clustering,
    * not a full recluster. Uses [[connectedComponentsStar]] for the
    * subgraph (diameter-robust; chains of merges across many rounds of
    * ingest are exactly where diameter grows).
    */
  def incrementalComponents(oldLabels: DataFrame, newIds: DataFrame,
                            idCol: String, newPairs: DataFrame): DataFrame = {
    requireIntegralId(newIds, idCol, "incrementalComponents")
    val old = oldLabels.select(col("id").cast("long").as("id"),
      col("rep_id").cast("long").as("rep_id"))
    val fresh = newIds.select(col(idCol).cast("long").as("id"))
    // contract pair endpoints to current representatives (new ids are
    // their own reps) — two linear id-keyed joins against the label table
    val e = newPairs.select(col("d1").cast("long").as("a"), col("d2").cast("long").as("b"))
    val contracted = e
      .join(old.select(col("id").as("a"), col("rep_id").as("ra")), Seq("a"), "left")
      .join(old.select(col("id").as("b"), col("rep_id").as("rb")), Seq("b"), "left")
      .select(coalesce(col("ra"), col("a")).as("d1"),
        coalesce(col("rb"), col("b")).as("d2"))
      .filter(col("d1") =!= col("d2"))
    // the touched subgraph is ingest-batch-sized: CHECKPOINT it (not just
    // pin) — its plan embeds the whole pair-producer DAG (an LSH index
    // probe + verify at serving time) and is referenced by the vertex
    // derivation (twice), the CC loop and the final label joins; pinned-
    // but-untruncated, the output plan re-embedded that DAG per reference
    // (305 Exchanges / 2933 plan lines on the served fold row) and
    // Catalyst re-analyzed all of it on every action. Truncation bounds
    // the plan at a batch-sized leaf (the connectedComponents durability
    // contract: reliable when a checkpoint dir is set)
    val cached = Iterative.checkpoint(contracted)
    val touched = cached.select(col("d1").as("id"))
      .union(cached.select(col("d2").as("id"))).distinct()
    // the sub-clustering output is referenced by BOTH final label joins;
    // checkpointing it too keeps the returned plan constant-sized (two
    // joins against two batch-sized leaves) instead of duplicating the
    // CC fixpoint plan per side
    val sub = Iterative.checkpoint(connectedComponentsStar(touched, "id", cached)
      .select(col("id").as("t_id"), col("rep_id").as("t_rep")))
    // compose: members of touched old components re-point at the merged
    // rep; everything else keeps its label. One rep-keyed join each side
    // (sub is batch-sized — broadcast-able at real scale).
    val updatedOld = old
      .join(sub, old("rep_id") === sub("t_id"), "left")
      .select(col("id"), coalesce(col("t_rep"), col("rep_id")).as("rep_id"))
    val updatedNew = fresh
      .join(sub, fresh("id") === sub("t_id"), "left")
      .select(col("id"), coalesce(col("t_rep"), col("id")).as("rep_id"))
    updatedOld.union(updatedNew)
  }

  /** The corpus-level dedup TRANSFORM: keep exactly one representative
    * document per near-dup component (the smallest id), tagged with the
    * component size — the step that actually shrinks a training corpus
    * once pairs have been clustered by [[connectedComponents]]. Dropped
    * members are recoverable from the components frame; singletons pass
    * through with n_members = 1.
    */
  def keepRepresentatives(df: DataFrame, idCol: String,
                          pairs: DataFrame): DataFrame =
    keepRepresentativesOf(df, idCol,
      connectedComponents(df.select(col(idCol)), idCol, pairs))

  /** [[keepRepresentatives]] over an ALREADY-CLUSTERED component frame
    * (id, rep_id) — decouples representative selection from the
    * clustering algorithm, so the same transform composes with
    * [[connectedComponents]] (min-label) or [[connectedComponentsStar]]
    * (diameter-robust contraction), or with labels loaded from a prior
    * batch job's output. Both clusterings emit the min-id-per-component
    * contract, so the kept set is identical whichever produced the frame.
    */
  def keepRepresentativesOf(df: DataFrame, idCol: String,
                            components: DataFrame): DataFrame = {
    val sizes = components
      .groupBy(col("rep_id"))
      .agg(count(lit(1)).as("n_members"))
    df.join(sizes, df(idCol) === sizes("rep_id"))
      .drop("rep_id")
  }

  /** Train/eval contamination check — the decontamination pass of a
    * training-data pipeline: flag training docs whose text shares at
    * least `minHits` distinct n-gram shingles with the eval (benchmark)
    * set's shingle UNION — i.e. shingles appearing anywhere in the eval
    * set, possibly spread across several eval documents. (Union
    * semantics are deliberate: leakage across multiple benchmark items
    * is still leakage; a per-eval-doc threshold would need the pair
    * counts, not this single broadcast filter.)
    *
    * Scale shape: the eval side is benchmark-sized — tiny next to a
    * 100 TB train corpus — so its distinct shingle set BROADCASTS, and the
    * train side explodes shingles WITHOUT a pre-join distinct (a distinct
    * would hash-exchange the full train shingle set before the join —
    * exactly the shuffle this operator exists to avoid): the broadcast
    * filter runs map-side on the raw explode, and per-doc dedup happens
    * AFTER it via countDistinct — so only MATCHING (id, shingle) pairs
    * ever shuffle. A ScalingSpec test pins the shuffle volume to the
    * match count, not the corpus shingle count.
    */
  def contamination(train: DataFrame, evalSet: DataFrame, idCol: String,
                    textCol: String, n: Int = 3, minHits: Int = 1): DataFrame = {
    val evalSh = TextOps.rawShingles(evalSet, idCol, textCol, n)
      .select(col("sh")).distinct()
    TextOps.rawShingles(train, idCol, textCol, n)
      .join(broadcast(evalSh), Seq("sh"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("sh")).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** [[contamination]] with the eval shingle set compressed to a BLOOM
    * FILTER — the variant for when even the eval side is too big to
    * broadcast raw (a full benchmark union at 100 TB train scale:
    * millions of shingles × ~50 bytes vs ~1.2 bytes/item of filter at
    * fpp 1e-8). Built distributed (`stat.bloomFilter` is a
    * treeAggregate), broadcast once, probed map-side.
    *
    * Contract is ONE-SIDED: a bloom filter has no false negatives, so
    * every truly contaminated doc is flagged (n_hits can only
    * OVER-count, never under) and the surviving "clean" set is a SUBSET
    * of the exact operator's — the safe direction for decontamination,
    * where a dropped clean doc costs a little data and a kept
    * contaminated doc poisons the eval. Flagged-set equality with the
    * exact path holds at tight fpp (probe count · fpp ≪ 1) and is
    * pinned on the fixture; the superset direction is pinned even at
    * fpp 0.5. Deterministic: Spark's bloom hashing is seed-fixed, so
    * identical inputs give identical filters and flags.
    */
  def contaminationBloom(train: DataFrame, evalSet: DataFrame, idCol: String,
                         textCol: String, n: Int = 3, minHits: Int = 1,
                         fpp: Double = 1e-8): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    val evalSh = TextOps.rawShingles(evalSet, idCol, textCol, n)
      .select(col("sh")).distinct()
    // sizing count over the BENCHMARK-sized side only (never the corpus)
    val nItems = math.max(1L, evalSh.count())
    val bf = evalSh.stat.bloomFilter("sh", nItems, fpp)
    val bc = train.sparkSession.sparkContext.broadcast(bf)
    val might = udf((s: String) => s != null && bc.value.mightContainString(s))
    TextOps.rawShingles(train, idCol, textCol, n)
      .filter(might(col("sh"))) // map-side; only (likely) matches shuffle
      .groupBy(col(idCol))
      .agg(countDistinct(col("sh")).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** DOCUMENT-level fuzzy decontamination: train docs whose whole-document
    * n-gram Jaccard against ANY eval (benchmark) document reaches
    * `threshold` — the near-duplicate complement of [[contamination]]'s
    * shared-shingle count. Shingle-count decontamination catches verbatim
    * leakage; this catches the paraphrased/reformatted copy whose
    * individual n-grams are common but whose SET is eval-shaped (the
    * "fuzzy dedup against eval" pass GPT-3 and PaLM's data cards
    * describe).
    *
    * Output: one row per contaminated (train, eval) pair at exact Jaccard
    * ≥ threshold — (idCol, eval_id, jacc). Downstream keeps
    * `train.join(flagged, anti)`, mirroring the exact operator.
    *
    * Scale shape (the asymmetric twin of [[minHashLSH]]'s self-join): the
    * eval side is benchmark-sized by contract, so its band buckets AND its
    * verify arrays BROADCAST; the train side computes band signatures
    * map-side from its own shingle arrays and candidates emerge from a
    * broadcast hash join — the 100 TB corpus is never self-joined and
    * never shuffles its shingle sets anywhere (the only wide exchange is
    * the per-doc array fold, linear in the corpus). Exact Jaccard is then
    * verified on the (small) candidate set only, with recall governed by
    * the banding curve: 1-(1-s^r)^b, e.g. 8×4 bands at s=0.8 → 0.93,
    * s=0.97 → ~1.0.
    */
  def contaminationFuzzy(train: DataFrame, evalSet: DataFrame, idCol: String,
                         textCol: String, n: Int = 2, bands: Int = 8,
                         rowsPerBand: Int = 4, threshold: Double = 0.5,
                         seed: Long = 42L): DataFrame = {
    graft.functions.VectorExprs.register(train.sparkSession) // native bandSigs
    val p = LshParams(n, bands, rowsPerBand, seed)
    val edocs = shingleIdArrays(evalSet, idCol, textCol, n)
      .select(col(idCol).as("eval_id"), col("ids").as("e_ids"))
    val tdocs = shingleIdArrays(train, idCol, textCol, n)
    val cand = bandRows(tdocs, idCol, idCol, "ids", p)
      .join(broadcast(bandRows(edocs, "eval_id", "eval_id", "e_ids", p)), Seq("band", "bsig"))
      .select(col(idCol), col("eval_id")).distinct()
    verifyArrays(
      cand.join(tdocs, Seq(idCol)).join(broadcast(edocs), Seq("eval_id")),
      Seq(idCol, "eval_id"), "ids", "e_ids", threshold)
  }

  /** All-pairs exact n-gram Jaccard ≥ `threshold` — prefix-filtered
    * set-similarity join (same results as a naive shared-shingle join,
    * without its quadratic blowup on common shingles).
    *
    * Prefix filter (Chaudhuri/Bayardo/Xiao all-pairs similarity): order
    * every doc's shingles by ascending global document frequency (ties by
    * shingle). If J(x,y) ≥ t then |x∩y| ≥ t·max(|x|,|y|), and under any
    * shared total order the ⌊(1-t)·|d|⌋+1 rarest shingles of x and of y
    * must intersect — so candidate pairs join only on those rare prefix
    * shingles (tiny fan-out by construction), and exact Jaccard is
    * verified on candidates only. Everything is linear shuffles plus the
    * candidate-local work.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 2, threshold: Double = 0.5,
                   scope: graft.CacheScope = graft.CacheScope.session): DataFrame = {
    val bg = scope.pin(TextOps.shingleSet(df, idCol, textCol, n))
    val dfreq = bg.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    val ranked = bg.join(dfreq, Seq("sh"))
      .select(col(idCol), col("sh"),
        row_number().over(byDoc.orderBy(col("df"), col("sh"))).as("rk"),
        count(lit(1)).over(byDoc).as("n_sh"))
    // epsilon guards double truncation: (1-t) is inexact for most t (e.g.
    // 1-0.8 = 0.19999…), and a prefix one element short can MISS a
    // qualifying pair; erring one element long never can
    val prefix = ranked
      .filter(col("rk") <= floor(lit(1.0 - threshold) * col("n_sh") + lit(1e-9)) + lit(1))
    val cand = prefix.select(col(idCol).as("d1"), col("sh"))
      .join(prefix.select(col(idCol).as("d2"), col("sh")), Seq("sh"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    verifyJaccard(bg, idCol, cand, threshold)
  }

  /** All-pairs exact n-gram Jaccard ≥ `threshold` — dense block-pair form.
    *
    * Same pair set as `jaccardPairs` (ids must be NUMERIC — they are cast
    * to long for block routing and emitted as longs), built for corpora
    * where prefix
    * filtering cannot prune (small/shared vocabularies: every shingle is
    * common, so candidate joins explode — the fixture corpus has ~900
    * distinct bigrams across 5000 docs). Each doc becomes one sorted
    * array of 64-bit shingle hashes (no global dictionary, so nothing
    * needs a global pass), and a block nested-loop counts intersections
    * with a linear merge over primitive arrays — no shuffle of candidate
    * pairs at all. Pair cost is the irreducible N²/2 merges; for corpora
    * too large for any all-pairs walk, `minHashLSH` is the sub-quadratic
    * path and `jaccardPairs` the exact sub-quadratic path on diverse
    * vocabularies.
    */
  def jaccardPairsDense(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 2, threshold: Double = 0.5,
                        groups: Int = 16): DataFrame = {
    requireIntegralId(df, idCol, "jaccardPairsDense")
    val spark = df.sparkSession
    import spark.implicits._
    val docs = TextOps.shingleSet(df, idCol, textCol, n)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(xxhash64(col("sh")))).as("ids"))
      .select(col(idCol).cast("long"), col("ids"))
      .as[(Long, Array[Long])]
    def intersect(a: Array[Long], b: Array[Long]): Int = {
      var i = 0; var j = 0; var c = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      c
    }
    // triangle blocking (see TriangleBlocks): each doc ships to its
    // bucket's `groups` block-pair tasks, intersections run as linear
    // merges over primitive arrays inside each task
    val paired = TriangleBlocks.allPairs(docs.rdd, groups) { (d1, ids1, d2, ids2) =>
      val i = intersect(ids1, ids2)
      val j = i.toDouble / (ids1.length + ids2.length - i)
      if (j >= threshold) Some((d1, d2, j)) else None
    }
    spark.createDataFrame(paired).toDF("d1", "d2", "jacc")
  }

  /** The dense/block pair paths cast ids to long for block routing; a
    * non-numeric id would cast to null (decoded as 0), silently collapse
    * every doc onto id 0, and return an empty result — fail fast instead.
    */
  private[operators] def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit = {
    val t = df.schema(idCol).dataType
    val ok = t match {
      case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    require(ok, s"$op requires an integral id column for block routing; '$idCol' is $t")
  }

  /** Exact-Jaccard verification of candidate (d1, d2) pairs against the
    * full shingle sets; shared by the prefix-filter and LSH paths.
    */
  private def verifyJaccard(bg: DataFrame, idCol: String, cand: DataFrame,
                            threshold: Double): DataFrame = {
    val sz = bg.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val x = bg.select(col(idCol).as("d1"), col("sh"))
    val y = bg.select(col(idCol).as("d2"), col("sh"))
    val inter = cand.join(x, Seq("d1")).join(y, Seq("d2", "sh"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sz.select(col(idCol).as("d1"), col("n_sh").as("n1")), Seq("d1"))
      .join(sz.select(col(idCol).as("d2"), col("n_sh").as("n2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        (col("i") * lit(1.0) / (col("n1") + col("n2") - col("i"))).as("jacc"))
      .filter(col("jacc") >= threshold)
  }

  /** MinHash + LSH banding: candidate pairs whose signatures collide in at
    * least one band, then exact-Jaccard verification of candidates only.
    *
    * numHashes = bands * rowsPerBand. Collision prob for similarity s is
    * 1-(1-s^rowsPerBand)^bands (e.g. 32 = 8×4: s=0.8 → 0.93, s=0.2 → 0.013).
    *
    * Plan shape: ONE groupBy folds each doc to its sorted shingle-hash
    * array; minhashes derive map-side from that array (array_min over a
    * rehash lambda — no second shuffle of shingles); candidates come from
    * the band-bucket self-join; verification joins only the (small)
    * candidate set back to the per-doc arrays and counts the exact
    * intersection with the codegen'd built-in `array_intersect` (the
    * arrays are distinct by construction).
    */
  def minHashLSH(df: DataFrame, idCol: String, textCol: String,
                 n: Int = 2, bands: Int = 8, rowsPerBand: Int = 4,
                 threshold: Double = 0.5, seed: Long = 42L,
                 scope: graft.CacheScope = graft.CacheScope.session): DataFrame = {
    val (docs, cand) = lshStages(df, idCol, textCol, n, bands, rowsPerBand, seed, scope)
    verifyArrays(
      cand
        .join(docs.select(col(idCol).as("d1"), col("ids").as("ids1")), Seq("d1"))
        .join(docs.select(col(idCol).as("d2"), col("ids").as("ids2")), Seq("d2")),
      Seq("d1", "d2"), "ids1", "ids2", threshold)
  }

  /** The LSH candidate stage alone — (d1, d2) pairs whose band signatures
    * collide at least once, BEFORE exact verification. Exposed so the
    * scaling spec can measure candidate growth empirically (the 100 TB
    * claim is precisely that this set grows ~linearly with the corpus
    * while the all-pairs set grows quadratically).
    */
  def minHashLSHCandidates(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 2, bands: Int = 8, rowsPerBand: Int = 4,
                           seed: Long = 42L,
                           scope: graft.CacheScope = graft.CacheScope.session): DataFrame =
    lshStages(df, idCol, textCol, n, bands, rowsPerBand, seed, scope)._2

  /** Build the corpus's MinHash-LSH index ONCE and persist it — the text
    * sibling of `Similarity.buildIvfIndex`, and the serving shape for a
    * continuous-ingest dedup gate: a 100 TB corpus is shingled, hashed,
    * and band-bucketed by a batch job; every later ingest batch routes
    * into the stored buckets without touching corpus text again (the
    * corpus-side shingle pass is THE cost the split removes — the probe
    * side is per-row map work).
    *   `indexDir/buckets`  (c_id, bsig) Hive-partitioned by `band`;
    *   `indexDir/arrays`   (c_id, c_ids) sorted shingle-hash arrays for
    *                       the exact-Jaccard verify join;
    *   `indexDir/params`   one row (n, bands, rows_per_band, seed) — the
    *                       serve path derives probe signatures from THIS,
    *                       so an index probed with mismatched banding
    *                       (which would silently have zero recall) cannot
    *                       happen.
    * `c_id` keeps the corpus id column's own type (no widening).
    */
  def buildLshIndex(corpus: DataFrame, idCol: String, textCol: String,
                    indexDir: String, n: Int = 2, bands: Int = 8,
                    rowsPerBand: Int = 4, seed: Long = 42L): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    Seq((n, bands, rowsPerBand, seed))
      .toDF("n", "bands", "rows_per_band", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/params")
    writeLshTables(corpus, idCol, textCol, indexDir,
      LshParams(n, bands, rowsPerBand, seed), "overwrite")
  }

  /** Incremental maintenance for a [[buildLshIndex]] artifact: append
    * newly ACCEPTED documents (the ingest gate's non-duplicates) to the
    * stored buckets and verify arrays, using the band parameters the
    * index itself records — the complete ingest cycle is probe → accept →
    * append, and the corpus is never re-shingled. Appends are new parquet
    * files under the same band partitions (no rewrite of existing data);
    * callers are responsible for not appending the same id twice (the
    * gate's accept set is distinct by construction).
    */
  def appendToLshIndex(accepted: DataFrame, idCol: String, textCol: String,
                       indexDir: String): Unit =
    writeLshTables(accepted, idCol, textCol, indexDir,
      readLshParams(accepted.sparkSession, indexDir), "append")

  /** Near-dup PAIRS for an ingest batch against a persisted
    * [[buildLshIndex]] artifact — the pair-producing probe the
    * incremental clustering fold consumes: batch-vs-corpus candidates
    * from the stored band buckets (exact-Jaccard verified against the
    * stored arrays) plus batch-vs-batch pairs from banding the batch
    * itself, both under the band parameters the index records. The union
    * is EXACTLY the full-corpus [[minHashLSH]] pair set restricted to
    * pairs involving a batch doc — a band signature depends only on a
    * doc's own shingles and the shared seed, so probing stored buckets
    * and banding the union produce the same collisions — which is why
    * [[incrementalComponents]] over these pairs reproduces the
    * from-scratch clustering without ever re-shingling the corpus.
    * Returns (d1, d2, jacc) with d1 < d2. Batch-sized work throughout:
    * the corpus contributes two parquet reads (buckets join + verify
    * arrays join), never a shingle pass.
    */
  def lshIndexPairs(spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
                    idCol: String, textCol: String, indexDir: String,
                    threshold: Double = 0.5): DataFrame = {
    graft.functions.VectorExprs.register(spark) // native bandSigs
    val p = readLshParams(spark, indexDir)
    val (buckets, arrays) = readLshTables(spark, indexDir)
    val ndocs = shingleIdArrays(batch, idCol, textCol, p.n)
    val cand = bandRows(ndocs, idCol, "n_id", "ids", p)
      .join(buckets, Seq("band", "bsig"))
      .select(col("n_id"), col("c_id")).distinct()
    val batchVsCorpus = verifyArrays(
      cand.join(arrays, Seq("c_id"))
        .join(ndocs.select(col(idCol).as("n_id"), col("ids").as("n_ids")), Seq("n_id")),
      Seq("n_id", "c_id"), "n_ids", "c_ids", threshold)
      .select(least(col("n_id"), col("c_id")).as("d1"),
        greatest(col("n_id"), col("c_id")).as("d2"), col("jacc"))
    val batchVsBatch = minHashLSH(batch, idCol, textCol, p.n, p.bands,
      p.rowsPerBand, threshold, p.seed)
    batchVsCorpus.union(batchVsBatch.select(col("d1"), col("d2"), col("jacc")))
  }

  /** Band signatures as a map-side array expression over a sorted
    * shingle-hash array column: one `(band, bsig)` struct per band, bsig =
    * hash of the band's `rowsPerBand` min-rehashes. Shared by the batch
    * LSH pair path and the streaming ingest-dedup path (which computes it
    * per incoming row with NO shuffle — band routing is the whole point
    * of LSH at ingest time).
    *
    * Evaluates through the native [[graft.functions.LshBandSigs]]
    * expression: the fold form below runs bands×rowsPerBand interpreted
    * `transform` passes per row (higher-order functions are
    * CodegenFallback), which dominated every LSH row's cost at sf0.1; the
    * native kernel is one primitive loop per row using Spark's own XXH64,
    * bit-identical by construction (parity-pinned in TextHashExprsSpec
    * against [[bandSigsFold]]). Callers must have run
    * `VectorExprs.register` on the session — every entry point in this
    * file and StreamDedup does.
    */
  private[graft] def bandSigs(idsCol: org.apache.spark.sql.Column,
                              bands: Int, rowsPerBand: Int, seed: Long) =
    graft.functions.TextHashExprs.lshBandSigs(idsCol, bands, rowsPerBand, seed)

  /** The lambda-fold construction [[bandSigs]] replaced — kept as the
    * dependency-free parity baseline the native expression is pinned
    * against (the `Similarity.hyperplaneSignature` precedent).
    */
  private[graft] def bandSigsFold(idsCol: org.apache.spark.sql.Column,
                                  bands: Int, rowsPerBand: Int, seed: Long) =
    array((0 until bands).map { b =>
      val mins = (0 until rowsPerBand).map { r =>
        val s = seed + (b * rowsPerBand + r)
        array_min(transform(idsCol, x => xxhash64(x, lit(s))))
      }
      struct(lit(b).as("band"), xxhash64(mins: _*).as("bsig"))
    }: _*)

  /** Per-doc sorted shingle-hash arrays — the `ids` representation every
    * LSH/dense path verifies against. */
  private[graft] def shingleIdArrays(df: DataFrame, idCol: String,
                                     textCol: String, n: Int): DataFrame =
    TextOps.shingleSet(df, idCol, textCol, n)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(xxhash64(col("sh")))).as("ids"))

  /** The banding of every MinHash-LSH path: shingle size `n` and the
    * (bands × rowsPerBand, seed) signature scheme. A persisted index
    * records its own in `indexDir/params`.
    */
  private[graft] final case class LshParams(n: Int, bands: Int, rowsPerBand: Int, seed: Long)

  /** One (`idOut`, band, bsig) row per band of every doc in `docs`, from
    * its sorted shingle-hash array `idsCol` — band signatures are
    * computed per row (map-side only); a doc with no shingles has no
    * rows.
    */
  private[graft] def bandRows(docs: DataFrame, idCol: String, idOut: String,
                              idsCol: String, p: LshParams): DataFrame =
    docs.select(col(idCol).as(idOut),
        explode(bandSigs(col(idsCol), p.bands, p.rowsPerBand, p.seed)).as("bk"))
      .select(col(idOut), col("bk.band").as("band"), col("bk.bsig").as("bsig"))

  /** The exact-Jaccard terms of two sorted shingle-hash arrays:
    * intersection size and both set sizes. The intersection is the
    * built-in, codegen'd `array_intersect` (no UDF in the plan) — the
    * arrays are distinct by construction (shingleSet emits distinct
    * shingles), so no dedup ambiguity applies.
    */
  private[graft] def jaccardTerms(a: Column, b: Column): (Column, Column, Column) =
    (size(array_intersect(a, b)), size(a), size(b))

  private[graft] def jaccard(i: Column, n1: Column, n2: Column): Column =
    i * lit(1.0) / (n1 + n2 - i)

  /** Exact-Jaccard verification of candidate rows carrying both docs'
    * shingle-hash arrays `a` and `b`: `keys` plus `jacc`, kept at
    * `jacc >= threshold`.
    */
  private def verifyArrays(cand: DataFrame, keys: Seq[String], a: String, b: String,
                           threshold: Double): DataFrame = {
    val (i, n1, n2) = jaccardTerms(col(a), col(b))
    val ks = keys.map(col)
    cand.select(ks :+ i.as("i") :+ n1.as("n1") :+ n2.as("n2"): _*)
      .select(ks :+ jaccard(col("i"), col("n1"), col("n2")).as("jacc"): _*)
      .filter(col("jacc") >= threshold)
  }

  /** A corpus's LSH index tables: (c_id, band, bsig) buckets and
    * (c_id, c_ids) verify arrays — what [[buildLshIndex]] persists, and
    * what the fused ingest gate joins in-plan.
    */
  private[graft] def lshTables(corpus: DataFrame, idCol: String, textCol: String,
                               p: LshParams): (DataFrame, DataFrame) = {
    val cdocs = shingleIdArrays(corpus, idCol, textCol, p.n)
    (bandRows(cdocs, idCol, "c_id", "ids", p),
      cdocs.select(col(idCol).as("c_id"), col("ids").as("c_ids")))
  }

  /** Writes `docs`' [[lshTables]] under `indexDir` (buckets partitioned
    * by band) — the build (overwrite) and the append share it.
    */
  private def writeLshTables(docs: DataFrame, idCol: String, textCol: String,
                             indexDir: String, p: LshParams, mode: String): Unit = {
    graft.functions.VectorExprs.register(docs.sparkSession) // native bandSigs
    val (buckets, arrays) = lshTables(docs, idCol, textCol, p)
    arrays.write.mode(mode).parquet(s"$indexDir/arrays")
    buckets.write.mode(mode).partitionBy("band").parquet(s"$indexDir/buckets")
  }

  private[graft] def readLshParams(spark: SparkSession, indexDir: String): LshParams = {
    val r = spark.read.parquet(s"$indexDir/params").head()
    LshParams(r.getAs[Int]("n"), r.getAs[Int]("bands"),
      r.getAs[Int]("rows_per_band"), r.getAs[Long]("seed"))
  }

  /** The persisted (buckets, arrays) of a [[buildLshIndex]] artifact. */
  private[graft] def readLshTables(spark: SparkSession, indexDir: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$indexDir/buckets"), spark.read.parquet(s"$indexDir/arrays"))

  /** Shared LSH pipeline prefix: per-doc sorted shingle-hash arrays and
    * the band-collision candidate pairs over them.
    */
  private def lshStages(df: DataFrame, idCol: String, textCol: String,
                        n: Int, bands: Int, rowsPerBand: Int, seed: Long,
                        scope: graft.CacheScope): (DataFrame, DataFrame) = {
    graft.functions.VectorExprs.register(df.sparkSession) // native bandSigs
    val docs = scope.pin(shingleIdArrays(df, idCol, textCol, n))
    val buckets = bandRows(docs, idCol, idCol, "ids", LshParams(n, bands, rowsPerBand, seed))
    val cand = buckets.as("l").join(buckets.as("r"), Seq("band", "bsig"))
      .filter(col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("d1"), col(s"r.$idCol").as("d2"))
      .distinct()
    (docs, cand)
  }

  /** SimHash fingerprints: one 64-bit fingerprint per doc (mergeable
    * aggregator over shingle hashes).
    */
  def simHashFingerprints(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 2): DataFrame =
    TextOps.shingleSet(df, idCol, textCol, n)
      .groupBy(col(idCol))
      .agg(SimHashAgg.simhash(xxhash64(col("sh"))).as("simhash"))

  /** SimHash near-dup pairs: Hamming distance ≤ maxHamming, exact, via
    * pigeonhole banding. The 64-bit fingerprint is split into
    * maxHamming+1 contiguous bit-bands; any pair within Hamming distance
    * maxHamming differs in at most maxHamming bands, so it agrees exactly
    * on at least one — candidates are therefore pairs colliding on
    * (band, bits), a bucket-local equi join (never all-pairs), and the
    * exact Hamming filter runs on candidates only. Recall is 1.0 by the
    * pigeonhole argument.
    *
    * Radius vs scale: filtering power is 2^(bits-per-band) =
    * 2^(64/(maxHamming+1)), so the default is the web-dedup literature's
    * k = 3 (Manku/Jain/Das Sarma, WWW'07: 64-bit simhash, distance 3) —
    * four 16-bit bands, ~65k bucket values per band, candidates ~linear
    * in the corpus (growth measured in ScalingSpec). Radii near 10 leave
    * bands of 5-6 bits (≲64 values), so at N ≫ 10⁴ every bucket holds
    * ~N/64 docs and the bucket-local join degrades toward quadratic —
    * legitimate for small corpora, not a 100 TB default.
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 2, maxHamming: Int = 3): DataFrame = {
    val (_, cand) = simHashStages(df, idCol, textCol, n, maxHamming)
    cand
      .select(col("d1"), col("d2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** The simHash candidate stage alone — band-collision pairs BEFORE the
    * exact Hamming filter (with both fingerprints). Exposed so the scaling
    * spec can measure candidate growth empirically, mirroring
    * `minHashLSHCandidates`.
    */
  def simHashCandidates(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 2, maxHamming: Int = 3): DataFrame =
    simHashStages(df, idCol, textCol, n, maxHamming)._2

  private def simHashStages(df: DataFrame, idCol: String, textCol: String,
                            n: Int, maxHamming: Int): (DataFrame, DataFrame) = {
    val fp = simHashFingerprints(df, idCol, textCol, n)
    (fp, bandCandidates(fp, idCol, "simhash", maxHamming))
  }

  /** md5-derived 64-bit shingle hash — the ENGINE-PORTABLE twin of the
    * xxhash64 shingle key (the `Sampling.uniformByHash` md5-portability
    * precedent): the first two 8-hex-char halves of `md5(sh)` parse as
    * exact 32-bit integers and pack `hi << 32 | lo`, so any engine with
    * md5 re-derives the identical 64 signature bits
    * (`CAST('0x' || substring(md5(sh), 1, 8) AS BIGINT)` etc. in SQL).
    * Slower than xxhash64 (cryptographic digest + hex round-trip) —
    * that's the portability tax; the default paths keep xxhash64.
    */
  private def portableShingleHash(
      sh: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    shiftleft(conv(substring(md5(sh), 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(md5(sh), 9, 8), 16, 10).cast("long"))

  /** [[simHashFingerprints]] over md5-portable shingle hashes: identical
    * sketch semantics (same aggregator, same sign rule), every bit
    * re-derivable outside the engine.
    */
  def simHashFingerprintsPortable(df: DataFrame, idCol: String, textCol: String,
                                  n: Int = 2): DataFrame =
    TextOps.shingleSet(df, idCol, textCol, n)
      .groupBy(col(idCol))
      .agg(SimHashAgg.simhash(portableShingleHash(col("sh"))).as("simhash"))

  /** [[simHashPairs]] over the md5-portable fingerprints — the variant a
    * cross-engine pipeline (or the DuckDB oracle gate) can replay
    * bit-for-bit: portable shingle hashes feed the same sign-accumulator
    * sketch, the same pigeonhole bands, and the same exact `bit_count`
    * Hamming filter (catalog `dedup_simhash_portable`, hash-checked).
    * Same radius-vs-scale contract and 1.0-recall pigeonhole argument as
    * the xxhash64 default.
    */
  def simHashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 2, maxHamming: Int = 3): DataFrame =
    bandCandidates(simHashFingerprintsPortable(df, idCol, textCol, n),
        idCol, "simhash", maxHamming)
      .select(col("d1"), col("d2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)

  /** Pigeonhole band-collision candidates over ANY 64-bit fingerprint
    * column (the [[simHashPairs]] banding, factored for reuse by every
    * hamming-radius search — text simhash, image dHash, …): the
    * fingerprint splits into maxHamming+1 contiguous bit-bands; a pair
    * within the radius agrees exactly on ≥ 1 band, so candidates are
    * bucket-local equi-join collisions, never all-pairs. Returns
    * (d1, d2, h1, h2) with d1 < d2.
    */
  /** The pigeonhole band-signature array for a 64-bit fingerprint column:
    * maxHamming+1 (band, bits) structs, band b covering bit range
    * [b·64/nb, (b+1)·64/nb). A pure per-row expression (no shuffle, no
    * state) — exposed so STREAMING gates can compute probe signatures
    * map-side (the `bandSigs` convention of the MinHash ingest path).
    */
  private[graft] def hammingBandSigs(hash: org.apache.spark.sql.Column,
                                     maxHamming: Int): org.apache.spark.sql.Column = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming out of range: $maxHamming")
    val nb = maxHamming + 1
    array((0 until nb).map { b =>
      val lo = b * 64 / nb
      val width = (b + 1) * 64 / nb - lo
      val mask = if (width == 64) -1L else (1L << width) - 1L
      struct(lit(b).as("band"),
        shiftrightunsigned(hash, lo).bitwiseAND(lit(mask)).as("bits"))
    }: _*)
  }

  private def bandCandidates(fp: DataFrame, idCol: String, hashCol: String,
                             maxHamming: Int): DataFrame = {
    val buckets = fp
      .select(col(idCol), col(hashCol),
        explode(hammingBandSigs(col(hashCol), maxHamming)).as("bk"))
      .select(col(idCol), col(hashCol),
        col("bk.band").as("band"), col("bk.bits").as("bits"))
    buckets.as("l").join(buckets.as("r"), Seq("band", "bits"))
      .filter(col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("d1"), col(s"r.$idCol").as("d2"),
        col(s"l.$hashCol").as("h1"), col(s"r.$hashCol").as("h2"))
      .distinct()
  }

  /** Exact Hamming-radius pairs over a precomputed 64-bit fingerprint
    * frame (id, `hashCol`) — pigeonhole band candidates + exact
    * `bit_count` filter, recall 1.0 by the pigeonhole argument (the
    * [[simHashPairs]] machinery opened to ANY fingerprint source: image
    * perceptual hashes, audio fingerprints, rolling text hashes).
    * Same radius-vs-scale contract as simHashPairs: bands of
    * 64/(maxHamming+1) bits must stay selective for the corpus size.
    *
    * The fingerprint frame is PINNED before banding: both sides of the
    * band self-join consume it, and unlike simHashPairs (whose
    * fingerprints sit behind an aggregation exchange Spark reuses) a
    * caller's fp is typically a pure map-side plan — decode + hash of
    * every asset — that would otherwise re-run its codec UDFs once per
    * join side. The pinned table is (id, hash) — 16 bytes a row,
    * corpus-linear but tiny; the codecs run exactly once (measured 21×
    * on the 10× audio-dedup sweep before the pin).
    */
  def hammingPairs(fp: DataFrame, idCol: String, hashCol: String,
                   maxHamming: Int = 3,
                   scope: graft.CacheScope = graft.CacheScope.session): DataFrame =
    bandCandidates(
      scope.pin(fp.select(col(idCol), col(hashCol))), idCol, hashCol, maxHamming)
      .select(col("d1"), col("d2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
}
