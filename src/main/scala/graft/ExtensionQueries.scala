package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._
import graft.functions.MisraGries
import graft.QueryDefs._

/** North-star extension operators (SURVEY.md §2.11 + training-data
  * pipeline requirements): dedup (exact / Jaccard / MinHash-LSH / SimHash),
  * embedding similarity search, text analysis, multimodal plumbing, and
  * the Misra-Gries custom aggregate.
  */
object ExtensionQueries {

  /** The end-to-end corpus-cleaning flow: quality gate → exact dedup (keep
    * min-id representative) → near-dup CLUSTERING (connected components
    * over the pair graph, keep the min-id representative per component) →
    * corpus stats. Component semantics, not pair semantics: pairs chain
    * ((1,3),(2,3) is ONE cluster of three, one survivor — the pair-loser
    * drop this replaces kept two). `nearDupPairs` maps the survivor frame
    * to (d1, d2, …) pairs — inject `Dedup.minHashLSH` for the
    * sub-quadratic scale path (the catalog default) or
    * `Dedup.jaccardPairsDense` as the exact oracle twin (tests assert the
    * two pipelines agree on the fixture, where LSH recall is 1.0).
    */
  def cleanCorpus(docs: DataFrame, nearDupPairs: DataFrame => DataFrame,
                  scope: CacheScope = CacheScope.session): DataFrame = {
    val withTok = docs.join(
      TextOps.tokenCount(docs, "doc_id", "text"), Seq("doc_id"))
    val quality = withTok.filter(col("n_tokens") >= 20)
    val reps = Dedup.exact(quality, "doc_id", "text")
      .select(col("rep_id").as("doc_id"))
    // survivors feeds BOTH the near-dup pair generation and the final
    // representative join — pin so the quality+dedup pipeline runs once
    val survivors = scope.pin(Joins.semi(quality, reps, Seq("doc_id")))
    Dedup.keepRepresentatives(survivors, "doc_id", nearDupPairs(survivors))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
  }

  /** Build-once memo for the persisted index artifacts the serve rows
    * probe: the serving contract is "index built by a prior batch job", so
    * within one harness process the first invocation builds and every
    * later one (e.g. the bench's second pass) probes only. Keyed by the
    * scratch path `ioDir(sfDir, name)`, which is already per-(process,
    * sf). `computeIfAbsent` is the build-COMPLETION barrier: a concurrent
    * second caller blocks until the winning build finishes (a bare
    * Set.add would let it probe a half-written index), and a failed build
    * stores nothing, so the next invocation rebuilds instead of serving
    * truncated results. Returns the artifact's directory.
    */
  private val indexBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def builtOnce(sfDir: String, name: String)(build: String => Unit): String = {
    val dir = QueryDefs.ioDir(sfDir, name)
    indexBuilt.computeIfAbsent(dir, _ => { build(dir); java.lang.Boolean.TRUE })
    dir
  }

  /** Memoized embeddings row count per sf dir (fixtures are immutable
    * within a harness process): `autoNlist` sizing must not re-scan the
    * corpus on every fused-IVF invocation — at 100 TB the count comes
    * from the catalog/build job, not a per-query pass.
    */
  private val embCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def embNlist(s: org.apache.spark.sql.SparkSession, d: String): Int =
    Similarity.autoNlist(
      embCounts.computeIfAbsent(d, _ => t(s, d, "embeddings").count()))

  /** Catalog rows whose frame serves from one of the build-once memoized
    * index artifacts above (the `*Dir` builders — keyed per (process, sf
    * dir)). Their timing contract is STEADY-STATE SERVE: the index is "a
    * prior batch job's output", so the bench warms each of these once at
    * the bench dir before the timed passes — otherwise pass 1 silently
    * measures build+serve for whichever row reaches its memo first,
    * absorbed only by min-of-N. Kept here, next to the builders, so a new
    * serve row and its warmup tag land in the same diff; a guard test
    * pins every name to a live catalog row.
    */
  val steadyStateServeRows: Set[String] = Set(
    "dedup_groups_incremental_fold",   // lshIndexDir
    "dedup_stream_ingest_index",       // lshIndexDir
    "dedup_stream_embedding_index",    // ivfCorpusIndexDir
    "dedup_stream_embedding_served",   // embedAssignDir
    "dedup_groups_embedding_ivf",      // ivfIndexDir
    "dedup_embedding_ivf",             // ivfIndexDir
    "similarity_ivf_index",            // ivfIndexDir
    "similarity_ivfpq_index",          // ivfPqIndexDir
    "similarity_ivfpq_residual")       // ivfPqResIndexDir

  /** The IVF index over the full embeddings table (the ANN rows). */
  private def ivfIndexDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    builtOnce(d, "ivf_index") { dir =>
      Similarity.buildIvfIndex(t(s, d, "embeddings"), "vec_id", "embedding",
        dir, nlist = embNlist(s, d))
    }

  /** The persisted IVF-PQ index: coarse buckets + PQ codes, the
    * compressed+pruned serving artifact.
    */
  private def ivfPqIndexDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    builtOnce(d, "ivfpq_index") { dir =>
      Pq.buildIvfPqIndex(t(s, d, "embeddings"), "vec_id", "embedding",
        dir, nlist = embNlist(s, d))
    }

  /** The residual-coded sibling of [[ivfPqIndexDir]] (FAISS IVFADC
    * shape), in its own directory.
    */
  private def ivfPqResIndexDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    builtOnce(d, "ivfpq_res_index") { dir =>
      Pq.buildIvfPqIndex(t(s, d, "embeddings"), "vec_id", "embedding",
        dir, nlist = embNlist(s, d), residual = true)
    }

  /** The persisted MinHash-LSH index (text sibling of [[ivfIndexDir]]):
    * indexes the 90% reference split the ingest rows probe.
    */
  private def lshIndexDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    builtOnce(d, "lsh_index") { dir =>
      Dedup.buildLshIndex(
        t(s, d, "documents").filter(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id", "text", dir)
    }

  /** The persisted OLD-corpus clustering LABELS — the build/serve split
    * for the incremental-fold row: a prior batch job clustered the 90%
    * corpus once (star CC over its LSH pairs) and wrote (id, rep_id);
    * every nightly fold reads the label table, never re-clusters the
    * corpus.
    */
  private def ccLabelsDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    builtOnce(d, "cc_labels") { dir =>
      val oldDocs = t(s, d, "documents").filter(pmod(col("doc_id"), lit(10)) =!= 0)
      Dedup.connectedComponentsStar(oldDocs, "doc_id",
          Dedup.minHashLSH(oldDocs, "doc_id", "text", n = 2, threshold = 0.5))
        .write.mode("overwrite").parquet(dir)
    }

  /** The IVF index over the 90% CORPUS split (the embedding ingest gate's
    * static side — distinct from [[ivfIndexDir]], which indexes the full
    * table for the ANN rows).
    */
  private def ivfCorpusIndexDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    builtOnce(d, "ivf_corpus_index") { dir =>
      val corpus = t(s, d, "embeddings").filter(pmod(col("vec_id"), lit(10)) =!= 0)
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding", dir,
        nlist = Similarity.autoNlist(corpus.count()))
    }

  /** Shared DuckDB fragment: distinct word-bigram shingles per doc. */
  private val sqlBigrams =
    """SELECT DISTINCT doc_id, sh FROM (
      |  SELECT doc_id, UNNEST(list_transform(range(1, len(string_split_regex(trim(text), '\s+'))),
      |    i -> list_extract(string_split_regex(trim(text), '\s+'), i) || ' ' ||
      |         list_extract(string_split_regex(trim(text), '\s+'), i+1))) AS sh
      |  FROM documents)""".stripMargin

  /** Shared DuckDB oracle for both streaming ingest-dedup rows (fused and
    * index-served — identical output by the serve-parity contract): exact
    * cross-half bigram Jaccard at threshold 0.5.
    */
  private val sqlStreamIngest =
    s"""WITH bg AS ($sqlBigrams),
       |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM bg GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS sd, y.doc_id AS cd, COUNT(*) AS i
       |  FROM bg x JOIN bg y ON x.sh = y.sh
       |  WHERE x.doc_id % 10 = 0 AND y.doc_id % 10 <> 0
       |  GROUP BY 1, 2),
       |m AS (
       |  SELECT sd, COUNT(*) AS n FROM (
       |    SELECT sd, i*1.0/(sx.n_sh + sy.n_sh - i) AS j
       |    FROM inter JOIN sz sx ON sx.doc_id = sd JOIN sz sy ON sy.doc_id = cd)
       |  WHERE j >= 0.5 GROUP BY 1)
       |SELECT d.doc_id, COALESCE(m.n, 0) AS n_matches, COALESCE(m.n, 0) > 0 AS is_dup
       |FROM documents d LEFT JOIN m ON m.sd = d.doc_id
       |WHERE d.doc_id % 10 = 0
       |ORDER BY d.doc_id""".stripMargin

  /** Shared DuckDB oracle: exact bigram-Jaccard pairs at threshold 0.5 —
    * the ONE copy serving both `dedup_jaccard` and `dedup_minhash_lsh`
    * (a parameter drift between two copies would surface as a confusing
    * hash mismatch in whichever query kept the stale one).
    */
  private val sqlExactPairs =
    s"""WITH bg AS ($sqlBigrams),
       |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM bg GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS i
       |  FROM bg x JOIN bg y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2, round(j, 6) AS jacc FROM (
       |  SELECT d1, d2, i*1.0/(sx.n_sh + sy.n_sh - i) AS j
       |  FROM inter JOIN sz sx ON sx.doc_id = d1 JOIN sz sy ON sy.doc_id = d2)
       |WHERE j >= 0.5 ORDER BY d1, d2""".stripMargin

  /** Shared DuckDB oracle: near-dup COMPONENTS of the exact pair graph
    * via a recursive transitive-closure CTE — the one copy serving
    * `dedup_groups` (dense exact pair walk) and `dedup_groups_lsh`
    * (sub-quadratic MinHash-LSH pair path): both cluster the same pair
    * set on the fixture, where LSH recall is 1.0.
    */
  private val sqlDocGroups =
    s"""WITH RECURSIVE pairs AS ($sqlExactPairs),
       |edges AS (
       |  SELECT d1 AS src, d2 AS dst FROM pairs
       |  UNION SELECT d2, d1 FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
       |SELECT id AS doc_id, MIN(r) AS rep_id FROM reach
       |GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** Shared DuckDB oracle: leakage-safe split assignment — recursive
    * components of the exact pair graph, min-id representative, md5
    * bucket of the REP at the 0.8/0.1/0.1 boundaries. One copy serving
    * `pipeline_split_leakage_safe` (dense exact pair walk — the
    * quadratic-by-contract contrast, like `dedup_groups`) and
    * `pipeline_split_leakage_safe_lsh` (the 100 TB composition over
    * MinHash-LSH pairs): both split the same component partition on the
    * fixture, where LSH recall is 1.0.
    */
  private val sqlLeakageSplit =
    s"""WITH RECURSIVE pairs AS ($sqlExactPairs),
       |edges AS (
       |  SELECT d1 AS src, d2 AS dst FROM pairs
       |  UNION SELECT d2, d1 FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY 1),
       |b AS (SELECT id AS doc_id,
       |        CAST(('0x' || substring(md5(rep || ':42'), 1, 2)) AS BIGINT) AS bucket
       |      FROM comp)
       |SELECT doc_id, CASE WHEN bucket < 205 THEN 'train'
       |                    WHEN bucket < 230 THEN 'val'
       |                    ELSE 'test' END AS split
       |FROM b ORDER BY doc_id""".stripMargin

  /** Shared DuckDB oracle for all three corpus-representative rows
    * (dense-exact, LSH, star-contraction — identical kept sets on the
    * fixture, where LSH recall is 1.0): recursive components of the
    * exact pair graph, min-id representative, member counts.
    */
  private val sqlCorpusReps =
    s"""WITH RECURSIVE pairs AS ($sqlExactPairs),
       |edges AS (
       |  SELECT d1 AS src, d2 AS dst FROM pairs
       |  UNION SELECT d2, d1 FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY 1),
       |sizes AS (SELECT rep, COUNT(*) AS n_members FROM comp GROUP BY 1)
       |SELECT d.doc_id, s.n_members FROM documents d
       |JOIN sizes s ON s.rep = d.doc_id ORDER BY doc_id""".stripMargin

  /** Rounded-cosine SQL fragment between two embedding rows aliased `a`
    * and `b` — the one expression the whole similarity family's oracles
    * share (DuckDB `list_sum` sums left-to-right in doubles, matching
    * the Spark fold/native kernels bit-for-bit; see Similarity scaladoc).
    */
  private def sqlCos(a: String, b: String): String =
    s"""round(list_sum(list_transform(range(1, 65),
       |            i -> CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(range(1, 65),
       |            i -> CAST($a.embedding[i] AS DOUBLE) * CAST($a.embedding[i] AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(range(1, 65),
       |            i -> CAST($b.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE))))), 6)""".stripMargin

  /** The pinned data-derived constant vectors `vec_id ∈ [lo, hi]` as
    * driver doubles — sketch-sized by contract (the `similarity_ivf_pinned`
    * centroid convention: data-derived so both engines read the SAME
    * floats, never literals that could drift between the two parsers).
    */
  /** The sf0.01-trained 12-merge head, pinned as literals for the
    * hash-exact encode twin (`text_bpe_tokens_pinned`). Rank order is
    * the list order; includes a composed merge (p+ar) and end-mark
    * merges so the SQL replay exercises multi-char and `</w>` symbols.
    */
  private val bpePinnedMerges: Seq[(String, String)] = Seq(
    "e" -> "r</w>", "o" -> "w</w>", "t" -> "o", "a" -> "t",
    "l" -> "u", "a" -> "s", "i" -> "n", "e" -> "r",
    "o" -> "r", "a" -> "r", "p" -> "ar", "i" -> "n</w>")

  /** DuckDB replay of `Bpe.encode` under [[bpePinnedMerges]]: per word,
    * the initial symbol string is chr(31)-wrapped chars with `</w>`
    * fused onto the last; each merge is one REPLACE in rank order; the
    * final string collapses to space-joined tokens. Per doc: ordered
    * token concatenation + token count (0/'' for wordless docs, matching
    * encode's empty-array row).
    */
  private val bpePinnedSql: String = {
    val sep = "chr(31)"
    val wrapped0 = s"$sep || array_to_string(" +
      s"list_transform(range(1, len(w)), i -> w[i]) || [w[len(w)] || '</w>']" +
      s", $sep || $sep) || $sep"
    val replayed = bpePinnedMerges.foldLeft(wrapped0) { case (e, (a, b)) =>
      s"replace($e, $sep || '$a' || $sep || $sep || '$b' || $sep, $sep || '$a$b' || $sep)"
    }
    s"""WITH w0 AS (
       |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
       |                             x -> x <> '') AS a
       |  FROM documents WHERE text IS NOT NULL),
       |words AS (
       |  SELECT doc_id, UNNEST(range(1, len(a)+1)) AS pos, UNNEST(a) AS w
       |  FROM w0 WHERE len(a) > 0),
       |enc AS (
       |  SELECT doc_id, pos,
       |         replace(replace($replayed, $sep || $sep, ' '), $sep, '') AS ts
       |  FROM words),
       |perdoc AS (
       |  SELECT doc_id, string_agg(ts, ' ' ORDER BY pos) AS toks,
       |         CAST(SUM(len(string_split(ts, ' '))) AS BIGINT) AS n_bpe
       |  FROM enc GROUP BY 1)
       |SELECT w0.doc_id, COALESCE(p.toks, '') AS toks,
       |       CAST(COALESCE(p.n_bpe, 0) AS BIGINT) AS n_bpe
       |FROM w0 LEFT JOIN perdoc p ON p.doc_id = w0.doc_id
       |ORDER BY w0.doc_id""".stripMargin
  }

  /** The pinned-centroid corpus ASSIGNMENT — the serve-side artifact of
    * the streaming embedding gate (the same build/serve split as the
    * LSH/IVF index dirs): a batch job assigns the 90% corpus to the
    * pinned centroids ONCE and persists (c_id, c_vec, bucket); every gate
    * session reads it back. The `dedup_stream_embedding_served` row times
    * THIS configuration — the per-session steady state — while the
    * `_pinned` row keeps timing build + serve as the cold-start contrast.
    */
  private def embedAssignDir(s: org.apache.spark.sql.SparkSession, d: String,
                             cs: Seq[Seq[Double]]): String =
    builtOnce(d, "stream_embed_served_assign") { dir =>
      val corpus = t(s, d, "embeddings")
        .filter(pmod(col("vec_id"), lit(10)) =!= 0)
      graft.streaming.StreamDedup.assignCentroids(corpus, "vec_id", "embedding", cs)
        .write.mode("overwrite").parquet(dir)
    }

  /** Shared EXACT oracle of the pinned streaming embedding gate —
    * used by BOTH `dedup_stream_embedding_pinned` (build + serve) and
    * `dedup_stream_embedding_served` (persisted-assignment serve): the
    * assignment under pinned centroids is deterministic, so the two
    * rows are value-identical.
    */
  private lazy val sqlStreamEmbedPinned: String =
    s"""WITH c AS (
        |  SELECT vec_id - 100 AS bucket, embedding FROM embeddings
        |  WHERE vec_id BETWEEN 100 AND 103),
        |ad AS (
        |  SELECT v.vec_id, c.bucket,
        |         list_sum(list_transform(range(1, 65),
        |           i -> (CAST(v.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
        |              * (CAST(v.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))) AS dist
        |  FROM embeddings v CROSS JOIN c),
        |cassign AS (
        |  SELECT vec_id, bucket FROM (
        |    SELECT vec_id, bucket,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, bucket) AS r
        |    FROM ad WHERE vec_id % 10 <> 0) WHERE r = 1),
        |probe AS (
        |  SELECT vec_id, bucket FROM (
        |    SELECT vec_id, bucket,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, bucket) AS r
        |    FROM ad WHERE vec_id % 10 = 0) WHERE r <= 2),
        |m AS (
        |  SELECT p.vec_id AS sid, COUNT(DISTINCT s.vec_id) AS n
        |  FROM probe p
        |  JOIN cassign s ON s.bucket = p.bucket
        |  JOIN embeddings a ON a.vec_id = p.vec_id
        |  JOIN embeddings b ON b.vec_id = s.vec_id
        |  WHERE ${sqlCos("a", "b")} >= 0.45
        |  GROUP BY 1)
        |SELECT e.vec_id, COALESCE(m.n, 0) AS n_matches,
        |       COALESCE(m.n, 0) > 0 AS is_dup
        |FROM embeddings e LEFT JOIN m ON m.sid = e.vec_id
        |WHERE e.vec_id % 10 = 0 ORDER BY e.vec_id""".stripMargin

  private def pinnedVecs(s: org.apache.spark.sql.SparkSession, d: String,
                         lo: Int, hi: Int): Array[Array[Double]] =
    // sort the handful of pinned rows on the DRIVER: a distributed
    // orderBy plans a range exchange whose bounds-sampling job executes
    // the filtered scan a second time — measurable fixed cost on every
    // pinned catalog row for a ≤ 16-row collect
    t(s, d, "embeddings")
      .filter(col("vec_id") >= lo && col("vec_id") <= hi)
      .select(col("vec_id"), col("embedding")).collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)

  /** The pinned 3-4-5 Givens rotation (0.6/0.8 entries in 2×2 blocks down
    * the diagonal): orthogonal up to one ulp, and — decisively for the
    * oracle — every entry is a plain decimal literal both engines parse
    * to the identical double, so `v·R` is two exact-ordered products and
    * one add per output element in both. Row-vector convention (v' = v·R,
    * [[Pq.pqTopKWithCodebooks]]'s `rotation`).
    */
  private def pinnedRotation(dim: Int): Array[Array[Double]] =
    Array.tabulate(dim, dim) { (i, j) =>
      if (i == j) 0.6
      else if (i % 2 == 0 && j == i + 1) 0.8
      else if (i % 2 == 1 && j == i - 1) -0.8
      else 0.0
    }

  /** `v·R` for [[pinnedRotation]], in the exact add order of the rotation
    * kernel (even out: +0.6 term first; odd out: +0.8 term first — zeros
    * contribute exact identities), shared by the Spark-side codebook
    * construction so pinned codebooks and the encoder's rotated corpus
    * see bit-identical doubles.
    */
  private def applyPinnedRotation(v: Array[Double]): Array[Double] =
    Array.tabulate(v.length) { i =>
      if (i % 2 == 0) v(i) * 0.6 + v(i + 1) * (-0.8)
      else v(i - 1) * 0.8 + v(i) * 0.6
    }

  /** Pinned `m=8, dsub=8, ksub=4` PQ codebooks whose centroid `(s, j)` is
    * subvector `s` of source vector `j` — the data-derived pinned-artifact
    * construction both engines can rebuild from the corpus.
    */
  private def pinnedCodebooks(src: Array[Array[Double]]): Pq.Codebooks =
    Pq.Codebooks(m = 8, dsub = 8, ksub = src.length,
      Array.tabulate(8)(sub => Array.tabulate(src.length)(j =>
        Array.tabulate(8)(i => src(j)(sub * 8 + i)))))

  /** DuckDB replay of the pinned-codebook ADC serve (the
    * `similarity_pq_pinned` / `similarity_opq_pinned` oracle): rebuild
    * the codebooks from source vectors 100-103 (`rotated` additionally
    * applies [[pinnedRotation]] to every vector first), assign each
    * corpus vector per subspace by squared-L2 argmin (ties to the lowest
    * code), score each (query, row) with the 2m-lookup ADC cosine — the
    * lookup tables flattened to `(s·ksub + j)`-indexed lists so the
    * subspace sum replays in the kernel's exact order — and page by
    * (round-6 score DESC, id ASC). `refine > 1` replays the two-stage
    * deployment instead: the ADC page becomes a `refine·k` SHORTLIST
    * (same rounded-score/id order — membership is decided on the rounded
    * ADC score, exactly the kernel's page contract) and the exact
    * rounded-cosine re-rank over the original vectors pages the final k
    * (the `similarity_pq_refined_pinned` oracle).
    */
  private def sqlPinnedAdcTopK(rotated: Boolean, refine: Int = 1): String = {
    val pre =
      if (!rotated) ""
      else
        """rot AS (
          |  SELECT vec_id, list_transform(range(1, 65), i -> CASE WHEN i % 2 = 1
          |    THEN CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 0.6 + CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE) * (-0.8)
          |    ELSE CAST(embedding[CAST(i AS INTEGER) - 1] AS DOUBLE) * 0.8 + CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 0.6 END) AS r
          |  FROM embeddings),
          |""".stripMargin
    val table = if (rotated) "rot" else "embeddings"
    // element accessor: the rot CTE already emits DOUBLE lists; the raw
    // table needs the float→double cast both kernels apply
    def el(row: String, idx: String): String =
      if (rotated) s"$row.r[$idx]" else s"CAST($row.embedding[$idx] AS DOUBLE)"
    s"""WITH $pre
       |src AS (SELECT CAST(vec_id - 100 AS INTEGER) AS j, ${if (rotated) "r" else "embedding"}
       |        FROM $table WHERE vec_id BETWEEN 100 AND 103),
       |ss AS (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS s),
       |sub AS (
       |  SELECT v.vec_id, ss.s, c.j,
       |         list_sum(list_transform(range(1, 9), i ->
       |           (${el("v", "ss.s*8 + i")} - ${el("c", "ss.s*8 + i")})
       |         * (${el("v", "ss.s*8 + i")} - ${el("c", "ss.s*8 + i")}))) AS dist
       |  FROM $table v CROSS JOIN ss CROSS JOIN src c),
       |assign AS (
       |  SELECT vec_id, s, j FROM (
       |    SELECT vec_id, s, j, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS r
       |    FROM sub) WHERE r = 1),
       |codes AS (SELECT vec_id, list(j ORDER BY s) AS code FROM assign GROUP BY vec_id),
       |cn AS (
       |  SELECT list(n ORDER BY s, j) AS cn2 FROM (
       |    SELECT ss.s, c.j,
       |           list_sum(list_transform(range(1, 9), i ->
       |             ${el("c", "ss.s*8 + i")} * ${el("c", "ss.s*8 + i")})) AS n
       |    FROM ss CROSS JOIN src c)),
       |lutq AS (
       |  SELECT q_id, list(d ORDER BY s, j) AS lut, any_value(qn) AS qn FROM (
       |    SELECT q.vec_id AS q_id, ss.s, c.j,
       |           list_sum(list_transform(range(1, 9), i ->
       |             ${el("q", "ss.s*8 + i")} * ${el("c", "ss.s*8 + i")})) AS d,
       |           sqrt(list_sum(list_transform(range(1, 65), i ->
       |             ${el("q", "CAST(i AS INTEGER)")} * ${el("q", "CAST(i AS INTEGER)")}))) AS qn
       |    FROM $table q CROSS JOIN ss CROSS JOIN src c WHERE q.vec_id < 5)
       |  GROUP BY q_id),
       |sims AS (
       |  SELECT l.q_id, o.vec_id AS n_id,
       |         round(list_sum(list_transform(range(0, 8), s -> l.lut[CAST(s*4 + o.code[s+1] + 1 AS INTEGER)]))
       |             / (l.qn * sqrt(list_sum(list_transform(range(0, 8), s -> cn.cn2[CAST(s*4 + o.code[s+1] + 1 AS INTEGER)])))), 6) AS asim
       |  FROM lutq l CROSS JOIN codes o CROSS JOIN cn
       |  WHERE l.q_id <> o.vec_id)${
      if (refine <= 1) ""
      else
        s""",
           |short AS (
           |  SELECT q_id, n_id FROM (
           |    SELECT q_id, n_id,
           |           row_number() OVER (PARTITION BY q_id ORDER BY asim DESC, n_id ASC) AS r
           |    FROM sims) WHERE r <= ${10 * refine}),
           |ex AS (
           |  SELECT s.q_id, s.n_id, ${sqlCos("a", "b")} AS sim
           |  FROM short s
           |  JOIN embeddings a ON a.vec_id = s.q_id
           |  JOIN embeddings b ON b.vec_id = s.n_id)""".stripMargin}
       |${
      if (refine <= 1)
        """SELECT q_id, n_id, asim, rk FROM (
          |  SELECT q_id, n_id, asim,
          |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY asim DESC, n_id ASC) AS BIGINT) AS rk
          |  FROM sims)""".stripMargin
      else
        """SELECT q_id, n_id, sim, rk FROM (
          |  SELECT q_id, n_id, sim,
          |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rk
          |  FROM ex)""".stripMargin}
       |WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin
  }

  /** Shared DuckDB CTEs for the sliding-window exact-substring pass
    * (width 8): tokenize → window occurrences → keep-first marking →
    * merged per-doc spans. The one copy serving `dedup_ngram_spans`
    * and `dedup_ngram_spans_clean`.
    */
  private val sqlSpanCtes: String =
    """toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |  FROM documents WHERE text IS NOT NULL),
      |tn AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
      |grams AS (
      |  SELECT doc_id, CAST(g.p AS INTEGER) AS pos,
      |         md5(array_to_string(list_slice(t, g.p + 1, g.p + 8), ' ')) AS gram_hash
      |  FROM tn CROSS JOIN UNNEST(range(0, n_tokens - 7)) AS g(p)
      |  WHERE n_tokens >= 8),
      |marked AS (
      |  SELECT doc_id, pos,
      |         row_number() OVER (PARTITION BY gram_hash ORDER BY doc_id, pos) AS rk,
      |         count(*) OVER (PARTITION BY gram_hash) AS cnt
      |  FROM grams),
      |dups AS (SELECT doc_id, pos, pos + 8 AS e FROM marked WHERE cnt > 1 AND rk > 1),
      |isl AS (
      |  SELECT doc_id, pos, e,
      |         CASE WHEN pos > COALESCE(max(e) OVER (PARTITION BY doc_id ORDER BY pos
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |              THEN 1 ELSE 0 END AS ni
      |  FROM dups),
      |isl2 AS (
      |  SELECT doc_id, pos, e,
      |         sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM isl),
      |sp AS (SELECT doc_id, island, min(pos) AS s, max(e) AS e FROM isl2 GROUP BY 1, 2)""".stripMargin

  /** Shared DuckDB CTEs for SPAN-LEVEL decontamination (width 8, train =
    * even ids, eval = odd ids): train window occurrences flagged against
    * the eval window-hash set, merged to maximal spans. Serves
    * `pipeline_decontaminate_spans` and `_spans_clean`.
    */
  private val sqlDecontamSpanCtes: String =
    """toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |  FROM documents WHERE text IS NOT NULL),
      |tn AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
      |grams AS (
      |  SELECT doc_id, CAST(g.p AS INTEGER) AS pos,
      |         md5(array_to_string(list_slice(t, g.p + 1, g.p + 8), ' ')) AS gram_hash
      |  FROM tn CROSS JOIN UNNEST(range(0, n_tokens - 7)) AS g(p)
      |  WHERE n_tokens >= 8),
      |ev AS (SELECT DISTINCT gram_hash FROM grams WHERE doc_id % 2 = 1),
      |tr AS (
      |  SELECT doc_id, pos,
      |         gram_hash IN (SELECT gram_hash FROM ev) AS hit
      |  FROM grams WHERE doc_id % 2 = 0),
      |dups AS (SELECT doc_id, pos, pos + 8 AS e FROM tr WHERE hit),
      |isl AS (
      |  SELECT doc_id, pos, e,
      |         CASE WHEN pos > COALESCE(max(e) OVER (PARTITION BY doc_id ORDER BY pos
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |              THEN 1 ELSE 0 END AS ni
      |  FROM dups),
      |isl2 AS (
      |  SELECT doc_id, pos, e,
      |         sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM isl),
      |sp AS (SELECT doc_id, island, min(pos) AS s, max(e) AS e FROM isl2 GROUP BY 1, 2)""".stripMargin

  /** Shared DuckDB chunking CTEs (size 64 / overlap 16 / step 48), the
    * one copy serving `text_chunk` and `pipeline_pack_stats`;
    * `extraCols` (e.g. ", source") ride along every CTE.
    */
  private def sqlChunks(extraCols: String): String =
    s"""toks AS (
       |  SELECT doc_id$extraCols, string_split_regex(trim(text), '\\s+') AS t FROM documents),
       |n AS (
       |  SELECT doc_id$extraCols, t,
       |         greatest(CAST(floor((len(t) - 16 + 47) / 48.0) AS INTEGER), 1) AS n_chunks
       |  FROM toks),
       |chunks AS (
       |  SELECT doc_id$extraCols, CAST(c.chunk_no AS INTEGER) AS chunk_no,
       |         CAST(len(list_slice(t, chunk_no * 48 + 1, chunk_no * 48 + 64)) AS BIGINT) AS n_chunk_tokens,
       |         md5(array_to_string(list_slice(t, chunk_no * 48 + 1, chunk_no * 48 + 64), ' ')) AS chunk_hash
       |  FROM n CROSS JOIN UNNEST(range(0, n_chunks)) AS c(chunk_no))""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- Exact dedup (content hash) ----------------------------------------
    Q("dedup_exact",
      """SELECT COUNT(*) AS n_groups, CAST(SUM(n_copies) AS BIGINT) AS n_docs,
        |COUNT(CASE WHEN n_copies > 1 THEN 1 END) AS n_dup_groups FROM (
        |  SELECT sha256(text) AS content_hash, MIN(doc_id) AS rep_id,
        |         COUNT(*) AS n_copies
        |  FROM documents GROUP BY 1)""".stripMargin) {
      (s, d) => Dedup.exact(t(s, d, "documents"), "doc_id", "text")
        .agg(count(lit(1)).as("n_groups"),
          sum(col("n_copies")).as("n_docs"),
          count(when(col("n_copies") > 1, 1)).as("n_dup_groups"))
    },

    // ---- N-gram (bigram) Jaccard near-dup pairs, exact ---------------------
    Q("dedup_jaccard", sqlExactPairs) {
      // dense block-pair form: the fixture's ~900-bigram vocabulary defeats
      // prefix filtering (every shingle is common); ExtensionOpsSpec
      // asserts dense ≡ prefix-filtered on the same corpus
      (s, d) => sortSmall(
        Dedup.jaccardPairsDense(t(s, d, "documents"), "doc_id", "text", 2, 0.5)
          .select(col("d1"), col("d2"), round(col("jacc"), 6).as("jacc")),
        col("d1"), col("d2"))
    },

    // ---- Edit-distance threshold pairs (PassJoin) --------------------------
    // 40-char document prefixes at maxDist 2: near-dup docs differ by a few
    // leading edits, so the pair set is small and meaningful while aligned
    // segments stay near-unique (selectivity pinned in EditDistanceSpec).
    // The operator is EXACT (complete candidates + bounded-DP verify), so
    // the quadratic DuckDB self-join is a true oracle, not a twin.
    Q("dedup_editdist",
      """WITH p AS (
        |  SELECT doc_id, substr(text, 1, 40) AS s
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM p a JOIN p b
        |  ON a.doc_id < b.doc_id AND levenshtein(a.s, b.s) <= 2
        |ORDER BY d1, d2""".stripMargin) {
      (s, d) => sortSmall(
        EditDistance.pairs(
          t(s, d, "documents").filter(col("text").isNotNull)
            .select(col("doc_id"), substring(col("text"), 1, 40).as("s40")),
          "doc_id", "s40", 2)
          .withColumn("dist", col("dist").cast("long")),
        col("d1"), col("d2"))
    },

    // ---- MinHash + LSH near-dup (scale path) -------------------------------
    // Oracle-checked against the EXACT pair SQL: LSH verifies exact Jaccard
    // on candidates, so lsh ⊆ exact always, and recall on the fixture is
    // 1.0 (8×4 bands at j≥0.97 planted pairs — the LSH≡exact parity test
    // in ExtensionOpsSpec pins it). Like pipeline_clean_corpus, a failure
    // here can mean LSH RECALL drifted (fixture/band change), not logic.
    Q("dedup_minhash_lsh", sqlExactPairs) {
      (s, d) => sortSmall(
        Dedup.minHashLSH(t(s, d, "documents"), "doc_id", "text")
          .select(col("d1"), col("d2"), round(col("jacc"), 6).as("jacc")),
        col("d1"), col("d2"))
    },

    // ---- Decontamination: train/eval n-gram overlap ------------------------
    // Split the corpus into train (even ids) and a benchmark-like eval set
    // (odd ids); a train doc sharing >= 10 distinct word trigrams with any
    // eval doc is flagged as contaminated. The eval shingle set broadcasts;
    // train shingles never shuffle.
    Q("pipeline_decontaminate",
      """WITH tg AS (
        |  SELECT DISTINCT doc_id, sh FROM (
        |    SELECT doc_id, UNNEST(list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 1),
        |      i -> list_extract(string_split_regex(trim(text), '\s+'), i) || ' ' ||
        |           list_extract(string_split_regex(trim(text), '\s+'), i+1) || ' ' ||
        |           list_extract(string_split_regex(trim(text), '\s+'), i+2))) AS sh
        |    FROM documents)),
        |ev AS (SELECT DISTINCT sh FROM tg WHERE doc_id % 2 = 1)
        |SELECT t.doc_id, COUNT(*) AS n_hits FROM tg t JOIN ev ON t.sh = ev.sh
        |WHERE t.doc_id % 2 = 0 GROUP BY 1 HAVING COUNT(*) >= 10
        |ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val docs = t(s, d, "documents")
        Dedup.contamination(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", n = 3, minHits = 10)
          .orderBy(col("doc_id"))
    },

    // ---- Decontamination, bloom-compressed eval side -----------------------
    // Same EXACT oracle as pipeline_decontaminate: at fpp 1e-8 the chance
    // of even one false-positive probe on the fixture is ~1e-4, so
    // flagged-set equality is the measured, pinned behavior (the
    // LSH-recall-1.0 precedent). A failure here before any fixture change
    // means the one-sided contract test in ExtensionOpsSpec is the thing
    // to check: superset is the guarantee, equality is fixture luck.
    Q("pipeline_decontaminate_bloom",
      """WITH tg AS (
        |  SELECT DISTINCT doc_id, sh FROM (
        |    SELECT doc_id, UNNEST(list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 1),
        |      i -> list_extract(string_split_regex(trim(text), '\s+'), i) || ' ' ||
        |           list_extract(string_split_regex(trim(text), '\s+'), i+1) || ' ' ||
        |           list_extract(string_split_regex(trim(text), '\s+'), i+2))) AS sh
        |    FROM documents)),
        |ev AS (SELECT DISTINCT sh FROM tg WHERE doc_id % 2 = 1)
        |SELECT t.doc_id, COUNT(*) AS n_hits FROM tg t JOIN ev ON t.sh = ev.sh
        |WHERE t.doc_id % 2 = 0 GROUP BY 1 HAVING COUNT(*) >= 10
        |ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val docs = t(s, d, "documents")
        Dedup.contaminationBloom(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", n = 3, minHits = 10)
          .orderBy(col("doc_id"))
    },

    // ---- Fuzzy (document-level) decontamination ----------------------------
    // Same train/eval split (even/odd ids); a train doc is flagged when its
    // WHOLE-document bigram Jaccard vs some eval doc reaches 0.5 — the
    // near-dup complement of the shingle-count pass above. The oracle is
    // the exact train x eval Jaccard cross join; the operator routes
    // through broadcast LSH bands, so like dedup_minhash_lsh this row also
    // pins fixture recall at 1.0 (planted pairs sit at j >= 0.97, far
    // above the 8x4 banding knee).
    Q("pipeline_decontaminate_fuzzy",
      s"""WITH bg AS ($sqlBigrams),
         |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM bg GROUP BY 1),
         |inter AS (
         |  SELECT x.doc_id AS tid, y.doc_id AS eid, COUNT(*) AS i
         |  FROM bg x JOIN bg y ON x.sh = y.sh
         |  WHERE x.doc_id % 2 = 0 AND y.doc_id % 2 = 1
         |  GROUP BY 1, 2)
         |SELECT tid AS doc_id, eid AS eval_id, round(j, 6) AS jacc FROM (
         |  SELECT tid, eid, i*1.0/(sx.n_sh + sy.n_sh - i) AS j
         |  FROM inter JOIN sz sx ON sx.doc_id = tid JOIN sz sy ON sy.doc_id = eid)
         |WHERE j >= 0.5 ORDER BY doc_id, eval_id""".stripMargin) {
      (s, d) =>
        val docs = t(s, d, "documents")
        sortSmall(
          Dedup.contaminationFuzzy(
            docs.filter(col("doc_id") % 2 === 0),
            docs.filter(col("doc_id") % 2 === 1),
            "doc_id", "text")
            .select(col("doc_id"), col("eval_id"), round(col("jacc"), 6).as("jacc")),
          col("doc_id"), col("eval_id"))
    },

    // ---- Sub-document (boilerplate) dedup ----------------------------------
    // 10-token spans counted across distinct docs; spans in >1 doc are
    // boilerplate. The planted near-dup/exact-dup docs share spans, so
    // the per-doc dropped counts are non-trivial, and the oracle replays
    // the identical span chunking + distinct-doc counting in SQL.
    Q("dedup_subdoc",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |n AS (
        |  SELECT doc_id, t,
        |         greatest(CAST(floor((len(t) + 9) / 10.0) AS INTEGER), 1) AS n_chunks
        |  FROM toks),
        |chunks AS (
        |  SELECT doc_id,
        |         CAST(len(list_slice(t, chunk_no * 10 + 1, chunk_no * 10 + 10)) AS BIGINT) AS n_chunk_tokens,
        |         md5(array_to_string(list_slice(t, chunk_no * 10 + 1, chunk_no * 10 + 10), ' ')) AS chunk_hash
        |  FROM n CROSS JOIN UNNEST(range(0, n_chunks)) AS c(chunk_no)),
        |sd AS (SELECT chunk_hash, COUNT(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY 1)
        |SELECT c.doc_id, COUNT(*) AS n_spans,
        |       COUNT(CASE WHEN sd.n_docs > 1 THEN 1 END) AS n_dropped_spans,
        |       CAST(COALESCE(SUM(CASE WHEN sd.n_docs <= 1 THEN c.n_chunk_tokens END), 0) AS BIGINT) AS n_kept_tokens
        |FROM chunks c JOIN sd USING (chunk_hash)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin) {
      (s, d) => Dedup.subdocDedup(t(s, d, "documents"), "doc_id", "text",
          spanTokens = 10, maxDocs = 1)
        .orderBy(col("doc_id"))
    },

    // ---- Near-dup CLUSTERS: connected components over the pair graph -------
    // Pairs chain (A~B, B~C => one cluster even when A!~C): the pipeline
    // keeps one representative per COMPONENT, not per pair. Spark runs
    // min-label propagation over the exact-Jaccard pair graph; the oracle
    // computes the same components via a recursive transitive-closure CTE
    // on the shared exact-pair SQL. Every doc appears (singletons map to
    // themselves), rep_id = smallest doc_id in the component.
    Q("dedup_groups", sqlDocGroups) {
      (s, d) =>
        val docs = t(s, d, "documents")
        val pairs = Dedup.jaccardPairsDense(docs, "doc_id", "text", 2, 0.5)
        Dedup.connectedComponents(docs, "doc_id", pairs)
          .select(col("id").as("doc_id"), col("rep_id"))
          .orderBy(col("doc_id"))
    },

    // ---- Near-dup clusters over the SUB-QUADRATIC pair path ----------------
    // The 100 TB dedup flow end-to-end: the SAME clustering operator
    // composed over MinHash-LSH pairs (linear-shuffle candidates + exact
    // verify on candidates only) instead of the quadratic-by-contract
    // dense walk above. The oracle stays the recursive transitive-closure
    // CTE over the EXACT pair set — valid because LSH verifies exact
    // Jaccard on its candidates and its recall on the fixture corpus is
    // 1.0 (asserted in ExtensionOpsSpec), the dedup_minhash_lsh precedent.
    Q("dedup_groups_lsh", sqlDocGroups) {
      (s, d) =>
        val docs = t(s, d, "documents")
        val pairs = Dedup.minHashLSH(docs, "doc_id", "text", n = 2, threshold = 0.5)
        Dedup.connectedComponents(docs, "doc_id", pairs)
          .select(col("id").as("doc_id"), col("rep_id"))
          .orderBy(col("doc_id"))
    },

    // ---- Near-dup clusters via STAR CONTRACTION ----------------------------
    // The high-diameter clustering sibling: alternating small-star/
    // large-star edge rewriting (O(log² n) rounds regardless of component
    // diameter) over the same sub-quadratic LSH pair path. Same component
    // partition as min-label propagation, so the recursive-CTE oracle is
    // shared verbatim with dedup_groups / dedup_groups_lsh.
    Q("dedup_groups_star", sqlDocGroups) {
      (s, d) =>
        val docs = t(s, d, "documents")
        val pairs = Dedup.minHashLSH(docs, "doc_id", "text", n = 2, threshold = 0.5)
        Dedup.connectedComponentsStar(docs, "doc_id", pairs)
          .select(col("id").as("doc_id"), col("rep_id"))
          .orderBy(col("doc_id"))
    },

    // ---- INCREMENTAL clustering: fold an ingest batch into old labels ------
    // The nightly-ingest flow: the corpus (doc_id % 10 != 0) is already
    // clustered; the batch (doc_id % 10 = 0) arrives with its LSH pairs
    // (new-vs-corpus + new-vs-new — banding is per-pair, so the full-LSH
    // filter used here produces EXACTLY the pair set an index probe
    // yields in production), and incrementalComponents runs CC on the
    // batch-sized contracted subgraph only. The final labels equal a
    // from-scratch recluster of the union, so the oracle is sqlDocGroups
    // VERBATIM — the strongest possible check for an incremental
    // operator: its shortcut is invisible in the output.
    Q("dedup_groups_incremental", sqlDocGroups) {
      (s, d) =>
        val docs = t(s, d, "documents")
        val oldDocs = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        val newDocs = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        // pinned: incrementalComponents references the label table three
        // times (both contraction joins + the re-label join); without the
        // pin the star-CC setup plan re-executes per reference
        val oldLabels = graft.CacheScope.session.pin(
          Dedup.connectedComponentsStar(oldDocs, "doc_id",
            Dedup.minHashLSH(oldDocs, "doc_id", "text", n = 2, threshold = 0.5)))
        val isNew = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) === 0
        val newPairs = Dedup.minHashLSH(docs, "doc_id", "text", n = 2, threshold = 0.5)
          .filter(isNew(col("d1")) || isNew(col("d2")))
        Dedup.incrementalComponents(oldLabels, newDocs, "doc_id", newPairs)
          .select(col("id").as("doc_id"), col("rep_id"))
          .orderBy(col("doc_id"))
    },

    // ---- Incremental fold SERVED from persisted artifacts ------------------
    // The row above measures mostly SETUP (it clusters the 90% corpus
    // from scratch before folding); this row is the actual nightly cost:
    // labels and LSH index are persisted build-job artifacts (memoized,
    // the IVF build/serve precedent), so query time = probe the stored
    // buckets with the 10% batch + CC on the batch-sized contracted
    // subgraph + one label join. Same from-scratch-recluster oracle —
    // the serving shortcut must be invisible in the output.
    Q("dedup_groups_incremental_fold", sqlDocGroups) {
      (s, d) =>
        val labels = s.read.parquet(ccLabelsDir(s, d))
        val newDocs = t(s, d, "documents").filter(pmod(col("doc_id"), lit(10)) === 0)
        val pairs = Dedup.lshIndexPairs(s, newDocs, "doc_id", "text",
          lshIndexDir(s, d))
        Dedup.incrementalComponents(labels, newDocs, "doc_id", pairs)
          .select(col("id").as("doc_id"), col("rep_id"))
          .orderBy(col("doc_id"))
    },

    // ---- Dedup corpus transform: one representative doc per cluster --------
    // The step that actually shrinks the corpus: keep the smallest-id doc
    // of each near-dup component with its member count; singletons pass
    // through at n_members = 1.
    Q("dedup_corpus_reps",
      sqlCorpusReps) {
      (s, d) =>
        val docs = t(s, d, "documents")
        val pairs = Dedup.jaccardPairsDense(docs, "doc_id", "text", 2, 0.5)
        Dedup.keepRepresentatives(docs, "doc_id", pairs)
          .select(col("doc_id"), col("n_members"))
          .orderBy(col("doc_id"))
    },

    // ---- Corpus transform over the SUB-QUADRATIC pair path -----------------
    // The complete 100 TB corpus-shrinking flow end-to-end: MinHash-LSH
    // candidates (linear shuffles) → exact-Jaccard verify on candidates →
    // connected components → one min-id representative per component.
    // Oracle shared with dedup_corpus_reps (exact pairs) — valid because
    // LSH recall on the fixture is 1.0 (asserted in ExtensionOpsSpec), the
    // dedup_groups_lsh precedent.
    Q("dedup_corpus_reps_lsh",
      sqlCorpusReps) {
      (s, d) =>
        val docs = t(s, d, "documents")
        val pairs = Dedup.minHashLSH(docs, "doc_id", "text", n = 2, threshold = 0.5)
        Dedup.keepRepresentatives(docs, "doc_id", pairs)
          .select(col("doc_id"), col("n_members"))
          .orderBy(col("doc_id"))
    },

    // Same corpus-shrinking flow with the STAR-CONTRACTION clustering —
    // keepRepresentativesOf decouples representative selection from the
    // clusterer, and both clusterings emit min-id components, so the
    // exact-pair oracle is shared verbatim with dedup_corpus_reps_lsh.
    Q("dedup_corpus_reps_star",
      sqlCorpusReps) {
      (s, d) =>
        val docs = t(s, d, "documents")
        val pairs = Dedup.minHashLSH(docs, "doc_id", "text", n = 2, threshold = 0.5)
        Dedup.keepRepresentativesOf(docs, "doc_id",
            Dedup.connectedComponentsStar(docs, "doc_id", pairs))
          .select(col("doc_id"), col("n_members"))
          .orderBy(col("doc_id"))
    },

    // ---- Streaming ingest dedup: new docs vs the static corpus -------------
    // Incremental crawl ingestion: documents with doc_id % 10 = 0 replay as
    // a STREAM and are near-dup-flagged against the other 90% as the static
    // reference corpus — band signatures map-side, stream-static LSH
    // bucket join, exact verify (see StreamDedup). Oracle = exact bigram
    // Jaccard between the two fixture halves (LSH recall 1.0 on the
    // fixture, the dedup_minhash_lsh precedent; verification is exact so
    // false positives are impossible at any recall).
    Q("dedup_stream_ingest", sqlStreamIngest) {
      (s, d) =>
        graft.streaming.StreamDedup.ingestDedup(s, d)
          .select(col("doc_id"), col("n_matches"), col("is_dup"))
          .orderBy(col("doc_id"))
    },

    // ---- Streaming PERCEPTUAL dedup gate (multimodal ingest) ---------------
    // Incoming synthetic images (real PNG encode → decode → dHash per
    // row, the multimodal_image_dedup construction) replayed as a stream
    // and flagged against the static corpus split by exact Hamming ≤ 3:
    // map-side fingerprints + pigeonhole band signatures, stream-static
    // (band, bits) join, exact bit_count verify. Closed-form oracle:
    // corpus docs with doc_id % 20 = 1 render the PREVIOUS id's pattern,
    // so incoming doc d matches exactly [d % 20 = 0 and d+1 exists] and
    // the % 20 = 10 half stays novel (both outcomes planted); every
    // other pattern pair sits ≥ Hamming 14 apart (the bijective-mix
    // contract multimodal_image_dedup pins). Stream ≡ batch in
    // StreamDedupSpec.
    Q("dedup_stream_image",
      """SELECT d.doc_id,
        |       CAST((SELECT COUNT(*) FROM documents x
        |             WHERE x.doc_id = d.doc_id + 1
        |               AND d.doc_id % 20 = 0) AS BIGINT) AS n_matches,
        |       EXISTS(SELECT 1 FROM documents x
        |              WHERE x.doc_id = d.doc_id + 1
        |                AND d.doc_id % 20 = 0) AS is_dup
        |FROM documents d WHERE d.doc_id % 10 = 0
        |ORDER BY d.doc_id""".stripMargin) {
      (s, d) =>
        graft.streaming.StreamDedup.imageIngestDedup(s, d)
          .select(col("doc_id"), col("n_matches"), col("is_dup"))
          .orderBy(col("doc_id"))
    },

    // ---- Streaming perceptual dedup gate, AUDIO side -----------------------
    // The image gate's audio sibling (real WAV encode → decode →
    // gain-invariant fingerprint, the multimodal_audio_dedup
    // construction): planted corpus near-dups (% 20 = 1 docs render the
    // PREVIOUS id's pattern) play at GAIN 2, so the gate must match them
    // through the fingerprint's volume invariance — byte-distinct
    // payloads, bit-identical fingerprints. Same closed-form oracle and
    // split as dedup_stream_image; distinct patterns stay ≥ Hamming 4
    // apart (the bijective-mix contract multimodal_audio_dedup pins).
    // Stream ≡ batch in StreamDedupSpec.
    Q("dedup_stream_audio",
      """SELECT d.doc_id,
        |       CAST((SELECT COUNT(*) FROM documents x
        |             WHERE x.doc_id = d.doc_id + 1
        |               AND d.doc_id % 20 = 0) AS BIGINT) AS n_matches,
        |       EXISTS(SELECT 1 FROM documents x
        |              WHERE x.doc_id = d.doc_id + 1
        |                AND d.doc_id % 20 = 0) AS is_dup
        |FROM documents d WHERE d.doc_id % 10 = 0
        |ORDER BY d.doc_id""".stripMargin) {
      (s, d) =>
        graft.streaming.StreamDedup.audioIngestDedup(s, d)
          .select(col("doc_id"), col("n_matches"), col("is_dup"))
          .orderBy(col("doc_id"))
    },

    // ---- Streaming decontamination gate (window-hash stream-static join) ----
    // Incoming docs (doc_id % 10 = 0, replayed as a stream) flagged at
    // exact-substring window granularity against the static benchmark
    // side (% 10 != 0): map-side window hashes, broadcast eval set, one
    // streaming aggregation. The DuckDB oracle replays the whole gram
    // accounting batch-wise — stream ≡ batch is ALSO pinned in
    // StreamDedupSpec against NgramSpans.decontamStats semantics.
    Q("pipeline_stream_decontam",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |tn AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
        |grams AS (
        |  SELECT doc_id, CAST(g.p AS INTEGER) AS pos,
        |         md5(array_to_string(list_slice(t, g.p + 1, g.p + 8), ' ')) AS gram_hash
        |  FROM tn CROSS JOIN UNNEST(range(0, n_tokens - 7)) AS g(p)
        |  WHERE n_tokens >= 8),
        |ev AS (SELECT DISTINCT gram_hash FROM grams WHERE doc_id % 10 <> 0),
        |inc AS (
        |  SELECT doc_id, pos,
        |         gram_hash IN (SELECT gram_hash FROM ev) AS hit
        |  FROM grams WHERE doc_id % 10 = 0),
        |stats AS (
        |  SELECT doc_id, count(*) AS n_grams,
        |         count(CASE WHEN hit THEN 1 END) AS n_hit_grams
        |  FROM inc GROUP BY 1)
        |SELECT tn.doc_id,
        |       CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
        |       CAST(COALESCE(n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
        |       COALESCE(n_hit_grams, 0) > 0 AS is_contaminated
        |FROM tn LEFT JOIN stats USING (doc_id)
        |WHERE tn.doc_id % 10 = 0
        |ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        graft.streaming.StreamDedup.ingestDecontam(s, d)
          .orderBy(col("doc_id"))
    },

    // Index-served twin: same split, same EXACT oracle, but the corpus
    // side is the persisted buildLshIndex artifact — the configuration a
    // production ingest gate runs (batch builds, micro-batches probe).
    Q("dedup_stream_ingest_index", sqlStreamIngest) {
      (s, d) =>
        graft.streaming.StreamDedup.ingestDedupFromIndex(s, d, lshIndexDir(s, d))
          .select(col("doc_id"), col("n_matches"), col("is_dup"))
          .orderBy(col("doc_id"))
    },

    // ---- Streaming ingest dedup, embedding side ----------------------------
    // The ingest gate for an embedded corpus: incoming vectors (vec_id %
    // 10 = 0) probe the static corpus's IVF buckets map-side and verify
    // exact cosine on bucket-mates. no_oracle for the same reason as
    // dedup_embedding_ivf (bucket recall < 1 at the fixture's weak
    // threshold); StreamDedupSpec pins stream≡batch parity, zero false
    // positives at any nprobe, and exactness at nprobe = nlist.
    Q.noOracle("dedup_stream_embedding") {
      (s, d) =>
        graft.streaming.StreamDedup.embeddingIngestDedup(s, d)
          .orderBy(col("vec_id"))
    },

    // Index-served twin (the production gate: batch builds the corpus
    // IVF index once, micro-batches probe). no_oracle like the fused
    // row; StreamDedupSpec pins served ≡ fused.
    Q.noOracle("dedup_stream_embedding_index") {
      (s, d) =>
        graft.streaming.StreamDedup.embeddingIngestDedupFromIndex(
            s, d, ivfCorpusIndexDir(s, d))
          .orderBy(col("vec_id"))
    },

    // ---- Streaming embedding gate under the hash gate (pinned quantizer) ---
    // The last serve machinery outside the gate: with centroids pinned
    // to vectors 100-103 the STREAMED result replays exactly — corpus
    // assignment is 1-nearest L2 argmin, incoming probes are the 2
    // nearest lists, the verify is the shared rounded cosine at 0.45,
    // and the fold counts distinct matching corpus vectors. Recall vs
    // nprobe stays with the trained rows' zero-FP/exactness tests.
    Q("dedup_stream_embedding_pinned", sqlStreamEmbedPinned) {
      (s, d) =>
        graft.streaming.StreamDedup.embeddingIngestDedupPinned(s, d,
            pinnedVecs(s, d, 100, 103).map(_.toSeq).toSeq,
            nprobe = 2, threshold = 0.45)
          .orderBy(col("vec_id"))
    },

    // ---- SERVE-ONLY streaming embedding gate (persisted assignment) --------
    // The steady-state configuration: the corpus assignment is a
    // build-once artifact (embedAssignDir — the LSH/IVF build/serve
    // precedent), so the timed row is load-assignment + run the
    // triggers: the per-trigger cost the assignment-served gate actually
    // buys, vs the `_pinned` row which re-times the one-time corpus
    // assignment build on every run. Same centroids ⇒ identical output ⇒
    // the SAME exact oracle.
    Q("dedup_stream_embedding_served", sqlStreamEmbedPinned) {
      (s, d) =>
        val cs = pinnedVecs(s, d, 100, 103).map(_.toSeq).toSeq
        graft.streaming.StreamDedup.embeddingIngestDedupServed(s, d,
            embedAssignDir(s, d, cs), cs, nprobe = 2, threshold = 0.45)
          .orderBy(col("vec_id"))
    },

    // ---- Deterministic dataset split (train/val/test) ----------------------
    // Export-side: keyed-md5 bucket split, 0.8/0.1/0.1 quantized to
    // 1/256 — the assignment is a pure per-row expression both engines
    // compute identically, so the oracle is EXACT (unlike the seeded-RNG
    // sampling family). Aggregated per split: counts prove the fractions
    // AND the assignment (any flipped doc moves a count).
    Q("pipeline_split_counts",
      """WITH b AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substring(md5(doc_id || ':42'), 1, 2)) AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 205 THEN 'train'
        |            WHEN bucket < 230 THEN 'val'
        |            ELSE 'test' END AS split,
        |       COUNT(*) AS n_docs
        |FROM b GROUP BY 1 ORDER BY split""".stripMargin) {
      (s, d) =>
        val docs = t(s, d, "documents")
        Export.splitByHash(docs, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
          .orderBy(col("split"))
    },

    // ---- LEAKAGE-SAFE split: near-dup clusters stay in one split -----------
    // splitByHash keyed by each doc's near-dup COMPONENT representative:
    // a train doc's near-copy can never land in eval. The oracle replays
    // the whole flow — exact pair graph, recursive-CTE components,
    // min-id representative, md5 bucket of the REP — and pins every
    // doc's split; singleton assignments equal the plain hash split of
    // their own id by construction.
    Q("pipeline_split_leakage_safe", sqlLeakageSplit) {
      (s, d) =>
        val docs = t(s, d, "documents")
        val pairs = Dedup.jaccardPairsDense(docs, "doc_id", "text", 2, 0.5)
        Export.splitByComponents(docs, "doc_id", pairs,
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .select(col("doc_id"), col("split"))
          .orderBy(col("doc_id"))
    },

    // ---- LEAKAGE-SAFE split over the SUB-QUADRATIC pair path ---------------
    // The 100 TB flow: the SAME splitByComponents keyed off MinHash-LSH
    // pairs (linear-shuffle candidates + exact verify on candidates
    // only) instead of the quadratic-by-contract dense walk above. The
    // oracle stays the exact-pair recursive-CTE replay — valid because
    // LSH verifies exact Jaccard on its candidates and its recall on the
    // fixture corpus is 1.0 (asserted in ExtensionOpsSpec), the
    // dedup_groups_lsh / pipeline_clean_corpus precedent. The dense row
    // stays as the documented contrast, mirroring dedup_groups.
    Q("pipeline_split_leakage_safe_lsh", sqlLeakageSplit) {
      (s, d) =>
        val docs = t(s, d, "documents")
        val pairs = Dedup.minHashLSH(docs, "doc_id", "text", n = 2, threshold = 0.5)
        Export.splitByComponents(docs, "doc_id", pairs,
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .select(col("doc_id"), col("split"))
          .orderBy(col("doc_id"))
    },

    // ---- Cluster-balanced sample: exactly-k per latent topic ---------------
    // Latent-topic rebalancing of the embedded corpus: 1-nearest
    // assignment to the pinned quantizer, then the portable bottom-k-md5
    // rank keeps exactly 8 per cluster — dominant clusters cap, rare
    // clusters keep everything. Whole selection replayed in SQL
    // (assignment argmin + md5 rank), every kept (bucket, vec_id) pinned.
    Q("pipeline_cluster_balance",
      """WITH c AS (
        |  SELECT vec_id - 100 AS bucket, embedding FROM embeddings
        |  WHERE vec_id BETWEEN 100 AND 103),
        |ad AS (
        |  SELECT v.vec_id, c.bucket,
        |         list_sum(list_transform(range(1, 65),
        |           i -> (CAST(v.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
        |              * (CAST(v.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))) AS dist
        |  FROM embeddings v CROSS JOIN c),
        |cassign AS (
        |  SELECT vec_id, bucket FROM (
        |    SELECT vec_id, bucket,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, bucket) AS r
        |    FROM ad) WHERE r = 1),
        |rk AS (
        |  SELECT bucket, vec_id,
        |         row_number() OVER (PARTITION BY bucket
        |                            ORDER BY md5(vec_id || ':42'), vec_id) AS rn
        |  FROM cassign)
        |SELECT CAST(bucket AS BIGINT) AS bucket, vec_id FROM rk WHERE rn <= 8
        |ORDER BY bucket, vec_id""".stripMargin) {
      (s, d) =>
        Similarity.clusterBalancedSample(t(s, d, "embeddings"), "vec_id",
            "embedding", pinnedVecs(s, d, 100, 103).map(_.toSeq).toSeq, k = 8)
          .select(col("bucket").cast("long").as("bucket"), col("vec_id"))
          .orderBy(col("bucket"), col("vec_id"))
    },

    // ---- Shuffled shard layout (deterministic global shuffle) --------------
    // Export-side: every doc gets (shard, pos) from its keyed hash —
    // random order w.r.t. any content attribute, reproducible anywhere
    // md5 exists. Full row listing: the oracle pins every doc's exact
    // slot in the shuffled layout.
    Q("pipeline_shuffle_shards",
      """WITH h AS (SELECT doc_id, md5(doc_id || ':42') AS hx FROM documents),
        |s AS (SELECT doc_id, hx,
        |             CAST(('0x' || substring(hx, 1, 6)) AS BIGINT) % 8 AS shard
        |      FROM h)
        |SELECT doc_id, shard,
        |       ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin) {
      (s, d) =>
        val docs = t(s, d, "documents")
        Export.shuffleShards(docs, "doc_id", 8)
          .select(col("doc_id"), col("shard"), col("pos"))
          .orderBy(col("shard"), col("pos"))
    },

    // ---- JSONL shard export round trip -------------------------------------
    // The wire format a training corpus ships in: shuffled shards
    // materialized as Hive-partitioned JSON-lines files, re-read with
    // the generic JSON source. The re-read rows must reproduce the
    // shuffleShards layout EXACTLY (same oracle family as
    // pipeline_shuffle_shards plus a text checksum per row), so the
    // row certifies writer, partitioning, and reader end to end.
    Q("pipeline_export_jsonl",
      """WITH h AS (SELECT doc_id, text, md5(doc_id || ':42') AS hx FROM documents),
        |s AS (SELECT doc_id, text, hx,
        |             CAST(('0x' || substring(hx, 1, 6)) AS BIGINT) % 8 AS shard
        |      FROM h)
        |SELECT doc_id, shard,
        |       ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS pos,
        |       md5(COALESCE(text, '')) AS text_md5
        |FROM s ORDER BY shard, pos""".stripMargin) {
      (s, d) => {
        val dir = QueryDefs.ioDir(d, "jsonl_shards")
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        Export.writeJsonlShards(docs, "doc_id", 8, dir)
        graft.sources.Tables.json(s, dir)
          .select(col("doc_id"), col("shard").cast("long").as("shard"),
            col("pos"), md5(coalesce(col("text"), lit(""))).as("text_md5"))
          .orderBy(col("shard"), col("pos"))
      }
    },

    // ---- Sub-document dedup, transform form --------------------------------
    // The cleaned documents themselves: kept (non-boilerplate) spans
    // re-joined in span order. The oracle replays the identical chunking,
    // keeps n_docs <= 1 spans, and string_aggs them back per doc — docs
    // that are 100% boilerplate (exact dups) drop out on BOTH engines.
    Q("dedup_subdoc_clean",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |n AS (
        |  SELECT doc_id, t,
        |         greatest(CAST(floor((len(t) + 9) / 10.0) AS INTEGER), 1) AS n_chunks
        |  FROM toks),
        |chunks AS (
        |  SELECT doc_id, CAST(c.chunk_no AS INTEGER) AS chunk_no,
        |         array_to_string(list_slice(t, chunk_no * 10 + 1, chunk_no * 10 + 10), ' ') AS chunk_text,
        |         md5(array_to_string(list_slice(t, chunk_no * 10 + 1, chunk_no * 10 + 10), ' ')) AS chunk_hash
        |  FROM n CROSS JOIN UNNEST(range(0, n_chunks)) AS c(chunk_no)),
        |sd AS (SELECT chunk_hash, COUNT(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY 1)
        |SELECT c.doc_id,
        |       string_agg(c.chunk_text, ' ' ORDER BY c.chunk_no) AS clean_text,
        |       COUNT(*) AS n_kept_spans
        |FROM chunks c JOIN sd USING (chunk_hash)
        |WHERE sd.n_docs <= 1
        |GROUP BY 1 ORDER BY doc_id""".stripMargin) {
      (s, d) => Dedup.subdocDedupClean(t(s, d, "documents"), "doc_id", "text",
          spanTokens = 10, maxDocs = 1)
        .orderBy(col("doc_id"))
    },

    // ---- Exact-substring dedup (sliding n-gram spans, Lee et al. 2021) -----
    // Sub-document dedup at WINDOW granularity: every 8-token sliding
    // window that recurs corpus-wide marks its positions (first
    // occurrence by (doc_id, pos) keeps), overlapping marks merge into
    // maximal spans. The oracle replays tokenize → window md5 →
    // keep-first ranking → gaps-and-islands span merge verbatim.
    Q("dedup_ngram_spans",
      s"""WITH $sqlSpanCtes,
        |gstats AS (
        |  SELECT doc_id, count(*) AS n_grams,
        |         count(CASE WHEN cnt > 1 AND rk > 1 THEN 1 END) AS n_dup_grams
        |  FROM marked GROUP BY 1),
        |sstats AS (
        |  SELECT doc_id, count(*) AS n_dup_spans,
        |         CAST(sum(e - s) AS BIGINT) AS n_dup_tokens
        |  FROM sp GROUP BY 1)
        |SELECT tn.doc_id, n_tokens,
        |       CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
        |       CAST(COALESCE(n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
        |       CAST(COALESCE(n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
        |       CAST(COALESCE(n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
        |       n_tokens - CAST(COALESCE(n_dup_tokens, 0) AS BIGINT) AS n_kept_tokens
        |FROM tn LEFT JOIN gstats USING (doc_id) LEFT JOIN sstats USING (doc_id)
        |ORDER BY doc_id""".stripMargin) {
      (s, d) => NgramSpans.stats(t(s, d, "documents"), "doc_id", "text", n = 8)
        .orderBy(col("doc_id"))
    },

    // ---- Exact-substring dedup, transform form ------------------------------
    // The span-cut documents: tokens under merged duplicated spans are
    // removed, the rest re-join in position order. Fully-duplicated
    // documents (every token covered) drop out on BOTH engines; first
    // occurrences keep their text, so one copy of every span survives.
    Q("dedup_ngram_spans_clean",
      s"""WITH $sqlSpanCtes,
        |tp AS (
        |  SELECT doc_id, CAST(g.p AS INTEGER) AS pos, t[g.p + 1] AS tok
        |  FROM tn CROSS JOIN UNNEST(range(0, n_tokens)) AS g(p)),
        |kept AS (
        |  SELECT tp.doc_id, tp.pos, tp.tok FROM tp
        |  WHERE NOT EXISTS (SELECT 1 FROM sp WHERE sp.doc_id = tp.doc_id
        |                    AND tp.pos >= sp.s AND tp.pos < sp.e))
        |SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
        |       count(*) AS n_kept_tokens
        |FROM kept GROUP BY 1 ORDER BY doc_id""".stripMargin) {
      (s, d) => NgramSpans.clean(t(s, d, "documents"), "doc_id", "text", n = 8)
        .orderBy(col("doc_id"))
    },

    // ---- Span-level (surgical) decontamination ------------------------------
    // pipeline_decontaminate's document gate drops a whole train doc over
    // one shared benchmark n-gram; this cuts ONLY the matching spans:
    // train windows flagged against the broadcast eval window-hash set
    // (no keep-first — a match IS contamination), flags merged to maximal
    // spans. Train = even ids, eval = odd (the decontamination fixture).
    Q("pipeline_decontaminate_spans",
      s"""WITH $sqlDecontamSpanCtes,
        |gstats AS (
        |  SELECT doc_id, count(*) AS n_grams,
        |         count(CASE WHEN hit THEN 1 END) AS n_hit_grams
        |  FROM tr GROUP BY 1),
        |sstats AS (
        |  SELECT doc_id, count(*) AS n_hit_spans,
        |         CAST(sum(e - s) AS BIGINT) AS n_cut_tokens
        |  FROM sp GROUP BY 1)
        |SELECT tn.doc_id, n_tokens,
        |       CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
        |       CAST(COALESCE(n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
        |       CAST(COALESCE(n_hit_spans, 0) AS BIGINT) AS n_hit_spans,
        |       CAST(COALESCE(n_cut_tokens, 0) AS BIGINT) AS n_cut_tokens,
        |       n_tokens - CAST(COALESCE(n_cut_tokens, 0) AS BIGINT) AS n_kept_tokens
        |FROM tn LEFT JOIN gstats USING (doc_id) LEFT JOIN sstats USING (doc_id)
        |WHERE tn.doc_id % 2 = 0
        |ORDER BY doc_id""".stripMargin) {
      (s, d) => {
        val docs = t(s, d, "documents")
        NgramSpans.decontamStats(
            docs.filter(col("doc_id") % 2 === 0),
            docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", n = 8)
          .orderBy(col("doc_id"))
      }
    },

    // ---- Span-level decontamination, transform form -------------------------
    Q("pipeline_decontaminate_spans_clean",
      s"""WITH $sqlDecontamSpanCtes,
        |tp AS (
        |  SELECT doc_id, CAST(g.p AS INTEGER) AS pos, t[g.p + 1] AS tok
        |  FROM tn CROSS JOIN UNNEST(range(0, n_tokens)) AS g(p)
        |  WHERE doc_id % 2 = 0),
        |kept AS (
        |  SELECT tp.doc_id, tp.pos, tp.tok FROM tp
        |  WHERE NOT EXISTS (SELECT 1 FROM sp WHERE sp.doc_id = tp.doc_id
        |                    AND tp.pos >= sp.s AND tp.pos < sp.e))
        |SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
        |       count(*) AS n_kept_tokens
        |FROM kept GROUP BY 1 ORDER BY doc_id""".stripMargin) {
      (s, d) => {
        val docs = t(s, d, "documents")
        NgramSpans.decontamClean(
            docs.filter(col("doc_id") % 2 === 0),
            docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", n = 8)
          .orderBy(col("doc_id"))
      }
    },

    // ---- SimHash near-dup (Hamming ≤ 3, the Manku et al. web-dedup radius) --
    // no_oracle: the shingle key is Spark's xxhash64 (not replayable in
    // DuckDB) — the portable twin right below puts the identical sketch
    // machinery under the hash gate
    Q.noOracle("dedup_simhash") {
      (s, d) => sortSmall(
        Dedup.simHashPairs(t(s, d, "documents"), "doc_id", "text"),
        col("d1"), col("d2"))
    },

    // ---- SimHash under the hash gate (md5-portable shingle hashes) ---------
    // The sign-accumulator sketch, pigeonhole bands, and exact Hamming
    // filter replayed END TO END: md5 halves give both engines identical
    // 64 shingle bits, the fingerprint bit b is sign(Σ ±1) over distinct
    // shingles (strictly-positive rule), bands are the 4×16-bit split
    // (values rebuilt as Σ bit·2^(pos−16·band) — no shifting of the
    // possibly-negative packed long in SQL), candidates are band-value
    // collisions, and hamming counts differing bit positions. xxhash64
    // stays the default path (portability costs a digest per shingle).
    Q("dedup_simhash_portable",
      s"""WITH bg AS ($sqlBigrams),
        |hh AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substring(md5(sh), 1, 8)) AS BIGINT) AS hi,
        |         CAST(('0x' || substring(md5(sh), 9, 8)) AS BIGINT) AS lo
        |  FROM bg),
        |bits AS (
        |  SELECT doc_id, g.b AS pos,
        |         CASE WHEN SUM(CASE WHEN (CASE WHEN g.b >= 32
        |                                       THEN (hi >> CAST(g.b - 32 AS INTEGER)) & 1
        |                                       ELSE (lo >> CAST(g.b AS INTEGER)) & 1 END) = 1
        |                            THEN 1 ELSE -1 END) > 0
        |              THEN 1 ELSE 0 END AS bit
        |  FROM hh CROSS JOIN UNNEST(range(0, 64)) AS g(b)
        |  GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, CAST(pos // 16 AS INTEGER) AS band,
        |         CAST(SUM(bit * (CAST(1 AS BIGINT) << CAST(pos % 16 AS INTEGER))) AS BIGINT) AS bits
        |  FROM bits GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
        |  FROM bands l JOIN bands r ON l.band = r.band AND l.bits = r.bits
        |  WHERE l.doc_id < r.doc_id),
        |ham AS (
        |  SELECT cand.d1, cand.d2,
        |         CAST(SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS INTEGER) AS hamming
        |  FROM cand
        |  JOIN bits ba ON ba.doc_id = cand.d1
        |  JOIN bits bb ON bb.doc_id = cand.d2 AND bb.pos = ba.pos
        |  GROUP BY 1, 2)
        |SELECT d1, d2, hamming FROM ham WHERE hamming <= 3
        |ORDER BY d1, d2""".stripMargin) {
      (s, d) => sortSmall(
        Dedup.simHashPairsPortable(t(s, d, "documents"), "doc_id", "text"),
        col("d1"), col("d2"))
    },

    // ---- Embedding-cosine near-dup pairs -----------------------------------
    Q("dedup_embedding",
      """WITH c AS (
        |  SELECT a.vec_id AS d1, b.vec_id AS d2,
        |    round(list_sum(list_transform(range(1, 65),
        |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1, 65),
        |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, 65),
        |            i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) AS sim
        |  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
        |SELECT d1, d2, sim FROM c WHERE sim >= 0.45 ORDER BY d1, d2""".stripMargin) {
      (s, d) => sortSmall(
        Similarity.cosineDupPairs(t(s, d, "embeddings"), "vec_id", "embedding", 0.45),
        col("d1"), col("d2"))
    },

    // ---- Embedding near-dup CLUSTERS (connectedComponents composes) --------
    // The same cluster operator as dedup_groups, over the embedding-cosine
    // pair graph: one representative per transitive near-dup component of
    // vectors. Oracle = the dedup_embedding pair SQL + a recursive
    // transitive-closure CTE.
    Q("dedup_groups_embedding",
      """WITH RECURSIVE c AS (
        |  SELECT a.vec_id AS d1, b.vec_id AS d2,
        |    round(list_sum(list_transform(range(1, 65),
        |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1, 65),
        |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, 65),
        |            i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) AS sim
        |  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id),
        |pairs AS (SELECT d1, d2 FROM c WHERE sim >= 0.45),
        |edges AS (
        |  SELECT d1 AS src, d2 AS dst FROM pairs
        |  UNION SELECT d2, d1 FROM pairs),
        |reach(id, r) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
        |SELECT id AS vec_id, MIN(r) AS rep_id FROM reach
        |GROUP BY 1 ORDER BY vec_id""".stripMargin) {
      (s, d) =>
        val emb = t(s, d, "embeddings")
        val pairs = Similarity.cosineDupPairs(emb, "vec_id", "embedding", 0.45)
        Dedup.connectedComponents(emb, "vec_id", pairs)
          .select(col("id").as("vec_id"), col("rep_id"))
          .orderBy(col("vec_id"))
    },

    // ---- Embedding clusters over the SUB-QUADRATIC pair path ---------------
    // The 100 TB embedding-clustering flow end-to-end: IVF-bucketed
    // verified pairs (candidates never shuffle) → connectedComponents.
    // no_oracle for the same reason as dedup_embedding_ivf (bucket recall
    // < 1 at the fixture's weak threshold); ExtensionOpsSpec pins the
    // REFINEMENT invariant — zero false positives make the IVF edge set a
    // subset of the exact edges, so every IVF component sits inside
    // exactly one exact-pair component.
    Q.noOracle("dedup_groups_embedding_ivf") {
      (s, d) =>
        val emb = t(s, d, "embeddings")
        val pairs = Similarity.ivfDupPairsFromIndex(s, ivfIndexDir(s, d), 0.45, nprobe = 4)
        Dedup.connectedComponents(emb, "vec_id", pairs)
          .select(col("id").as("vec_id"), col("rep_id"))
          .orderBy(col("vec_id"))
    },

    // ---- SemDeDup: cluster-then-prune semantic dedup -----------------------
    // The Abbas et al. 2023 curation pass end-to-end: k-means clusters,
    // within-cluster cosine pairs, one kept representative per duplicate
    // group (the member LEAST similar to its centroid — the paper's
    // diversity-preserving keep rule). no_oracle because k-means is not
    // SQL-expressible; SemDedupSpec pins brute-force parity of the whole
    // flow (clusters, groups, keep rule) and one-kept-per-group.
    Q.noOracle("dedup_semantic") {
      (s, d) =>
        val emb = t(s, d, "embeddings")
        // cluster count scales with the corpus (autoNlist = ~sqrt N, the
        // IVF sizing): pair cost stays ~N^1.5, never the fixed-k N^2
        sortSmall(
          Similarity.semDedup(emb, "vec_id", "embedding", 0.45,
            Similarity.autoNlist(emb.count()))
            .select(col("id").as("vec_id"), col("rep_id"), col("n_members"),
              round(col("centroid_sim"), 6).as("centroid_sim")),
          col("vec_id"))
    },

    // ---- SemDeDup under the hash gate (pinned cluster centroids) -----------
    // The cluster → pair → chain → prune MACHINERY oracle-green (the
    // similarity_ivf_pinned quantizer, the dedup_groups recursive-CTE
    // components): with centroids pinned to vectors 100-103, assignment
    // is squared-L2 argmin, within-cluster pairs use the shared rounded-
    // cosine fragment at 0.45, components are min-label closure, and the
    // keep rule is min-(centroid_sim, id) per group. k-means QUALITY
    // stays with SemDedupSpec's brute-parity contracts.
    Q("dedup_semantic_pinned",
      s"""WITH RECURSIVE c AS (
        |  SELECT CAST(vec_id - 100 AS INTEGER) AS bucket, embedding FROM embeddings
        |  WHERE vec_id BETWEEN 100 AND 103),
        |ad AS (
        |  SELECT v.vec_id, c.bucket,
        |         list_sum(list_transform(range(1, 65), i ->
        |           (CAST(v.embedding[CAST(i AS INTEGER)] AS DOUBLE) - CAST(c.embedding[CAST(i AS INTEGER)] AS DOUBLE))
        |         * (CAST(v.embedding[CAST(i AS INTEGER)] AS DOUBLE) - CAST(c.embedding[CAST(i AS INTEGER)] AS DOUBLE)))) AS dist
        |  FROM embeddings v CROSS JOIN c),
        |assign AS (
        |  SELECT vec_id, bucket FROM (
        |    SELECT vec_id, bucket, row_number() OVER (PARTITION BY vec_id ORDER BY dist, bucket) AS r
        |    FROM ad) WHERE r = 1),
        |pairs AS (
        |  SELECT sa.vec_id AS d1, sb.vec_id AS d2
        |  FROM assign sa JOIN assign sb ON sa.bucket = sb.bucket AND sa.vec_id < sb.vec_id
        |  JOIN embeddings a ON a.vec_id = sa.vec_id
        |  JOIN embeddings b ON b.vec_id = sb.vec_id
        |  WHERE ${sqlCos("a", "b")} >= 0.45),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION SELECT d2, d1 FROM pairs),
        |reach(id, r) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
        |comp AS (SELECT id, MIN(r) AS rep_id FROM reach GROUP BY 1),
        |csim AS (
        |  SELECT a.vec_id AS id,
        |         list_sum(list_transform(range(1, 65), i ->
        |           CAST(a.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(c.embedding[CAST(i AS INTEGER)] AS DOUBLE)))
        |       / (sqrt(list_sum(list_transform(range(1, 65), i ->
        |           CAST(a.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(a.embedding[CAST(i AS INTEGER)] AS DOUBLE))))
        |        * sqrt(list_sum(list_transform(range(1, 65), i ->
        |           CAST(c.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(c.embedding[CAST(i AS INTEGER)] AS DOUBLE)))))
        |         AS cs
        |  FROM embeddings a JOIN assign sa ON sa.vec_id = a.vec_id JOIN c ON c.bucket = sa.bucket),
        |keep AS (SELECT comp.rep_id, csim.id, csim.cs FROM comp JOIN csim ON csim.id = comp.id),
        |agg AS (SELECT rep_id, COUNT(*) AS n_members FROM keep GROUP BY 1),
        |sel AS (
        |  SELECT rep_id, id, cs FROM (
        |    SELECT rep_id, id, cs, row_number() OVER (PARTITION BY rep_id ORDER BY cs, id) AS r
        |    FROM keep) WHERE r = 1)
        |SELECT sel.id AS vec_id, sel.rep_id, agg.n_members, round(sel.cs, 6) AS centroid_sim
        |FROM sel JOIN agg USING (rep_id) ORDER BY vec_id""".stripMargin) {
      (s, d) => {
        val emb = t(s, d, "embeddings")
        sortSmall(
          Similarity.semDedupWithCentroids(emb, "vec_id", "embedding", 0.45,
            pinnedVecs(s, d, 100, 103).map(_.toSeq).toSeq)
            .select(col("id").as("vec_id"), col("rep_id"), col("n_members"),
              round(col("centroid_sim"), 6).as("centroid_sim")),
          col("vec_id"))
      }
    },

    // ---- IVF-bucketed embedding near-dup (approximate scale path) ----------
    // Exact-verified candidates from shared coarse buckets: always a
    // subset of dedup_embedding's exact pairs (no false positives; recall
    // measured in ExtensionOpsSpec). Served from the SAME memoized
    // persisted index as similarity_ivf_index — no training at query time
    // (IvfIndexSpec pins served ≡ fused). no_oracle because recall < 1 at
    // the fixture's weak-similarity threshold — see the operator scaladoc.
    // nprobe=4 against the auto-sized (√N) list count: recall 13/14 at the
    // fixture's weak cosine 0.45, with a probed fraction that SHRINKS as
    // the corpus grows (4/√N) instead of the fixed-nlist 4/16
    Q.noOracle("dedup_embedding_ivf") {
      (s, d) => sortSmall(
        Similarity.ivfDupPairsFromIndex(s, ivfIndexDir(s, d), 0.45, nprobe = 4),
        col("d1"), col("d2"))
    },

    // ---- IVF-bucketed embedding near-dup under the hash gate ---------------
    // The bucket → candidate → exact-verify MACHINERY oracle-green (the
    // similarity_ivf_pinned quantizer): with pinned centroids 100-103
    // every vector's nprobe=2 probe set is squared-L2 argmin arithmetic,
    // candidates are probe-set intersections, and survivors carry the
    // shared rounded cosine at 0.45 — one DuckDB replay end to end.
    // Bucket recall vs nprobe stays with dedup_embedding_ivf's zero-FP /
    // recall tests where it belongs.
    Q("dedup_embedding_ivf_pinned",
      s"""WITH c AS (
        |  SELECT vec_id - 100 AS bucket, embedding FROM embeddings
        |  WHERE vec_id BETWEEN 100 AND 103),
        |ad AS (
        |  SELECT v.vec_id, c.bucket,
        |         list_sum(list_transform(range(1, 65),
        |           i -> (CAST(v.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
        |              * (CAST(v.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))) AS dist
        |  FROM embeddings v CROSS JOIN c),
        |probe AS (
        |  SELECT vec_id, bucket FROM (
        |    SELECT vec_id, bucket,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, bucket) AS r
        |    FROM ad) WHERE r <= 2),
        |cand AS (
        |  SELECT DISTINCT p1.vec_id AS d1, p2.vec_id AS d2
        |  FROM probe p1 JOIN probe p2
        |    ON p1.bucket = p2.bucket AND p1.vec_id < p2.vec_id)
        |SELECT d1, d2, sim FROM (
        |  SELECT cand.d1, cand.d2, ${sqlCos("a", "b")} AS sim
        |  FROM cand
        |  JOIN embeddings a ON a.vec_id = cand.d1
        |  JOIN embeddings b ON b.vec_id = cand.d2)
        |WHERE sim >= 0.45 ORDER BY d1, d2""".stripMargin) {
      (s, d) => sortSmall(
        Similarity.ivfDupPairsWithCentroids(t(s, d, "embeddings"), "vec_id",
          "embedding", 0.45, pinnedVecs(s, d, 100, 103).map(_.toSeq).toSeq,
          nprobe = 2),
        col("d1"), col("d2"))
    },

    // ---- Embedding clusters over the PINNED bucketed pair path -------------
    // The components twin: connectedComponents over the pinned-quantizer
    // pair graph — the dedup_groups recursive-CTE closure seeded from the
    // dedup_embedding_ivf_pinned pair SQL, so the whole sub-quadratic
    // cluster flow (bucket → verify → transitive closure → min-label rep)
    // replays in one DuckDB query.
    Q("dedup_groups_embedding_ivf_pinned",
      s"""WITH RECURSIVE c AS (
        |  SELECT vec_id - 100 AS bucket, embedding FROM embeddings
        |  WHERE vec_id BETWEEN 100 AND 103),
        |ad AS (
        |  SELECT v.vec_id, c.bucket,
        |         list_sum(list_transform(range(1, 65),
        |           i -> (CAST(v.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
        |              * (CAST(v.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))) AS dist
        |  FROM embeddings v CROSS JOIN c),
        |probe AS (
        |  SELECT vec_id, bucket FROM (
        |    SELECT vec_id, bucket,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, bucket) AS r
        |    FROM ad) WHERE r <= 2),
        |pairs AS (
        |  SELECT d1, d2 FROM (
        |    SELECT cand.d1, cand.d2, ${sqlCos("a", "b")} AS sim
        |    FROM (SELECT DISTINCT p1.vec_id AS d1, p2.vec_id AS d2
        |          FROM probe p1 JOIN probe p2
        |            ON p1.bucket = p2.bucket AND p1.vec_id < p2.vec_id) cand
        |    JOIN embeddings a ON a.vec_id = cand.d1
        |    JOIN embeddings b ON b.vec_id = cand.d2)
        |  WHERE sim >= 0.45),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION SELECT d2, d1 FROM pairs),
        |reach(id, r) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
        |SELECT id AS vec_id, MIN(r) AS rep_id FROM reach
        |GROUP BY 1 ORDER BY vec_id""".stripMargin) {
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val pairs = Similarity.ivfDupPairsWithCentroids(emb, "vec_id",
          "embedding", 0.45, pinnedVecs(s, d, 100, 103).map(_.toSeq).toSeq,
          nprobe = 2)
        Dedup.connectedComponents(emb, "vec_id", pairs)
          .select(col("id").as("vec_id"), col("rep_id"))
          .orderBy(col("vec_id"))
      }
    },

    // ---- Brute-force cosine top-k (ANN baseline) ---------------------------
    Q("similarity_topk",
      """WITH sims AS (
        |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
        |    round(list_sum(list_transform(range(1, 65),
        |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1, 65),
        |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, 65),
        |            i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) AS sim
        |  FROM embeddings a, embeddings b
        |  WHERE a.vec_id < 5 AND a.vec_id <> b.vec_id)
        |SELECT q_id, n_id, sim, rk FROM (
        |  SELECT q_id, n_id, sim,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rk
        |  FROM sims)
        |WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin) {
      (s, d) => Similarity.cosineTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 5, 10)
    },

    // ---- Hard-negative mining (contrastive-training data) ------------------
    // Per query: the k most-similar rows INSIDE the band [0.25, 0.45) —
    // informative negatives strictly below the corpus's near-dup
    // threshold (0.45, the dedup_embedding contract), so a mined
    // negative can never be a latent positive. The fixture plants the
    // semantics: query 7's global top hit (vec 340, sim 0.4928) is a
    // near-dup the band must EXCLUDE. Band and order on the rounded
    // cosine; queries with no in-band neighbor are absent by contract.
    Q("similarity_hard_negatives",
      """WITH sims AS (
        |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
        |    round(list_sum(list_transform(range(1, 65),
        |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1, 65),
        |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, 65),
        |            i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) AS sim
        |  FROM embeddings a, embeddings b
        |  WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id)
        |SELECT q_id, n_id, sim, rk FROM (
        |  SELECT q_id, n_id, sim,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rk
        |  FROM sims WHERE sim >= 0.25 AND sim < 0.45)
        |WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin) {
      (s, d) => Similarity.hardNegatives(t(s, d, "embeddings"), "vec_id",
        "embedding", col("vec_id") < 10, 10, loSim = 0.25, hiSim = 0.45)
    },

    // ---- Hard negatives over the pinned IVF probe (the scale path) ---------
    // The same band re-rank fed by the probed-bucket candidate stage
    // under the pinned quantizer (vectors 100-103, nprobe 2) — the
    // similarity_ivf_pinned replay with the band predicate between the
    // cosine and the page. Negative mining at 100 TB runs THIS shape:
    // the band only ever sees nprobe/nlist of the corpus.
    Q("similarity_hard_negatives_ivf_pinned",
      s"""WITH c AS (
        |  SELECT vec_id - 100 AS bucket, embedding FROM embeddings
        |  WHERE vec_id BETWEEN 100 AND 103),
        |ad AS (
        |  SELECT v.vec_id, c.bucket,
        |         list_sum(list_transform(range(1, 65),
        |           i -> (CAST(v.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
        |              * (CAST(v.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))) AS dist
        |  FROM embeddings v CROSS JOIN c),
        |assign AS (
        |  SELECT vec_id, bucket FROM (
        |    SELECT vec_id, bucket,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, bucket) AS r
        |    FROM ad) WHERE r = 1),
        |probe AS (
        |  SELECT vec_id AS q_id, bucket FROM (
        |    SELECT vec_id, bucket,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, bucket) AS r
        |    FROM ad WHERE vec_id < 10) WHERE r <= 2),
        |sims AS (
        |  SELECT p.q_id, s.vec_id AS n_id, ${sqlCos("a", "b")} AS sim
        |  FROM probe p
        |  JOIN assign s ON s.bucket = p.bucket
        |  JOIN embeddings a ON a.vec_id = p.q_id
        |  JOIN embeddings b ON b.vec_id = s.vec_id
        |  WHERE p.q_id <> s.vec_id)
        |SELECT q_id, n_id, sim, rk FROM (
        |  SELECT q_id, n_id, sim,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rk
        |  FROM sims WHERE sim >= 0.25 AND sim < 0.45)
        |WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin) {
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.hardNegativesIvfWithCentroids(emb, "vec_id", "embedding",
          col("vec_id") < 10, 10, loSim = 0.25, hiSim = 0.45,
          pinnedVecs(s, d, 100, 103).map(_.toSeq).toSeq, nprobe = 2)
      }
    },

    // ---- MMR diversified top-k (greedy re-rank over brute candidates) ------
    // The oracle replays the greedy trace exactly: top-20 candidates by
    // rounded cosine, then a recursive CTE carrying the picked list,
    // each step LATERAL-argmaxing λ·rel − (1−λ)·maxSimToPicked with
    // ties on ascending id. Scores run in DECIMAL on both engines (the
    // 6-dp inputs make every score exact; double scoring would sit ON
    // half-boundaries — 0.7 × 0.371485 = 0.2600395 — where the engines'
    // round() disagree), and DuckDB DECIMAL round is HALF_UP like
    // java.math — hence hash-green.
    Q("similarity_mmr",
      s"""WITH RECURSIVE
        |cand AS (
        |  SELECT q_id, n_id, CAST(sim AS DECIMAL(18, 6)) AS sim FROM (
        |    SELECT a.vec_id AS q_id, b.vec_id AS n_id, ${sqlCos("a", "b")} AS sim,
        |           row_number() OVER (PARTITION BY a.vec_id
        |             ORDER BY ${sqlCos("a", "b")} DESC, b.vec_id) AS rk
        |    FROM embeddings a, embeddings b
        |    WHERE a.vec_id < 5 AND a.vec_id <> b.vec_id)
        |  WHERE rk <= 20),
        |psim AS (
        |  SELECT c1.q_id, c1.n_id AS a_id, c2.n_id AS b_id,
        |         CAST(${sqlCos("a", "b")} AS DECIMAL(18, 6)) AS s
        |  FROM cand c1 JOIN cand c2 USING (q_id), embeddings a, embeddings b
        |  WHERE c1.n_id <> c2.n_id AND a.vec_id = c1.n_id AND b.vec_id = c2.n_id),
        |sel AS (
        |  SELECT q_id, CAST(1 AS BIGINT) AS rk, [n_id] AS picked, n_id,
        |         sim AS relevance, CAST(0.7 * sim AS DECIMAL(24, 8)) AS mmr
        |  FROM (SELECT q_id, n_id, sim,
        |               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS r
        |        FROM cand) WHERE r = 1
        |  UNION ALL
        |  SELECT s.q_id, s.rk + 1, list_append(s.picked, p.n_id), p.n_id, p.sim,
        |         CAST(p.score AS DECIMAL(24, 8))
        |  FROM sel s JOIN LATERAL (
        |    SELECT c.n_id, c.sim,
        |           0.7 * c.sim - 0.3 * (SELECT max(ps.s) FROM psim ps
        |                                WHERE ps.q_id = s.q_id AND ps.a_id = c.n_id
        |                                  AND list_contains(s.picked, ps.b_id)) AS score
        |    FROM cand c
        |    WHERE c.q_id = s.q_id AND NOT list_contains(s.picked, c.n_id)
        |    ORDER BY score DESC, c.n_id LIMIT 1) p ON true
        |  WHERE s.rk < 5)
        |SELECT q_id, n_id, rk, CAST(relevance AS DOUBLE) AS relevance,
        |       CAST(round(mmr, 6) AS DOUBLE) AS mmr_score
        |FROM sel ORDER BY q_id, rk""".stripMargin) {
      (s, d) => Similarity.mmrTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 5, k = 5, lambdaRel = 0.7, candidates = 20)
    },

    // ---- MMR over the IVF candidate stage (the sub-quadratic serve path) ---
    // Same greedy tail as similarity_mmr, candidate pool from nprobe
    // coarse buckets instead of the brute cross join. no_oracle (k-means
    // is not SQL-expressible); MmrSpec pins full-probe ≡ brute-MMR
    // exactly, and the plan never crosses the corpus with the queries.
    Q.noOracle("similarity_mmr_ivf") {
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.mmrTopKIvf(emb, "vec_id", "embedding", col("vec_id") < 5,
          k = 5, lambdaRel = 0.7, candidates = 20,
          nlist = embNlist(s, d), nprobe = 8)
      }
    },

    // ---- Composed MMR-over-IVF serve under the hash gate -------------------
    // The LAST composed serve path made oracle-green: the
    // similarity_ivf_pinned probe replay (pinned quantizer 100-103,
    // nprobe=2, page widened to the 20-candidate pool) FEEDS the
    // similarity_mmr recursive-CTE greedy replay — one DuckDB query
    // replays assignment, probing, candidate page, pair similarities,
    // and every exact-DECIMAL greedy pick. Quantizer quality stays with
    // similarity_mmr_ivf's full-probe≡brute parity.
    Q("similarity_mmr_ivf_pinned",
      s"""WITH RECURSIVE
        |c AS (
        |  SELECT vec_id - 100 AS bucket, embedding FROM embeddings
        |  WHERE vec_id BETWEEN 100 AND 103),
        |ad AS (
        |  SELECT v.vec_id, c.bucket,
        |         list_sum(list_transform(range(1, 65),
        |           i -> (CAST(v.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
        |              * (CAST(v.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))) AS dist
        |  FROM embeddings v CROSS JOIN c),
        |assign AS (
        |  SELECT vec_id, bucket FROM (
        |    SELECT vec_id, bucket,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, bucket) AS r
        |    FROM ad) WHERE r = 1),
        |probe AS (
        |  SELECT vec_id AS q_id, bucket FROM (
        |    SELECT vec_id, bucket,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, bucket) AS r
        |    FROM ad WHERE vec_id < 5) WHERE r <= 2),
        |sims AS (
        |  SELECT p.q_id, s.vec_id AS n_id, ${sqlCos("a", "b")} AS sim
        |  FROM probe p
        |  JOIN assign s ON s.bucket = p.bucket
        |  JOIN embeddings a ON a.vec_id = p.q_id
        |  JOIN embeddings b ON b.vec_id = s.vec_id
        |  WHERE p.q_id <> s.vec_id),
        |cand AS (
        |  SELECT q_id, n_id, CAST(sim AS DECIMAL(18, 6)) AS sim FROM (
        |    SELECT q_id, n_id, sim,
        |           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rk
        |    FROM sims) WHERE rk <= 20),
        |psim AS (
        |  SELECT c1.q_id, c1.n_id AS a_id, c2.n_id AS b_id,
        |         CAST(${sqlCos("a", "b")} AS DECIMAL(18, 6)) AS s
        |  FROM cand c1 JOIN cand c2 USING (q_id), embeddings a, embeddings b
        |  WHERE c1.n_id <> c2.n_id AND a.vec_id = c1.n_id AND b.vec_id = c2.n_id),
        |sel AS (
        |  SELECT q_id, CAST(1 AS BIGINT) AS rk, [n_id] AS picked, n_id,
        |         sim AS relevance, CAST(0.7 * sim AS DECIMAL(24, 8)) AS mmr
        |  FROM (SELECT q_id, n_id, sim,
        |               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS r
        |        FROM cand) WHERE r = 1
        |  UNION ALL
        |  SELECT s.q_id, s.rk + 1, list_append(s.picked, p.n_id), p.n_id, p.sim,
        |         CAST(p.score AS DECIMAL(24, 8))
        |  FROM sel s JOIN LATERAL (
        |    SELECT c.n_id, c.sim,
        |           0.7 * c.sim - 0.3 * (SELECT max(ps.s) FROM psim ps
        |                                WHERE ps.q_id = s.q_id AND ps.a_id = c.n_id
        |                                  AND list_contains(s.picked, ps.b_id)) AS score
        |    FROM cand c
        |    WHERE c.q_id = s.q_id AND NOT list_contains(s.picked, c.n_id)
        |    ORDER BY score DESC, c.n_id LIMIT 1) p ON true
        |  WHERE s.rk < 5)
        |SELECT q_id, n_id, rk, CAST(relevance AS DOUBLE) AS relevance,
        |       CAST(round(mmr, 6) AS DOUBLE) AS mmr_score
        |FROM sel ORDER BY q_id, rk""".stripMargin) {
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.mmrTopKIvfWithCentroids(emb, "vec_id", "embedding",
          col("vec_id") < 5, k = 5, lambdaRel = 0.7, candidates = 20,
          pinnedVecs(s, d, 100, 103).map(_.toSeq).toSeq, nprobe = 2)
      }
    },

    // ---- LSH-bucketed ANN (scale path; recall vs brute force in tests) -----
    Q.noOracle("similarity_lsh") {
      (s, d) => Similarity.lshTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 5, 10)
    },

    // ---- LSH serve under the hash gate (pinned hyperplanes) ----------------
    // The signature → collide → re-rank MACHINERY oracle-green (the
    // similarity_bq_pinned precedent, sign bits under data-derived
    // hyperplanes instead of mean thresholds): one 4-bit table whose
    // planes are vectors 110-113, so a signature is four sequential-fold
    // dot-product signs, candidates are exact signature collisions, and
    // the re-rank is the hash-checked rounded-cosine page. Hyperplane
    // QUALITY (collision prob vs angle) stays with lshTopK's recall tests.
    Q("similarity_lsh_pinned",
      s"""WITH h AS (
        |  SELECT CAST(vec_id - 110 AS INTEGER) AS b, embedding FROM embeddings
        |  WHERE vec_id BETWEEN 110 AND 113),
        |bits AS (
        |  SELECT v.vec_id, h.b,
        |         CASE WHEN list_sum(list_transform(range(1, 65), i ->
        |                CAST(v.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(h.embedding[CAST(i AS INTEGER)] AS DOUBLE))) >= 0
        |              THEN CAST(1 AS BIGINT) << h.b ELSE CAST(0 AS BIGINT) END AS bit
        |  FROM embeddings v CROSS JOIN h),
        |sig AS (SELECT vec_id, CAST(SUM(bit) AS BIGINT) AS sg FROM bits GROUP BY vec_id),
        |cand AS (
        |  SELECT q.vec_id AS q_id, n.vec_id AS n_id
        |  FROM sig q JOIN sig n ON q.sg = n.sg
        |  WHERE q.vec_id < 5 AND q.vec_id <> n.vec_id),
        |sims AS (
        |  SELECT c.q_id, c.n_id, ${sqlCos("a", "b")} AS sim
        |  FROM cand c
        |  JOIN embeddings a ON a.vec_id = c.q_id
        |  JOIN embeddings b ON b.vec_id = c.n_id)
        |SELECT q_id, n_id, sim, rk FROM (
        |  SELECT q_id, n_id, sim,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rk
        |  FROM sims)
        |WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin) {
      (s, d) => Similarity.lshTopKWithPlanes(t(s, d, "embeddings"), "vec_id",
        "embedding", col("vec_id") < 5, 10,
        Seq(pinnedVecs(s, d, 110, 113).map(_.toSeq).toSeq))
    },

    // ---- IVF coarse-quantizer ANN (scale path #2; recall-tested) -----------
    // nlist auto-sizes to √N (standard IVF practice) — the fixed nlist=16
    // it replaces probed HALF the corpus per query at nprobe=8, a fraction
    // that only grows worse as N does
    Q.noOracle("similarity_ivf") {
      (s, d) => Similarity.ivfTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 5, 10, nlist = embNlist(s, d), nprobe = 8)
    },

    // ---- IVF with a PERSISTED index: build once, serve probe-only ----------
    // The serving shape for a real ANN deployment: centroids + bucket-
    // partitioned assignments are written by a (memoized, once-per-process)
    // batch build; the query plan is a partition-pruned parquet read plus
    // exact re-rank — NO Lloyd or assignment stage at query time. Same
    // (nlist, seed) as similarity_ivf, so results are identical
    // (IvfIndexSpec asserts served ≡ fused).
    Q.noOracle("similarity_ivf_index") {
      (s, d) => Similarity.ivfTopKFromIndex(
        t(s, d, "embeddings").filter(col("vec_id") < 5), "vec_id", "embedding",
        ivfIndexDir(s, d), 10, nprobe = 8)
    },

    // ---- IVF serve under the hash gate (pinned coarse quantizer) -----------
    // The probe-and-rerank MACHINERY made oracle-green, the
    // classifier-serving precedent: with a PINNED quantizer (the four
    // vectors vec_id 100-103, data-derived so both engines read the same
    // floats) every stage is deterministic replayable arithmetic —
    // squared-L2 argmin assignment (ascending (distance, index), the
    // NearestCentroids selection), nprobe=2 probe, rounded-cosine
    // re-rank. DuckDB replays assignment, probing, and the page; the
    // k-means QUALITY question stays with similarity_ivf's recall tests
    // where it belongs.
    Q("similarity_ivf_pinned",
      s"""WITH c AS (
        |  SELECT vec_id - 100 AS bucket, embedding FROM embeddings
        |  WHERE vec_id BETWEEN 100 AND 103),
        |ad AS (
        |  SELECT v.vec_id, c.bucket,
        |         list_sum(list_transform(range(1, 65),
        |           i -> (CAST(v.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
        |              * (CAST(v.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))) AS dist
        |  FROM embeddings v CROSS JOIN c),
        |assign AS (
        |  SELECT vec_id, bucket FROM (
        |    SELECT vec_id, bucket,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, bucket) AS r
        |    FROM ad) WHERE r = 1),
        |probe AS (
        |  SELECT vec_id AS q_id, bucket FROM (
        |    SELECT vec_id, bucket,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, bucket) AS r
        |    FROM ad WHERE vec_id < 5) WHERE r <= 2),
        |sims AS (
        |  SELECT p.q_id, s.vec_id AS n_id, ${sqlCos("a", "b")} AS sim
        |  FROM probe p
        |  JOIN assign s ON s.bucket = p.bucket
        |  JOIN embeddings a ON a.vec_id = p.q_id
        |  JOIN embeddings b ON b.vec_id = s.vec_id
        |  WHERE p.q_id <> s.vec_id)
        |SELECT q_id, n_id, sim, rk FROM (
        |  SELECT q_id, n_id, sim,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rk
        |  FROM sims)
        |WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin) {
      (s, d) => {
        val emb = t(s, d, "embeddings")
        // the pinned quantizer: four data-derived vectors, collected by
        // contract (4·64 doubles — sketch-sized, the centroid convention)
        val cs: Seq[Seq[Double]] = emb
          .filter(col("vec_id") >= 100 && col("vec_id") <= 103)
          .orderBy(col("vec_id")).select(col("embedding")).collect()
          .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
        Similarity.ivfTopKWithCentroids(emb, "vec_id", "embedding",
          col("vec_id") < 5, 10, cs, nprobe = 2)
      }
    },

    // ---- IVF-PQ serve: partition-pruned scan of 32×-compressed codes -------
    // The two scale levers composed: a probe reads nprobe/nlist of a
    // corpus already 32× smaller than the vectors, which are never
    // touched. Build is memoized once per process (the IVF/LSH index
    // precedent); per-query probed-bucket restriction rides into the
    // scoring kernel.
    Q.noOracle("similarity_ivfpq_index") {
      (s, d) => Pq.ivfPqTopKFromIndex(
        t(s, d, "embeddings").filter(col("vec_id") < 5), "vec_id", "embedding",
        ivfPqIndexDir(s, d), 10, nprobe = 8)
    },

    // ---- Residual IVF-PQ serve: codes quantize v − c_bucket (IVFADC) -------
    // The FAISS-default refinement: the same probe/compression levers,
    // but the byte budget spans a cluster radius instead of the corpus
    // diameter (tighter reconstruction pinned in PqSpec); the serve
    // recombines x_hat = c_b + y_hat from sketch-sized tables, vectors
    // still never read.
    Q.noOracle("similarity_ivfpq_residual") {
      (s, d) => Pq.ivfPqTopKFromIndex(
        t(s, d, "embeddings").filter(col("vec_id") < 5), "vec_id", "embedding",
        ivfPqResIndexDir(s, d), 10, nprobe = 8)
    },

    // ---- Composed IVF-PQ serve under the hash gate (pinned artifacts) ------
    // The flagship ANN deployment shape oracle-green end-to-end: pinned
    // coarse quantizer (vectors 100-103, nprobe=2) composes with pinned
    // PQ codebooks (subvectors of 104-107) so bucket assignment, probe
    // selection, the probed-bucket restriction, restricted ADC scoring,
    // and the page are one deterministic replayable pass — the
    // similarity_ivf_pinned and similarity_pq_pinned replays COMPOSED.
    // Quality of trained artifacts stays with PqSpec's recall/pruning
    // contracts; served≡artifact parity (disk-built index vs in-memory
    // artifacts) is pinned in PqSpec.
    Q("similarity_ivfpq_pinned",
      """WITH cq AS (
        |  SELECT CAST(vec_id - 100 AS INTEGER) AS bucket, embedding FROM embeddings
        |  WHERE vec_id BETWEEN 100 AND 103),
        |ad AS (
        |  SELECT v.vec_id, c.bucket,
        |         list_sum(list_transform(range(1, 65), i ->
        |           (CAST(v.embedding[CAST(i AS INTEGER)] AS DOUBLE) - CAST(c.embedding[CAST(i AS INTEGER)] AS DOUBLE))
        |         * (CAST(v.embedding[CAST(i AS INTEGER)] AS DOUBLE) - CAST(c.embedding[CAST(i AS INTEGER)] AS DOUBLE)))) AS dist
        |  FROM embeddings v CROSS JOIN cq c),
        |bassign AS (
        |  SELECT vec_id, bucket FROM (
        |    SELECT vec_id, bucket, row_number() OVER (PARTITION BY vec_id ORDER BY dist, bucket) AS r
        |    FROM ad) WHERE r = 1),
        |probe AS (
        |  SELECT vec_id AS q_id, bucket FROM (
        |    SELECT vec_id, bucket, row_number() OVER (PARTITION BY vec_id ORDER BY dist, bucket) AS r
        |    FROM ad WHERE vec_id < 5) WHERE r <= 2),
        |src AS (SELECT CAST(vec_id - 104 AS INTEGER) AS j, embedding FROM embeddings
        |        WHERE vec_id BETWEEN 104 AND 107),
        |ss AS (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS s),
        |sub AS (
        |  SELECT v.vec_id, ss.s, c.j,
        |         list_sum(list_transform(range(1, 9), i ->
        |           (CAST(v.embedding[ss.s*8 + i] AS DOUBLE) - CAST(c.embedding[ss.s*8 + i] AS DOUBLE))
        |         * (CAST(v.embedding[ss.s*8 + i] AS DOUBLE) - CAST(c.embedding[ss.s*8 + i] AS DOUBLE)))) AS dist
        |  FROM embeddings v CROSS JOIN ss CROSS JOIN src c),
        |assign AS (
        |  SELECT vec_id, s, j FROM (
        |    SELECT vec_id, s, j, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS r
        |    FROM sub) WHERE r = 1),
        |codes AS (SELECT vec_id, list(j ORDER BY s) AS code FROM assign GROUP BY vec_id),
        |cn AS (
        |  SELECT list(n ORDER BY s, j) AS cn2 FROM (
        |    SELECT ss.s, c.j,
        |           list_sum(list_transform(range(1, 9), i ->
        |             CAST(c.embedding[ss.s*8 + i] AS DOUBLE) * CAST(c.embedding[ss.s*8 + i] AS DOUBLE))) AS n
        |    FROM ss CROSS JOIN src c)),
        |lutq AS (
        |  SELECT q_id, list(d ORDER BY s, j) AS lut, any_value(qn) AS qn FROM (
        |    SELECT q.vec_id AS q_id, ss.s, c.j,
        |           list_sum(list_transform(range(1, 9), i ->
        |             CAST(q.embedding[ss.s*8 + i] AS DOUBLE) * CAST(c.embedding[ss.s*8 + i] AS DOUBLE))) AS d,
        |           sqrt(list_sum(list_transform(range(1, 65), i ->
        |             CAST(q.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(q.embedding[CAST(i AS INTEGER)] AS DOUBLE)))) AS qn
        |    FROM embeddings q CROSS JOIN ss CROSS JOIN src c WHERE q.vec_id < 5)
        |  GROUP BY q_id),
        |sims AS (
        |  SELECT l.q_id, o.vec_id AS n_id,
        |         round(list_sum(list_transform(range(0, 8), s -> l.lut[CAST(s*4 + o.code[s+1] + 1 AS INTEGER)]))
        |             / (l.qn * sqrt(list_sum(list_transform(range(0, 8), s -> cn.cn2[CAST(s*4 + o.code[s+1] + 1 AS INTEGER)])))), 6) AS asim
        |  FROM lutq l
        |  JOIN probe p ON p.q_id = l.q_id
        |  JOIN bassign b ON b.bucket = p.bucket
        |  JOIN codes o ON o.vec_id = b.vec_id
        |  CROSS JOIN cn
        |  WHERE l.q_id <> o.vec_id)
        |SELECT q_id, n_id, asim, rk FROM (
        |  SELECT q_id, n_id, asim,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY asim DESC, n_id ASC) AS BIGINT) AS rk
        |  FROM sims)
        |WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin) {
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Pq.ivfPqTopKWithArtifacts(emb, "vec_id", "embedding",
          col("vec_id") < 5, 10, pinnedVecs(s, d, 100, 103).map(_.toSeq).toSeq,
          pinnedCodebooks(pinnedVecs(s, d, 104, 107)), nprobe = 2)
      }
    },

    // ---- Residual IVFADC serve under the hash gate (pinned artifacts) ------
    // The FAISS-default refinement's serve path oracle-green: under the
    // SAME pinned coarse quantizer (100-103) and codebooks (subvectors of
    // 104-107), codes quantize the RESIDUAL v − c_bucket and the kernel
    // recombines x̂ = c_b + ŷ from sketch-sized tables — dot(q, x̂) folds
    // [dot(q, c_b), lut_0..lut_7] and |x̂|² folds [|c_b|², (2·c_b·ŷ_s +
    // |ŷ_s|²)_s], both replayed in the kernel's exact add order
    // (list_sum is a left fold; the similarity_ivfpq_pinned precedent).
    // Residual-codebook QUALITY (tighter reconstruction on clustered
    // corpora) stays with PqSpec's residual-MSE contract.
    Q("similarity_ivfpq_residual_pinned",
      """WITH cq AS (
        |  SELECT CAST(vec_id - 100 AS INTEGER) AS bucket, embedding FROM embeddings
        |  WHERE vec_id BETWEEN 100 AND 103),
        |ad AS (
        |  SELECT v.vec_id, c.bucket,
        |         list_sum(list_transform(range(1, 65), i ->
        |           (CAST(v.embedding[CAST(i AS INTEGER)] AS DOUBLE) - CAST(c.embedding[CAST(i AS INTEGER)] AS DOUBLE))
        |         * (CAST(v.embedding[CAST(i AS INTEGER)] AS DOUBLE) - CAST(c.embedding[CAST(i AS INTEGER)] AS DOUBLE)))) AS dist
        |  FROM embeddings v CROSS JOIN cq c),
        |bassign AS (
        |  SELECT vec_id, bucket FROM (
        |    SELECT vec_id, bucket, row_number() OVER (PARTITION BY vec_id ORDER BY dist, bucket) AS r
        |    FROM ad) WHERE r = 1),
        |probe AS (
        |  SELECT vec_id AS q_id, bucket FROM (
        |    SELECT vec_id, bucket, row_number() OVER (PARTITION BY vec_id ORDER BY dist, bucket) AS r
        |    FROM ad WHERE vec_id < 5) WHERE r <= 2),
        |res AS (
        |  SELECT v.vec_id, b.bucket,
        |         list_transform(range(1, 65), i ->
        |           CAST(v.embedding[CAST(i AS INTEGER)] AS DOUBLE) - CAST(c.embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS rv
        |  FROM embeddings v
        |  JOIN bassign b ON b.vec_id = v.vec_id
        |  JOIN cq c ON c.bucket = b.bucket),
        |src AS (SELECT CAST(vec_id - 104 AS INTEGER) AS j, embedding FROM embeddings
        |        WHERE vec_id BETWEEN 104 AND 107),
        |ss AS (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS s),
        |sub AS (
        |  SELECT v.vec_id, ss.s, c.j,
        |         list_sum(list_transform(range(1, 9), i ->
        |           (v.rv[CAST(ss.s*8 + i AS INTEGER)] - CAST(c.embedding[CAST(ss.s*8 + i AS INTEGER)] AS DOUBLE))
        |         * (v.rv[CAST(ss.s*8 + i AS INTEGER)] - CAST(c.embedding[CAST(ss.s*8 + i AS INTEGER)] AS DOUBLE)))) AS dist
        |  FROM res v CROSS JOIN ss CROSS JOIN src c),
        |assign AS (
        |  SELECT vec_id, s, j FROM (
        |    SELECT vec_id, s, j, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS r
        |    FROM sub) WHERE r = 1),
        |codes AS (SELECT vec_id, list(j ORDER BY s) AS code FROM assign GROUP BY vec_id),
        |cn AS (
        |  SELECT list(n ORDER BY s, j) AS cn2 FROM (
        |    SELECT ss.s, c.j,
        |           list_sum(list_transform(range(1, 9), i ->
        |             CAST(c.embedding[CAST(ss.s*8 + i AS INTEGER)] AS DOUBLE) * CAST(c.embedding[CAST(ss.s*8 + i AS INTEGER)] AS DOUBLE))) AS n
        |    FROM ss CROSS JOIN src c)),
        |cbn AS (
        |  SELECT bucket, list_sum(list_transform(range(1, 65), i ->
        |           CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE))) AS cb2
        |  FROM cq),
        |crs AS (
        |  SELECT bucket, list(x ORDER BY s, j) AS crx FROM (
        |    SELECT cq.bucket, ss.s, c.j,
        |           list_sum(list_transform(range(1, 9), i ->
        |             CAST(cq.embedding[CAST(ss.s*8 + i AS INTEGER)] AS DOUBLE) * CAST(c.embedding[CAST(ss.s*8 + i AS INTEGER)] AS DOUBLE))) AS x
        |    FROM cq CROSS JOIN ss CROSS JOIN src c)
        |  GROUP BY bucket),
        |qcb AS (
        |  SELECT q.vec_id AS q_id, c.bucket,
        |         list_sum(list_transform(range(1, 65), i ->
        |           CAST(q.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(c.embedding[CAST(i AS INTEGER)] AS DOUBLE))) AS qc
        |  FROM embeddings q CROSS JOIN cq c WHERE q.vec_id < 5),
        |lutq AS (
        |  SELECT q_id, list(d ORDER BY s, j) AS lut, any_value(qn) AS qn FROM (
        |    SELECT q.vec_id AS q_id, ss.s, c.j,
        |           list_sum(list_transform(range(1, 9), i ->
        |             CAST(q.embedding[CAST(ss.s*8 + i AS INTEGER)] AS DOUBLE) * CAST(c.embedding[CAST(ss.s*8 + i AS INTEGER)] AS DOUBLE))) AS d,
        |           sqrt(list_sum(list_transform(range(1, 65), i ->
        |             CAST(q.embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(q.embedding[CAST(i AS INTEGER)] AS DOUBLE)))) AS qn
        |    FROM embeddings q CROSS JOIN ss CROSS JOIN src c WHERE q.vec_id < 5)
        |  GROUP BY q_id),
        |sims AS (
        |  SELECT l.q_id, o.vec_id AS n_id,
        |         round(list_sum(list_concat([w.qc], list_transform(range(0, 8), s ->
        |                 l.lut[CAST(s*4 + o.code[s+1] + 1 AS INTEGER)])))
        |             / (l.qn * sqrt(greatest(
        |                 list_sum(list_concat([n2.cb2], list_transform(range(0, 8), s ->
        |                   2.0 * x.crx[CAST(s*4 + o.code[s+1] + 1 AS INTEGER)]
        |                   + cn.cn2[CAST(s*4 + o.code[s+1] + 1 AS INTEGER)]))), 0.0))), 6) AS asim
        |  FROM lutq l
        |  JOIN probe p ON p.q_id = l.q_id
        |  JOIN bassign b ON b.bucket = p.bucket
        |  JOIN codes o ON o.vec_id = b.vec_id
        |  JOIN qcb w ON w.q_id = l.q_id AND w.bucket = b.bucket
        |  JOIN cbn n2 ON n2.bucket = b.bucket
        |  JOIN crs x ON x.bucket = b.bucket
        |  CROSS JOIN cn
        |  WHERE l.q_id <> o.vec_id)
        |SELECT q_id, n_id, asim, rk FROM (
        |  SELECT q_id, n_id, asim,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY asim DESC, n_id ASC) AS BIGINT) AS rk
        |  FROM sims)
        |WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin) {
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Pq.ivfPqTopKWithArtifacts(emb, "vec_id", "embedding",
          col("vec_id") < 5, 10, pinnedVecs(s, d, 100, 103).map(_.toSeq).toSeq,
          pinnedCodebooks(pinnedVecs(s, d, 104, 107)), nprobe = 2,
          residual = true)
      }
    },

    // ---- Scalar quantization (SQ8): 4× compressed serving ------------------
    // The middle rung of the compression ladder: one byte per DIMENSION
    // on a per-dim uniform grid (brute 4 B/dim → SQ 1 B/dim → PQ 1 B per
    // 8 dims), near-lossless ranking (per-dim error ≤ Δ/2). Train/encode
    // are SQ-specific; the serve path IS the PQ ADC kernel (an SQ grid is
    // a product quantizer with m = dim, dsub = 1). Reconstruction-bound /
    // recall / determinism / full-refine-exactness pinned in SqSpec.
    Q.noOracle("similarity_sq") {
      (s, d) => Sq.sqTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 5, 10)
    },

    // ---- Binary quantization: 1-bit signs, Hamming shortlist + refine ------
    // The cheapest full-corpus scan in the family: 32× compression spent
    // on full-dimensional SIGN structure (xor+popcount per row, no
    // multiplies); the bit scan shortlists refine·k candidates and the
    // exact cosine finishes the ranking — only refine·k vectors per
    // query are ever read. Recall / determinism / full-refine-exactness /
    // compression pinned in BqSpec.
    Q.noOracle("similarity_bq") {
      (s, d) => Bq.bqTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 5, 10, refine = 8)
    },

    // ---- BQ serve under the hash gate (pinned sign thresholds) -------------
    // The Hamming-shortlist + exact-re-rank MACHINERY made oracle-green
    // (the similarity_ivf_pinned precedent): with thresholds pinned at
    // zero, sign bits are plain >= 0 comparisons, bit-agreement scores
    // are exact multiples of 1/64 (binary-exact through the 6-dp page
    // rounding), and DuckDB replays shortlist membership (agreement
    // DESC, id ASC, refine·k = 80) plus the rounded-cosine re-rank.
    // Threshold QUALITY stays with Bq.train's recall contracts in BqSpec.
    Q("similarity_bq_pinned",
      s"""WITH q AS (
        |  SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < 5),
        |ham AS (
        |  SELECT q.q_id, n.vec_id AS n_id,
        |         round((64 - len(list_filter(range(1, 65),
        |           i -> (q.embedding[i] >= 0) <> (n.embedding[i] >= 0)))) / 64.0, 6) AS asim
        |  FROM q, embeddings n WHERE q.q_id <> n.vec_id),
        |short AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |           row_number() OVER (PARTITION BY q_id ORDER BY asim DESC, n_id ASC) AS r
        |    FROM ham) WHERE r <= 80),
        |sims AS (
        |  SELECT s.q_id, s.n_id, ${sqlCos("a", "b")} AS sim
        |  FROM short s
        |  JOIN embeddings a ON a.vec_id = s.q_id
        |  JOIN embeddings b ON b.vec_id = s.n_id)
        |SELECT q_id, n_id, sim, rk FROM (
        |  SELECT q_id, n_id, sim,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rk
        |  FROM sims)
        |WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin) {
      (s, d) => Bq.bqTopKWithThresholds(t(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 5, 10, Array.fill(64)(0.0), refine = 8)
    },

    // ---- PQ ADC serve under the hash gate (pinned codebooks) ---------------
    // The encode → ADC → page MACHINERY made oracle-green, completing the
    // pinned-artifact pattern for the largest remaining no_oracle block:
    // with codebooks pinned to data-derived subvectors (centroid (s, j) =
    // subspace s of vector 100+j — both engines read the same floats),
    // per-subspace assignment is squared-L2 argmin, ADC is 2m table
    // lookups summed in subspace order, and DuckDB replays assignment,
    // the flattened lookup tables, and the rounded page. Codebook QUALITY
    // stays with Pq.train's recall/MSE contracts in PqSpec.
    Q("similarity_pq_pinned", sqlPinnedAdcTopK(rotated = false)) {
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Pq.pqTopKWithCodebooks(emb, "vec_id", "embedding",
          col("vec_id") < 5, 10, pinnedCodebooks(pinnedVecs(s, d, 100, 103)))
      }
    },

    // ---- Two-stage PQ serve under the hash gate (ADC shortlist + refine) ---
    // The standard PQ DEPLOYMENT shape (shortlist on compressed codes,
    // exact re-rank on refine·k full vectors — similarity_pq_refined's
    // machinery) oracle-green: shortlist membership is the rounded-ADC
    // page at rank ≤ 80, and the finisher is the hash-checked rounded-
    // cosine page the whole family shares. Completes the pinned-twin
    // program for the ADC family's LAST un-replayed stage (the refine
    // join); codebook QUALITY stays with PqSpec's recall/MSE contracts.
    Q("similarity_pq_refined_pinned", sqlPinnedAdcTopK(rotated = false, refine = 8)) {
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Pq.pqTopKWithCodebooks(emb, "vec_id", "embedding",
          col("vec_id") < 5, 10, pinnedCodebooks(pinnedVecs(s, d, 100, 103)),
          refine = 8)
      }
    },

    // ---- OPQ ADC serve under the hash gate (pinned rotation + books) -------
    // The rotate → encode → ADC → page machinery oracle-green: the pinned
    // 3-4-5 Givens rotation (exact decimal literals, two-term ordered
    // products) rotates corpus rows map-side and the query batch driver-
    // side — exactly the trained-OPQ deployment shape — and the codebooks
    // are the SAME data-derived subvectors taken in the rotated space.
    // DuckDB replays the rotation as a list_transform and re-runs the PQ
    // replay over it. Rotation QUALITY (Procrustes non-degradation) stays
    // with Pq.trainOpq's contracts in PqSpec.
    Q("similarity_opq_pinned", sqlPinnedAdcTopK(rotated = true)) {
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Pq.pqTopKWithCodebooks(emb, "vec_id", "embedding",
          col("vec_id") < 5, 10,
          pinnedCodebooks(pinnedVecs(s, d, 100, 103).map(applyPinnedRotation)),
          rotation = Some(pinnedRotation(64)))
      }
    },

    // ---- SQ ADC serve under the hash gate (pinned uniform grid) ------------
    // The uniform-rounding encode + dsub=1 ADC machinery oracle-green:
    // grid lo=-2, Δ=0.25 (both exact binary, so every reconstruction
    // -2 + j·0.25 is an exact grid point in both engines), levels=17.
    // The encoder's round-HALF-EVEN (math.rint) is emulated exactly in
    // the oracle (floor-parity branch on the .5 case); scores are the
    // same sequential-fold ADC cosine as the PQ replay. Grid QUALITY
    // (per-dim min/max training) stays with Sq.train's bounds in SqSpec.
    Q("similarity_sq_pinned",
      """WITH codes AS (
        |  SELECT vec_id, list_transform(range(1, 65), i ->
        |    LEAST(GREATEST(
        |      CASE WHEN ((CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) + 2.0) / 0.25)
        |                - floor((CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) + 2.0) / 0.25) = 0.5
        |           THEN CAST(floor((CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) + 2.0) / 0.25) AS BIGINT)
        |                + CAST(floor((CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) + 2.0) / 0.25) AS BIGINT) % 2
        |           ELSE CAST(round((CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) + 2.0) / 0.25) AS BIGINT) END,
        |      0), 16)) AS code
        |  FROM embeddings),
        |recs AS (SELECT vec_id, list_transform(code, j -> -2.0 + j * 0.25) AS rec FROM codes),
        |qn AS (SELECT vec_id AS q_id, embedding,
        |         sqrt(list_sum(list_transform(range(1, 65), i ->
        |           CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)))) AS qn
        |       FROM embeddings WHERE vec_id < 5),
        |sims AS (
        |  SELECT q.q_id, r.vec_id AS n_id,
        |         round(list_sum(list_transform(range(1, 65), i ->
        |                 CAST(q.embedding[CAST(i AS INTEGER)] AS DOUBLE) * r.rec[CAST(i AS INTEGER)]))
        |             / (q.qn * sqrt(list_sum(list_transform(r.rec, x -> x * x)))), 6) AS asim
        |  FROM qn q CROSS JOIN recs r WHERE q.q_id <> r.vec_id)
        |SELECT q_id, n_id, asim, rk FROM (
        |  SELECT q_id, n_id, asim,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY asim DESC, n_id ASC) AS BIGINT) AS rk
        |  FROM sims)
        |WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin) {
      (s, d) => Sq.sqTopKWithGrid(t(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 5, 10, dim = 64, lo = -2.0, delta = 0.25, levels = 17)
    },

    // ---- Product-quantization ANN (scale path #3: compressed serving) -----
    // 64-dim float vectors compress to 8 one-byte codes (32×); ADC scores
    // each row with 2m table lookups, query side exact. Recall /
    // determinism / shuffle contracts pinned in PqSpec; exactness stays
    // the brute-force sibling's job.
    Q.noOracle("similarity_pq") {
      (s, d) => Pq.pqTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 5, 10, m = 8, ksub = 16)
    },

    // ---- OPQ: learned-rotation PQ (Ge 2013, alternating Procrustes) --------
    // The rotation decorrelates/balances dimensions before the subspace
    // split, so the same 32x code budget quantizes tighter; argmin
    // tracking guarantees sample MSE <= plain PQ's (PqSpec). Corpus
    // rotates map-side in the encoder, queries driver-side; ADC kernel
    // and shuffle shape identical to similarity_pq.
    Q.noOracle("similarity_opq") {
      (s, d) => Pq.pqTopKOpq(t(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 5, 10, m = 8, ksub = 16)
    },

    // ---- PQ with exact re-rank: shortlist by code, rescore refine·k ---------
    // The standard two-stage deployment: only refine·k full vectors per
    // query are ever touched; top-k approaches brute-force (PqSpec pins
    // the measured recall floor).
    Q.noOracle("similarity_pq_refined") {
      (s, d) => Pq.pqTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 5, 10, m = 8, ksub = 16, refine = 8)
    },

    // ---- Token count -------------------------------------------------------
    // ---- BPE tokenizer training + corpus encoding ---------------------------
    // Sennrich et al. merges learned from the corpus's own word counts
    // (one linear groupBy + a capped driver merge loop), then a map-side
    // encode. no_oracle: the iterative global-argmax merge loop is not
    // SQL-expressible; BpeSpec pins the reference merge sequence,
    // round-trip reconstruction, and bit-determinism.
    Q.noOracle("text_bpe_tokens") {
      (s, d) => {
        val docs = t(s, d, "documents")
        val merges = Bpe.trainMerges(docs, "text", numMerges = 32)
        Bpe.encode(docs, "doc_id", "text", merges)
          .select(col("doc_id"), col("n_bpe"))
          .orderBy(col("doc_id"))
      }
    },

    // ---- BPE ENCODE under a pinned merge list (hash-EXACT twin) ------------
    // Training stays no_oracle (iterative global argmax); ENCODING under a
    // pinned merge list is deterministic greedy arithmetic, replayed in
    // SQL via a separator-wrapped string encoding of the symbol sequence:
    // each symbol rides as chr(31)||sym||chr(31), a rank-r merge (a,b) is
    // one left-to-right non-overlapping REPLACE of ␟a␟␟b␟ with ␟ab␟ —
    // exactly encodeWord's per-merge pass (REPLACE resumes after the
    // inserted text, and the delimiter structure makes a mid-symbol or
    // cross-boundary match impossible; the fixture alphabet is a-z, so
    // neither chr(31) nor '</w>' can collide with word content). The
    // merge list is the sf0.01-trained 12-merge head, pinned as literals
    // in BOTH the Spark call and the interpolated oracle — it includes a
    // composed merge (p+ar) and end-mark merges (e+r</w>), so the replay
    // covers multi-char and marker symbols. Output joins each doc's full
    // segmentation to one string: the oracle pins every token boundary.
    Q("text_bpe_tokens_pinned", bpePinnedSql) {
      (s, d) =>
        Bpe.encode(t(s, d, "documents"), "doc_id", "text", bpePinnedMerges)
          .select(col("doc_id"),
            array_join(col("bpe_tokens"), " ").as("toks"), col("n_bpe"))
          .orderBy(col("doc_id"))
    },

    Q("text_token_count",
      """SELECT doc_id, CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, d) => sortSmall( // map-only plan: plain orderBy doubles the split
        TextOps.tokenCount(t(s, d, "documents"), "doc_id", "text"), col("doc_id"))
    },

    // ---- BPE-ish subword token count (regex segmentation) ------------------
    Q("text_token_count_bpe",
      """SELECT doc_id, CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, d) => sortSmall( // map-only plan (see text_token_count)
        TextOps.bpeTokenCount(t(s, d, "documents"), "doc_id", "text"), col("doc_id"))
    },

    // ---- Multimodal frame sampling: REAL multi-frame GIF encode + decode ---
    // Spark writes an animated GIF per doc (4 solid indexed frames) and
    // decodes every frame back; the oracle predicts the decoder's output
    // from doc_id alone, so the hash certifies the codec round trip.
    Q("multimodal_frames",
      """SELECT doc_id, f.frame_no,
        |CAST(8 + doc_id % 9 AS INTEGER) AS width,
        |CAST(8 + (doc_id * 3) % 9 AS INTEGER) AS height,
        |CAST((doc_id * 5 + f.frame_no * 31) % 256 AS DOUBLE) AS mean_grey
        |FROM documents CROSS JOIN (VALUES (0),(1),(2),(3)) f(frame_no)
        |ORDER BY doc_id, frame_no""".stripMargin) {
      (s, d) =>
        val gifs = Multimodal.synthesizeGif(
          t(s, d, "documents").select(col("doc_id")), "doc_id", frames = 4)
        val assets = Multimodal.toAsset(gifs, "doc_id", "gif", "image/gif")
        // sortSmall: map-only codec plan — orderBy's sampling pass would
        // encode + decode every GIF twice
        sortSmall(Multimodal.frameFeatures(assets, "doc_id"),
          col("doc_id"), col("frame_no"))
    },

    // ---- Context-window chunking (size 64, overlap 16) ---------------------
    // chunk i covers tokens [i*48+1 .. i*48+64]; the hash certifies chunk
    // content without shipping text. All map-side (split once, one explode).
    Q("text_chunk",
      s"""WITH ${sqlChunks("")}
         |SELECT doc_id, chunk_no, n_chunk_tokens, chunk_hash FROM chunks
         |ORDER BY doc_id, chunk_no""".stripMargin) {
      // sortSmall: the chunk pipeline is map-only (no exchange), so a
      // plain orderBy's sampling pass would run split+explode+md5 twice
      (s, d) => sortSmall(
        TextOps.chunkTokens(t(s, d, "documents"), "doc_id", "text", 64, 16),
        col("doc_id"), col("chunk_no"))
    },

    // ---- Per-source corpus quality report ----------------------------------
    // The observability row a pipeline operator monitors per ingestion
    // source: doc/token volume plus averaged quality heuristics — one
    // groupBy over the map-side qualityScore projection (sources are
    // low-cardinality by contract, so the report is sketch-sized).
    Q("pipeline_quality_report",
      raw"""SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CAST(len(toks) AS BIGINT)) AS BIGINT) AS n_tokens,
        |  round(AVG(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in'))) AS BIGINT) * 1.0
        |    / CAST(len(toks) AS BIGINT)), 6) AS avg_stop_ratio,
        |  round(AVG(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0 / length(text)), 6)
        |    AS avg_punct_ratio
        |FROM (SELECT source, text, string_split_regex(trim(text), '\s+') AS toks FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin) {
      (s, d) => {
        val q = TextOps.qualityScore(
          t(s, d, "documents").select(col("doc_id"), col("text"), col("source")),
          "doc_id", "text", passthrough = Seq("source"))
        q.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            round(avg(col("stop_ratio")), 6).as("avg_stop_ratio"),
            round(avg(col("punct_ratio")), 6).as("avg_punct_ratio"))
          .orderBy(col("source"))
      }
    },

    // ---- Token-budget curation: best docs per source until budget ----------
    // Greedy prefix under a per-source token budget, ordered by quality
    // (stop-ratio DESC, doc_id ASC) — the "spend your token budget on the
    // best documents of every source" selection step of a training-data
    // pipeline. The Spark side runs the HISTOGRAM-cut plan (coarse
    // score-bin weight sums -> driver cut table -> whole bins selected
    // map-side, only boundary-bin rows pay the window); the oracle is the
    // naive full window cumsum — equality certifies the cut plan's
    // exactness, not just its intent.
    Q("pipeline_token_budget",
      raw"""WITH q AS (
        |  SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    round(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in'))) AS BIGINT) * 1.0
        |      / CAST(len(toks) AS BIGINT), 6) AS score
        |  FROM (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks FROM documents)),
        |c AS (
        |  SELECT doc_id, source, n_tokens, score,
        |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS cum
        |  FROM q)
        |SELECT doc_id, source, n_tokens, score FROM c WHERE cum <= 700
        |ORDER BY doc_id""".stripMargin) {
      (s, d) => {
        val scored = TextOps.qualityScore(t(s, d, "documents"), "doc_id", "text",
          passthrough = Seq("source"))
          .select(col("doc_id"), col("source"), col("n_tokens"),
            round(col("stop_ratio"), 6).as("score"))
        sortSmall(
          Sampling.selectByBudget(scored, "source", "doc_id", "n_tokens", "score",
            budget = 700),
          col("doc_id"))
      }
    },

    // ---- Quality tiers: per-source tercile thresholds -> tier rollup -------
    // Composition of exactPerGroup (histogram-cut rank selection) with a
    // broadcast threshold join: per-source tercile cut points over the
    // quality score, every doc assigned its tier map-side, then a
    // (source, tier) rollup. The oracle recomputes the same rank-based
    // thresholds via the naive window — certifying the whole composed
    // flow, cut plan included.
    Q("pipeline_quality_tiers",
      raw"""WITH q AS (
        |  SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    round(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in'))) AS BIGINT) * 1.0
        |      / CAST(len(toks) AS BIGINT), 6) AS score
        |  FROM (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks FROM documents)),
        |r AS (
        |  SELECT source, score,
        |    row_number() OVER (PARTITION BY source ORDER BY score) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM q WHERE score IS NOT NULL),
        |t AS (
        |  SELECT source,
        |    MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(n * (1.0/3.0)) AS BIGINT)) THEN score END) AS t1,
        |    MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(n * (2.0/3.0)) AS BIGINT)) THEN score END) AS t2
        |  FROM r GROUP BY source)
        |SELECT q.source,
        |  CASE WHEN score <= t1 THEN 0 WHEN score <= t2 THEN 1 ELSE 2 END AS tier,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM q JOIN t ON q.source = t.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) {
      (s, d) => {
        val scored = TextOps.qualityScore(t(s, d, "documents"), "doc_id", "text",
          passthrough = Seq("source"))
          .select(col("doc_id"), col("source"), col("n_tokens"),
            round(col("stop_ratio"), 6).as("score"))
        Sampling.qualityTiers(scored, "source", "score", tiers = 3)
          .groupBy(col("source"), col("tier"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
          .orderBy(col("source"), col("tier"))
      }
    },

    // ---- Quality tiers over a MULTI-COLUMN cohort --------------------------
    // The deployment shape of [[Projections.withStructKey]]: the same
    // qualityTiers composition, but the cohort is (source, lang) — the
    // struct key carries both columns through exactPerGroup's groupBy and
    // the broadcast threshold join with zero extra shuffle, so a
    // "tercile within each source×language slice" curation rule costs
    // exactly what the single-key rule costs. The oracle is the two-key
    // generalization of the single-key rank-window SQL (PARTITION BY /
    // JOIN on both columns), certifying the whole struct-keyed flow.
    Q("pipeline_quality_tiers_multi",
      raw"""WITH q AS (
        |  SELECT doc_id, source, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    round(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in'))) AS BIGINT) * 1.0
        |      / CAST(len(toks) AS BIGINT), 6) AS score
        |  FROM (SELECT doc_id, source, lang, string_split_regex(trim(text), '\s+') AS toks FROM documents)),
        |r AS (
        |  SELECT source, lang, score,
        |    row_number() OVER (PARTITION BY source, lang ORDER BY score) AS rn,
        |    COUNT(*) OVER (PARTITION BY source, lang) AS n
        |  FROM q WHERE score IS NOT NULL),
        |t AS (
        |  SELECT source, lang,
        |    MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(n * (1.0/3.0)) AS BIGINT)) THEN score END) AS t1,
        |    MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(n * (2.0/3.0)) AS BIGINT)) THEN score END) AS t2
        |  FROM r GROUP BY source, lang)
        |SELECT q.source, q.lang,
        |  CASE WHEN score <= t1 THEN 0 WHEN score <= t2 THEN 1 ELSE 2 END AS tier,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM q JOIN t ON q.source = t.source AND q.lang = t.lang
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) {
      (s, d) => {
        val scored = TextOps.qualityScore(t(s, d, "documents"), "doc_id", "text",
          passthrough = Seq("source", "lang"))
          .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
            round(col("stop_ratio"), 6).as("score"))
        Sampling.qualityTiers(
            Projections.withStructKey(scored, Seq("source", "lang"), "__k"),
            "__k", "score", tiers = 3)
          .drop("__k")
          .groupBy(col("source"), col("lang"), col("tier"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
          .orderBy(col("source"), col("lang"), col("tier"))
      }
    },

    // ---- Trained quality classifier (fastText/CCNet-shape filter) ----------
    // Logistic regression on hashed-bigram tf features separating the
    // English slice (reference corpus surrogate) from the rest, then a
    // map-side scoring pass over the full corpus — the discriminative
    // sibling of pipeline_dsir_topk. no_oracle: 30 gradient-descent
    // iterations are not SQL-expressible (and exp() is not bit-portable
    // across libms); ClassifierSpec pins bit-determinism across
    // partitionings, monotone loss, planted-separation accuracy, and
    // model sizing. Output: the 20 highest-scoring docs.
    Q.noOracle("pipeline_quality_classifier") {
      (s, d) => {
        val docs = t(s, d, "documents")
        // the deployment shape: train on a portable md5 sample (the model
        // is what scales), score the FULL corpus map-side
        val train = Sampling.uniformByHash(docs, "doc_id", 0.5)
        val model = Classifier.trainLogistic(
          train.filter(col("lang") === "en"), train.filter(col("lang") =!= "en"),
          "doc_id", "text", n = 2, buckets = 512, iters = 6)
        sortSmall(
          Classifier.scoreLogistic(docs, "doc_id", "text", model, n = 2)
            .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
            .orderBy(col("score").desc, col("doc_id")).limit(20)
            .select(col("doc_id"), col("lang"), col("score")),
          col("score").desc, col("doc_id"))
      }
    },

    // ---- Classifier SERVING under the hash gate (logit scoring pass) -------
    // The deployment half of pipeline_quality_classifier made
    // oracle-green: scoring is featurize-and-dot — portable md5 bucketing
    // (the splitByHash convention), literal weights, exact DECIMAL(30,6)
    // accumulation — so with a FIXED model the whole pass replays in
    // DuckDB bit-for-bit. The pinned model (w_b = (b mod 17 − 8)/100,
    // bias −0.25; both sides derive it from the bucket index) stands in
    // for any trained weights: serving is model-agnostic, and training
    // stays no_oracle where the GD + exp() belongs. LOGITS, not sigmoid
    // probabilities: σ is monotone (ordering/thresholding unchanged) and
    // exp() is not bit-portable across libms.
    Q("pipeline_quality_classifier_score",
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, UNNEST(list_transform(range(1, len(t)),
        |    i -> list_extract(t, i) || ' ' || list_extract(t, i+1))) AS sh
        |  FROM tk),
        |bk AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substring(md5(sh), 1, 13)) AS BIGINT) % 512 AS b
        |  FROM sh),
        |tf AS (
        |  SELECT doc_id, b,
        |         round(COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS DOUBLE), 6) AS tf
        |  FROM bk GROUP BY doc_id, b),
        |lg AS (
        |  SELECT doc_id,
        |         round(CAST(SUM(CAST(tf * ((b % 17 - 8) / 100.0) AS DECIMAL(30,6))) AS DOUBLE)
        |               + (-0.25), 6) AS logit
        |  FROM tf GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(lg.logit, -0.25) AS logit
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN lg USING (doc_id)
        |ORDER BY doc_id""".stripMargin) {
      (s, d) => {
        val model = Classifier.LogisticModel(-0.25,
          Array.tabulate(512)(b => (b % 17 - 8) / 100.0))
        sortSmall(
          Classifier.logitScore(t(s, d, "documents"), "doc_id", "text", model, n = 2),
          col("doc_id"))
      }
    },

    // ---- Per-source cap: k best docs per source ----------------------------
    // Deterministic top-k per group by quality — over-represented-domain
    // control. Bounded page aggregate (partitions·sources·k rows shuffle),
    // oracle = the row_number() window form it replaces.
    Q("pipeline_source_cap",
      raw"""WITH q AS (
        |  SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    round(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in'))) AS BIGINT) * 1.0
        |      / CAST(len(toks) AS BIGINT), 6) AS score
        |  FROM (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks FROM documents)),
        |r AS (
        |  SELECT doc_id, source, n_tokens, score,
        |    row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rn
        |  FROM q)
        |SELECT doc_id, source, n_tokens, score FROM r WHERE rn <= 10
        |ORDER BY doc_id""".stripMargin) {
      (s, d) => {
        val scored = TextOps.qualityScore(t(s, d, "documents"), "doc_id", "text",
          passthrough = Seq("source"))
          .select(col("doc_id"), col("source"), col("n_tokens"),
            round(col("stop_ratio"), 6).as("score"))
        sortSmall(
          Sampling.topKPerGroup(scored, "source", "doc_id", "score", k = 10)
            .select(col("doc_id"), col("source"), col("n_tokens"), col("score")),
          col("doc_id"))
      }
    },

    // ---- Sequence packing: chunks -> fixed token budgets per source --------
    // Composition of chunkTokens and packBins: chunks pack greedily into
    // 512-token bins WITHIN each source shard (order-defined, parallel
    // across shards); output is per-bin fill stats.
    Q("pipeline_pack_stats",
      s"""WITH ${sqlChunks(", source")},
         |r AS (
         |  SELECT source, n_chunk_tokens,
         |         COALESCE(SUM(n_chunk_tokens) OVER (PARTITION BY source ORDER BY doc_id, chunk_no
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM chunks)
         |SELECT source, CAST(floor(cum_before / 512.0) AS INTEGER) AS bin,
         |       COUNT(*) AS n_chunks, CAST(SUM(n_chunk_tokens) AS BIGINT) AS n_tokens
         |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) {
      (s, d) =>
        // `source` rides through chunkTokens as a passthrough column — no
        // second corpus scan + join to re-attach doc metadata
        val chunks = TextOps.chunkTokens(t(s, d, "documents"), "doc_id", "text",
          64, 16, passthrough = Seq("source"))
        TextOps.packBins(chunks, "source", Seq("doc_id", "chunk_no"), "n_chunk_tokens", 512)
          .groupBy(col("source"), col("bin"))
          .agg(count(lit(1)).as("n_chunks"), sum(col("n_chunk_tokens")).as("n_tokens"))
          .orderBy(col("source"), col("bin"))
    },

    // ---- PII redaction (emails / phones / IPs -> typed placeholders) -------
    // The fixture text has no PII, so each doc gets a deterministic planted
    // suffix (email + ip + phone derived from doc_id); both engines plant
    // and redact identically, so the hash certifies the scrubbing itself.
    Q("text_redact_pii",
      """SELECT doc_id, md5(
        |  regexp_replace(regexp_replace(regexp_replace(
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com ip 10.0.' ||
        |      CAST(doc_id % 256 AS VARCHAR) || '.1 call 555-' ||
        |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199',
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |    '\b((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\b', '<IP>', 'g')) AS redacted_hash
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val planted = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com ip 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".1 call 555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-0199"))
        // sortSmall: map-only plan — plain orderBy would run the triple
        // regex + md5 twice (sampling pass + real pass)
        sortSmall(
          t(s, d, "documents")
            .select(col("doc_id"), md5(TextOps.redactPii(planted)).as("redacted_hash")),
          col("doc_id"))
    },

    // ---- Corpus term frequencies (top 20) ----------------------------------
    Q("text_term_freq",
      """SELECT term, COUNT(*) AS cnt FROM (
        |  SELECT UNNEST(string_split_regex(trim(text), '\s+')) AS term FROM documents)
        |GROUP BY 1 ORDER BY cnt DESC, term ASC NULLS FIRST LIMIT 20""".stripMargin) {
      (s, d) => TextOps.termFrequencies(t(s, d, "documents"), "text", 20)
    },

    // ---- Quality score -----------------------------------------------------
    Q("text_quality",
      """SELECT doc_id,
        |CAST(len(toks) AS BIGINT) AS n_tokens,
        |CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in'))) AS BIGINT) * 1.0
        |  / CAST(len(toks) AS BIGINT) AS stop_ratio,
        |CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))) AS BIGINT) * 1.0
        |  / CAST(len(toks) AS BIGINT) AS avg_token_len,
        |length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0 / length(text) AS punct_ratio
        |FROM (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents)
        |ORDER BY doc_id""".stripMargin) {
      (s, d) => sortSmall( // map-only plan (see text_token_count)
        TextOps.qualityScore(t(s, d, "documents"), "doc_id", "text"), col("doc_id"))
    },

    // ---- Language-ID heuristic ---------------------------------------------
    Q("text_lang_id",
      """SELECT doc_id,
        |CASE
        |  WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |  WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |  WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |  WHEN s_fr >= s_zh THEN 'fr'
        |  ELSE 'zh' END AS pred_lang
        |FROM (
        |  SELECT doc_id,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','in'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('el','la','de','que','los'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('le','la','les','et','des'))) AS s_fr,
        |    len(list_filter(toks, x -> x IN ('的','是','了','在','和'))) AS s_zh
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents))
        |ORDER BY doc_id""".stripMargin) {
      (s, d) => sortSmall( // map-only plan (see text_token_count)
        TextOps.languageId(t(s, d, "documents"), "doc_id", "text"), col("doc_id"))
    },

    // ---- Shingle fingerprint ----------------------------------------------
    Q("text_fingerprint",
      s"""WITH bg AS ($sqlBigrams)
         |SELECT doc_id, MIN(md5(sh)) AS min_shingle_hash, COUNT(*) AS n_shingles
         |FROM bg GROUP BY 1 ORDER BY doc_id""".stripMargin) {
      (s, d) => TextOps.fingerprint(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // ---- Repetition score (most-repeated bigram ratio) ---------------------
    Q("text_repetition",
      """WITH g AS (
        |  SELECT doc_id, UNNEST(list_transform(range(1, len(t)),
        |         i -> t[i] || ' ' || t[i+1])) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents)
        |), c AS (
        |  SELECT doc_id, sh, COUNT(*) AS cnt FROM g GROUP BY 1, 2
        |)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
        |       MAX(cnt) AS max_gram_cnt,
        |       round(MAX(cnt) * 1.0 / SUM(cnt), 6) AS rep_ratio
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
      (s, d) => TextOps.repetitionScore(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // ---- TF-IDF top-k keywords ---------------------------------------------
    // Score rounded to 6 places BEFORE ranking in BOTH engines, so the
    // rank order (tfidf DESC, term ASC) is identical even when the last
    // ulp of ln() differs.
    Q("text_tfidf_topk",
      raw"""WITH tf AS (
        |  SELECT doc_id, w AS term, COUNT(*) AS tf FROM (
        |    SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS w FROM documents)
        |  GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |nn AS (SELECT COUNT(*)*1.0 AS n FROM documents),
        |s AS (SELECT doc_id, term, tf,
        |        round(tf * (ln((1.0 + (SELECT n FROM nn)) / (1.0 + df)) + 1.0), 6) AS tfidf
        |      FROM tf JOIN dfq USING (term)),
        |r AS (SELECT doc_id, term, tf, tfidf,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
        |      FROM s)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin) {
      (s, d) =>
        TextOps.tfidfTopK(t(s, d, "documents"), "doc_id", "text", k = 5)
          .orderBy(col("doc_id"), col("rk"))
    },

    // ---- BM25 full-text relevance top-k ------------------------------------
    // Lucene-parameterized Okapi BM25 over a fixed two-term query; the
    // oracle recomputes the identical formula naively (full window over
    // every doc) while Spark filters to query terms map-side and cuts the
    // global top-k with TakeOrderedAndProject. Constants stay in
    // UNFOLDED form ((1.2 + 1), (1 - 0.75)) on both sides so each engine
    // derives the same IEEE doubles; round-6 after the per-doc sum
    // absorbs last-ulp ln() noise (the tfidf precedent).
    Q("text_bm25_topk",
      raw"""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tk),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sdl FROM dl),
        |tf AS (SELECT doc_id, w AS term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        |         SELECT doc_id, UNNEST(toks) AS w FROM tk)
        |       WHERE w IN ('spark', 'join') GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT t.doc_id,
        |         CAST(SUM(ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5))
        |             * (t.tf * (1.2 + 1)) /
        |             (t.tf + 1.2 * ((1 - 0.75) + 0.75 * l.dl / (st.sdl * 1.0 / st.n)))) AS DOUBLE) AS score
        |       FROM tf t JOIN dfq d USING (term) JOIN dl l ON t.doc_id = l.doc_id
        |       CROSS JOIN st GROUP BY 1)
        |SELECT doc_id, round(score, 6) AS score FROM sc
        |ORDER BY round(score, 6) DESC, doc_id LIMIT 15""".stripMargin) {
      (s, d) =>
        TextOps.bm25TopK(t(s, d, "documents"), "doc_id", "text",
          query = Seq("spark", "join"), k = 15)
    },

    // ---- Hybrid retrieval: BM25 + dense fused by RRF -----------------------
    // Reciprocal Rank Fusion (Cormack et al. SIGIR'09, k0 = 60) of the
    // sparse BM25 page and the PINNED-IVF dense page over the same
    // corpus (embeddings row i embeds document i) — the standard hybrid
    // search shape, 100 TB-ready end to end: one map-side term filter,
    // one probe-pruned dense scan, and a join of two page-sized lists.
    // Every RRF contribution is an exact integer-division double and the
    // two-term sum is commutative, so the fused page replays exactly.
    Q("search_hybrid_rrf",
      raw"""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tk),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sdl FROM dl),
        |tf AS (SELECT doc_id, w AS term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        |         SELECT doc_id, UNNEST(toks) AS w FROM tk)
        |       WHERE w IN ('spark', 'join') GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT t.doc_id,
        |         CAST(SUM(ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5))
        |             * (t.tf * (1.2 + 1)) /
        |             (t.tf + 1.2 * ((1 - 0.75) + 0.75 * l.dl / (st.sdl * 1.0 / st.n)))) AS DOUBLE) AS score
        |       FROM tf t JOIN dfq d USING (term) JOIN dl l ON t.doc_id = l.doc_id
        |       CROSS JOIN st GROUP BY 1),
        |sp AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS BIGINT) AS rank
        |       FROM (SELECT doc_id, score FROM sc ORDER BY round(score, 6) DESC, doc_id LIMIT 15)),
        |c AS (
        |  SELECT vec_id - 100 AS bucket, embedding FROM embeddings
        |  WHERE vec_id BETWEEN 100 AND 103),
        |ad AS (
        |  SELECT v.vec_id, c.bucket,
        |         list_sum(list_transform(range(1, 65),
        |           i -> (CAST(v.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
        |              * (CAST(v.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))) AS dist
        |  FROM embeddings v CROSS JOIN c),
        |assign AS (
        |  SELECT vec_id, bucket FROM (
        |    SELECT vec_id, bucket,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, bucket) AS r
        |    FROM ad) WHERE r = 1),
        |probe AS (
        |  SELECT vec_id AS q_id, bucket FROM (
        |    SELECT vec_id, bucket,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, bucket) AS r
        |    FROM ad WHERE vec_id = 0) WHERE r <= 2),
        |dsims AS (
        |  SELECT p.q_id, s.vec_id AS n_id, ${sqlCos("a", "b")} AS sim
        |  FROM probe p
        |  JOIN assign s ON s.bucket = p.bucket
        |  JOIN embeddings a ON a.vec_id = p.q_id
        |  JOIN embeddings b ON b.vec_id = s.vec_id
        |  WHERE p.q_id <> s.vec_id),
        |dn AS (
        |  SELECT n_id, rk FROM (
        |    SELECT n_id, CAST(row_number() OVER (ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rk
        |    FROM dsims) WHERE rk <= 15),
        |fused AS (
        |  SELECT COALESCE(sp.doc_id, dn.n_id) AS id,
        |         round(COALESCE(1.0/(60 + sp.rank), 0) + COALESCE(1.0/(60 + dn.rk), 0), 6) AS rrf,
        |         CAST((CASE WHEN sp.doc_id IS NULL THEN 0 ELSE 1 END)
        |            + (CASE WHEN dn.n_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_lists
        |  FROM sp FULL JOIN dn ON dn.n_id = sp.doc_id)
        |SELECT id AS doc_id, rrf, n_lists, rk FROM (
        |  SELECT id, rrf, n_lists,
        |         CAST(row_number() OVER (ORDER BY rrf DESC, id) AS BIGINT) AS rk
        |  FROM fused)
        |WHERE rk <= 10 ORDER BY rk""".stripMargin) {
      (s, d) => {
        val docs = t(s, d, "documents")
        val emb = t(s, d, "embeddings")
        val sparse = TextOps.bm25Ranked(docs, "doc_id", "text",
            query = Seq("spark", "join"), k = 15)
          .select(col("doc_id").as("id"), col("rank"))
        val dense = Similarity.ivfTopKWithCentroids(emb, "vec_id", "embedding",
            col("vec_id") === 0, 15,
            pinnedVecs(s, d, 100, 103).map(_.toSeq).toSeq, nprobe = 2)
          .select(col("n_id").as("id"), col("rk").as("rank"))
        TextOps.rrfFuse(Seq(sparse, dense), k = 10)
          .select(col("id").as("doc_id"), col("rrf"), col("n_lists"), col("rk"))
          .orderBy(col("rk"))
      }
    },

    // ---- Bigram-LM cross-entropy quality score -----------------------------
    // CCNet-style: the add-k bigram LM trains on the 90% reference split
    // and scores the held-out 10% (same split as the ingest-dedup rows),
    // so the unseen-token smoothing path is exercised on real rows.
    // perplexity = 2^ce is dropped from the oracle row: pow would
    // amplify the last-ulp sum noise that round-6 on ce absorbs.
    Q("text_lm_score",
      raw"""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |lm AS (SELECT * FROM toks WHERE doc_id % 10 <> 0),
        |tgt AS (SELECT * FROM toks WHERE doc_id % 10 = 0),
        |uni AS (SELECT w1, COUNT(*) AS cw FROM (SELECT UNNEST(t) AS w1 FROM lm) GROUP BY 1),
        |vs AS (SELECT COUNT(*)*1.0 AS v FROM uni),
        |bi AS (SELECT sh, COUNT(*) AS cb FROM (
        |  SELECT UNNEST(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS sh
        |  FROM lm) GROUP BY 1),
        |tb AS (SELECT doc_id, UNNEST(list_transform(range(1, len(t)),
        |       i -> t[i] || ' ' || t[i+1])) AS sh FROM tgt)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  round(AVG(-log2((COALESCE(cb,0) + 0.5) / (COALESCE(cw,0) + 0.5*(SELECT v FROM vs)))), 6)
        |    AS cross_entropy
        |FROM (SELECT tb.doc_id, tb.sh, split_part(tb.sh, ' ', 1) AS w1 FROM tb)
        |  x LEFT JOIN bi USING (sh) LEFT JOIN uni USING (w1)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
      (s, d) => {
        val docs = t(s, d, "documents")
        TextOps.lmScore(
            docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
            docs.filter(pmod(col("doc_id"), lit(10)) === 0), "doc_id", "text")
          .select(col("doc_id"), col("n_bigrams"),
            round(col("cross_entropy"), 6).as("cross_entropy"))
          .orderBy(col("doc_id"))
      }
    },

    // ---- Winnowing fingerprints (k=3 token grams, window=4) ----------------
    Q("text_winnow",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
        |), grams AS (
        |  SELECT doc_id, i, ng, md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS h
        |  FROM (SELECT doc_id, t, len(t) - 2 AS ng,
        |               UNNEST(range(1, len(t) - 1)) AS i FROM toks)
        |), winmins AS (
        |  SELECT doc_id, i, ng,
        |         min(h) OVER (PARTITION BY doc_id ORDER BY i
        |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wm
        |  FROM grams
        |), kept AS (
        |  SELECT DISTINCT doc_id, wm FROM winmins
        |  WHERE i <= greatest(ng - 3, 1)
        |)
        |SELECT doc_id, COUNT(*) AS n_fp, MIN(wm) AS min_fp
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
      (s, d) => TextOps.winnowFingerprints(t(s, d, "documents"), "doc_id", "text", 3, 4)
        .orderBy(col("doc_id"))
    },

    // ---- Multimodal decode: REAL PNG encode + javax.imageio decode ---------
    // Each doc gets a deterministic solid-colour PNG; Spark decodes it to
    // (width, height, channel means) with the real codec, and the oracle
    // computes the same values in closed form from doc_id — a stub decoder
    // could not reproduce them.
    Q("multimodal_features",
      """SELECT doc_id,
        |CAST(8 + doc_id % 9 AS INTEGER) AS width,
        |CAST(8 + (doc_id * 3) % 9 AS INTEGER) AS height,
        |CAST(doc_id % 256 AS DOUBLE) AS mean_r,
        |CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
        |CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val pngs = Multimodal.synthesizePng(
          t(s, d, "documents").select(col("doc_id")), "doc_id")
        val assets = Multimodal.toAsset(pngs, "doc_id", "png", "image/png")
        // sortSmall: map-only codec plan (see multimodal_frames)
        sortSmall(Multimodal.decodeFeatures(assets, "doc_id"), col("doc_id"))
    },

    // ---- Perceptual image dedup: dHash + Hamming banding -------------------
    // Every doc gets a real PNG whose dHash equals a bijective 64-bit mix
    // of its BASE id (docs with doc_id % 10 = 9 reuse the predecessor's
    // pattern — the planted perceptual dups); hashes run through the REAL
    // decode → resize → dHash path, pairs through the pigeonhole Hamming
    // banding at radius 3. Distinct bases sit ≥ 14 bits apart (verified
    // across the fixture id range), so the planted pairs are EXACTLY the
    // output and the oracle is closed-form from the id structure — a stub
    // hash or broken banding could not reproduce it.
    Q("multimodal_image_dedup",
      """SELECT doc_id - 1 AS d1, doc_id AS d2 FROM documents
        |WHERE doc_id % 10 = 9 ORDER BY 1, 2""".stripMargin) {
      (s, d) =>
        val base = when(pmod(col("doc_id"), lit(10)) === 9, col("doc_id") - 1)
          .otherwise(col("doc_id"))
        val pngs = Multimodal.synthesizePatternPng(
          t(s, d, "documents").select(col("doc_id")), base)
        val hashes = Multimodal.imageHashes(pngs, "doc_id", col("png"))
        sortSmall(
          Dedup.hammingPairs(hashes, "doc_id", "dhash", maxHamming = 3)
            .select(col("d1"), col("d2")),
          col("d1"), col("d2"))
    },

    // ---- Multimodal resize: REAL Graphics2D bilinear scale + re-decode -----
    // Bilinear interpolation of a constant image is the same constant, so
    // the resized means must equal the originals at the new 5×4 geometry.
    Q("multimodal_resize",
      """SELECT doc_id,
        |CAST(5 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
        |CAST(doc_id % 256 AS DOUBLE) AS mean_r,
        |CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
        |CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val pngs = Multimodal.synthesizePng(
          t(s, d, "documents").select(col("doc_id")), "doc_id")
        val assets = Multimodal.toAsset(pngs, "doc_id", "png", "image/png")
        // sortSmall: map-only codec plan (see multimodal_frames)
        sortSmall(Multimodal.resizeFeatures(assets, "doc_id", tw = 5, th = 4),
          col("doc_id"))
    },

    // ---- Multimodal audio: REAL javax.sound.sampled WAV encode + decode ----
    // Each doc gets a deterministic 16-bit PCM WAV (two-level alternating
    // waveform, see AudioCodec.synthWav); Spark decodes it with the real
    // codec, and the oracle computes duration/rate/channels/mean/rms in
    // closed form from doc_id — all values are IEEE-exact on both engines
    // (integer numerators < 2^53, correctly-rounded division and sqrt).
    Q("multimodal_audio",
      """SELECT doc_id,
        |CAST((400 + (doc_id % 50) * 2) / 8.0 AS DOUBLE) AS duration_ms,
        |CAST(8000 AS INTEGER) AS sample_rate,
        |CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |(a + b) / 2.0 AS mean_amp,
        |sqrt((a * a + b * b) / 2.0) AS rms
        |FROM (SELECT doc_id,
        |        CAST((doc_id * 37) % 20000 - 10000 AS DOUBLE) AS a,
        |        CAST((doc_id * 53) % 20000 - 10000 AS DOUBLE) AS b
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        val wavs = Multimodal.synthesizeWav(
          t(s, d, "documents").select(col("doc_id")), "doc_id")
        val assets = Multimodal.toAsset(wavs, "doc_id", "wav", "audio/wav")
        // sortSmall: map-only codec plan (see multimodal_frames)
        sortSmall(Multimodal.audioFeatures(assets, "doc_id"), col("doc_id"))
    },

    // ---- Multimodal audio dedup: gain-invariant perceptual fingerprints ---
    // Every doc_id % 10 == 9 carries the PREVIOUS doc's waveform re-mastered
    // at 2x volume (byte-distinct payload, identical energy-delta
    // fingerprint — AudioCodec.audioFingerprint's gain-invariance
    // contract), so the planted (d-1, d) pairs are the ONLY Hamming-3
    // matches: a byte-level dedup would find nothing, a stub fingerprint
    // would match everything. Same closed-form oracle as the image twin.
    Q("multimodal_audio_dedup",
      """SELECT doc_id - 1 AS d1, doc_id AS d2 FROM documents
        |WHERE doc_id % 10 = 9 ORDER BY 1, 2""".stripMargin) {
      (s, d) => {
        val isCopy = pmod(col("doc_id"), lit(10)) === 9
        val wavs = Multimodal.synthesizePatternWav(
          t(s, d, "documents").select(col("doc_id")),
          when(isCopy, col("doc_id") - 1).otherwise(col("doc_id")),
          when(isCopy, lit(2)).otherwise(lit(1)))
        val fps = Multimodal.audioHashes(wavs, "doc_id", col("wav"))
        sortSmall(
          Dedup.hammingPairs(fps, "doc_id", "afp", maxHamming = 3)
            .select(col("d1"), col("d2")),
          col("d1"), col("d2"))
      }
    },

    // ---- Multimodal video: minimal RIFF-AVI (uncompressed DIB) container ---
    // Each doc gets a deterministic 3-frame 24-bit AVI; Spark parses the
    // container and stats every frame, and the oracle predicts dimensions,
    // fps, and per-frame channel means in closed form from doc_id — a
    // stub parser could not reproduce them.
    Q("multimodal_video",
      """SELECT doc_id, f.frame_no,
        |CAST(8 + doc_id % 9 AS INTEGER) AS width,
        |CAST(8 + (doc_id * 3) % 9 AS INTEGER) AS height,
        |CAST(10 AS DOUBLE) AS fps,
        |CAST((doc_id + f.frame_no * 17) % 256 AS DOUBLE) AS mean_r,
        |CAST((doc_id * 7 + f.frame_no * 29) % 256 AS DOUBLE) AS mean_g,
        |CAST((doc_id * 13 + f.frame_no * 41) % 256 AS DOUBLE) AS mean_b
        |FROM documents CROSS JOIN (VALUES (0),(1),(2)) f(frame_no)
        |ORDER BY doc_id, frame_no""".stripMargin) {
      (s, d) =>
        val avis = Multimodal.synthesizeAvi(
          t(s, d, "documents").select(col("doc_id")), "doc_id")
        val assets = Multimodal.toAsset(avis, "doc_id", "avi", "video/x-msvideo")
        // sortSmall: map-only codec plan (see multimodal_frames)
        sortSmall(Multimodal.videoFrameFeatures(assets, "doc_id"),
          col("doc_id"), col("frame_no"))
    },

    // ---- Multimodal video: MJPEG frames in the same RIFF container ---------
    // Real JPEG-compressed frames ('00dc', biCompression 'MJPG') decoded
    // through the bomb-guarded ImageIO path. The oracle stays closed-form
    // for a LOSSY codec because solid grey at JPEG quality 100 round-trips
    // bit-exact (all-ones quant tables, DC-only blocks, exact fixed-point
    // grey↔YCbCr) — verified per-value in ExtensionOpsSpec.
    Q("multimodal_video_mjpeg",
      """SELECT doc_id, f.frame_no,
        |CAST(8 + doc_id % 9 AS INTEGER) AS width,
        |CAST(8 + (doc_id * 3) % 9 AS INTEGER) AS height,
        |CAST(10 AS DOUBLE) AS fps,
        |CAST((doc_id * 11 + f.frame_no * 37) % 256 AS DOUBLE) AS mean_r,
        |CAST((doc_id * 11 + f.frame_no * 37) % 256 AS DOUBLE) AS mean_g,
        |CAST((doc_id * 11 + f.frame_no * 37) % 256 AS DOUBLE) AS mean_b
        |FROM documents CROSS JOIN (VALUES (0),(1),(2)) f(frame_no)
        |ORDER BY doc_id, frame_no""".stripMargin) {
      (s, d) =>
        val avis = Multimodal.synthesizeAviMjpeg(
          t(s, d, "documents").select(col("doc_id")), "doc_id")
        val assets = Multimodal.toAsset(avis, "doc_id", "avi", "video/x-msvideo")
        sortSmall(Multimodal.videoFrameFeatures(assets, "doc_id"),
          col("doc_id"), col("frame_no"))
    },

    // ---- End-to-end corpus-cleaning pipeline (the training-data flow) ------
    // Every stage is one of the catalog operators; the oracle replays the
    // identical pipeline in SQL with an EXACT near-dup stage, while the
    // Spark side runs the sub-quadratic MinHash-LSH stage — they agree
    // because LSH verifies exact Jaccard on candidates and its recall on
    // the fixture corpus is 1.0 (asserted in ExtensionOpsSpec). The
    // near-dup stage has COMPONENT semantics (one min-id representative
    // per connected component of the pair graph — the recursive-CTE
    // clustering the dedup_groups oracles use), not pair-loser semantics.
    Q("pipeline_clean_corpus",
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, text, len(string_split_regex(trim(text), '\\s+')) AS n_tokens
         |  FROM documents),
         |quality AS (SELECT doc_id, text, n_tokens FROM toks WHERE n_tokens >= 20),
         |reps AS (
         |  SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY sha256(text)),
         |survivors AS (
         |  SELECT q.doc_id, q.text, q.n_tokens FROM quality q
         |  JOIN reps r ON q.doc_id = r.doc_id),
         |bg AS (
         |  SELECT DISTINCT doc_id, UNNEST(list_transform(range(1, len(string_split_regex(trim(text), '\\s+'))),
         |    i -> list_extract(string_split_regex(trim(text), '\\s+'), i) || ' ' ||
         |         list_extract(string_split_regex(trim(text), '\\s+'), i+1))) AS sh
         |  FROM survivors),
         |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM bg GROUP BY 1),
         |inter AS (
         |  SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS i
         |  FROM bg x JOIN bg y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |neardup AS (
         |  SELECT d1, d2 FROM inter
         |  JOIN sz sx ON sx.doc_id = d1 JOIN sz sy ON sy.doc_id = d2
         |  WHERE i*1.0/(sx.n_sh + sy.n_sh - i) >= 0.5),
         |edges AS (
         |  SELECT d1 AS src, d2 AS dst FROM neardup
         |  UNION SELECT d2, d1 FROM neardup),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM survivors
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
         |comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY 1),
         |clean AS (
         |  SELECT s.* FROM survivors s JOIN comp c ON c.id = s.doc_id AND c.rep = s.doc_id)
         |SELECT COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
         |FROM clean""".stripMargin) {
      (s, d) => cleanCorpus(t(s, d, "documents"),
        sv => Dedup.minHashLSH(sv, "doc_id", "text", n = 2, threshold = 0.5))
    },

    // ---- Misra-Gries sketch (k > distinct ⇒ counts exact ⇒ oracle-able) ----
    Q("heavy_hitters_mg",
      """SELECT l_returnflag AS value, cnt FROM (
        |  SELECT l_returnflag, COUNT(*) AS cnt FROM lineitem GROUP BY 1)
        |ORDER BY value ASC NULLS FIRST""".stripMargin) {
      (s, d) => t(s, d, "lineitem")
        .agg(MisraGries.sketch(col("l_returnflag"), 10).as("mg"))
        .select(explode(col("mg")).as(Seq("value", "cnt")))
        .orderBy(col("value").asc_nulls_first)
    },

    // ---- Misra-Gries over a tuple key (reference sketches schema subsets) --
    // The sketch key is the actual (l_returnflag, l_linestatus) STRUCT
    // (native MisraGriesSketch aggregate — no string rendering); the
    // output renders the struct for the SQL oracle's string GROUP BY.
    Q("heavy_hitters_mg_tuple",
      """SELECT l_returnflag || '|' || l_linestatus AS value, COUNT(*) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY value ASC NULLS FIRST""".stripMargin) {
      (s, d) =>
        graft.functions.VectorExprs.register(s)
        t(s, d, "lineitem")
          .agg(MisraGries.sketchStruct(
            Seq(col("l_returnflag"), col("l_linestatus")), 10).as("mg"))
          .select(explode(col("mg")).as(Seq("key", "cnt")))
          .select(concat(col("key.l_returnflag"), lit("|"),
            col("key.l_linestatus")).as("value"), col("cnt"))
          .orderBy(col("value").asc_nulls_first)
    }
  )
}
