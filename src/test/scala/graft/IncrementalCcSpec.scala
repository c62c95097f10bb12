package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** `Dedup.incrementalComponents`: folding an ingest batch into existing
  * cluster labels must equal a from-scratch recluster of the union.
  */
class IncrementalCcSpec extends SparkSpec {

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("bridge case: one new doc merges two old components") {
    import spark.implicits._
    // old components {1,2} and {3,4}; new doc 5 bridges both; 6 is a new
    // singleton; 7-8 are a purely-new pair
    val oldLabels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)).toDF("id", "rep_id")
    val newIds = Seq(5L, 6L, 7L, 8L).toDF("doc_id")
    val newPairs = Seq((5L, 2L), (5L, 4L), (7L, 8L)).toDF("d1", "d2")
    val got = labelsOf(
      Dedup.incrementalComponents(oldLabels, newIds, "doc_id", newPairs))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 6L, 7L -> 7L, 8L -> 7L))
  }

  test("empty batch pair set leaves old labels unchanged, new ids singleton") {
    import spark.implicits._
    val oldLabels = Seq((1L, 1L), (2L, 1L)).toDF("id", "rep_id")
    val newIds = Seq(9L).toDF("doc_id")
    val empty = Seq.empty[(Long, Long)].toDF("d1", "d2")
    val got = labelsOf(
      Dedup.incrementalComponents(oldLabels, newIds, "doc_id", empty))
    assert(got == Map(1L -> 1L, 2L -> 1L, 9L -> 9L))
  }

  test("fixture parity: incremental equals from-scratch recluster") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = Dedup.minHashLSH(docs, "doc_id", "text", n = 2, threshold = 0.5)
    val full = labelsOf(Dedup.connectedComponents(docs, "doc_id", pairs))

    val oldDocs = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val newDocs = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val oldLabels = Dedup.connectedComponentsStar(oldDocs, "doc_id",
      Dedup.minHashLSH(oldDocs, "doc_id", "text", n = 2, threshold = 0.5))
    val isNew = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) === 0
    val newPairs = pairs.filter(isNew(col("d1")) || isNew(col("d2")))
    val inc = labelsOf(
      Dedup.incrementalComponents(oldLabels, newDocs, "doc_id", newPairs))
    assert(inc == full)
  }

  test("lshIndexPairs: index probe equals the full-LSH pair set restricted to the batch") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    type Split = org.apache.spark.sql.Column => org.apache.spark.sql.Column
    def docsIn(split: Split) = docs.filter(split(pmod(col("doc_id"), lit(10))))
    // probe `batch` against an index built over `base`, then appended with
    // `appended`: must equal full-corpus minHashLSH over the union,
    // restricted to pairs touching the batch
    def check(base: Split, appended: Option[Split], batch: Split): Unit = {
      val dir = java.nio.file.Files.createTempDirectory("graft_lsh_pairs").toString
      Dedup.buildLshIndex(docsIn(base), "doc_id", "text", dir)
      appended.foreach(a => Dedup.appendToLshIndex(docsIn(a), "doc_id", "text", dir))
      val probed = pairsOf(Dedup.lshIndexPairs(spark, docsIn(batch), "doc_id", "text", dir))
      val inBatch = (c: org.apache.spark.sql.Column) => batch(pmod(c, lit(10)))
      val union: Split = r => appended.foldLeft(base(r) || batch(r))(_ || _(r))
      val want = pairsOf(
        Dedup.minHashLSH(docsIn(union), "doc_id", "text", n = 2, threshold = 0.5)
          .filter(inBatch(col("d1")) || inBatch(col("d2"))))
      assert(want.nonEmpty)
      assert(probed == want,
        s"probe-only: ${(probed -- want).take(5)}; full-only: ${(want -- probed).take(5)}")
    }
    // index built over the 90% split, probed by the 10% batch
    check(_ =!= 0, None, _ === 0)
    // the ingest cycle: build over the base split, append one accepted
    // batch, then probe the next batch against the appended index
    check(r => r =!= 0 && r =!= 5, Some(_ === 5), _ === 0)
  }

  test("chained ingest: two successive batches still equal full recluster") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = Dedup.minHashLSH(docs, "doc_id", "text", n = 2, threshold = 0.5)
    val full = labelsOf(Dedup.connectedComponents(docs, "doc_id", pairs))

    // base = %5 != 0; batch1 = %10 == 5; batch2 = %10 == 0
    val base = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val b1 = docs.filter(pmod(col("doc_id"), lit(10)) === 5)
    val b2 = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val baseLabels = Dedup.connectedComponentsStar(base, "doc_id",
      Dedup.minHashLSH(base, "doc_id", "text", n = 2, threshold = 0.5))
    val in1 = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) === 5
    val in2 = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) === 0
    // batch-1 pairs: touching b1 but NOT touching b2 (b2 not ingested yet)
    val p1 = pairs.filter((in1(col("d1")) || in1(col("d2"))) &&
      !in2(col("d1")) && !in2(col("d2")))
    val l1 = Dedup.incrementalComponents(baseLabels, b1, "doc_id", p1)
    // batch-2 pairs: anything touching b2
    val p2 = pairs.filter(in2(col("d1")) || in2(col("d2")))
    val l2 = Dedup.incrementalComponents(l1, b2, "doc_id", p2)
    assert(labelsOf(l2) == full)
  }

  /** Fold `newIds`/`newPairs` into the from-scratch labels of the old
    * graph and compare with a from-scratch clustering (`recluster`) of
    * the union.
    */
  private def assertFoldMatches(oldIds: Seq[Long], oldPairs: Seq[(Long, Long)],
                                newIds: Seq[Long], newPairs: Seq[(Long, Long)],
                                recluster: (DataFrame, DataFrame) => DataFrame =
                                  Dedup.connectedComponents(_, "doc_id", _)): Map[Long, Long] = {
    import spark.implicits._
    val oldLabels = recluster(oldIds.toDF("doc_id"), oldPairs.toDF("d1", "d2"))
    val inc = labelsOf(Dedup.incrementalComponents(
      oldLabels, newIds.toDF("doc_id"), "doc_id", newPairs.toDF("d1", "d2")))
    val full = labelsOf(recluster((oldIds ++ newIds).toDF("doc_id"),
      (oldPairs ++ newPairs).toDF("d1", "d2")))
    assert(inc == full)
    inc
  }

  test("driver fold: shuffled long path with reversed and duplicate edges") {
    // the batch's contracted graph is one 300-vertex path: the union-find
    // must chain it whatever the edge order, direction or multiplicity.
    // Every third id is an old singleton, so every path edge touches a
    // new id; 301-305 are new singletons. Min-label propagation needs
    // ~diameter rounds (past its maxIters), so the reference recluster is
    // the diameter-robust star contraction (same min-id contract).
    val rnd = new scala.util.Random(7)
    val path = (1L until 300L).map(i => (i, i + 1))
    val messy = rnd.shuffle(path.map { case (a, b) => if (rnd.nextBoolean()) (b, a) else (a, b) } ++
      path.take(40).map(_.swap) ++ path.slice(100, 130))
    val (oldIds, newIds) = (1L to 305L).partition(i => i % 3 == 0 && i <= 300)
    val got = assertFoldMatches(oldIds, Nil, newIds, messy,
      Dedup.connectedComponentsStar(_, "doc_id", _))
    assert((1L to 300L).forall(got(_) == 1L) && (301L to 305L).forall(i => got(i) == i))
  }

  test("driver fold: one batch bridges three old components") {
    // old {1,2,3} {10,11} {20,21,22} {40,41}; new 30 links a non-rep
    // member of each of the first three, 31 hangs off 30, 50-51 are a
    // purely new pair; {40,41} is untouched
    val got = assertFoldMatches(
      Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 22L, 40L, 41L),
      Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (40L, 41L)),
      Seq(30L, 31L, 50L, 51L),
      Seq((3L, 30L), (30L, 11L), (22L, 30L), (30L, 31L), (50L, 51L)))
    assert(Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 22L, 30L, 31L).forall(got(_) == 1L))
    assert(got(40L) == 40L && got(41L) == 40L && got(50L) == 50L && got(51L) == 50L)
  }

  test("driver fold: ids above Int.MaxValue keep their long identity") {
    val b = Int.MaxValue.toLong + 1000L
    val got = assertFoldMatches(
      Seq(b + 5, b + 6, b + 9, 7L),
      Seq((b + 5, b + 6), (b + 9, 7L)),
      Seq(b + 1, b + 7, b + 3_000_000_000L),
      Seq((b + 6, b + 1), (b + 7, b + 9), (b + 3_000_000_000L, b + 1)))
    assert(got(b + 5) == b + 1 && got(b + 3_000_000_000L) == b + 1)
    assert(got(b + 7) == 7L && got(b + 9) == 7L)
  }

  test("chained folds leave no persisted RDD behind") {
    import spark.implicits._
    // a serving loop: each fold's materialized output is the next fold's
    // old labels. The fold must persist nothing — no cache, no checkpoint
    // blocks — so no RDD id appears in the persistent set. The outputs
    // stay referenced until the check, so a leaked RDD cannot be
    // garbage-collected out of the (weak-valued) set before it is seen.
    var labels = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("id", "rep_id")
    val outputs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    for (k <- 0 until 5) {
      val fresh = Seq(10L + 2 * k, 11L + 2 * k)
      val link = if (k == 0) 3L else fresh(0) - 1
      val out = Dedup.incrementalComponents(labels, fresh.toDF("doc_id"), "doc_id",
        Seq((fresh(0), link), (fresh(1), fresh(0))).toDF("d1", "d2"))
      outputs += out
      labels = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.toDF("id", "rep_id")
    }
    val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(added.isEmpty, s"${added.size} RDDs persisted by 5 folds (${outputs.size} outputs)")
    // the chain joined 3 with every batch: {3, 10..19} under rep 3
    assert(labelsOf(labels) == Map(1L -> 1L, 2L -> 1L) ++ (3L +: (10L to 19L)).map(_ -> 3L))
  }
}
