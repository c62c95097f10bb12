package graft

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
}
