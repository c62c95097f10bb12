package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generator. The same seed always yields the same inputs;
  * the program only ever sees the files written here.
  *
  * Text documents follow the shape of the repo's `documents` fixture
  * (FIXTURES.md): a 40-word vocabulary, 10–100 tokens, five languages and
  * twenty sources. English documents draw from a narrower slice of the
  * vocabulary so a quality classifier has a signal to learn.
  */
object Gen {

  val Vocab: IndexedSeq[String] = IndexedSeq(
    "a", "the", "key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "order", "data",
    "column", "join", "small", "customer", "query", "big", "filter", "stream", "group", "vector",
    "index", "shard", "token", "model", "score", "label", "cluster", "sample", "budget", "cache")
  val Langs: IndexedSeq[String] = IndexedSeq("en", "es", "de", "fr", "zh")
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  final case class Doc(id: Long, tokens: IndexedSeq[String], lang: String, source: String) {
    def text: String = tokens.mkString(" ")
  }

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  def freshDoc(r: SplittableRandom, id: Long, minTok: Int = 10, maxTok: Int = 100): Doc = {
    val lang = if (r.nextInt(10) < 4) "en" else Langs(1 + r.nextInt(Langs.size - 1))
    val span = if (lang == "en") 30 else Vocab.size
    val n = minTok + r.nextInt(maxTok - minTok + 1)
    Doc(id, IndexedSeq.fill(n)(Vocab(r.nextInt(span))), lang, s"src${r.nextInt(20)}")
  }

  /** A near-duplicate of `d`: one token substituted per 40 tokens. Bigram
    * Jaccard with the original stays at or above ~0.9, where 8×4 MinHash
    * banding finds the pair with probability above 0.9999.
    */
  def nearDup(r: SplittableRandom, d: Doc, id: Long): Doc = {
    val toks = d.tokens.toArray
    val muts = math.max(1, toks.length / 40)
    (0 until muts).foreach { _ =>
      val i = r.nextInt(toks.length)
      toks(i) = Vocab((Vocab.indexOf(toks(i)) + 1 + r.nextInt(Vocab.size - 1)) % Vocab.size)
    }
    d.copy(id = id, tokens = toks.toIndexedSeq)
  }

  /** `host` with a `spanLen`-token run copied from `eval` spliced in. */
  def contaminate(r: SplittableRandom, host: Doc, eval: Doc, spanLen: Int): Doc = {
    val from = r.nextInt(eval.tokens.size - spanLen + 1)
    val at = r.nextInt(host.tokens.size + 1)
    val toks = host.tokens.take(at) ++ eval.tokens.slice(from, from + spanLen) ++ host.tokens.drop(at)
    host.copy(tokens = toks)
  }

  def writeDocs(spark: SparkSession, docs: Seq[Doc], path: String, files: Int = 1): Unit = {
    val rows = docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), DocSchema)
      .repartition(files).write.mode("overwrite").parquet(path)
  }

  /** A text corpus with planted exact duplicates, near duplicates and
    * contaminated documents (spans copied from `eval`), at the given
    * shares. Returns the corpus and the planted ids by kind.
    */
  final case class Corpus(docs: IndexedSeq[Doc], exactDups: Set[Long], nearDups: Set[Long],
                          contaminated: Set[Long])

  def corpus(seed: Long, salt: Long, n: Int, eval: IndexedSeq[Doc], exactShare: Double,
             nearShare: Double, contamShare: Double): Corpus = {
    val r = rng(seed, salt)
    val docs, longOnes = mutable.ArrayBuffer.empty[Doc]
    val exact, near, contam = mutable.Set.empty[Long]
    (0 until n).foreach { i =>
      val id = i.toLong
      val u = r.nextDouble()
      val d =
        if (i > 100 && u < exactShare) {
          exact += id; docs(r.nextInt(docs.size)).copy(id = id)
        } else if (i > 100 && u < exactShare + nearShare) {
          near += id; nearDup(r, longOnes(r.nextInt(longOnes.size)), id)
        } else if (u < exactShare + nearShare + contamShare) {
          contam += id; contaminate(r, freshDoc(r, id, 20), eval(r.nextInt(eval.size)), 12)
        } else freshDoc(r, id)
      docs += d
      if (d.tokens.size >= 40) longOnes += d
    }
    Corpus(docs.toIndexedSeq, exact.toSet, near.toSet, contam.toSet)
  }

  /** Held-out evaluation documents (the decontamination reference). */
  def evalSlice(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = rng(seed, 7)
    IndexedSeq.tabulate(n)(i => freshDoc(r, 1000000L + i, 30, 80))
  }

  /** lineitem-shaped table (FIXTURES.md schema): `rows` rows over `files`
    * parquet files, values drawn from seeded hashes of the row number.
    */
  def writeLineitem(spark: SparkSession, seed: Long, rows: Long, files: Int, path: String): Unit = {
    def h(k: Int) = xxhash64(col("id"), lit(seed), lit(k))
    def pick(k: Int, vals: String*) =
      element_at(array(vals.map(lit): _*), (pmod(h(k), lit(vals.size.toLong)) + 1).cast("int"))
    spark.range(0, rows, 1, files)
      .select(
        (col("id") / 4).cast("long").as("l_orderkey"),
        (pmod(h(1), lit(20000L)) + 1).as("l_partkey"),
        (pmod(h(2), lit(1000L)) + 1).as("l_suppkey"),
        (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
        (pmod(h(3), lit(50L)) + 1).cast("double").as("l_quantity"),
        (pmod(h(4), lit(10000000L)) / 100.0 + 900.0).as("l_extendedprice"),
        (pmod(h(5), lit(11L)) / 100.0).as("l_discount"),
        (pmod(h(6), lit(9L)) / 100.0).as("l_tax"),
        pick(7, "A", "N", "R").as("l_returnflag"),
        pick(8, "F", "O").as("l_linestatus"),
        timestamp_seconds(lit(694224000L) + pmod(h(9), lit(2526L)) * 86400L).as("l_shipdate"))
      .write.mode("overwrite").parquet(path)
  }

  /** events-shaped table (FIXTURES.md schema) in ONE parquet file. */
  def writeEvents(spark: SparkSession, seed: Long, rows: Long, path: String): Unit = {
    def h(k: Int) = xxhash64(col("id"), lit(seed), lit(k))
    spark.range(0, rows, 1, 1)
      .select(
        col("id").as("event_id"),
        timestamp_seconds(lit(1704067200L) + col("id") * 30L + pmod(h(1), lit(30L))).as("ts"),
        pmod(h(2), lit(5000L)).as("user_id"),
        element_at(array(Seq("view", "view", "view", "click", "click", "purchase", "signup",
          "error").map(lit): _*), (pmod(h(3), lit(8L)) + 1).cast("int")).as("event_type"),
        (pmod(h(4), lit(100000L)) / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(h(5), lit(100L)).cast("string"), lit("}")).as("props"))
      .write.mode("overwrite").parquet(path)
  }
}
