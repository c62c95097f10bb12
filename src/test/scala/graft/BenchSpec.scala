package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's artifact bookkeeping: which committed record a run may
  * compare against, and which file its anchor line points at.
  */
class BenchSpec extends AnyFunSuite {

  private val sf = "/data/sf0.1"

  test("a legacy artifact without a cpus field is comparable only at 32 cores") {
    val legacy = s"""{"metric":"total","value":3.0,"queries":{"a":1.0,"b":2.0},"sf":"$sf"}"""
    assert(Bench.comparableMins(legacy, sf, "32") == Map("a" -> 1.0, "b" -> 2.0))
    assert(Bench.comparableMins(legacy, sf, "8").isEmpty)
    val c8 = s"""{"metric":"total","value":3.0,"queries":{"a":1.0},"sf":"$sf","cpus":8}"""
    assert(Bench.comparableMins(c8, sf, "8") == Map("a" -> 1.0))
    assert(Bench.comparableMins(c8, sf, "32").isEmpty)
    assert(Bench.comparableMins(c8, "/other/sf", "8").isEmpty)
  }

  test("the anchor line's full pointer names the full artifact of the same core count") {
    Seq("32", "8").foreach { cpus =>
      val (full, anchor) = Bench.artifactNames(cpus)
      val line = Bench.anchorLineOf(Map("summary_count" -> Some(1.0)), 1.0, "[]", sf, cpus)
      assert(line.contains(s""""full":"$full""""), line)
      assert(full.stripPrefix("BENCH_full_latest") == anchor.stripPrefix("BENCH_anchor_latest"))
    }
    assert(Bench.artifactNames("8")._1 == "BENCH_full_latest_c8.json")
    assert(Bench.artifactNames("32")._1 == "BENCH_full_latest.json")
  }
}
