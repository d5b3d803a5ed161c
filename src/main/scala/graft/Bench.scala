package graft

/** Benchmark main (driver contract): runs every registered query against
  * `SPARK_GRAFT_SF_DIR`, forcing full execution through the `noop` sink
  * ([[Harness.timeNoop]]), and prints the full JSON line, then a compact
  * summary line last. A warmup query absorbs session/codegen init so
  * per-query numbers reflect steady-state throughput. Every
  * [[BoundedCache]] is cleared after each query; the full line carries
  * each query's cache `[hits, misses]`, the summary line their totals.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus)

    def once(name: String): Double =
      try Harness.timeNoop(SparkEntry.queries(name)(spark, sfDir))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      }

    // per-query steady state, contention-robust: one discarded warm run
    // (planning + Janino codegen are per-query, so the first execution
    // measures mostly compilation), then the MEDIAN of 3 timed runs —
    // a co-tenant stealing the host for one run (the r7 driver bench
    // showed 9x inflation on single samples) shifts the median by at
    // most one rank, and the min rides along as the clean-host bound.
    // Late-suite queries otherwise inherit ~180 predecessors' heap: a
    // major GC landing inside one timed run showed up as 5-10x
    // inflation on end-of-alphabet queries (stats_*, stream_*) while
    // the same query solo ran clean. Collecting BETWEEN the warm run
    // and the timed runs moves that pause outside the measurement.
    def force(name: String): (Double, Double) =
      if (once(name) < 0) (-1.0, -1.0)
      else {
        System.gc()
        val runs = Seq.fill(3)(once(name))
        if (runs.exists(_ < 0)) (-1.0, -1.0)
        else (runs.sorted.apply(1), runs.min)
      }

    // session-level warmup (parquet footers, noop sink, shuffle service)
    once("q01_scan_filter")
    BoundedCache.clearAll()

    // optional family scoping (e.g. '^(dedup|corpus|sim|text)_' for the
    // sf1 cap-proof run) — the driver contract (no filter set) is unchanged
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.r)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => filter.forall(_.findFirstIn(n).isDefined))
    // release every cached artifact AFTER each query's timing loop: the
    // warm run still fills the caches for the 3 timed runs, but each
    // query pays its own builds, independent of suite order. Hits and
    // misses cover the warm plus timed runs.
    val results = names.map { n =>
      val (h0, m0) = BoundedCache.totals
      val t = force(n)
      val (h1, m1) = BoundedCache.totals
      BoundedCache.clearAll()
      (n, t, (h1 - h0, m1 - m0))
    }
    val qs = results.map { case (k, (med, _), _) => "\"" + k + "\":" + med }
      .mkString("{", ",", "}")
    val qsMin = results.map { case (k, (_, mn), _) => "\"" + k + "\":" + mn }
      .mkString("{", ",", "}")
    val cache = results.map { case (k, _, (h, m)) => s""""$k":[$h,$m]""" }
      .mkString("{", ",", "}")
    val cacheHits = results.map(_._3._1).sum
    val cacheMisses = results.map(_._3._2).sum
    val failed = results.collect { case (k, (med, _), _) if med < 0 => "\"" + k + "\"" }
    val total = results.map(_._2._1).filter(_ >= 0).sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""protocol":"median_of_3_post_warm","queries":$qs,""" +
      s""""queries_min":$qsMin,"cache":$cache,""" +
      s""""failed":${failed.mkString("[", ",", "]")},"sf":"$sfDir"}"""
    println(json)
    // stdout scraping truncates long lines in some harnesses; the full
    // JSON is also durably written for machine-checkable round diffs
    // (the driver's BENCH_r{N}.json tail keeps only ~57 of the
    // per-query entries). Both copies default to target/ so smoke and
    // family runs never clobber the committed record; refreshing
    // BENCH_full_latest.json is the opt-in action via
    // SPARK_GRAFT_BENCH_OUT=BENCH_full_latest.json. Paths resolve
    // against the cwd (the driver runs from the repo root).
    val outPath = java.nio.file.Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_OUT", "target/bench_full_latest.json"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench_last.json"), json + "\n")
    java.nio.file.Files.writeString(outPath, json + "\n")
    // measurement-channel fix (r15 verdict item 1): at 256 queries the
    // full line above is ~10 KB and a bounded stdout tail capture
    // truncates its opening brace away, leaving the consumer nothing
    // parseable. Print a compact self-contained summary as the LAST
    // line so any tail window ends with valid JSON; the per-query map
    // is in the (always-written) file named here. Timing protocol and
    // the full contract line are unchanged.
    val compact = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""total":$total,"n":${results.size},""" +
      s""""failed":${failed.mkString("[", ",", "]")},""" +
      s""""cache_hits":$cacheHits,"cache_misses":$cacheMisses,""" +
      s""""per_query_file":"${outPath.toAbsolutePath.normalize}",""" +
      s""""sf":"$sfDir"}"""
    println(compact)
    spark.stop()
  }
}
