package graft

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Queries are forced through the `noop` sink rather than `.count()` —
  * count() lets Catalyst prune projected columns (a cosine top-k would
  * benchmark as a row-count scan), while noop computes every output column
  * exactly like a real write, minus the disk.
  *
  * Reporting contract (round-2 fix): sbt interleaves [info]/WARN noise with
  * stdout, which broke the driver's JSON parse (BENCH_r01 `parsed: null`).
  * The metric line is therefore (a) written verbatim to a file —
  * `$BENCH_JSON_OUT`, default `BENCH_RESULT.json` in the working dir — and
  * (b) printed as the very last stdout line, after `spark.stop()`, so no
  * executor-shutdown logging can trail it. A query that throws records the
  * sentinel `-1` as its seconds and lands in an `"errors"` object, so the
  * single line is self-describing even on partial failure.
  */
object Bench {

  /** Default result-file resolution. A filtered spot-check must not
    * silently overwrite the committed full-suite snapshot — each (mode ×
    * subset) combination owns its file, so the driver's single-pass
    * snapshot, the regression-tracking stable snapshot, and isolated-JVM
    * subset re-reads never mix. Round 18 (verdict r17 #3): subset +
    * repeats previously wrote `BENCH_STABLE.json` — a 3-query stable
    * spot-check CLOBBERED the 154-query regression artifact in place
    * (bit the builder in round 17). `BENCH_JSON_OUT` overrides all four. */
  private[graft] def defaultOutFile(repeats: Int, subset: Boolean): String =
    (repeats > 1, subset) match {
      case (true, true) => "BENCH_SUBSET_STABLE.json"
      case (true, false) => "BENCH_STABLE.json"
      case (false, true) => "BENCH_SUBSET.json"
      case (false, false) => "BENCH_RESULT.json"
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JVM/codegen warmup so no measured query pays compile cost: every
    // query once at the smallest fixture. Whole-stage codegen emits the
    // same generated classes for the same plan SHAPE regardless of data
    // volume, so the tiny pass Janino-compiles and JIT-warms exactly the
    // kernels the measured sf run reuses (round-5 profile: minhash run1
    // 9.1 s vs steady-state 1.2 s — the 8 s delta was compilation, which
    // belongs to the harness, not the engine).
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // SPARK_GRAFT_BENCH_ONLY: comma-separated subset, for isolated-JVM
    // spot-checks of in-suite numbers (SCALING.md "suite-overhead" table —
    // a query whose isolated time matches its in-suite time is not being
    // slowed by accumulated JVM/catalog state; one that diverges is).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // the bench registry = the oracle-gated suite plus the benchOnly
    // real-decode entries (round 18 — priced here, hash-gated by their
    // stub twins; see SparkEntry.benchOnlyQueries)
    val registry = SparkEntry.queries ++ SparkEntry.benchOnlyQueries
    only.foreach(_.diff(registry.keySet).foreach(n =>
      System.err.println(s"[bench] SPARK_GRAFT_BENCH_ONLY names unknown query: $n")))
    val selected = registry.filter { case (n, _) => only.forall(_.contains(n)) }
    // Subset-mode attribution guards (ADVICE r9): an empty subset writes a
    // vacuous result file; a serve query spot-checked without its
    // index_build_* sibling absorbs the whole build into its measured time
    // whenever the sfDir artifact is absent (the full suite avoids this by
    // ordering buildQs first). Warn loudly rather than auto-include — the
    // subset mode exists precisely to measure queries in isolation.
    only.foreach { o =>
      if (selected.isEmpty)
        System.err.println("[bench] SPARK_GRAFT_BENCH_ONLY selected ZERO queries — the result file will be vacuous")
      else if (selected.keys.exists(!_.startsWith("index_build_")))
        graft.operators.IndexBuild.artifactNames.foreach { case (buildQ, arts) =>
          if (!o.contains(buildQ)) {
            val missing = arts.filterNot(graft.tools.IndexStore.isCommitted(spark, sfDir, _))
            if (missing.nonEmpty)
              System.err.println(s"[bench] subset excludes $buildQ but artifacts ${missing.mkString(",")} are absent for $sfDir — any serve query reading them will absorb the build into its measured time")
          }
        }
    }
    selected.foreach { case (_, fn) =>
      try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      graft.tools.CacheRegistry.release(blocking = true)
    }
    graft.tools.CacheRegistry.releaseShared(blocking = true)

    // index_build_* entries run FIRST (then the rest alphabetically): they
    // rebuild + persist the shared ANN artifacts and prime the in-memory
    // handles, so build cost lands on its own named line and every search
    // entry measures search — per-query numbers stay attribution-stable
    // across rounds instead of billing builds to the alphabetically-first
    // toucher (round-7 verdict #1).
    val (buildQs, serveQs) =
      selected.toSeq.sortBy(_._1).partition(_._1.startsWith("index_build_"))
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // STABLE mode (round-11 verdict #2): same-code full-suite totals swing
    // 106.6–176.6 s on this host, which hides any real sub-1.7× per-query
    // regression. SPARK_GRAFT_BENCH_REPEATS=N (N>1) makes the bench
    // regression-sensitive: (a) one PRICED setup pass at the target sfDir
    // first, so every shared fixture a query lazily builds on a cold tmp
    // dir (the j1 history table, stored index artifacts) is paid in a
    // named "setup_sec" line instead of landing on whichever family member
    // runs first; (b) each query then runs N times and reports its MEDIAN
    // — single-run GC/suite-context outliers stop moving the per-query
    // numbers. Query order stays fixed (builds first, then alphabetical).
    val repeats = sys.env.get("SPARK_GRAFT_BENCH_REPEATS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
    // The priced setup pass runs UNCONDITIONALLY (round-12 verdict #4: it
    // ran only under repeats>1, so the driver's single-pass snapshot
    // still absorbed cold-store artifact rebuilds into whichever query
    // touched them first — r12's 185 s single vs 136 s stable was pure
    // setup-attribution noise). Every shared fixture a query lazily
    // builds on a cold tmp dir (the j1 history tables, stored index
    // artifacts) lands in the named "setup_sec" instead of a per-query
    // number, so back-to-back single-pass totals sit inside the stable
    // band. Setup failures are NonFatal-caught and named on stderr
    // (ADVICE r12 #5: a swallowed OutOfMemoryError resurfaced later as
    // unrelated heap corruption); the measured loop still records the
    // query's own error.
    // HOST-CONTENTION MARKER (round-16, verdict r15 #7): a fixed-work,
    // single-threaded calibration loop timed before the setup pass and
    // again after the measured loop. The work is pure register arithmetic
    // (xorshift64), so its wall time moves ONLY with CPU contention /
    // frequency scaling — never with code changes in the engine. Read:
    // both markers near the NOTES-pinned idle value ⇒ per-query numbers
    // are comparable across rounds; an inflated marker ⇒ the suite ran on
    // a loaded host and drift verdicts belong to BENCH_STABLE, not this
    // sample. The first (discarded) call absorbs the loop's own JIT.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L
      var i = 0L
      while (i < 400000000L) {
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        i += 1
      }
      if (x == 42L) System.err.println("calib") // defeat dead-code elision
      (System.nanoTime() - t0) / 1e9
    }
    calibrate()
    val calibBefore = calibrate()
    val setupT0 = System.nanoTime()
    (buildQs ++ serveQs).foreach { case (name, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] setup pass: $name failed: ${e.toString.take(300)}") }
      graft.tools.CacheRegistry.release(blocking = true)
    }
    val setupSec = (System.nanoTime() - setupT0) / 1e9
    // third marker BETWEEN setup and the measured loop: round 16's first
    // stable sample had idle endpoint markers (0.78 s both) yet a 1.8×
    // setup — contention confined to the middle of the run is invisible
    // to endpoint-only bracketing, so the window each marker pair brackets
    // must be small enough to localize the noise
    val calibMid = calibrate()
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.length / 2)
    }
    val results = (buildQs ++ serveQs).map { case (name, fn) =>
      val times = (1 to repeats).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          // keep the WHOLE first line plus 2000 chars of detail: the r8
          // postmortem needed the AnalysisException's "got TIMESTAMP_NTZ"
          // tail, which a 200-char cap had discarded (ADVICE r8)
          catch { case e: Throwable => errors(name) = e.toString.take(2000); false }
        // stop the clock before cache-release housekeeping — unpersist cost
        // belongs to the harness, not the measured query
        val elapsed = (System.nanoTime() - t0) / 1e9
        graft.tools.CacheRegistry.release(blocking = true)
        if (ok) elapsed else -1.0
      }
      name -> (if (times.contains(-1.0)) -1.0 else median(times))
    }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val qs = results.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val calibAfter = calibrate()
    val stableFields = s""","repeats":$repeats,"setup_sec":$setupSec""" +
      f""","calib_before_sec":$calibBefore%.3f,"calib_mid_sec":$calibMid%.3f""" +
      f""","calib_after_sec":$calibAfter%.3f"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"sf":"$sfDir"$stableFields}"""
    val outPath = sys.env.getOrElse("BENCH_JSON_OUT",
      defaultOutFile(repeats, only.isDefined))
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] could not write $outPath: $e") }
    spark.stop()
    // The full per-query line goes out first (and verbatim to
    // BENCH_RESULT.json). The LAST stdout line is a short fixed-size
    // summary: a tail capture that truncates the long line mid-string
    // (r6's BENCH_r06.json "parsed": null) still gets valid JSON.
    println(line)
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","query_count":${results.size},"error_count":${errors.size},"queries_file":"$outPath"}""")
  }
}
