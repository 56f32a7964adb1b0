package graft

import org.scalatest.funsuite.AnyFunSuite

/** Harness-contract pins for the bench main (round 18, verdict r17 #3). */
class BenchSpec extends AnyFunSuite {

  test("result-file resolution: a subset run can never clobber a committed full-suite artifact") {
    // the four (mode × subset) combinations each own a file — in round 17
    // a 3-query BENCH_ONLY run with repeats>1 overwrote the 154-query
    // BENCH_STABLE.json regression artifact in place
    assert(Bench.defaultOutFile(repeats = 1, subset = false) === "BENCH_RESULT.json")
    assert(Bench.defaultOutFile(repeats = 3, subset = false) === "BENCH_STABLE.json")
    assert(Bench.defaultOutFile(repeats = 1, subset = true) === "BENCH_SUBSET.json")
    assert(Bench.defaultOutFile(repeats = 3, subset = true) === "BENCH_SUBSET_STABLE.json")
    // the committed artifacts are reachable ONLY from non-subset runs
    val committed = Set("BENCH_RESULT.json", "BENCH_STABLE.json")
    for (r <- 1 to 4)
      assert(!committed.contains(Bench.defaultOutFile(r, subset = true)))
  }

  test("Verify.dump deletes a query's previous output before building it") {
    // a query that throws while its plan is built must leave no stale
    // parquet for the oracle compare to pass
    val name = "ann_brute_force_topk"
    assert(SparkEntry.queries.contains(name))
    val out = java.nio.file.Files.createTempDirectory("verify-out")
    val stale = out.resolve(name).resolve("x.parquet")
    java.nio.file.Files.createDirectories(stale.getParent)
    java.nio.file.Files.writeString(stale, "stale")
    Verify.dump(SparkTestSession.spark, out.resolve("no-such-sf").toString,
      out.toString, only = Some(Set(name)))
    assert(!java.nio.file.Files.exists(out.resolve(name)))
  }
}
