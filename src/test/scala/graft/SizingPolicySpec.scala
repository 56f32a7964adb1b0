package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IvfKMeans, Nsw, Pq, SizingPolicy}

/** The one table every size-derived dial must satisfy (round-10 verdict
  * #8): at every oracle-fixture corpus size the sized dial EQUALS its
  * pinned value — the DuckDB mirrors unroll the pinned dials at
  * SQL-generation time, so a dial that moved at fixture size would break
  * every hash gate — and above fixture scale each dial actually grows.
  * Pinned values are LITERALS here on purpose: a spec that re-derived
  * them from the same constants could not catch a constant drifting. */
class SizingPolicySpec extends AnyFunSuite {

  // embeddings row counts of the three oracle fixtures, plus the ceiling
  private val fixtureSizes =
    Seq(1L, 500L, 1000L, SizingPolicy.FixtureMaxN)

  // (dial name, sized rule, pinned literal)
  private val dials: Seq[(String, Long => Int, Int)] = Seq(
    ("planes", Nsw.sizedPlanes _, 4),
    ("hops", Nsw.sizedHops _, 3),
    ("hopsL1", n => Nsw.sizedHopsFloor(n / Nsw.SampleMod, 2), 2),
    ("beam", Nsw.sizedBeam _, 8),
    ("route_probe_cells", Nsw.sizedProbeCells _, 2),
    ("ivf_cells", IvfKMeans.sizedCells _, 8),
    ("pq_subspaces", n => Pq.sizedDials(n)._1, 4),
    ("pq_codes", n => Pq.sizedDials(n)._2, 16),
    ("state_buckets", SizingPolicy.sizedStateBuckets _, 16))

  test("every sized dial lands on its pinned value at all fixture sizes") {
    for ((name, rule, pinned) <- dials; n <- fixtureSizes)
      assert(rule(n) === pinned, s"dial $name moved at fixture size $n")
    for (n <- fixtureSizes)
      assert(!SizingPolicy.useRoutedEntries(n),
        s"routed-entry switch flipped at fixture size $n")
  }

  test("every sized dial grows above fixture scale (x10 and x100)") {
    for ((name, rule, pinned) <- dials) {
      assert(rule(20000L) > pinned, s"dial $name flat at x10")
      assert(rule(200000L) >= rule(20000L), s"dial $name shrank x10 -> x100")
    }
    assert(SizingPolicy.useRoutedEntries(20000L))
    // the measured x10 values SCALING.md records
    assert(Nsw.sizedPlanes(20000L) === 8)
    assert(Nsw.sizedHops(20000L) === 7)
    assert(Nsw.sizedBeam(20000L) === 32)
    // probeCells is the quarter-scan point of the sized quantizer (the serve
    // default measured by graft.tools.CellCountScale @ c6e9ec7: recall 0.84/0.91
    // at 1/4 scan on the ×10/×100 replicas, matching ivf_nprobe at the same
    // fraction)
    assert(Nsw.sizedProbeCells(20000L) === 8)
    assert(Nsw.sizedProbeCells(200000L) === 32)
    // cell count grows K ∝ √N: doubling per two corpus doublings
    assert(IvfKMeans.sizedCells(20000L) === 32)
    assert(IvfKMeans.sizedCells(200000L) === 128)
    // the measured sweep winners: x10 -> 16x64 (96 bits); x100 -> 16x256
    // (128 bits — M's capped doublings spill into K, worth +0.22 recall)
    assert(Pq.sizedDials(20000L) === ((16, 64)))
    assert(Pq.sizedDials(200000L) === ((16, 256)))
    // the caps: 16 subspaces of 4 dims, one-byte codes
    assert(Pq.sizedDials(2000000000L) === ((Pq.MaxM, Pq.MaxCodes)))
    // maintainer-state buckets: ∝ N at pinned per-bucket occupancy (~128 rows)
    // — the graft.tools.PostingsMaintainerScale @ c6e9ec7 bytes-axis dial
    assert(SizingPolicy.sizedStateBuckets(20000L) === 256)
    assert(SizingPolicy.sizedStateBuckets(200000L) === 2048)
    // ADVICE r13 #5: a 100 TB-scale population (n ≳ 2^38) must hit the
    // cap, not overflow Int through the doubling loop's truncation
    assert(SizingPolicy.sizedStateBuckets(1L << 40) === (1 << 20))
    assert(SizingPolicy.sizedStateBuckets(Long.MaxValue) === (1 << 20))
  }

  test("the growth term floors at zero below its reference population") {
    assert(SizingPolicy.doublings(1L, 2000.0) === 0)
    assert(SizingPolicy.doublings(2000L, 2000.0) === 0)
    assert(SizingPolicy.doublings(2001L, 2000.0) === 1)
    assert(SizingPolicy.doublings(8000L, 2000.0) === 2)
  }

  test("bytes-based bucket sizing targets per-bucket bytes, not rows (round 15)") {
    import SizingPolicy.{sizedStateBucketsForBytes, DefaultBucketBytes, MaxStateBuckets}
    // floor: any table under 16 target-units stays at the 16-bucket floor
    // (every MB-scale fixture table under the production 1 GiB unit)
    assert(sizedStateBucketsForBytes(0L) === 16)
    assert(sizedStateBucketsForBytes(15L * DefaultBucketBytes) === 16)
    // growth: next power of two with per-bucket bytes <= target
    assert(sizedStateBucketsForBytes(17L * DefaultBucketBytes) === 32)
    assert(sizedStateBucketsForBytes(100L * DefaultBucketBytes) === 128)
    // 100 TB at the 1 GiB production unit: ~10^5 buckets, ~0.76 GiB each
    val buckets100tb = sizedStateBucketsForBytes(100L * (1L << 40))
    assert(buckets100tb === (1 << 17))
    assert(100L * (1L << 40) / buckets100tb <= DefaultBucketBytes)
    // cap: an exabyte-shaped input hits MaxStateBuckets, never Int overflow
    assert(sizedStateBucketsForBytes(Long.MaxValue) === MaxStateBuckets.toInt)
    // the unit is a parameter: probes pass a fixture-scaled stand-in and
    // get the same arithmetic (80 MB at a 1 MiB unit -> 128 buckets)
    assert(sizedStateBucketsForBytes(80L << 20, 1L << 20) === 128)
  }
}
