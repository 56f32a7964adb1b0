package graft.operators

/** Single home for the size-derived dial arithmetic (round-10 verdict #8):
  * every serving/build dial grows with log N ABOVE fixture scale and lands
  * exactly on its pinned value at every oracle fixture size (N ≤
  * [[FixtureMaxN]] vectors), so the hash-gated queries replay unchanged while
  * grown corpora get the dials the graft.tools.{SfScale,RecallScale} @ c6e9ec7
  * replays measured. The rules themselves stay with their operators
  * ([[Nsw.sizedPlanes]], [[Nsw.sizedHops]], [[Nsw.sizedBeam]],
  * [[Pq.sizedDials]]) — this object owns the shared growth term and the fixture
  * ceiling, and SizingPolicySpec pins the whole "fixture sizes ⇒ pinned dials"
  * table in one place, so a new dial cannot silently miss the hash-gate
  * constraint. */
object SizingPolicy {

  /** Largest oracle-fixture corpus (embeddings rows at sf0.1). Every
    * sized dial must equal its pinned value for n ≤ this — the driver's
    * DuckDB mirrors unroll the pinned dials at SQL-generation time, so a
    * dial that moved at fixture size would break every hash gate. */
  val FixtureMaxN: Long = 2000L

  /** ceil(log2(n / denom)) floored at 0 — the shared growth term: how
    * many doublings `n` sits above the reference population `denom`
    * (bucket occupancy for the planes dial, path-length base for hops,
    * [[FixtureMaxN]] for beam and PQ codes). */
  def doublings(n: Long, denom: Double): Int =
    math.max(0, math.ceil(
      math.log(math.max(n, 1L).toDouble / denom) / math.log(2.0)).toInt)

  /** Maintainer-state bucket count (round-12 verdict #6): the bucketed state
    * stores' cost dials — delete/collapse rewrite cost and read amplification —
    * are per-BUCKET, so bucket count must grow ∝ corpus to keep per-bucket
    * bytes pinned (the graft.tools.PostingsMaintainerScale @ c6e9ec7 methodology:
    * sized buckets hold written bytes flat at ×100 while the pinned-bucket
    * control grows ×K). Next power of two ≥ n/128, floored at 16 — every oracle
    * fixture (n ≤ [[FixtureMaxN]]) lands on the pinned 16, so hash-gated
    * replays are untouched. Stores record their bucket count on disk at first
    * commit, so a reopened state can never hash against a different layout than
    * it was written with. */
  def sizedStateBuckets(n: Long): Int = {
    var b = 16L
    while (b * 128 < n && b < MaxStateBuckets) b <<= 1
    b.toInt
  }

  /** BYTES-based bucket count (round-15, verdict r14 #4): next power of two
    * with per-bucket bytes ≤ `targetBucketBytes`, floored at 16 and capped at
    * [[MaxStateBuckets]]. At 100 TB the dial that matters is BYTES per bucket —
    * one bucket's copy-on-write rewrite (and one merge task's working set) must
    * fit an executor, and parquet per-file overhead must stay amortized — not
    * rows: graft.tools.DeleteScale @ c6e9ec7's ×100 replay measured the row
    * dial's failure mode on a narrow-row table (4,096 buckets at ~73 rows each
    * inflated identical data 74.7 MB vs the 16-bucket control's 11.3 MB — pure
    * per-file overhead), and a wide-row table fails the other way (128 rows of
    * 10 MB blobs overload a bucket 1000×). [[sizedStateBuckets]]'s row dial
    * remains the BOOTSTRAP stand-in where no byte estimate exists yet (a
    * DataFrame's on-disk size isn't knowable before its first write); anything
    * that can measure bytes — an existing table, a first committed generation —
    * should size through this. */
  def sizedStateBucketsForBytes(tableBytes: Long,
      targetBucketBytes: Long = DefaultBucketBytes): Int = {
    require(targetBucketBytes > 0, "targetBucketBytes must be positive")
    var b = 16L
    while (b * targetBucketBytes < tableBytes && b < MaxStateBuckets) b <<= 1
    b.toInt
  }

  /** Production per-bucket bytes target (the `upsertIncrementalRounds`
    * doc's "buckets ≈ tableBytes / 1 GiB" rule, now a function): large
    * enough that parquet footers and file opens amortize, small enough
    * that one bucket's rewrite fits one executor's working set. Probes
    * pass a fixture-scaled stand-in (same arithmetic, smaller unit). */
  val DefaultBucketBytes: Long = 1L << 30

  /** Upper cap on [[sizedStateBuckets]] (ADVICE r13 #5): without it, the
    * doubling loop run on a 100 TB-scale population (n ≳ 2^38 rows —
    * postings row counts get there) pushes `b` past Int.MaxValue and the
    * `.toInt` truncation returns a negative/garbage bucket count. 2^20
    * buckets × the 128-row occupancy target already addresses 2^27 rows
    * per manifest line budget — past that the manifest itself (one line
    * per bucket) is the binding constraint, so growth must move to
    * per-bucket file counts, not more buckets. */
  val MaxStateBuckets: Long = 1L << 20

  /** Routed-entry switch (round-10 verdict #1): above fixture scale the
    * fixed low-id entry set starts the beam nowhere near most queries —
    * the ×100 probe measured graph recall 0.00–0.13 under fixed entries
    * vs 0.20 with IVF-routed entries — so cell-graph serving routes each
    * query through the trained coarse quantizer exactly when the corpus
    * outgrows the fixtures (where the hash gates pin the fixed entries). */
  def useRoutedEntries(n: Long): Boolean = n > FixtureMaxN
}
