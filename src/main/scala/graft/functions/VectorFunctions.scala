package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ARRAY<FLOAT>`/`ARRAY<DOUBLE>` columns, built from
  * Spark's codegen'd higher-order functions (`zip_with` + `aggregate`) so the
  * whole computation stays inside WholeStageCodegen — no UDF, no
  * serialization, scales linearly with partition count.
  *
  * Semantics follow the reference's cosineSimilarity
  * (reference: src/lib/tools.ts:15-20): a strict left-to-right f64 fold of
  * x*y, with NO zero-vector guard — cosine of a zero vector is NaN, exactly
  * as the reference produces.
  */
object VectorFunctions {

  /** Cast to ARRAY<DOUBLE> so all arithmetic is f64, matching JS numbers. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Left-to-right fold of elementwise product — same association order as
    * the reference's `Array.reduce` (src/lib/tools.ts:15-17). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def normSq(a: Column): Column = dot(a, a)

  def norm(a: Column): Column = sqrt(normSq(a))

  /** cos(a,b) = dot / (||a|| * ||b||); NaN when either norm is 0, matching
    * the reference's unguarded JS division (src/lib/tools.ts:19 — a zero
    * vector gives 0/0 = NaN there).
    *
    * Delegates to the codegen'd [[CosineSimilarity]] Catalyst expression —
    * bit-identical to the higher-order-function fold (same left-to-right
    * f64 accumulation) but a primitive loop instead of interpreted lambdas:
    * ~10× on brute-force scans. [[foldCosineSimilarity]] keeps the
    * pure-built-in form for cross-checking. */
  def cosineSimilarity(a: Column, b: Column): Column =
    CosineSimilarity.column(asDouble(a), asDouble(b))

  /** The composed-from-built-ins cosine (zip_with + aggregate fold), kept
    * as the reference implementation the custom expression is tested
    * against. Guards the zero denominator because Spark's ANSI `/` throws
    * where Java division yields NaN. */
  def foldCosineSimilarity(a: Column, b: Column): Column = {
    val ad = asDouble(a)
    val bd = asDouble(b)
    val denom = norm(ad) * norm(bd)
    when(denom === 0.0, lit(Double.NaN)).otherwise(dot(ad, bd) / denom)
  }

  /** Popularity factor min(0.2, playerCount/500) + 0.8 ∈ [0.8, 1.0], null
    * playerCount treated as 0 (reference: src/endpoints/search.get.ts:120-121,
    * vectorSearch.get.ts:141-142). */
  def popularityFactor(playerCount: Column): Column =
    least(lit(graft.model.Constants.PopularityCap),
      coalesce(playerCount.cast("double"), lit(0.0)) / graft.model.Constants.PopularityDivisor) +
      lit(graft.model.Constants.PopularityFloor)

  // ------------------------- deterministic random-projection LSH planes
  // Shared by ann_lsh_buckets and the embedding near-dup candidate
  // generator. Integer arithmetic only, so Spark and DuckDB build
  // bit-identical hyperplanes.

  /** Hyperplane j over 64-dim vectors: element i = ((i·53 + j·97) mod 101 − 50)/100. */
  def hyperplane(j: Int): Column = hyperplaneT(53, j)

  /** Hyperplane family parameterized by multiplier — each multiplier gives
    * an independent table of planes for multi-table LSH: element i =
    * ((i·mult + j·97) mod 101 − 50)/100. [[hyperplane]] is the mult=53
    * family used by the single-table queries. */
  def hyperplaneT(mult: Int, j: Int): Column =
    transform(sequence(lit(0), lit(63)),
      i => ((i * mult + lit(j * 97)) % 101 - 50).cast("double") / 100.0)

  /** Sign-of-projection bucket: bit j set iff v·plane_j > 0 — 2^numPlanes
    * buckets, so an equality join on `bucket` scans an expected
    * 1/2^numPlanes of the corpus per probe. */
  def hyperplaneBucket(v: Column, numPlanes: Int): Column =
    hyperplaneBucketT(v, 53, numPlanes)

  /** Per-table sign-of-projection bucket over the [[hyperplaneT]] family.
    * Delegates to the codegen'd [[HyperplaneBuckets]] kernel — identical
    * buckets to [[foldHyperplaneBucketT]], a primitive loop instead of
    * numPlanes interpreted folds. */
  def hyperplaneBucketT(v: Column, mult: Int, numPlanes: Int): Column =
    element_at(HyperplaneBuckets.column(asDouble(v), Seq(mult), numPlanes), 1)

  /** ALL per-table buckets in one kernel pass — element t is the
    * [[hyperplaneBucketT]] bucket for `mults(t)`. */
  def hyperplaneBucketsT(v: Column, mults: Seq[Int], numPlanes: Int): Column =
    HyperplaneBuckets.column(asDouble(v), mults, numPlanes)

  /** The composed-from-built-ins bucket (per-plane `dot` folds), kept as
    * the reference implementation the kernel is tested against. */
  def foldHyperplaneBucketT(v: Column, mult: Int, numPlanes: Int): Column =
    (0 until numPlanes)
      .map(j => when(dot(v, hyperplaneT(mult, j)) > 0, lit(1 << j)).otherwise(lit(0)))
      .reduce(_ + _)

  /** DuckDB mirror of [[hyperplaneT]]. */
  def hyperplaneTSql(mult: Int, j: Int): String =
    s"list_transform(generate_series(0, 63), i -> ((i * $mult + ${j * 97}) % 101 - 50)::DOUBLE / 100.0)"

  /** DuckDB mirror of [[hyperplaneBucket]]. */
  def hyperplaneBucketSql(vExpr: String, numPlanes: Int): String =
    hyperplaneBucketTSql(vExpr, 53, numPlanes)

  /** DuckDB mirror of [[hyperplaneBucketT]]. */
  def hyperplaneBucketTSql(vExpr: String, mult: Int, numPlanes: Int): String =
    (0 until numPlanes)
      .map(j => s"(CASE WHEN list_dot_product($vExpr, ${hyperplaneTSql(mult, j)}) > 0 THEN ${1 << j} ELSE 0 END)")
      .mkString("\n         + ")
}
