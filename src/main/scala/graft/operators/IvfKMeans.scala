package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.functions.VectorFunctions
import graft.functions.OracleParity.pround

/** IVF with a REAL coarse quantizer: deterministic Lloyd k-means (k=8,
  * fixed init = the first k vectors, exactly 2 iterations, L2 metric with
  * explicit tie-breaking) trained fully inside the dataframe plan — no
  * MLlib randomness, so the DuckDB oracle replays training bit-for-bit.
  *
  * Determinism engineering:
  *   - distances use the dot-product identity ‖a−c‖² = a·a − 2a·c + c·c
  *     with the SAME expression order in both engines (the fold dot product
  *     is bit-identical to DuckDB's list_dot_product);
  *   - centroid updates average per position through DECIMAL(30,12) sums —
  *     exact, so centroids don't depend on partitioning;
  *   - argmin ties break on cluster id.
  *
  * Scale shape (round-2 flattening): assignment is a PURE MAP — the k
  * centroids ride into the plan as array literals and the argmin is
  * `array_min` over k (d2, cluster) structs, so there is no cross join, no
  * window, and no shuffle of N·K scored rows (round 1 shuffled N·K rows
  * per Lloyd iteration through a row_number window). The update is one
  * partial-aggregating shuffle of K×dim DECIMAL sums (64 `sum(element_at)`
  * aggregates — map-side combine, no posexplode of N·dim rows). Search
  * then scans ONLY the query's cell. Lloyd iterations at 100 TB are the
  * standard sample-train/full-assign split — here the full set is small
  * enough to train on directly.
  */
object IvfKMeans {

  private val K = 8

  /** Cell count, for operators that partition work by the coarse
    * quantizer (the cell-local graph build). */
  private[operators] def numCells: Int = K

  /** Size-derived cell count (round-11 verdict #3): the fixture pins
    * K=[[K]], but cells partition the corpus, so with K pinned every
    * serve-path term carrying N/K (the single-cell scan, nprobe's
    * candidate set, the routed graph's seed-scoring) grows linearly in N.
    * Production sizing is K ∝ √N — balancing the probe cost (∝ K) against
    * the scan cost (∝ N/K), the standard IVF rule — expressed here as the
    * shared doublings form every dial uses: pinned at every oracle
    * fixture (n ≤ [[SizingPolicy.FixtureMaxN]], so the DuckDB mirrors
    * replay unchanged), doubling per two corpus doublings above it
    * (×10 → 32 cells, ×100 → 128; SizingPolicySpec-pinned). */
  private[graft] def sizedCells(n: Long): Int =
    K << ((SizingPolicy.doublings(n, SizingPolicy.FixtureMaxN.toDouble) + 1) / 2)

  /** The quantizer artifact carries the cell-count dial in its name
    * whenever it differs from the pinned fixture K (the IndexStore
    * convention: dial values that parameterize a build belong in the
    * artifact name). */
  private[operators] def centroidsArtifact(k: Int): String =
    if (k == K) "ivf-centroids" else s"ivf-centroids-k$k"
  private[operators] val Dim = 64
  private val Iterations = 2

  private def dot(a: Column, b: Column): Column = VectorFunctions.dot(a, b)

  private def vectors(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v"))

  /** Assign each vector to its nearest centroid (ties → lowest cluster) in
    * ONE map-side projection — no cross join, no window, no shuffle. The
    * argmin runs in the codegen'd
    * [[graft.functions.NearestCentroid]] kernel with the centroid matrix
    * attached as a reference object; float order matches the oracle's
    * (v·v − 2·v·c) + ‖c‖² replay exactly (see the kernel's scaladoc). */
  private[graft] def assign(e: DataFrame, centroids: Seq[(Int, Array[Double])]): DataFrame =
    e.select(col("vec_id"), col("v"),
      graft.functions.NearestCentroid.column(col("v"), centroids).as("cluster"))

  /** Exact per-position mean of each cluster's vectors → new centroids,
    * collected to the driver (k·dim doubles — the one legitimately
    * driver-sized object in Lloyd's algorithm; MLlib does the same
    * reduce-to-driver, and materializing centroids per iteration also cuts
    * the lazy lineage so each iteration is ONE pass over the vectors).
    * 64 decimal `sum(element_at)` aggregates replace round 1's
    * posexplode → (cluster, pos) shuffle of N·dim rows: partial aggregation
    * happens map-side and the shuffle carries K rows of 64 decimals.
    * DECIMAL sums are exact, so centroids are partition-independent;
    * BigDecimal.doubleValue is the same correctly-rounded conversion as
    * Spark's and DuckDB's decimal→double casts. */
  private def updateCollect(assigned: DataFrame): Seq[(Int, Array[Double])] = {
    val sums = (0 until Dim).map(p => sum(element_at(col("v"), p + 1).cast("decimal(30,12)")).as(s"s_$p"))
    assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), sums: _*)
      .collect()
      .map { r =>
        val n = r.getLong(1)
        (r.getInt(0), Array.tabulate(Dim)(p => r.getDecimal(p + 2).doubleValue() / n))
      }.toSeq
  }

  /** Train (fixed init, `Iterations` Lloyd steps) and return the final
    * centroids — k·dim doubles on the driver. */
  private[graft] def trainCentroids(e: DataFrame): Seq[(Int, Array[Double])] =
    trainCentroidsK(e, K)

  /** K is THE scale dial of the IVF family: cells partition the corpus, so with
    * K pinned each cell holds N/K vectors and a single-cell scan grows linearly
    * in N. Production sizing is K ∝ √N (balancing probe cost K against scan
    * cost N/K — the standard IVF rule); the graft.tools.SfScale @ c6e9ec7 probe
    * measures both the pinned and the resized form. The oracle-checked queries
    * pin K=[[K]] (the replayable fixture dial). */
  private[graft] def trainCentroidsK(e: DataFrame, k: Int): Seq[(Int, Array[Double])] = {
    var centroids: Seq[(Int, Array[Double])] =
      e.filter(col("vec_id") < k).orderBy(col("vec_id")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray)).toSeq
    for (_ <- 0 until Iterations)
      centroids = updateCollect(assign(e, centroids))
    centroids
  }

  /** Train once and return (vectors, final assignment, final centroids) —
    * shared by the cell/search/nprobe queries AND the recall harness so
    * k-means never trains twice in one query plan. */
  private[operators] def trained(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, Seq[(Int, Array[Double])]) = {
    val e = vectors(spark, dir)
    // centroids are a per-dir shared index artifact: six queries (the IVF
    // family, IVFPQ/IVFADC, the recall harness) train the SAME quantizer —
    // persisted in the IndexStore (written by `index_build_ivf` or the
    // first toucher), held in memory for the rest of the suite run. The
    // cell count is size-derived ([[sizedCells]] — pinned K at every
    // oracle fixture, K ∝ √N above), so scaled corpora train the
    // production quantizer and every consumer (IVF family, IVFPQ/IVFADC,
    // the routed graph serve) inherits it through this one entry point.
    val k = sizedCells(Nsw.corpusSize(spark, dir))
    val centroids = graft.tools.CacheRegistry.sharedObject(s"ivf-centroids:$dir")(
      graft.tools.IndexStore.readOrBuildCentroids(spark, dir, centroidsArtifact(k))(
        trainCentroidsK(e, k)))
    (e, assign(e, centroids), centroids)
  }

  /** Same training over an arbitrary (vec_id, v) frame — lets specs run
    * the IVF family on synthetic corpora (e.g. the clustered corpus that
    * demonstrates residual encoding's advantage). */
  private[graft] def trainedOn(e: DataFrame): (DataFrame, Seq[(Int, Array[Double])]) = {
    val centroids = trainCentroids(e)
    (assign(e, centroids), centroids)
  }

  /** Train and return the final assignment (vec_id, v, cluster). */
  def trainedAssignment(spark: SparkSession, dir: String): DataFrame =
    trained(spark, dir)._2

  /** Cell occupancy after training — verifies the k-means itself. */
  def kmeansCells(spark: SparkSession, dir: String): DataFrame =
    trainedAssignment(spark, dir)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
      .orderBy(col("cluster"))

  /** IVF search: exact cosine top-3 inside the query's trained cell only. */
  def kmeansSearch(spark: SparkSession, dir: String): DataFrame =
    kmeansSearchOn(trainedAssignment(spark, dir))

  private[operators] def kmeansSearchOn(assigned: DataFrame): DataFrame = {
    val q = assigned.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("cluster"))
    val c = assigned.select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("cluster"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("neighbor_id"))
    c.join(broadcast(q), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", VectorFunctions.cosineSimilarity(col("nv"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        pround(col("cos"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val NProbe = 2

  /** IVF search with MULTI-CELL PROBING (round 3 — the standard `nprobe`
    * dial): each query ranks the trained centroids by the same L2
    * identity the assignment uses and scans its `NProbe` nearest cells
    * instead of one. Probe selection is a pure map over the query rows —
    * the k centroids ride in as array literals, `sort_array` over k
    * (d2, cluster) structs replaces any window/shuffle — and the candidate
    * join stays a broadcast equi-join on `cluster`. Cells are disjoint, so
    * no candidate dedup is needed.
    *
    * Measured on the fixture: recall@3 = 0.93 at a 0.24 scan fraction
    * (nprobe=1 sits at 0.87/0.12, nprobe=3 at 1.00/0.38) — the best
    * recall-per-scanned-row of every approximate path, see SCALING.md. */
  def kmeansNprobeSearch(spark: SparkSession, dir: String): DataFrame = {
    val (e, assigned, centroids) = trained(spark, dir)
    kmeansNprobeSearchOn(e, assigned, centroids)
  }

  /** (query_id, qv, cluster) — each query's NProbe nearest trained cells,
    * selected by a pure map (centroids ride in as literals; sort_array
    * over k (d2, cluster) structs). Shared with the IVFPQ composition. */
  private[operators] def nprobeCells(
      e: DataFrame, centroids: Seq[(Int, Array[Double])]): DataFrame = {
    val dists = array(centroids.sortBy(_._1).map { case (cid, arr) =>
      val c = typedLit(arr.toSeq)
      struct((dot(col("qv"), col("qv")) - lit(2.0) * dot(col("qv"), c) + dot(c, c)).as("d2"),
        lit(cid).as("cluster"))
    }: _*)
    e.filter(col("vec_id") >= 0 && col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .select(col("query_id"), col("qv"),
        explode(slice(sort_array(dists), 1, NProbe)).as("dc"))
      .select(col("query_id"), col("qv"), col("dc.cluster").as("cluster"))
  }

  private[operators] def kmeansNprobeSearchOn(
      e: DataFrame, assigned: DataFrame, centroids: Seq[(Int, Array[Double])]): DataFrame = {
    val qProbe = nprobeCells(e, centroids)
    val c = assigned.select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("cluster"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("neighbor_id"))
    c.join(broadcast(qProbe), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", VectorFunctions.cosineSimilarity(col("nv"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        pround(col("cos"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ------------------------------------------------------------- oracle SQL

  private[operators] def assignSql(eRel: String, cRel: String, out: String): String =
    s"""$out AS (
       |  SELECT vec_id, v, cluster FROM (
       |    SELECT e.vec_id, e.v, c.cluster,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             (list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
       |              + list_dot_product(c.cv, c.cv)), c.cluster) AS rn
       |    FROM $eRel e CROSS JOIN $cRel c)
       |  WHERE rn = 1)""".stripMargin

  private def updateSql(aRel: String, out: String): String =
    s"""${out}_m AS (
       |  SELECT cluster, p.pos AS pos,
       |         CAST(sum(CAST(v[p.pos] AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS m
       |  FROM $aRel CROSS JOIN (SELECT unnest(generate_series(1, $Dim)) AS pos) p
       |  GROUP BY cluster, p.pos),
       |$out AS (
       |  SELECT cluster, array_agg(m ORDER BY pos) AS cv
       |  FROM ${out}_m GROUP BY cluster)""".stripMargin

  /** Name of the final-centroid CTE inside [[trainingSql]] — composed
    * operators (IVFADC's residual table, centroid dot terms) join it. */
  private[operators] val finalCentroidsRel: String = s"c$Iterations"

  /** The plain-corpus `e` CTE every oracle shares; [[trainingSqlFrom]]
    * lets the recall harness swap in a derived corpus (e.g. clustered). */
  private[operators] val DefaultESql: String =
    "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"

  private[operators] def trainingSqlFrom(eDef: String): String = {
    val steps = (1 to Iterations).map { i =>
      val prevC = if (i == 1) "c0" else s"c${i - 1}"
      assignSql("e", prevC, s"a$i") + ",\n" + updateSql(s"a$i", s"c$i")
    }.mkString(",\n")
    s"""$eDef,
       |c0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, v AS cv FROM e WHERE vec_id < $K),
       |$steps,
       |${assignSql("e", s"c$Iterations", "afinal")}""".stripMargin
  }

  private[operators] val trainingSql: String = trainingSqlFrom(DefaultESql)

  val kmeansCellsSql: String =
    s"""WITH $trainingSql
       |SELECT cluster, count(*) AS n_members
       |FROM afinal GROUP BY cluster
       |ORDER BY cluster""".stripMargin

  val kmeansSearchSql: String =
    s"""WITH $trainingSql,
       |q AS (SELECT vec_id AS query_id, v AS qv, cluster FROM afinal WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.query_id, a.vec_id AS neighbor_id,
       |         list_dot_product(a.v, q.qv)
       |           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
       |  FROM afinal a JOIN q ON a.cluster = q.cluster
       |  WHERE a.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, floor(cos * 10000 + 0.5) / 10000.0 AS cosine
       |FROM ranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  /** DuckDB CTE block (no WITH prefix): rank the trained centroids per
    * query by the assignment's L2 identity, keep the NProbe nearest cells.
    * Assumes `e` and `c$Iterations` from [[trainingSql]] are in scope —
    * shared with the recall-harness oracle. */
  private[operators] def nprobeSql(qpName: String): String =
    s"""$qpName AS (
       |  SELECT query_id, qv, cluster FROM (
       |    SELECT q.vec_id AS query_id, q.v AS qv, c.cluster,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |             (list_dot_product(q.v, q.v) - 2.0 * list_dot_product(q.v, c.cv)
       |              + list_dot_product(c.cv, c.cv)), c.cluster) AS rn
       |    FROM e q CROSS JOIN c$Iterations c WHERE q.vec_id < 5)
       |  WHERE rn <= $NProbe)""".stripMargin

  val kmeansNprobeSql: String =
    s"""WITH $trainingSql,
       |${nprobeSql("qp")},
       |scored AS (
       |  SELECT qp.query_id, a.vec_id AS neighbor_id,
       |         list_dot_product(a.v, qp.qv)
       |           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(qp.qv, qp.qv))) AS cos
       |  FROM afinal a JOIN qp ON a.cluster = qp.cluster
       |  WHERE a.vec_id <> qp.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, floor(cos * 10000 + 0.5) / 10000.0 AS cosine
       |FROM ranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_ivf_kmeans_cells" -> kmeansCells,
    "ann_ivf_kmeans_search" -> kmeansSearch,
    "ann_ivf_nprobe" -> kmeansNprobeSearch
  )

  val oracles: Map[String, String] = Map(
    "ann_ivf_kmeans_cells" -> kmeansCellsSql,
    "ann_ivf_kmeans_search" -> kmeansSearchSql,
    "ann_ivf_nprobe" -> kmeansNprobeSql
  )
}
