package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.functions.VectorFunctions.{asDouble, cosineSimilarity}
import graft.functions.OracleParity.pround
import graft.tools.CacheRegistry

/** NSW-style graph ANN (the navigable-small-world construction of Malkov
  * et al., Information Systems 2014 — the single-layer ancestor of HNSW):
  * a k-NN GRAPH over the corpus, searched by greedy BEAM expansion from
  * fixed entry points. The two phases separate exactly the way a 100 TB
  * deployment wants them to:
  *
  *   - '''Build''' (once, corpus-wide): candidate edges come from the
  *     multi-table LSH family already used by `ann_lsh_multitable`
  *     ([[Similarity.TableMults]] — integer-arithmetic planes, so both
  *     engines build bit-identical tables); each node keeps its top-[[Degree]]
  *     candidates by exact cosine, and edges are symmetrized (an NSW graph
  *     is undirected: the reverse links are what make greedy search able to
  *     route back toward a hub). Candidate generation is a bounded equi-join
  *     on (table, bucket) — never all-pairs — and the expensive exchanges
  *     carry at most `L` copies of each corpus vector (the bucket join),
  *     never a per-pair payload: pair-grade traffic is ids + one scalar.
  *     The edge table is O(N·[[Degree]]) 16-byte rows — the persisted,
  *     reusable index.
  *
  *   - '''Search''' (per query batch): score the [[Entries]] fixed entry
  *     nodes, then [[Hops]] rounds of: take the top-[[Beam]] scored nodes
  *     per query, expand their graph neighbors (frontier ids broadcast
  *     against the distributed edge table), score only the NEW nodes
  *     (fresh ids broadcast against the corpus, query vectors broadcast
  *     last), accumulate. The beam state itself is driver-held — see
  *     [[searchWithEdges]] for why that boundary is the right one.
  *
  * Every tie breaks on (cos DESC, node_id) and the driver merges exactly
  * the doubles the distributed scoring produced, so the whole search
  * replays bit-for-bit in DuckDB ([[searchCtes]]) — entry scoring, beam
  * cuts, visited-set anti-joins and all. Recall lands in `ann_recall`
  * beside the other approximate paths; measured numbers in SCALING.md.
  *
  * Not a reference operator (the reference's search is the brute-force scan
  * of search.ts) — part of the beyond-reference ANN mandate.
  */
object Nsw {

  private[graft] val Degree = 6
  private[operators] val Beam = 8
  private[operators] val Hops = 3
  private[graft] val Entries = 4
  private val K = 3

  /** Size-derived SEARCH hop budget — the serving-side twin of
    * [[sizedPlanes]]. Path length in a navigable small world grows with
    * log N, but the pinned [[Hops]] = 3 was tuned on ≤2000-vector
    * fixtures: at ×10 the fixed-dial beam still visits only
    * Entries + Hops·Beam·Degree ≈ 165 nodes — sub-1 % of the corpus —
    * and the ×10 recall probe measured the damage (nsw 0.16 → 0.02,
    * BOTH build dials; SCALING.md "recall at ×10", which also carries
    * the measured recovery under this dial). Cost stays
    * O(hops·beam·degree) per query — log-growing, never corpus-growing.
    * Lands exactly
    * on the pinned dial at every oracle fixture size (N ≤ 2000 → 3), so
    * the hash-checked queries replay unchanged. */
  private[graft] def sizedHops(n: Long): Int = sizedHopsFloor(n, Hops)

  /** [[sizedHops]] with an explicit floor — the routing layer keeps its
    * own pinned [[HopsL1]] floor (2, below the layer-0 floor of 3), so
    * its fixture-size dial must not inherit layer 0's. */
  private[graft] def sizedHopsFloor(n: Long, floor: Int): Int =
    math.max(floor, SizingPolicy.doublings(n, 250.0))

  /** Size-derived BEAM width — the dial the ×100 recall probe proved
    * necessary (SCALING.md "recall at ×100"): with hops already
    * log-growing, all graph paths still read 0.00 at 200 k vectors
    * because the visited set (Entries + hops·beam·degree ≈ 500 at
    * beam=[[Beam]]) is ~0.2 % of the corpus — the fixed beam, not the
    * hop budget, had become the binding constraint. HNSW's own serving
    * guidance scales ef with corpus size for the same reason; here beam
    * widens by [[Beam]] per doubling beyond fixture scale
    * (8 at ≤2 k — every oracle fixture, so hash gates replay
    * unchanged — 32 at 20 k, 56 at 200 k). Per-query cost stays
    * O(hops·beam·degree): (log N)² growth against a corpus growing N. */
  private[graft] def sizedBeam(n: Long): Int =
    math.max(Beam, Beam * SizingPolicy.doublings(n, SizingPolicy.FixtureMaxN.toDouble))

  /** Corpus vectors, cached per dir: beamLoop scans this frame once per
    * hop (seeds + Hops score jobs per search, twice that for the
    * hierarchy), so re-reading parquet + re-casting each time would be
    * (hops+1) redundant corpus scans per query. */
  private[operators] def vectors(spark: SparkSession, dir: String): DataFrame =
    CacheRegistry.sharedTracked(s"nsw-vectors:$dir") {
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    }

  /** Corpus size per dir, memoized: the sized serve dials need |corpus|,
    * and every serve query paying its own count() job is a scan per
    * request at exactly the scale sizing is meant to help (ADVICE r11 #4).
    * Keyed by dir like every sharedTracked frame — within one process a
    * fixture dir's row count is stable. */
  private val corpusSizes = scala.collection.concurrent.TrieMap.empty[String, Long]
  private[operators] def corpusSize(spark: SparkSession, dir: String): Long =
    corpusSizes.getOrElseUpdate(dir, vectors(spark, dir).count())

  /** Deterministic long-range links per node (formula, no data): on a
    * strongly clustered corpus every node's nearest neighbors are
    * same-cluster, so a PURE k-NN graph is disconnected and the beam can
    * never leave the entry clusters (AnnSpec's clustered-corpus test
    * demonstrates this: recall 0.0 without these links). NSW gets its long
    * links from insertion order; the declarative equivalent is Kleinberg's
    * small-world augmentation — [[LongLinkParams]].length pseudo-random
    * links `src → (src/idStep · mult + off) mod N · idStep`, identical
    * integer arithmetic in both engines. `idStep` maps the formula onto
    * the id lattice of the node set — 1 for the full corpus, [[SampleMod]]
    * for the layer-1 sample (whose ids are all multiples of SampleMod:
    * without the step, ~(step−1)/step of the generated targets would not
    * exist and be dropped, quietly reverting the routing layer to the
    * disconnected pure-k-NN graph these links exist to fix). Links whose
    * target still doesn't exist simply don't join — dense ids are not
    * assumed, they just maximize surviving links. */
  private[operators] val LongLinkParams: Seq[(Long, Long)] = Seq((48271L, 11L), (69621L, 29L))

  /** The symmetrized k-NN edge table: multitable-LSH candidate pairs,
    * top-[[Degree]] per source by exact cosine, plus every reverse edge,
    * plus the [[LongLinkParams]] small-world links (also symmetrized).
    * Self-contained per call; persisted by the caller (it feeds one join
    * per search hop). */
  private[graft] def edgesOn(e: DataFrame): DataFrame =
    edgesOn(e, Similarity.TablePlanes, 1)

  /** Expected bucket occupancy the size-derived planes dial targets. With
    * occupancy held constant, candidate pairs per node stay O(occupancy·L)
    * whatever the corpus size — the property the pinned dial loses
    * (SCALING.md measured the pinned build at 20.0× for a ×10 corpus, the
    * resized one at 4.0×). */
  private[graft] val PlanesTargetOccupancy = 128

  /** Production planes dial: max([[Similarity.TablePlanes]],
    * ceil(log2(N / [[PlanesTargetOccupancy]]))). At every oracle fixture
    * (N ≤ 2000 vectors) this lands exactly on TablePlanes, so the DuckDB
    * mirrors — which unroll the plane count at SQL-generation time — replay
    * the same build and the hash compare stays exact; from ~2× the sf0.1
    * corpus upward it grows with log N (×10 replay: 20 000 vectors → 8
    * planes, the dial SCALING.md measured). */
  private[graft] def sizedPlanes(n: Long): Int =
    math.max(Similarity.TablePlanes,
      SizingPolicy.doublings(n, PlanesTargetOccupancy.toDouble))

  /** [[edgesOn]] at the size-derived dial — the STORED default for every
    * persisted graph artifact (round-8 verdict: the pinned-dial build was
    * the one remaining scale watch-item). Costs one count() of the node
    * set before the build — noise against the pair-generation join. */
  private[graft] def edgesOnSized(e: DataFrame, idStep: Int = 1): DataFrame =
    edgesOn(e, sizedPlanes(e.count()), idStep)

  /** Planes-per-table is THE scale dial for the graph build, exactly as in
    * [[Dedup.dedupEmbeddingCosinePlanes]]: with planes fixed, bucket occupancy
    * — and with it candidate pairs — grows linearly in corpus size, making the
    * build O(N²·L/2^planes). Production sizing is planes ≈ log2(N·L /
    * target_candidates_per_node); the ×10 run of graft.tools.SfScale @ c6e9ec7
    * measures both the fixture-pinned dial and this resized one (SCALING.md).
    * The oracle-checked query pins planes=[[Similarity.TablePlanes]]. */
  private[graft] def edgesOn(e: DataFrame, planes: Int, idStep: Int = 1): DataFrame =
    symmetrizeWithLongLinks(e, knnEdgesOn(e, planes), idStep)

  private[graft] def knnEdgesOn(e: DataFrame): DataFrame =
    knnEdgesOn(e, Similarity.TablePlanes)

  /** The directed k-NN half of the build (before the finishing overlay) —
    * also the state [[graft.streaming.StreamingNswIndex]] maintains
    * incrementally. */
  private[graft] def knnEdgesOn(e: DataFrame, planes: Int): DataFrame = {
    // all 4 tables' buckets in one codegen kernel pass per vector
    val tb = graft.functions.VectorFunctions.hyperplaneBucketsT(
      col("v"), Similarity.TableMults, planes)
    val b = e.select(col("vec_id"), col("v"), posexplode(tb).as(Seq("t", "bucket")))
    topDegreeFromBuckets(b, Similarity.TableMults.length)
  }

  /** The shared score-rank-dedup tail of every LSH-blocked k-NN build:
    * bucketed relation `b(vec_id, v, t, bucket)` → top-[[Degree]] directed
    * k-NN. `tables` bounds per-pair duplication (a pair co-buckets in at
    * most that many tables), which sizes the pre-distinct cut. */
  private def topDegreeFromBuckets(b: DataFrame, tables: Int): DataFrame = {
    // score DURING the bucket join (vectors ride the corpus-side exchange,
    // L rows per vector), then immediately drop to (src, dst, cos) — every
    // downstream shuffle carries ids + one scalar only
    val scored = b.as("a")
      .join(b.as("c"),
        col("a.t") === col("c.t") && col("a.bucket") === col("c.bucket") &&
          col("a.vec_id") =!= col("c.vec_id"))
      .select(col("a.vec_id").as("src"), col("c.vec_id").as("dst"),
        cosineSimilarity(col("a.v"), col("c.v")).as("cos"))
    // The same pair co-buckets in up to L tables, so candidates carry
    // duplicates. A corpus-wide pre-window DISTINCT was the measured
    // hotspot (a full hash-dedup of the pair set); instead rank first and
    // dedup the survivors: duplicates of a pair share (cos, dst) and so
    // occupy ADJACENT ranks, meaning the top Degree·L rows always contain
    // the top Degree distinct dsts — the tiny post-cut dedup + re-rank is
    // provably equivalent to the oracle's distinct-then-rank.
    val w = Window.partitionBy(col("src")).orderBy(desc("cos"), col("dst"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= Degree * tables)
      .select(col("src"), col("dst"), col("cos"))
      .distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= Degree)
      .select(col("src"), col("dst"))
  }

  // ------------------------------------------------- cell-local build
  //
  // Round-9 verdict #4: the ×100 stored build is honest but big (370 s at
  // 200k vectors). The corpus already carries a trained structure — the
  // IVF coarse quantizer — so let the k-NN candidates come from
  // (k-means cell × LSH bucket) instead of LSH bucket alone: the cell is
  // a TRAINED splitter (cluster-pure buckets carry no cross-cluster
  // noise pairs), which holds neighbor quality with HALF the hash tables
  // — and the table count multiplies both the bucketed-corpus exchange
  // and the candidate volume, the two terms that dominate the big-corpus
  // wall. Cross-cell connectivity comes from the same long-link overlay
  // every build gets ([[symmetrizeWithLongLinks]]).

  /** Tables dial for the cell-local build: 2 of the 4 plane families
    * (see above — the ×10/×100 walls and the recall probe are the
    * evidence this trade holds; SCALING.md "cell-local build"). */
  private[graft] val CellTableMults: Seq[Int] = Similarity.TableMults.take(2)

  /** Planes dial within a cell: the [[PlanesTargetOccupancy]] target over
    * the PER-CELL population. Lands exactly on [[Similarity.TablePlanes]]
    * at every oracle fixture (≤2000 vectors / 8 cells → 4), keeping the
    * DuckDB mirror's unrolled plane count correct. */
  private[graft] def sizedCellPlanes(n: Long, cells: Int): Int =
    sizedPlanes(math.max(1L, n / math.max(1, cells)))

  /** CELL-LOCAL k-NN: candidate pairs restricted to (coarse cell × LSH
    * bucket). The cell id is folded into a COMPOSITE bucket
    * `cluster · 2^planes + bucket`, so the pair join keeps the exact
    * shape (and codegen kernels) of [[knnEdgesOn]]'s. */
  private[graft] def knnEdgesOnCells(assigned: DataFrame, planes: Int): DataFrame = {
    val tb = graft.functions.VectorFunctions.hyperplaneBucketsT(
      col("v"), CellTableMults, planes)
    val b = assigned
      .select(col("vec_id"), col("v"), col("cluster"),
        posexplode(tb).as(Seq("t", "bucket")))
      .select(col("vec_id"), col("v"), col("t"),
        (col("cluster").cast("long") * (1L << planes) + col("bucket")).as("bucket"))
    topDegreeFromBuckets(b, CellTableMults.length)
  }

  /** The full cell-local graph: cell-restricted k-NN + the standard
    * symmetrize/long-link finishing — the `index_build_nsw_cell` payload.
    * `assigned` = `(vec_id, v, cluster)` from the shared IVF quantizer. */
  private[graft] def edgesOnCells(
      assigned: DataFrame, planes: Int, idStep: Int = 1): DataFrame =
    symmetrizeWithLongLinks(assigned.select(col("vec_id"), col("v")),
      knnEdgesOnCells(assigned, planes), idStep)

  /** [[edgesOnCells]] at the per-cell size-derived dial. */
  private[graft] def edgesOnCellsSized(
      assigned: DataFrame, cells: Int, idStep: Int = 1): DataFrame =
    edgesOnCells(assigned, sizedCellPlanes(assigned.count(), cells), idStep)

  /** Affine-formula links `src → (src/idStep · mult + off) mod N · idStep`
    * for each (mult, off) — the deterministic stand-in for randomness both
    * the long links and the NN-descent init graph use (identical integer
    * arithmetic in both engines). Targets that don't exist simply don't
    * join (dense ids are not assumed). */
  private def affineLinks(e: DataFrame, params: Seq[(Long, Long)], idStep: Int): DataFrame = {
    // n is a driver scalar like the k-means K — the link modulus
    val n = e.count()
    params.map { case (mult, off) =>
      e.select(col("vec_id").as("src"),
        ((expr(s"vec_id div $idStep") * mult + off) % n * idStep).as("dst"))
    }.reduce(_ unionByName _)
      .filter(col("src") =!= col("dst"))
      // only keep links whose target exists (ids need not be dense)
      .join(e.select(col("vec_id").as("dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
  }

  /** The shared graph-finishing step: add the [[LongLinkParams]]
    * small-world links, then symmetrize (every edge carries its reverse). */
  private[graft] def symmetrizeWithLongLinks(
      e: DataFrame, knn: DataFrame, idStep: Int): DataFrame = {
    val directed = knn.unionByName(affineLinks(e, LongLinkParams, idStep))
    directed
      .unionByName(directed.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** Store-backed edge table for the dir-keyed graphs: the parquet
    * artifact in [[graft.tools.IndexStore]] IS the index — written by the
    * `index_build_*` queries (or the first toucher) and only READ at serve
    * time — and the [[CacheRegistry.sharedTracked]] entry (same keys as
    * always, so the recall harness keeps sharing) is just the in-memory
    * handle over it. */
  private[operators] def storedEdges(
      spark: SparkSession, dir: String, artifact: String)
      (build: => DataFrame): DataFrame =
    CacheRegistry.sharedTracked(s"$artifact:$dir")(
      graft.tools.IndexStore.readOrBuild(spark, dir, artifact)(build))

  private[operators] def storedNswEdges(spark: SparkSession, dir: String): DataFrame =
    storedEdges(spark, dir, "nsw-edges")(edgesOnSized(vectors(spark, dir)))

  private[operators] def storedHnswL1Edges(spark: SparkSession, dir: String): DataFrame =
    storedEdges(spark, dir, "hnsw-l1")(
      edgesOnSized(vectors(spark, dir).filter(col("vec_id") % SampleMod === 0),
        SampleMod))

  private[operators] def storedNndEdges(spark: SparkSession, dir: String): DataFrame =
    storedEdges(spark, dir, "nnd-edges") {
      val e = vectors(spark, dir)
      symmetrizeWithLongLinks(e, nnDescentKnn(e), 1)
    }

  /** Fixed-hop beam search over the graph — see the object scaladoc. The
    * edge table is the reusable index, read from [[graft.tools.IndexStore]]
    * — the at-scale form is a materialized edge table every search batch
    * reads, exactly like the dedup family's shared token corpus. */
  private[operators] def searchOn(spark: SparkSession, dir: String): DataFrame =
    searchWithEdges(vectors(spark, dir), storedNswEdges(spark, dir))

  /** The beam state (visited scores + frontier) lives on the DRIVER: it is
    * Q · (Entries + Hops·Beam·degree) rows — bounded by the search dials,
    * INDEPENDENT of corpus size — the same legitimate driver boundary as
    * the k-means centroids ([[IvfKMeans]]), and the shape every production
    * graph-ANN search loop has. What stays distributed is everything
    * corpus-sized: the edge table (frontier ids broadcast against it to
    * expand — one job per hop) and the candidate scoring (fresh ids
    * broadcast against the corpus, query vectors broadcast last — one job
    * per hop, no exchange ever carries a per-candidate vector). A first
    * fully-DataFrame formulation (per-hop windows + anti-joins on persisted
    * ~500-row frames) was measured at 6.7 s for the hops alone at sf0.1 —
    * all near-empty-stage scheduling overhead; the driver loop runs the
    * same deterministic expansion in ~2 small jobs per hop. At 100 TB,
    * bucket the corpus by vec_id so each hop's candidate fetch prunes
    * instead of scanning. The 6.7 s figure is the Q=5 price of that
    * formulation's fixed per-hop scheduling — which AMORTIZES over the
    * query batch: for all-corpus batches the DataFrame-frontier variant
    * [[bulkSearchWithEdges]] (`ann_nsw_bulk`) wins, and is the shape to
    * reach for whenever Q is corpus-sized rather than request-sized.
    */
  /** Serve-time default: hop budget from [[sizedHops]] over the corpus
    * (one count() on the cached frame — the same cheap scalar the sized
    * BUILD dial pays). At every oracle fixture this IS the pinned
    * [[Hops]], so the hash-checked queries replay unchanged; on a grown
    * corpus the beam deepens with log N — the ×10 probe's measured fix
    * for the graph-recall collapse (SCALING.md "recall at ×10"). */
  private[graft] def searchWithEdges(e: DataFrame, edges: DataFrame): DataFrame = {
    val n = e.count()
    searchWithEdgesDials(e, edges, sizedHops(n), sizedBeam(n))
  }

  /** [[searchWithEdges]] at explicit search dials — the serving path for
    * grown corpora, where [[sizedHops]] replaces the fixture-pinned hop
    * budget. */
  private[graft] def searchWithEdgesDials(
      e: DataFrame, edges: DataFrame, hops: Int, beam: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val q = queryFrame(e)
    // two tiny jobs: the data-derived query and entry id sets (both ≤ 5)
    val qIds = q.select(col("query_id")).as[Long].collect().sorted.toSeq
    val entryIds = e.filter(col("vec_id") < Entries)
      .select(col("vec_id")).as[Long].collect().sorted.toSeq
    val seeds = for (qid <- qIds; ent <- entryIds if ent != qid) yield (qid, ent)
    rankTopK(spark, beamLoop(e, q, edges, seeds, hops, beam))
  }

  private def queryFrame(e: DataFrame): DataFrame =
    e.filter(col("vec_id") >= 0 && col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))

  /** How many nearest cells route each query's entry seeds — the nprobe
    * of the entry router. 2 at every scale (the ×100 probe's measured
    * winning configuration); widening it trades seed-scoring cost for
    * entry diversity exactly like IVF's nprobe. */
  private[graft] val RouteProbeCells = 2

  /** Size-derived probeCells: a QUARTER of the sized cell count (floored at the
    * pinned [[RouteProbeCells]] — exactly cells/4 at the fixture's 8-cell
    * quantizer, so the routed mirror's unrolled 2 cells replay unchanged).
    * Re-derived in round 12 when `IvfKMeans.sizedCells` landed: the round-11
    * "saturation at 8" was measured against a quantizer whose cell count stayed
    * PINNED at 8 — probing 8 of 8 cells scanned the whole corpus for seeds,
    * which is what bought recall 1.00. The graft.tools.CellCountScale @ c6e9ec7
    * crossover at the SIZED quantizer shows recall tracking scan fraction on
    * this geometry (×10 @ 32 cells: 0.84 at 1/4 scan; ×100 @ 128 cells: 0.91 at
    * 1/4 scan — identical to ivf_nprobe at the same fraction), so the serve
    * default picks the fixed quarter-scan point rather than a fixed cell count:
    * seed cost stays ∝ N/4 with bounded beam on top, and the recall target is a
    * deliberate dial, not an accident of the quantizer's size. */
  private[graft] def sizedProbeCells(n: Long): Int =
    math.max(RouteProbeCells, IvfKMeans.sizedCells(n) / 4)

  /** Graph search with IVF-ROUTED entries — promoted from the ×100 recall
    * probe (round-10 verdict #1; the probe-only form measured 0.20
    * recall@3 at 200 k vectors, 3× the fixed entry set): instead of the
    * fixed low-id entry set (which at 200 k vectors starts the beam
    * nowhere near most queries), route each query through the trained
    * coarse quantizer — nearest [[RouteProbeCells]] centroids by cosine,
    * seeded with each chosen cell's [[Entries]] members NEAREST THE QUERY
    * (round 11: per-(query, cell) cosine top-k over the probed cells'
    * members — one bounded scoring job over ~probeCells·N/K_cells rows
    * per batch; the round-10 form seeded each cell's lowest member ids,
    * which at ×100 started the beam a full cell-diameter from the answer)
    * — then run the identical beam. Routing is driver-scale arithmetic
    * (≤5 query vectors × K centroids) plus one member-scoring job; the
    * beam cost is unchanged. This is the quantizer-routes / graph-refines
    * serving stack (DiskANN-style), built from the IVF structure the
    * engine already builds and stores. Oracle-checked as
    * `ann_nsw_routed_search`, and the serve DEFAULT of the cell graph
    * above fixture size ([[SizingPolicy.useRoutedEntries]]). */
  private[graft] def searchWithRoutedEntries(
      e: DataFrame, edges: DataFrame,
      centroids: Seq[(Int, Array[Double])], assigned: DataFrame,
      hops: Int, beam: Int, probeCells: Int = RouteProbeCells): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val q = queryFrame(e)
    val qVecs = q.as[(Long, Seq[Double])].collect()
    def cosL(a: Seq[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length && i < b.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val chosen: Seq[(Long, Seq[Int])] = qVecs.toSeq.map { case (qid, qv) =>
      qid -> centroids.map { case (c, cv) => (c, cosL(qv, cv)) }
        .sortBy { case (c, s) => (-s, c) }.take(probeCells).map(_._1)
    }
    // one bounded job: score the probed cells' members against their
    // queries, keep each (query, cell)'s top-Entries by cosine (query
    // self-match excluded BEFORE ranking, so every probed cell yields a
    // full seed set). Same cosine + tiebreak semantics as the beam.
    val routeDf = chosen.flatMap { case (qid, cs) => cs.map(c => (qid, c)) }
      .toDF("query_id", "cluster")
    val w = Window.partitionBy(col("query_id"), col("cluster"))
      .orderBy(desc("cos"), col("vec_id"))
    val seeds = assigned.join(broadcast(routeDf), Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos", cosineSimilarity(col("v"), col("qv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= Entries)
      .select(col("query_id"), col("vec_id")).distinct()
      .as[(Long, Long)].collect().toSeq.sorted
    rankTopK(spark, beamLoop(e, q, edges, seeds, hops, beam))
  }

  /** The deterministic beam expansion both layers share: score the seed
    * (query, node) pairs, then `hops` rounds of expand-top-`beam`-frontier /
    * anti-join-visited / score-fresh. Returns every visited (query, node)
    * with its exact distributed-computed cosine.
    *
    * Driver memory is O(Q · visited) ≈ O(Q · hops · beam · degree) — the
    * request-scale contract (Q ≤ 5 here; ~2 jobs/hop, measured 3× faster
    * than the all-DataFrame variant at this Q). A caller with corpus-scale
    * Q must use [[bulkSearchWithEdges]], whose visited set lives in a
    * checkpointed DataFrame instead of this driver map. */
  private def beamLoop(
      e: DataFrame, q: DataFrame, edges: DataFrame,
      seeds: Seq[(Long, Long)], hops: Int, beam: Int)
      : scala.collection.mutable.Map[(Long, Long), Double] = {
    val spark = e.sparkSession
    import spark.implicits._
    // (query, node) → cos, exact doubles as computed distributed
    def score(ids: Seq[(Long, Long)]): Seq[((Long, Long), Double)] = {
      val idsDf = ids.toDF("query_id", "node_id")
      e.select(col("vec_id").as("node_id"), col("v").as("nv"))
        .join(broadcast(idsDf), Seq("node_id"))
        .join(broadcast(q), Seq("query_id"))
        .select(col("query_id"), col("node_id"),
          cosineSimilarity(col("nv"), col("qv")).as("cos"))
        .as[(Long, Long, Double)].collect()
        .map { case (qid, nid, cos) => ((qid, nid), cos) }.toSeq
    }
    val visited = scala.collection.mutable.Map.from(score(seeds))
    for (_ <- 1 to hops) {
      val frontier = topByQuery(visited, beam).map { case (qid, nid, _) => (qid, nid) }
      // one job: frontier ids broadcast against the distributed edge table
      val expanded = edges
        .join(broadcast(frontier.toDF("query_id", "node_id")),
          col("node_id") === col("src"))
        .select(col("query_id"), col("dst"))
        .as[(Long, Long)].collect()
      val fresh = expanded.distinct
        .filter { case (qid, nid) => qid != nid && !visited.contains((qid, nid)) }
      if (fresh.nonEmpty) visited ++= score(fresh.toSeq)
    }
    visited
  }

  /** SQL `ORDER BY cos DESC, node_id` semantics, exactly: NaN sorts as the
    * GREATEST double (both Spark and DuckDB rank a NaN cosine first under
    * DESC — the engine keeps NaN cosines for zero vectors by design) and
    * +0.0 equals -0.0 (so the node_id tiebreak decides, as in SQL). A
    * plain `sortBy(-cos)` would order NaN last and split the signed
    * zeros — a silent engine-vs-oracle divergence on exactly the inputs
    * the NaN semantics exist for. */
  private val beamOrdering: Ordering[(Long, Long, Double)] =
    (x: (Long, Long, Double), y: (Long, Long, Double)) => {
      val (a, b) = (x._3, y._3)
      val byCos =
        if (a.isNaN && b.isNaN) 0
        else if (a.isNaN) -1 // NaN greatest → first under DESC
        else if (b.isNaN) 1
        else if (a == b) 0 // primitive ==: +0.0 equals -0.0
        else java.lang.Double.compare(b, a)
      if (byCos != 0) byCos else java.lang.Long.compare(x._2, y._2)
    }

  private def topByQuery(
      visited: scala.collection.Map[(Long, Long), Double], k: Int): Seq[(Long, Long, Double)] =
    visited.toSeq
      .map { case ((qid, nid), cos) => (qid, nid, cos) }
      .groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        rs.sorted(beamOrdering).take(k)
      }

  private def rankTopK(
      spark: SparkSession,
      visited: scala.collection.Map[(Long, Long), Double]): DataFrame = {
    import spark.implicits._
    val ranked = topByQuery(visited, K).groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      rs.zipWithIndex.map { case ((qid, nid, cos), i) => (qid, nid, (i + 1).toLong, cos) }
    }
    ranked.toDF("query_id", "node_id", "rank", "cos")
      .select(col("query_id"), col("node_id").as("neighbor_id"),
        col("rank"), pround(col("cos"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  def nswSearch(spark: SparkSession, dir: String): DataFrame =
    searchOn(spark, dir)

  private[operators] def storedCellEdges(spark: SparkSession, dir: String): DataFrame =
    storedEdges(spark, dir, "nsw-cell-edges") {
      val (_, assigned, centroids) = IvfKMeans.trained(spark, dir)
      edgesOnCellsSized(assigned, centroids.size)
    }

  /** Serve over the CELL-LOCAL graph artifact (`index_build_nsw_cell`) —
    * same beam core, same dials; the only difference is which edge table
    * the store hands back. Ties the full build's recall at the fixture
    * (0.60) and beats it at ×10 under the sized hop budget (SCALING.md
    * "recall at ×10": 0.13 vs 0.07) at a third of the build cost.
    * Above fixture size the entry set ALSO sizes: fixed low-id entries
    * flip to IVF-routed ones ([[SizingPolicy.useRoutedEntries]] — the
    * ×100 probe's measured 3× recall win), exactly the way
    * [[sizedHops]]/[[sizedBeam]] already replace their pinned dials. At
    * every oracle fixture this is the pinned fixed-entry search, so the
    * hash gate replays unchanged. */
  def nswCellSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = vectors(spark, dir)
    val edges = storedCellEdges(spark, dir)
    val n = corpusSize(spark, dir)
    if (SizingPolicy.useRoutedEntries(n)) {
      val (_, assigned, centroids) = IvfKMeans.trained(spark, dir)
      searchWithRoutedEntries(e, edges, centroids, assigned,
        sizedHops(n), sizedBeam(n), sizedProbeCells(n))
    } else searchWithEdgesDials(e, edges, sizedHops(n), sizedBeam(n))
  }

  /** The always-routed serve query (`ann_nsw_routed_search`): IVF-routed
    * entries over the stored cell-local graph at the sized search dials —
    * at oracle fixtures those are the pinned [[Hops]]/[[Beam]], so the
    * DuckDB mirror replays routing + beam exactly; at scale this IS what
    * [[nswCellSearch]] serves. Reads three stored artifacts
    * (`ivf-centroids`, its assignment, `nsw-cell-edges`) — no builds in
    * the serve path. */
  def nswRoutedSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = vectors(spark, dir)
    val (_, assigned, centroids) = IvfKMeans.trained(spark, dir)
    val edges = storedCellEdges(spark, dir)
    val n = corpusSize(spark, dir)
    searchWithRoutedEntries(e, edges, centroids, assigned,
      sizedHops(n), sizedBeam(n), sizedProbeCells(n))
  }

  // --------------------------------------------------- bulk (all-corpus)

  /** BULK beam search: every corpus node is a query — "top-k neighbors
    * for the whole corpus", the shape a training-data pipeline actually
    * runs (near-dup scoring, diversity sampling), where the per-batch
    * loop's driver-held beam state (O(Q·beam·degree), fine at Q=5, wrong
    * at Q=10⁵ — [[searchWithEdges]]) must not exist. Here the ENTIRE
    * frontier state lives in a DataFrame keyed by query_id: each hop is
    * (1) per-query top-[[Beam]] of the visited set (one window), (2) an
    * id-equi-join against the edge table, (3) an anti-join against
    * visited, (4) vector join-back scoring — all partitioned by query_id,
    * none driver-held, so N queries cost the same number of JOBS as 5
    * queries (per-hop scheduling amortizes across the whole batch — the
    * crossover the round-6 measurement priced at 6.7 s of near-empty
    * stages for Q=5 flips in bulk's favor as Q grows). Per-hop
    * `localCheckpoint` keeps the unrolled plan linear in hops, as in the
    * NN-descent build. Identical expansion/tie-break semantics to the
    * per-batch loop, replayed in DuckDB by the same unrolled CTEs with the
    * query set widened to the full corpus. */
  private[graft] def bulkSearchWithEdges(e: DataFrame, edges: DataFrame): DataFrame =
    serveTopK(e, edges, e.select(col("vec_id").as("query_id"), col("v").as("qv")))
      .orderBy(col("query_id"), col("rank"))

  /** Top-[[K]] serve core for an ARBITRARY query frame `q(query_id, qv)` —
    * the request-batch shape of [[bulkSearchWithEdges]], shared with the
    * streaming serve path ([[graft.streaming.NswIndexServer]]): query
    * vectors need not be corpus members, and each request batch costs one
    * bounded beam sweep over the served edge table. */
  private[graft] def serveTopK(e: DataFrame, edges: DataFrame, q: DataFrame): DataFrame = {
    val visited = bulkVisited(e, edges, q)
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("node_id"))
    visited.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("node_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), pround(col("cos"), 4).as("cosine"))
  }

  /** [[serveTopK]] with IVF-ROUTED query-nearest seeding, entirely in
    * DataFrames — the request-batch twin of [[searchWithRoutedEntries]]
    * (which routes driver-side at Q ≤ 5): route every query of `q` through
    * the broadcast centroid table (same zero-norm guard and
    * lowest-cluster tiebreak as the driver arithmetic), seed each
    * (query, probed cell) with the cell's [[Entries]] members nearest the
    * query (same cosine + vec_id tiebreak, self excluded before ranking),
    * then the shared bulk beam. Query vectors need NOT be corpus members;
    * for corpus-member queries the output is row-identical to the batch
    * routed search (NswIndexServerSpec pins it). `assigned` is the served
    * corpus with its cluster column — computed once per index version by
    * the caller, NOT per request batch. */
  private[graft] def routedServeTopK(
      e: DataFrame, edges: DataFrame, q: DataFrame,
      centroids: Seq[(Int, Array[Double])], assigned: DataFrame,
      hops: Int = Hops, beam: Int = Beam,
      probeCells: Int = RouteProbeCells): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val cents = centroids.map { case (c, cv) => (c, cv.toSeq) }
      .toDF("cluster", "cv")
    val qn = graft.functions.VectorFunctions.dot(col("qv"), col("qv"))
    val cn = graft.functions.VectorFunctions.dot(col("cv"), col("cv"))
    val routeW = Window.partitionBy(col("query_id"))
      .orderBy(desc("ccos"), col("cluster"))
    val routes = q.crossJoin(broadcast(cents))
      .withColumn("ccos", when(qn === 0.0 || cn === 0.0, 0.0)
        .otherwise(graft.functions.VectorFunctions.dot(col("qv"), col("cv"))
          / (sqrt(qn) * sqrt(cn))))
      .withColumn("rn", row_number().over(routeW))
      .filter(col("rn") <= probeCells)
      .select(col("query_id"), col("cluster"))
    val seedW = Window.partitionBy(col("query_id"), col("cluster"))
      .orderBy(desc("cos"), col("vec_id"))
    val seeds = assigned.join(broadcast(routes), Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos", cosineSimilarity(col("v"), col("qv")))
      .withColumn("srn", row_number().over(seedW))
      .filter(col("srn") <= Entries)
      .select(col("query_id"), col("vec_id").as("node_id"), col("cos"))
    val visited = bulkBeamLoop(e, edges, q,
      CacheRegistry.checkpointTracked(seeds), hops, beam)
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("node_id"))
    visited.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("node_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), pround(col("cos"), 4).as("cosine"))
  }

  /** The DataFrame-frontier beam core: visited `(query_id, node_id, cos)`
    * for an arbitrary query frame `q(query_id, qv)` — the query vectors
    * need NOT be corpus members (streaming insertion searches the current
    * graph for vectors that are about to join it). Seeds are the fixed
    * entry nodes of `e`. */
  /** `entryCap` bounds the fixed entry-node id range — [[Entries]] for the
    * full corpus, Entries·[[SampleMod]] when `e` is the layer-1 sample
    * (whose ids are all multiples of SampleMod, exactly as in
    * [[hnswSearchOn]]'s layer-1 seeding). */
  private[graft] def bulkVisited(e: DataFrame, edges: DataFrame, q: DataFrame,
      hops: Int = Hops, beam: Int = Beam, entryCap: Int = Entries): DataFrame = {
    val seeds = q.select(col("query_id"))
      .crossJoin(e.filter(col("vec_id") < entryCap).select(col("vec_id").as("node_id")))
      .filter(col("node_id") =!= col("query_id"))
    bulkBeamLoop(e, edges, q,
      CacheRegistry.checkpointTracked(bulkScore(e, q, seeds)), hops, beam)
  }

  private def bulkScore(e: DataFrame, q: DataFrame, ids: DataFrame): DataFrame =
    ids.join(e.select(col("vec_id").as("node_id"), col("v").as("nv")), Seq("node_id"))
      .join(q, Seq("query_id"))
      .select(col("query_id"), col("node_id"),
        cosineSimilarity(col("nv"), col("qv")).as("cos"))

  /** The hop loop alone, from an already-scored visited-set seed — lets
    * the 2-layer bulk search feed layer 1's survivors into layer 0. */
  private def bulkBeamLoop(e: DataFrame, edges: DataFrame, q: DataFrame,
      visited0: DataFrame, hops: Int, beam: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("node_id"))
    var visited = visited0
    for (_ <- 1 to hops) {
      val frontier = visited.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= beam).select(col("query_id"), col("node_id"))
      val fresh = frontier
        .join(edges, col("node_id") === col("src"))
        .filter(col("dst") =!= col("query_id"))
        .select(col("query_id"), col("dst").as("node_id"))
        .distinct()
        .join(visited.select(col("query_id"), col("node_id")),
          Seq("query_id", "node_id"), "left_anti")
      visited = CacheRegistry.checkpointTracked(
        visited.unionByName(bulkScore(e, q, fresh)))
    }
    visited
  }

  /** NSW INSERTION (Malkov et al. 2014 §4: insert = search, then connect):
    * find each incoming vector's top-[[Degree]] neighbors by beam-searching
    * the CURRENT graph, and return the new directed k-NN edges. The
    * serve-time [[symmetrizeWithLongLinks]] overlay supplies the reverse
    * edges (old nodes gain links TO new ones) and re-derives the
    * small-world links over the grown id range — so the maintained state
    * is only the directed k-NN table, exactly the shape the batch build
    * produces. Used by [[graft.streaming.StreamingNswIndex]]. */
  /** Insertion searches WIDER than serving (the NSW paper's ef > k during
    * construction): a node links permanently to what its insertion beam
    * found, so under-searching at insert time bakes weak edges into the
    * index, while serving can always re-search. */
  private[operators] val InsertHops = Hops + 1
  private[operators] val InsertBeam = Beam * 2

  private[graft] def insertKnn(e: DataFrame, edges: DataFrame, batch: DataFrame,
      entryCap: Int = Entries): DataFrame = {
    val visited = bulkVisited(e, edges,
      batch.select(col("vec_id").as("query_id"), col("v").as("qv")),
      hops = InsertHops, beam = InsertBeam, entryCap = entryCap)
    // batch-INTERNAL candidates: two near-duplicates arriving in the same
    // micro-batch cannot find each other by searching the pre-batch graph,
    // so the batch also scores itself — bounded at batch² pairs (a
    // micro-batch is small by construction; at larger batch sizes this
    // becomes the LSH-bucketed candidate join of the batch build)
    val self = batch.as("a")
      .join(batch.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("node_id"),
        cosineSimilarity(col("a.v"), col("b.v")).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("node_id"))
    visited.unionByName(self)
      // self-exclusion: a NEW node never meets itself in the pre-batch
      // graph, but the edge-REPAIR path re-inserts nodes that are already
      // members — without this their rank-1 "neighbor" is themselves
      .filter(col("query_id") =!= col("node_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= Degree)
      .select(col("query_id").as("src"), col("node_id").as("dst"))
  }

  def bulkSearch(spark: SparkSession, dir: String): DataFrame =
    bulkSearchWithEdges(vectors(spark, dir), storedNswEdges(spark, dir))

  /** BULK search over the NN-DESCENT graph — the pairing a 100 TB pipeline
    * actually runs (round-7 verdict #2): the LSH-free, dial-free build
    * ([[nnDescentKnn]] — candidate pools bounded by the degree cap, no
    * occupancy dial to re-size as N grows) under the no-driver-state
    * all-corpus search ([[bulkSearchWithEdges]] — frontier in DataFrames,
    * per-hop job count independent of the query count). Both halves
    * existed; this is their composition, reading the same persisted
    * `nnd-edges` artifact as `ann_nsw_nnd_search`. */
  def nndBulkSearch(spark: SparkSession, dir: String): DataFrame =
    bulkSearchWithEdges(vectors(spark, dir), storedNndEdges(spark, dir))

  /** The 2-layer hierarchy in BULK form: every corpus node routes through
    * the layer-1 graph (bulk beam, [[HopsL1]]×[[BeamL1]]), its
    * top-[[Entries]] layer-1 results seed the layer-0 bulk beam — the
    * hierarchy's bounded-entry property with none of the per-query driver
    * state. Both edge tables are the same shared caches the per-batch
    * query builds. */
  def hnswBulkSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = vectors(spark, dir)
    val e1 = e.filter(col("vec_id") % SampleMod === 0)
    val edges1 = storedHnswL1Edges(spark, dir)
    val edges0 = storedNswEdges(spark, dir)
    val q = e.select(col("vec_id").as("query_id"), col("v").as("qv"))
    val seeds1 = q.select(col("query_id"))
      .crossJoin(e1.filter(col("vec_id") < Entries * SampleMod)
        .select(col("vec_id").as("node_id")))
      .filter(col("node_id") =!= col("query_id"))
    val v1 = bulkBeamLoop(e, edges1, q,
      CacheRegistry.checkpointTracked(bulkScore(e, q, seeds1)), HopsL1, BeamL1)
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("node_id"))
    val seeds0 = v1.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= Entries)
      .select(col("query_id"), col("node_id"), col("cos"))
    val v0 = bulkBeamLoop(e, edges0, q,
      CacheRegistry.checkpointTracked(seeds0), Hops, Beam)
    v0.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("node_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), pround(col("cos"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ------------------------------------------------------------ NN-descent

  /** Round count × working degree, picked by MEASUREMENT (the round-7
    * graft.tools.NndKnee @ c6e9ec7 grid over {iters 0..5} × {degree 12, 16} at
    * sf0.01 and sf0.1): 3 rounds at degree 16 reaches the same graph hit rate
    * as the previous 5 rounds at degree 12 (0.96 vs 0.94 at sf0.01, 0.65 vs
    * 0.69 at sf0.1) and the same search recall within the harness's ±1-sample
    * noise (0.47 vs 0.53 / 0.27 vs 0.20) at ONE-THIRD LESS build cost —
    * convergence speed scales with the candidate pool (2·degree)² per round, so
    * a wider working degree buys more per round than extra rounds do. Numbers
    * in SCALING.md. */
  private[operators] val NndIters = 3

  /** Working degree during NN-descent rounds. Wider than the final
    * [[Degree]]: on low-signal corpora a 2-hop candidate pool drawn from
    * only the best 6 neighbors collapses into local cliques before the
    * true neighbors are found; keeping wider edges through the rounds
    * preserves exploration diversity, and only the final kept graph is
    * truncated to [[Degree]]. Candidates stay bounded at (2·BuildDegree)²
    * per node. Degree-6 rounds converge to 0.33 recall (AnnSpec's
    * init-vs-converged test); 16 is the measured knee partner of
    * [[NndIters]]=3. */
  private[operators] val NndBuildDegree = 16

  /** Deterministic init links for NN-descent — [[Degree]] affine formulas
    * (the same shape as [[LongLinkParams]]) give every node up to Degree
    * pseudo-random starting neighbors. */
  private[operators] val InitLinkParams: Seq[(Long, Long)] = Seq(
    (16807L, 3L), (48271L, 11L), (69621L, 29L),
    (40692L, 7L), (40014L, 17L), (21870L, 5L))

  /** NN-descent k-NN graph build (Dong, Charikar & Li, WWW 2011): start
    * from the deterministic pseudo-random [[InitLinkParams]] graph, then
    * [[NndIters]] rounds of "a neighbor of my neighbor is probably my
    * neighbor" — candidates are the 2-hop pairs of the UNDIRECTED current
    * graph, scored by exact cosine, top-[[Degree]] kept per node. No LSH
    * anywhere: the build needs only the graph itself plus id-joins back to
    * the corpus.
    *
    * Scale shape: each round's candidate generation is the edge table
    * self-joined on the shared middle node. The "(2·degree)² per node" bound is
    * only true if the UNDIRECTED working graph is itself degree-capped:
    * out-edges are top-`buildDegree` by construction, but REVERSE edges give
    * hub nodes unbounded in-degree, and 2-hop expansion through a hub is
    * quadratic in it — the round-7 ×10 run of graft.tools.SfScale @ c6e9ec7
    * caught exactly this (ratio 10.4 uncapped). So each round caps the
    * undirected adjacency at 2·buildDegree rows per src (deterministic keep:
    * lowest dst ids — hubs shed their farthest-id reverse links) BEFORE the
    * self-join, making the bound real at any corpus size (vs the LSH build's
    * occupancy-driven O(N²·L/2^planes), which needs the planes dial re-sized as
    * N grows — [[edgesOn]]). Pair-grade traffic is ids only; vectors enter once
    * per round via two id-equi-joins for scoring. Each round's kept graph
    * (N·Degree 16-byte rows) is locally checkpointed — it appears 6× in the
    * next round's plan, so truncating lineage keeps analyzer cost linear in
    * rounds instead of exponential (persist alone does not; see
    * CacheRegistry.checkpointTracked).
    *
    * Fixed iteration count (not convergence-tested) keeps the whole build
    * replayable as [[NndIters]] unrolled SQL CTEs in DuckDB. */
  private[graft] def nnDescentKnn(e: DataFrame, iters: Int = NndIters,
      buildDegree: Int = NndBuildDegree): DataFrame = {
    def topDegree(cand: DataFrame, degree: Int): DataFrame = {
      val scored = cand
        .join(e.select(col("vec_id").as("src"), col("v").as("sv")), Seq("src"))
        .join(e.select(col("vec_id").as("dst"), col("v").as("dv")), Seq("dst"))
        .select(col("src"), col("dst"),
          cosineSimilarity(col("sv"), col("dv")).as("cos"))
      val w = Window.partitionBy(col("src")).orderBy(desc("cos"), col("dst"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= degree)
        .select(col("src"), col("dst"))
    }
    var knn = topDegree(affineLinks(e, InitLinkParams, 1).distinct(), buildDegree)
    for (i <- 1 to iters) {
      // checkpoint, not just persist: round i's graph appears 6× in round
      // i+1's plan, so without plan truncation analyzer cost is
      // exponential in rounds (see CacheRegistry.checkpointTracked)
      val k = CacheRegistry.checkpointTracked(knn)
      val u = CacheRegistry.persistTracked(
        k.unionByName(k.select(col("dst").as("src"), col("src").as("dst")))
          // hub cap: see the scaladoc — without it reverse edges make the
          // 2-hop candidate pool quadratic in hub in-degree. ONE
          // aggregation does dedup + cap together (round 19, guide §2.3/2.4
          // — the `distinct()` + row_number window form paid TWO exchanges
          // per round, (src,dst) then src, plus a per-partition sort;
          // collect_set dedups map-side and ships grouped sets, and
          // array_sort + slice(1, 2·degree) keeps exactly the window's
          // lowest-dst rows). Same pair set by construction, and the
          // output stays hash-partitioned by src, which the 2-hop
          // self-join's build side reuses exchange-free.
          .groupBy(col("src"))
          .agg(slice(array_sort(collect_set(col("dst"))), 1, 2 * buildDegree)
            .as("ds"))
          .select(col("src"), explode(col("ds")).as("dst")))
      val cand = u.as("a").join(u.as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
        .filter(col("src") =!= col("dst"))
        .unionByName(u)
        .distinct()
      knn = topDegree(cand, if (i == iters) Degree else buildDegree)
    }
    knn
  }

  /** Same beam search as `ann_nsw_search`, over the NN-descent graph
    * (plus the same long links + symmetrization — navigability is a
    * property of the finishing step, not the candidate source). */
  private[operators] def nndSearchOn(spark: SparkSession, dir: String): DataFrame =
    searchWithEdges(vectors(spark, dir), storedNndEdges(spark, dir))

  def nndSearch(spark: SparkSession, dir: String): DataFrame =
    nndSearchOn(spark, dir)

  // ------------------------------------------------- HNSW-style hierarchy

  private[graft] val SampleMod = 8
  private[operators] val HopsL1 = 2
  private[operators] val BeamL1 = 4

  /** Two-layer HNSW-shaped search (Malkov & Yashunin, TPAMI 2018, with the
    * layer count fixed at 2 and the layer membership DETERMINISTIC instead
    * of geometric-random — `vec_id % SampleMod == 0` — so both engines
    * build the identical hierarchy): a coarse ROUTING graph over the 1/8
    * sample replaces the fixed entry points — each query beam-searches the
    * small layer-1 graph first ([[HopsL1]] hops, beam [[BeamL1]]) and its
    * top-[[Entries]] layer-1 results seed the layer-0 beam. Layer 0 IS the
    * `ann_nsw_search` graph (shared cache — built once for both queries).
    * At scale this is the part of HNSW that matters: entry points land
    * near the query's neighborhood after touching O(N/SampleMod) routing
    * nodes, instead of the fixed-entry beam spending its first hops
    * escaping wherever entry 0..3 happen to live. */
  private[operators] def hnswSearchOn(spark: SparkSession, dir: String): DataFrame =
    hnswWithEdges(vectors(spark, dir),
      storedHnswL1Edges(spark, dir), storedNswEdges(spark, dir))

  /** The 2-layer beam core over already-built layer graphs — also the
    * serve path of [[graft.streaming.StreamingNswIndex]]'s maintained
    * hierarchy and the recall harness's hnsw row. */
  /** Serve-time default: both layers' hop budgets size with their node
    * counts (pinned values at oracle fixtures — see [[searchWithEdges]]). */
  private[graft] def hnswWithEdges(
      e: DataFrame, edges1: DataFrame, edges0: DataFrame): DataFrame = {
    val n = e.count()
    hnswWithEdges(e, edges1, edges0,
      sizedHops(n), sizedHopsFloor(n / SampleMod, HopsL1), sizedBeam(n))
  }

  private[graft] def hnswWithEdges(
      e: DataFrame, edges1: DataFrame, edges0: DataFrame,
      hops0: Int, hops1: Int, beam0: Int = Beam): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val e1 = e.filter(col("vec_id") % SampleMod === 0)
    val q = queryFrame(e)
    val qIds = q.select(col("query_id")).as[Long].collect().sorted.toSeq
    // layer-1 entries: the sample members among the first Entries·SampleMod ids
    val entry1 = e1.filter(col("vec_id") < Entries * SampleMod)
      .select(col("vec_id")).as[Long].collect().sorted.toSeq
    val seeds1 = for (qid <- qIds; ent <- entry1 if ent != qid) yield (qid, ent)
    val visited1 = beamLoop(e, q, edges1, seeds1, hops1, BeamL1)
    val seeds0 = topByQuery(visited1, Entries).map { case (qid, nid, _) => (qid, nid) }
    rankTopK(spark, beamLoop(e, q, edges0, seeds0, hops0, beam0))
  }

  def hnswSearch(spark: SparkSession, dir: String): DataFrame =
    hnswSearchOn(spark, dir)

  // ------------------------------------------------------------- oracle SQL
  //
  // Multiply-referenced CTEs (each hop's visited set, each NN-descent
  // round's kept graph, the finished edge table) are AS MATERIALIZED:
  // DuckDB inlines plain CTEs per reference, so without it the unrolled
  // iteration nests multiply out exponentially — the 3-round NN-descent
  // oracle alone exceeded the process fd limit re-opening the parquet
  // scan thousands of times. Materialization evaluates each round once,
  // mirroring the Spark side's per-round persist.

  private val cosSql = (a: String, b: String) =>
    s"""list_dot_product($a, $b)
       |           / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))""".stripMargin

  /** Score a (query_id, node_id) relation against `e` (node + query
    * vectors both live in the full corpus). */
  private def scoreSql(idsRel: String, out: String): String =
    s"""$out AS (
       |  SELECT i.query_id, i.node_id, ${cosSql("n.v", "qv.v")} AS cos
       |  FROM $idsRel i
       |  JOIN e n ON n.vec_id = i.node_id
       |  JOIN e qv ON qv.vec_id = i.query_id)""".stripMargin

  /** CTE block (no WITH): the symmetrized k-NN + long-link graph over
    * `eRel(vec_id, v)` with buckets `bRel(vec_id, t, bucket)` → `${p}edges`.
    * `idStep` is the node set's id lattice (see [[LongLinkParams]]). All
    * names `$p`-prefixed. */
  private def graphCtes(p: String, eRel: String, bRel: String, idStep: Int = 1): String =
    s"""${p}pairs AS (
       |  SELECT DISTINCT a.vec_id AS src, c.vec_id AS dst
       |  FROM $bRel a JOIN $bRel c ON a.t = c.t AND a.bucket = c.bucket
       |  WHERE a.vec_id <> c.vec_id),
       |${p}gs AS (
       |  SELECT p.src, p.dst, ${cosSql("s.v", "d.v")} AS cos
       |  FROM ${p}pairs p
       |  JOIN $eRel s ON s.vec_id = p.src
       |  JOIN $eRel d ON d.vec_id = p.dst),
       |${p}knn AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |           row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |    FROM ${p}gs)
       |  WHERE rn <= $Degree),
       |${finishCtes(p, eRel, s"${p}knn", idStep)}""".stripMargin

  /** CTE block (no WITH): [[affineLinks]] as SQL — one UNION ALL arm per
    * (mult, off) — filtered to existing targets, named `$out`. */
  private def affineLinkSql(
      out: String, eRel: String, params: Seq[(Long, Long)], idStep: Int): String =
    s"""$out AS (
       |  SELECT src, dst FROM (
       |${params.map { case (mult, off) =>
           s"    SELECT vec_id AS src, (vec_id // $idStep * $mult + $off) % (SELECT count(*) FROM $eRel) * $idStep AS dst FROM $eRel"
         }.mkString("\n    UNION ALL\n")})
       |  WHERE src <> dst AND dst IN (SELECT vec_id FROM $eRel))""".stripMargin

  /** CTE block (no WITH): [[symmetrizeWithLongLinks]] as SQL — long links
    * over `eRel` + every reverse edge of `knnRel ∪ long` → `${p}edges`. */
  private def finishCtes(p: String, eRel: String, knnRel: String, idStep: Int): String =
    s"""${affineLinkSql(s"${p}long", eRel, LongLinkParams, idStep)},
       |${p}directed AS (
       |  SELECT src, dst FROM $knnRel
       |  UNION ALL
       |  SELECT src, dst FROM ${p}long),
       |${p}edges AS MATERIALIZED (
       |  SELECT src, dst FROM ${p}directed
       |  UNION
       |  SELECT dst AS src, src AS dst FROM ${p}directed)""".stripMargin

  /** CTE block (no WITH): [[nnDescentKnn]] + finishing step as SQL over
    * `eRel(vec_id, v)` → `${p}edges`. Iterations unrolled ([[NndIters]]),
    * names `$p`-prefixed: `${p}k$i` is round i's kept graph. */
  private def nnDescentGraphCtes(p: String, eRel: String): String = {
    def topDegree(candRel: String, i: Int): String = {
      val degree = if (i == NndIters) Degree else NndBuildDegree
      s"""${p}s$i AS (
         |  SELECT c.src, c.dst, ${cosSql("s.v", "d.v")} AS cos
         |  FROM $candRel c
         |  JOIN $eRel s ON s.vec_id = c.src
         |  JOIN $eRel d ON d.vec_id = c.dst),
         |${p}k$i AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT src, dst,
         |           row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
         |    FROM ${p}s$i)
         |  WHERE rn <= $degree)""".stripMargin
    }
    val init =
      s"""${affineLinkSql(s"${p}i", eRel, InitLinkParams, 1)},
         |${p}i0 AS (SELECT DISTINCT src, dst FROM ${p}i),
         |${topDegree(s"${p}i0", 0)}""".stripMargin
    val rounds = (1 to NndIters).map { i =>
      s"""${p}u$i AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT src, dst,
         |           row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
         |    FROM (
         |      SELECT src, dst FROM ${p}k${i - 1}
         |      UNION
         |      SELECT dst AS src, src AS dst FROM ${p}k${i - 1}))
         |  WHERE rn <= ${2 * NndBuildDegree}),
         |${p}c$i AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT a.src AS src, b.dst AS dst
         |    FROM ${p}u$i a JOIN ${p}u$i b ON a.dst = b.src
         |    WHERE a.src <> b.dst
         |    UNION ALL
         |    SELECT src, dst FROM ${p}u$i)),
         |${topDegree(s"${p}c$i", i)}""".stripMargin
    }.mkString(",\n")
    s"""$init,
       |$rounds,
       |${finishCtes(p, eRel, s"${p}k$NndIters", 1)}""".stripMargin
  }

  /** CTE block (no WITH): `hops` unrolled beam rounds over `edgesRel` from
    * scored-seed relation `${p}s0` (callers emit `${p}s0` via [[scoreSql]])
    * → visited set `${p}s$hops`. */
  private def beamCtes(p: String, edgesRel: String, hops: Int, beam: Int): String =
    (1 to hops).map { h =>
      s"""${p}f$h AS (
         |  SELECT query_id, node_id FROM (
         |    SELECT query_id, node_id,
         |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, node_id) AS rn
         |    FROM ${p}s${h - 1})
         |  WHERE rn <= $beam),
         |${p}x$h AS (
         |  SELECT DISTINCT f.query_id, ed.dst AS node_id
         |  FROM ${p}f$h f JOIN $edgesRel ed ON f.node_id = ed.src
         |  WHERE ed.dst <> f.query_id),
         |${p}n$h AS (
         |  SELECT x.query_id, x.node_id
         |  FROM ${p}x$h x LEFT JOIN ${p}s${h - 1} s
         |    ON s.query_id = x.query_id AND s.node_id = x.node_id
         |  WHERE s.node_id IS NULL),
         |${scoreSql(s"${p}n$h", s"${p}h$h")},
         |${p}s$h AS MATERIALIZED (
         |  SELECT query_id, node_id, cos FROM ${p}s${h - 1}
         |  UNION ALL
         |  SELECT query_id, node_id, cos FROM ${p}h$h)""".stripMargin
    }.mkString(",\n")

  /** CTE block (no WITH): fixed-entry beam search over `edgesRel` →
    * `$rankedName`. All names `$p`-prefixed. */
  private def entrySearchCtes(p: String, edgesRel: String, rankedName: String,
                              queryPred: String = "vec_id < 5"): String =
    s"""${p}q AS (SELECT vec_id AS query_id FROM e WHERE $queryPred),
       |${p}ids0 AS (
       |  SELECT q.query_id, ent.vec_id AS node_id
       |  FROM ${p}q q CROSS JOIN (SELECT vec_id FROM e WHERE vec_id < $Entries) ent
       |  WHERE ent.vec_id <> q.query_id),
       |${scoreSql(s"${p}ids0", s"${p}s0")},
       |${beamCtes(p, edgesRel, Hops, Beam)},
       |$rankedName AS (
       |  SELECT query_id, node_id AS neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, node_id) AS rank
       |  FROM ${p}s$Hops)""".stripMargin

  /** CTE block (no WITH): flat NSW — graph build + beam from the fixed
    * entries → `nswranked`. Assumes `e(vec_id, v)` and buckets
    * `bRel(vec_id, t, bucket)` in scope — the recall harness shares its
    * `mtb` buckets. All names nw-prefixed. */
  private[operators] def searchCtes(bRel: String): String =
    s"""${graphCtes("nw", "e", bRel)},
       |${entrySearchCtes("nw", "nwedges", "nswranked")}""".stripMargin

  /** CTE block (no WITH): the composite (cell × bucket) relation the
    * cell-local build blocks on — `cluster · 2^planes + bucket`, one arm
    * per [[CellTableMults]] family. Assumes `aRel(vec_id, v, cluster)`
    * (the k-means assignment) in scope. */
  private def cellBucketsSql(aRel: String, bName: String, planes: Int): String = {
    val parts = CellTableMults.zipWithIndex.map { case (m, t) =>
      s"""SELECT vec_id, $t AS t,
         |         cluster * ${1L << planes} + ${graft.functions.VectorFunctions.hyperplaneBucketTSql("v", m, planes)} AS bucket
         |      FROM $aRel""".stripMargin
    }.mkString("\n      UNION ALL\n      ")
    s"$bName AS ($parts)"
  }

  /** CTE block (no WITH): cell-local graph build → `ncedges`. Assumes `e`
    * and `afinal(vec_id, v, cluster)` in scope ([[IvfKMeans.trainingSql]]). */
  private[operators] def cellGraphCtes: String =
    s"""${cellBucketsSql("afinal", "ncb", Similarity.TablePlanes)},
       |${graphCtes("nc", "e", "ncb")}""".stripMargin

  /** [[cellGraphCtes]] + beam search → `nccranked` (the recall harness's
    * nsw_cell row). */
  private[operators] def cellSearchCtes: String =
    s"""$cellGraphCtes,
       |${entrySearchCtes("ncs", "ncedges", "nccranked")}""".stripMargin

  /** CTE block (no WITH): NN-descent graph build (`ng`-prefixed) + beam
    * (`nd`-prefixed) → `ndranked`. Assumes only `e(vec_id, v)` in scope —
    * no LSH buckets anywhere in this path. */
  private[operators] def nndCtes: String =
    s"""${nnDescentGraphCtes("ng", "e")},
       |${entrySearchCtes("nd", "ngedges", "ndranked")}""".stripMargin

  /** CTE block (no WITH): the 2-layer hierarchy → `hnswranked`. Assumes
    * `e`, full-corpus buckets `bRel`, and the layer-0 edge table
    * `l0EdgesRel` (= `nwedges` — layer 0 IS the flat graph) in scope.
    * Layer-1 buckets are a FILTER of the full bucket relation (a bucket
    * depends only on the vector, so bucketing the sample equals sampling
    * the buckets). */
  private[operators] def hnswCtes(bRel: String, l0EdgesRel: String,
                                  queryPred: String = "vec_id < 5"): String =
    s"""he1 AS (SELECT vec_id, v FROM e WHERE vec_id % $SampleMod = 0),
       |h1b AS (SELECT vec_id, t, bucket FROM $bRel WHERE vec_id % $SampleMod = 0),
       |${graphCtes("h1", "he1", "h1b", SampleMod)},
       |hq AS (SELECT vec_id AS query_id FROM e WHERE $queryPred),
       |h1ids0 AS (
       |  SELECT q.query_id, ent.vec_id AS node_id
       |  FROM hq q CROSS JOIN (SELECT vec_id FROM he1
       |                        WHERE vec_id < ${Entries * SampleMod}) ent
       |  WHERE ent.vec_id <> q.query_id),
       |${scoreSql("h1ids0", "h1s0")},
       |${beamCtes("h1", "h1edges", HopsL1, BeamL1)},
       |h0s0 AS (
       |  SELECT query_id, node_id, cos FROM (
       |    SELECT query_id, node_id, cos,
       |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, node_id) AS rn
       |    FROM h1s$HopsL1)
       |  WHERE rn <= $Entries),
       |${beamCtes("h0", l0EdgesRel, Hops, Beam)},
       |hnswranked AS (
       |  SELECT query_id, node_id AS neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, node_id) AS rank
       |  FROM h0s$Hops)""".stripMargin

  val nswSearchSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${Similarity.multitableBucketsSql("e", "nwb")},
       |${searchCtes("nwb")}
       |SELECT query_id, neighbor_id, rank, floor(cos * 10000 + 0.5) / 10000.0 AS cosine
       |FROM nswranked WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  val hnswSearchSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${Similarity.multitableBucketsSql("e", "nwb")},
       |${searchCtes("nwb")},
       |${hnswCtes("nwb", "nwedges")}
       |SELECT query_id, neighbor_id, rank, floor(cos * 10000 + 0.5) / 10000.0 AS cosine
       |FROM hnswranked WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  val nndSearchSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$nndCtes
       |SELECT query_id, neighbor_id, rank, floor(cos * 10000 + 0.5) / 10000.0 AS cosine
       |FROM ndranked WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** Bulk oracle: the SAME graph build and unrolled beam rounds, with the
    * query set widened from `vec_id < 5` to the whole corpus — the CTE
    * machinery is shared, only the predicate differs. */
  val bulkSearchSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${Similarity.multitableBucketsSql("e", "nwb")},
       |${graphCtes("nw", "e", "nwb")},
       |${entrySearchCtes("bk", "nwedges", "bkranked", queryPred = "TRUE")}
       |SELECT query_id, neighbor_id, rank, floor(cos * 10000 + 0.5) / 10000.0 AS cosine
       |FROM bkranked WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** Bulk NN-descent oracle: the same unrolled NND build, beam query set
    * widened to the whole corpus — CTE machinery shared with
    * `ann_nsw_nnd_search` exactly as the NSW bulk shares its parent's. */
  val nndBulkSearchSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${nnDescentGraphCtes("ng", "e")},
       |${entrySearchCtes("nb", "ngedges", "nbranked", queryPred = "TRUE")}
       |SELECT query_id, neighbor_id, rank, floor(cos * 10000 + 0.5) / 10000.0 AS cosine
       |FROM nbranked WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** Bulk hierarchy oracle: same layer CTEs, query set = whole corpus. */
  val hnswBulkSearchSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${Similarity.multitableBucketsSql("e", "nwb")},
       |${searchCtes("nwb")},
       |${hnswCtes("nwb", "nwedges", queryPred = "TRUE")}
       |SELECT query_id, neighbor_id, rank, floor(cos * 10000 + 0.5) / 10000.0 AS cosine
       |FROM hnswranked WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  // -------------------------------------------- index-build summary oracles
  //
  // The `index_build_*` queries (IndexBuild) verify the PERSISTED artifact
  // itself: the oracle rebuilds the same graph from scratch in DuckDB and
  // compares edge/source counts — a stale or corrupted store artifact
  // cannot hash-match a fresh rebuild.

  private def edgeSummarySql(withBlocks: String, edgesRel: String): String =
    s"""WITH $withBlocks
       |SELECT count(*) AS edge_count, count(DISTINCT src) AS src_count
       |FROM $edgesRel""".stripMargin

  val nswBuildSql: String = edgeSummarySql(
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${Similarity.multitableBucketsSql("e", "nwb")},
       |${graphCtes("nw", "e", "nwb")}""".stripMargin, "nwedges")

  val hnswL1BuildSql: String = edgeSummarySql(
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${Similarity.multitableBucketsSql("e", "nwb")},
       |he1 AS (SELECT vec_id, v FROM e WHERE vec_id % $SampleMod = 0),
       |h1b AS (SELECT vec_id, t, bucket FROM nwb WHERE vec_id % $SampleMod = 0),
       |${graphCtes("h1", "he1", "h1b", SampleMod)}""".stripMargin, "h1edges")

  val nndBuildSql: String = edgeSummarySql(
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${nnDescentGraphCtes("ng", "e")}""".stripMargin, "ngedges")

  /** `index_build_nsw_cell`'s mirror: the FULL k-means training replay
    * (afinal), then the cell-blocked build. */
  val nswCellBuildSql: String = edgeSummarySql(
    s"""${IvfKMeans.trainingSql},
       |$cellGraphCtes""".stripMargin, "ncedges")

  /** `ann_nsw_cell_search`'s mirror: the same replay + beam search. */
  val nswCellSearchSql: String =
    s"""WITH ${IvfKMeans.trainingSql},
       |$cellSearchCtes
       |SELECT query_id, neighbor_id, rank, floor(cos * 10000 + 0.5) / 10000.0 AS cosine
       |FROM nccranked WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** CTE block (no WITH): [[searchWithRoutedEntries]]'s routing as SQL —
    * nearest-[[RouteProbeCells]] centroids per query by cosine (zero-norm
    * guard → 0.0, ties → lowest cluster, replaying the driver-side
    * routing arithmetic exactly), each chosen (query, cell) seeding the
    * cell's [[Entries]] members nearest the query (cosine desc, vec_id
    * tiebreak — the same NaN-first window semantics as the beam; query
    * self-match excluded before ranking) — scored into `${p}s0` for the
    * shared beam CTEs. Assumes `e`, `afinal`, and the final-centroid CTE
    * from [[IvfKMeans.trainingSql]] in scope. */
  private def routedSeedCtes(p: String): String =
    s"""${p}route AS (
       |  SELECT query_id, cluster FROM (
       |    SELECT q.vec_id AS query_id, c.cluster,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |             (CASE WHEN list_dot_product(q.v, q.v) = 0 OR list_dot_product(c.cv, c.cv) = 0
       |                   THEN 0.0
       |                   ELSE list_dot_product(q.v, c.cv)
       |                        / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.cv, c.cv))) END) DESC,
       |             c.cluster) AS rn
       |    FROM e q CROSS JOIN ${IvfKMeans.finalCentroidsRel} c WHERE q.vec_id < 5)
       |  WHERE rn <= $RouteProbeCells),
       |${p}members AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT r.query_id, a.vec_id,
       |           row_number() OVER (PARTITION BY r.query_id, r.cluster ORDER BY
       |             ${cosSql("a.v", "qv.v")} DESC,
       |             a.vec_id) AS rn
       |    FROM ${p}route r
       |    JOIN afinal a ON a.cluster = r.cluster
       |    JOIN e qv ON qv.vec_id = r.query_id
       |    WHERE a.vec_id <> r.query_id)
       |  WHERE rn <= $Entries),
       |${p}ids0 AS (
       |  SELECT DISTINCT query_id, vec_id AS node_id FROM ${p}members),
       |${scoreSql(s"${p}ids0", s"${p}s0")}""".stripMargin

  /** `ann_nsw_routed_search`'s mirror: full k-means replay, cell-local
    * graph build, ROUTED entry seeding, then the identical unrolled beam
    * rounds over `ncedges`. */
  val nswRoutedSearchSql: String =
    s"""WITH ${IvfKMeans.trainingSql},
       |$cellGraphCtes,
       |${routedSeedCtes("rt")},
       |${beamCtes("rt", "ncedges", Hops, Beam)},
       |rtranked AS (
       |  SELECT query_id, node_id AS neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, node_id) AS rank
       |  FROM rts$Hops)
       |SELECT query_id, neighbor_id, rank, floor(cos * 10000 + 0.5) / 10000.0 AS cosine
       |FROM rtranked WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_nsw_search" -> nswSearch,
    "ann_nsw_cell_search" -> nswCellSearch,
    "ann_nsw_routed_search" -> nswRoutedSearch,
    "ann_hnsw_search" -> hnswSearch,
    "ann_nsw_nnd_search" -> nndSearch,
    "ann_nsw_bulk" -> bulkSearch,
    "ann_hnsw_bulk" -> hnswBulkSearch,
    "ann_nnd_bulk" -> nndBulkSearch
  )

  val oracles: Map[String, String] = Map(
    "ann_nsw_search" -> nswSearchSql,
    "ann_nsw_cell_search" -> nswCellSearchSql,
    "ann_nsw_routed_search" -> nswRoutedSearchSql,
    "ann_hnsw_search" -> hnswSearchSql,
    "ann_nsw_nnd_search" -> nndSearchSql,
    "ann_nsw_bulk" -> bulkSearchSql,
    "ann_hnsw_bulk" -> hnswBulkSearchSql,
    "ann_nnd_bulk" -> nndBulkSearchSql
  )
}
