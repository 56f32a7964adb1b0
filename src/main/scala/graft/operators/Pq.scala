package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.functions.VectorFunctions
import graft.functions.OracleParity.pround

/** Product quantization ANN (the PQ/ADC construction of Jégou, Douze,
  * Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
  * split each 64-dim vector into M=4 subspaces of 16 dims, train a K=16
  * codebook per subspace (deterministic Lloyd — fixed init = the first K
  * vectors' subvectors, one refinement iteration, the same DECIMAL-mean /
  * L2-identity / tie-break engineering as [[IvfKMeans]]), and store each
  * vector as 4 one-byte codes. Search is ASYMMETRIC distance computation:
  * the exact query subvectors are dotted against each codebook once
  * (M·K = 64 lookup rows per query), and every corpus vector's approximate
  * cosine is a sum of 4 table lookups — no per-vector float work at all.
  *
  * Scale shape: codes are 4 ints per vector (a 16× compression of the
  * 64-float payload); the scoring join shuffles only
  * (vec_id, query_id, scalar) rows — no vectors in any exchange — and the
  * per-query top-k is a window over the scored set. At 100 TB the codes
  * table IS the index: a full ADC scan reads 4 bytes a vector, and the
  * codebooks (M·K·16 doubles) broadcast anywhere.
  *
  * Determinism: training replays bit-for-bit in DuckDB (same init, same
  * decimal means, same (v·v − 2v·c) + c·c distance order, ties → lowest
  * code), the ADC sum adds the 4 subspace terms in fixed order in both
  * engines, so `ann_pq_adc` is fully hash-checked — recall measured
  * against the brute-force truth lands in `ann_recall` like every other
  * approximate path.
  */
object Pq {

  private[operators] val M = 4
  private[operators] val SubDim = 16
  private[operators] val Dim = M * SubDim
  private[graft] val Codes = 16
  private val Iterations = 1

  /** Per-subspace codebook ceiling: 256 codes = the one-byte codes of
    * Jégou et al.'s reference configuration — past it the code stops
    * fitting the "4 bytes per vector" ADC storage shape this family
    * exists for, and the broadcast LUT starts growing noticeably. */
  private[graft] val MaxCodes = 256

  /** Subspace-count ceiling: 16 subspaces of 4 dims each — below 4 dims per
    * subspace the per-subspace geometry carries too little signal for a
    * codeword to mean anything, and the measured curve
    * (graft.tools.PqDialSweep @ c6e9ec7) already flattens between 96 and 128
    * bits. */
  private[graft] val MaxM = 16

  /** Size-derived (M, K) code dials — the dial the ×10 recall probe proved
    * missing (round-10 verdict #2: with M×K pinned at 4×16 the total code space
    * is 16⁴ ≈ 65 k cells, so at ×10 the corpus outnumbers the cells and
    * quantization error doubles — pq_adc recall 0.24 → 0.11), SHAPED by the
    * round-11 sweep (graft.tools.PqDialSweep @ c6e9ec7): growing K alone is
    * nearly flat (error ∝ K^(−2/d), d=16 — measured 0.067 → 0.044 at ×10 going
    * K 16→256), while growing the total code BUDGET through both dials is
    * strongly monotone (×10 recall 0.067 @16 bits → 0.156 @48 → 0.333 @96 →
    * 0.400 @128). So the corpus doublings past fixture scale split between the
    * two dials — M doubles on the odd doublings (capped [[MaxM]]), K on the
    * even ones (capped [[MaxCodes]]), and once M caps its remaining doublings
    * SPILL into K (the ×100 sweep measured the spill worth +0.22 recall: 16×128
    * reads 0.400, 16×256 reads 0.622 on the 200 k corpus): fixture → 4×16 (16
    * bits), ×10 → 16×64 (96 bits, recall 3× the pinned-dial base), ×100 →
    * 16×256 (128 bits). Lands exactly on the pinned 4×16 at every oracle
    * fixture size (N ≤ 2000), so the hash-gated queries and their DuckDB
    * mirrors (which unroll M and K at SQL-generation time) replay unchanged.
    * Training cost scales with N·M·K — the build-side price, measured in
    * SCALING.md. */
  private[graft] def sizedDials(n: Long): (Int, Int) = {
    val d = SizingPolicy.doublings(n, SizingPolicy.FixtureMaxN.toDouble)
    val mDoublings = (d + 1) / 2
    val mCapDoublings = Integer.numberOfTrailingZeros(MaxM / M) // 4 → 16: 2
    val spill = math.max(0, mDoublings - mCapDoublings)
    (math.min(MaxM, M << mDoublings),
      math.min(MaxCodes, Codes << (d / 2 + spill)))
  }

  private def vectors(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v"))

  private def sub(v: Column, m: Int): Column = subD(v, m, SubDim)

  private def subD(v: Column, m: Int, subDim: Int): Column =
    slice(v, m * subDim + 1, subDim)

  /** Train ALL M codebooks together: init is one collect of the first
    * `Codes` vectors (sliced driver-side), and each Lloyd step is ONE pass
    * over the corpus — M codegen'd argmin kernels in one projection,
    * exploded to (m, code, sv) and updated by a single (m, code) grouped
    * DECIMAL-mean aggregation. Per-subspace sequential training would run
    * ~3 driver-synchronized jobs per subspace; this shape runs 1 + 1 per
    * iteration total, and the means are the same numbers the oracle's
    * per-subspace groupings produce (identical rows, identical decimal
    * sums). M·Codes·SubDim doubles on the driver — the same legitimate
    * boundary as k-means centroids. */
  private[graft] def trainCodebooks(e: DataFrame): Seq[Seq[(Int, Array[Double])]] =
    trainCodebooksK(e, Codes)

  /** [[trainCodebooks]] at the size-derived (M, K) dials — the STORED
    * default for the codebook artifacts (pinned 4×16 at every oracle
    * fixture, a bigger code budget as the corpus outgrows the code
    * space). One count() on the cached frame, as every sized dial pays. */
  private[graft] def trainCodebooksSized(e: DataFrame): Seq[Seq[(Int, Array[Double])]] = {
    val (m, k) = sizedDials(e.count())
    trainCodebooksMK(e, m, k)
  }

  private[graft] def trainCodebooksK(e: DataFrame, codes: Int): Seq[Seq[(Int, Array[Double])]] =
    trainCodebooksMK(e, M, codes)

  /** Fully dialed trainer: `mCount` subspaces of 64/mCount dims, `codes`
    * codewords each — the (M, K) sweep instrument (the round-11 ×10
    * measurement showed K alone does NOT move recall: quantization error
    * in a 16-dim subspace scales as K^(−2/16), so code-count growth is
    * nearly flat — subspace COUNT is the dial with leverage, error
    * ∝ K^(−2·M/64) at fixed per-subspace K). */
  private[graft] def trainCodebooksMK(
      e: DataFrame, mCount: Int, codes: Int): Seq[Seq[(Int, Array[Double])]] = {
    val subDim = Dim / mCount
    val init = e.filter(col("vec_id") < codes).orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray))
    var cbs: Seq[Seq[(Int, Array[Double])]] = (0 until mCount).map(m =>
      init.map { case (id, arr) => (id, arr.slice(m * subDim, (m + 1) * subDim)) }.toSeq)
    for (_ <- 0 until Iterations) {
      val assigned = e.select(explode(array((0 until mCount).map(m =>
          struct(lit(m).as("m"),
            graft.functions.NearestCentroid.column(subD(col("v"), m, subDim), cbs(m)).as("code"),
            subD(col("v"), m, subDim).as("sv"))): _*)).as("a"))
        .select(col("a.m").as("m"), col("a.code").as("code"), col("a.sv").as("sv"))
      val sums = (0 until subDim).map(p =>
        sum(element_at(col("sv"), p + 1).cast("decimal(30,12)")).as(s"s_$p"))
      val rows = assigned.groupBy(col("m"), col("code"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
      cbs = (0 until mCount).map(m => rows.filter(_.getInt(0) == m).map { r =>
        val n = r.getLong(2)
        (r.getInt(1), Array.tabulate(subDim)(p => r.getDecimal(p + 3).doubleValue() / n))
      }.toSeq)
    }
    cbs
  }

  /** Add the M code columns to any frame carrying `v` — one map-side pass,
    * M codegen'd argmin kernels. */
  private[operators] def withCodes(df: DataFrame, cbs: Seq[Seq[(Int, Array[Double])]]): DataFrame = {
    // subspace geometry derives from the codebooks themselves, so a stored
    // artifact with a different M serves through the same code unchanged
    val subDim = cbs.head.head._2.length
    df.select(df.columns.map(col) ++ cbs.indices.map(m =>
      graft.functions.NearestCentroid.column(subD(col("v"), m, subDim), cbs(m)).as(s"code_$m")): _*)
  }

  private[operators] def explodeCodes(df: DataFrame, keep: Seq[String],
      mCount: Int = M): DataFrame =
    df.select(keep.map(col) :+
      explode(array((0 until mCount).map(m =>
        struct(lit(m).as("m"), col(s"code_$m").as("code"))): _*)).as("mc"): _*)
      .select(keep.map(col) :+ col("mc.m").as("m") :+ col("mc.code").as("code"): _*)

  /** The ADC lookup table: M·K rows of (query_id, m, code, q·c, ‖c‖², ‖q‖)
    * — tiny, broadcast at every use site. */
  private[operators] def qlutFor(
      e: DataFrame, cbs: Seq[Seq[(Int, Array[Double])]]): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val lut = cbs.zipWithIndex.flatMap { case (cb, m) =>
      cb.map { case (code, arr) => (m, code, arr.toSeq) }
    }.toDF("m", "code", "cvec")
      .withColumn("cnorm2", VectorFunctions.dot(col("cvec"), col("cvec")))
    val subDim = cbs.head.head._2.length
    e.filter(col("vec_id") >= 0 && col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        sqrt(VectorFunctions.dot(col("v"), col("v"))).as("qnorm"))
      .crossJoin(lut)
      .withColumn("qdot", VectorFunctions.dot(
        slice(col("qv"), col("m") * subDim + 1, lit(subDim)), col("cvec")))
      .select(col("query_id"), col("qnorm"), col("m"), col("code"),
        col("qdot"), col("cnorm2"))
  }

  /** Pivot a (query_id, vec_id, qnorm, m, qdot, cnorm2) term set to the M
    * subspace columns, add in FIXED order (a plain sum() over doubles would
    * be partition-order-dependent), score, and rank top-3 per query. */
  private[operators] def adcRank(terms: DataFrame, mCount: Int = M): DataFrame = {
    val pivots =
      (0 until mCount).map(m => max(when(col("m") === m, col("qdot"))).as(s"qd_$m")) ++
        (0 until mCount).map(m => max(when(col("m") === m, col("cnorm2"))).as(s"cn_$m"))
    val g = terms.groupBy(col("query_id"), col("vec_id"), col("qnorm"))
      .agg(pivots.head, pivots.tail: _*)
    val qdSum = (0 until mCount).map(m => col(s"qd_$m")).reduce(_ + _)
    val cnSum = (0 until mCount).map(m => col(s"cn_$m")).reduce(_ + _)
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("vec_id"))
    g.withColumn("cos", qdSum / (col("qnorm") * sqrt(cnSum)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), pround(col("cos"), 4).as("approx_cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Top-3 per query by ADC-approximated cosine over the FULL corpus:
    * cos(q, v̂) = Σ_m q_m·c_m[code_m] / (‖q‖ · sqrt(Σ_m ‖c_m[code_m]‖²)). */
  def pqSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = vectors(spark, dir)
    searchOn(e, graft.tools.CacheRegistry.sharedObject(s"pq-codebooks:$dir")(
      graft.tools.IndexStore.readOrBuildCodebooks(spark, dir, "pq-codebooks")(
        trainCodebooksSized(e))))
  }

  /** Table-injected form — shared with the recall harness so the codebooks
    * train once per plan, like the IVF training (the harness compares
    * search policies, not training runs). */
  private[operators] def searchOn(
      e: DataFrame, codebooks: Seq[Seq[(Int, Array[Double])]]): DataFrame = {
    val codeRows = explodeCodes(withCodes(e, codebooks).drop("v"), Seq("vec_id"),
      codebooks.length)
    val terms = codeRows.join(broadcast(qlutFor(e, codebooks)), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
    adcRank(terms, codebooks.length)
  }

  // ------------------------------------------------------------- oracle SQL

  private def assignSql(eRel: String, cRel: String, out: String): String =
    s"""$out AS (
       |  SELECT vec_id, sv, code FROM (
       |    SELECT e.vec_id, e.sv, c.code,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             (list_dot_product(e.sv, e.sv) - 2.0 * list_dot_product(e.sv, c.cv)
       |              + list_dot_product(c.cv, c.cv)), c.code) AS rn
       |    FROM $eRel e CROSS JOIN $cRel c)
       |  WHERE rn = 1)""".stripMargin

  private def updateSql(aRel: String, out: String): String =
    s"""${out}_m AS (
       |  SELECT code, p.pos AS pos,
       |         CAST(sum(CAST(sv[p.pos] AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS mu
       |  FROM $aRel CROSS JOIN (SELECT unnest(generate_series(1, $SubDim)) AS pos) p
       |  GROUP BY code, p.pos),
       |$out AS (
       |  SELECT code, array_agg(mu ORDER BY pos) AS cv
       |  FROM ${out}_m GROUP BY code)""".stripMargin

  /** CTE block (no WITH): subspace training over `src(vec_id, v)`, code
    * assignments, codebook lookup table, and the per-query ADC lookup
    * table — the reusable scaffolding shared by plain PQ, IVFPQ, and the
    * residual-encoded IVFADC. Training-step CTEs are prefixed `tp`; the
    * four output CTEs are `${op}codes`, `${op}lut`, `${op}q`, `${op}qlut`.
    * The query CTE always reads raw `e`: IVFADC scores the RAW query
    * against centroid + residual codewords (q·v̂ = q·c + Σ q_m·r_m), so
    * qdot uses raw query subvectors even when `src` is the residual
    * table. */
  private[operators] def lutCtes(src: String, tp: String, op: String): String = {
    val perSub = (0 until M).map { m =>
      val lo = m * SubDim + 1; val hi = (m + 1) * SubDim
      val steps = (1 to Iterations).map { i =>
        val prevC = if (i == 1) s"${tp}c${m}_0" else s"${tp}c${m}_${i - 1}"
        assignSql(s"${tp}s$m", prevC, s"${tp}a${m}_$i") + ",\n" +
          updateSql(s"${tp}a${m}_$i", s"${tp}c${m}_$i")
      }.mkString(",\n")
      s"""${tp}s$m AS (SELECT vec_id, v[$lo:$hi] AS sv FROM $src),
         |${tp}c${m}_0 AS (SELECT CAST(vec_id AS INTEGER) AS code, sv AS cv
         |             FROM ${tp}s$m WHERE vec_id < $Codes),
         |$steps,
         |${assignSql(s"${tp}s$m", s"${tp}c${m}_$Iterations", s"${tp}f$m")}""".stripMargin
    }.mkString(",\n")
    val codesUnion = (0 until M)
      .map(m => s"SELECT vec_id, $m AS m, code FROM ${tp}f$m").mkString("\n  UNION ALL\n  ")
    val lutUnion = (0 until M)
      .map(m => s"SELECT $m AS m, code, cv FROM ${tp}c${m}_$Iterations").mkString("\n  UNION ALL\n  ")
    s"""$perSub,
       |${op}codes AS (
       |  $codesUnion),
       |${op}lut AS (
       |  SELECT m, code, cv, list_dot_product(cv, cv) AS cnorm2 FROM (
       |  $lutUnion)),
       |${op}q AS (SELECT vec_id AS query_id, v AS qv, sqrt(list_dot_product(v, v)) AS qnorm
       |        FROM e WHERE vec_id < 5),
       |${op}qlut AS (
       |  SELECT q.query_id, q.qnorm, l.m, l.code,
       |         list_dot_product(q.qv[(l.m * $SubDim + 1):((l.m + 1) * $SubDim)], l.cv) AS qdot,
       |         l.cnorm2
       |  FROM ${op}q q CROSS JOIN ${op}lut l)""".stripMargin
  }

  /** CTE block (no WITH): subspace training, codes, lookup table, ADC
    * scoring → `pqranked`. Assumes `e(vec_id, v)` is in scope — shared
    * with the recall harness's oracle, all names pq-prefixed. */
  private[operators] val recallCtes: String = {
    val qd = (0 until M).map(m => s"max(CASE WHEN ql.m = $m THEN qdot END) AS qd_$m").mkString(",\n         ")
    val cn = (0 until M).map(m => s"max(CASE WHEN ql.m = $m THEN cnorm2 END) AS cn_$m").mkString(",\n         ")
    val qdSum = (0 until M).map(m => s"qd_$m").mkString(" + ")
    val cnSum = (0 until M).map(m => s"cn_$m").mkString(" + ")
    s"""${lutCtes("e", "p", "pq")},
       |pqg AS (
       |  SELECT ql.query_id, c.vec_id AS neighbor_id, ql.qnorm,
       |         $qd,
       |         $cn
       |  FROM pqcodes c JOIN pqqlut ql ON c.m = ql.m AND c.code = ql.code
       |  WHERE c.vec_id <> ql.query_id
       |  GROUP BY ql.query_id, c.vec_id, ql.qnorm),
       |pqscored AS (
       |  SELECT query_id, neighbor_id,
       |         ($qdSum) / (qnorm * sqrt($cnSum)) AS cos
       |  FROM pqg),
       |pqranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM pqscored)""".stripMargin
  }

  val pqSearchSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$recallCtes
       |SELECT query_id, neighbor_id, rank,
       |       floor(cos * 10000 + 0.5) / 10000.0 AS approx_cosine
       |FROM pqranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_pq_adc" -> pqSearch
  )

  val oracles: Map[String, String] = Map(
    "ann_pq_adc" -> pqSearchSql
  )
}
