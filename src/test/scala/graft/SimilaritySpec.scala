package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("cosine(v, v) == 1 and symmetry") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(0.5f, -0.5f, 2.0f), Array(-1.0f, 4.0f, 0.25f))
    ).toDF("a", "b")
    val rows = df.select(
      cosineSimilarity(col("a"), col("a")).as("aa"),
      cosineSimilarity(col("a"), col("b")).as("ab"),
      cosineSimilarity(col("b"), col("a")).as("ba")).collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      assert(r.getDouble(1) === r.getDouble(2)) // exact: same fold both ways
    }
  }

  test("zero vector yields NaN, matching the reference's unguarded division") {
    val df = Seq((Array(0.0f, 0.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    val v = df.select(cosineSimilarity(col("a"), col("b"))).head().getDouble(0)
    assert(v.isNaN)
  }

  test("popularity factor is bounded in [0.8, 1.0] and null-safe") {
    val df = Seq(Some(0L), Some(50L), Some(100L), Some(500L), Some(100000L), None)
      .toDF("playerCount")
    val vals = df.select(popularityFactor(col("playerCount"))).collect().map(_.getDouble(0))
    assert(vals.forall(v => v >= 0.8 && v <= 1.0))
    assert(vals(0) === 0.8)  // pc=0
    assert(vals(1) === 0.9)  // 50/500 = 0.1
    assert(vals(3) === 1.0)  // capped
    assert(vals(5) === 0.8)  // null → 0
  }

  test("codegen cosine expression is bit-identical to the built-in fold") {
    val emb = graft.io.Tables.embeddings(spark, SparkTestSession.Sf0001).limit(200)
    val pairs = emb.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .crossJoin(emb.select(col("vec_id").as("b_id"), col("embedding").as("b")))
      .filter(col("a_id") < col("b_id")).limit(5000)
    val mismatches = pairs.select(
      cosineSimilarity(col("a"), col("b")).as("fast"),
      foldCosineSimilarity(col("a"), col("b")).as("fold"))
      .filter(col("fast") =!= col("fold")).count()
    assert(mismatches === 0L)

    // the plain kernel, the interpreted expression and the generated code
    // agree bit for bit (NaN compared as NaN) on random, zero and
    // mismatched-length inputs
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.functions.CosineSimilarity
    val arrays = ArrayType(DoubleType, containsNull = false)
    val expr = CosineSimilarity(
      BoundReference(0, arrays, nullable = true), BoundReference(1, arrays, nullable = true))
    val generated = GenerateUnsafeProjection.generate(Seq(expr))
    val rng = new scala.util.Random(7)
    val random = Seq.fill(40)(Array.fill(64)(rng.nextGaussian()))
    val zero = Array.fill(64)(0.0)
    val inputs = random.zip(random.tail) ++ Seq(
      (zero, random.head), (random.head, zero), (zero, zero),
      (Array(1.0, 2.0, 3.0), random.head), (random.head, Array(1.0, 2.0, 3.0)),
      (Array.emptyDoubleArray, Array.emptyDoubleArray),
      (Array(Double.NaN, 1.0), Array(1.0, 1.0)))
    inputs.foreach { case (x, y) =>
      val row = InternalRow(ArrayData.toArrayData(x), ArrayData.toArrayData(y))
      val plain = java.lang.Double.doubleToLongBits(CosineSimilarity.cosine(x, y))
      assert(java.lang.Double.doubleToLongBits(expr.eval(row).asInstanceOf[Double]) === plain)
      assert(java.lang.Double.doubleToLongBits(generated(row).getDouble(0)) === plain)
    }
  }

  test("text-match kernel, interpreted and generated expression agree; f6 plans codegen'd") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.TextMatch
    val text = (i: Int) => BoundReference(i, StringType, nullable = true)
    val expr = TextMatch(text(0), text(1), text(2), text(3),
      BoundReference(4, ArrayType(StringType, containsNull = false), nullable = true))
    val generated = GenerateUnsafeProjection.generate(Seq(expr))
    val rng = new scala.util.Random(5)
    val tokens = Seq("ab", "ba", "a", "é", "σ", "ς", "i̇", "😀", "")
    def phrase(): String =
      Seq.fill(rng.nextInt(4))(tokens(rng.nextInt(tokens.length))).mkString(" ")
    val random = Seq.fill(400)((phrase(), phrase(), phrase(), phrase()))
    val edges = Seq(
      ("", "", "", "ab"), ("", "", "", ""), ("ab ba", "", "", "ab ba"), ("ab ba", "", "", "ab"),
      (null, "ab", "ab", "ab"), ("é σ", "σ é ς", "", "ς é"), ("x", "ab ab", "ba", "ab ab"),
      ("x", "", "i̇ 😀", "😀 i̇"), ("x", "y", "z", "zz"))
    val bits = java.lang.Double.doubleToLongBits _
    def read(r: InternalRow) = Option(r).map(h => (h.getUTF8String(0).toString, bits(h.getDouble(1))))
    (random ++ edges).foreach { case (n, d, g, q0) =>
      val q = TextMatch.normalizeQuery(q0)
      val Seq(nu, du, gu, qu) = Seq(n, d, g, q).map(UTF8String.fromString)
      val words = ArrayData.toArrayData(TextMatch.queryWords(q).map(UTF8String.fromString).toArray)
      val plain = Option(TextMatch.score(nu, du, gu, qu, words))
        .map(h => (h.matchType.toString, bits(h.base)))
      val row = InternalRow(nu, du, gu, qu, words)
      assert(read(expr.eval(row).asInstanceOf[InternalRow]) === plain, (n, d, g, q))
      val out = generated(row)
      assert(read(if (out.isNullAt(0)) null else out.getStruct(0, 2)) === plain, (n, d, g, q))
    }

    // every f6 plan evaluates the expression inside whole-stage codegen
    object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val matching = (p: org.apache.spark.sql.execution.SparkPlan) =>
      p.expressions.exists(_.exists(_.isInstanceOf[TextMatch]))
    graft.operators.TextSearch.queries.foreach { case (name, q) =>
      val df = q(spark, SparkTestSession.Sf0001)
      df.collect() // settles the adaptive plan
      val plan = df.queryExecution.executedPlan
      val all = Aqe.collect(plan) { case p if matching(p) => p }
      val codegend = Aqe.collect(plan) { case w: WholeStageCodegenExec => w }
        .flatMap(w => Aqe.collect(w.child) { case p if matching(p) => p })
      assert(all.nonEmpty && all.forall(p => codegend.exists(_ eq p)), s"$name:\n$plan")
    }
  }

  test("driver-side pround equals the Column pround on NaN, signed zeros and half-cents") {
    import graft.functions.OracleParity.pround
    val edges = Seq(Double.NaN, 0.0, -0.0, 0.005, -0.005, 0.015, -0.015, 0.125, 0.135,
      0.995, 1.005, -1.005, 2.675, 12345.675, 0.994999999, 1e-300, -1e-300,
      Double.PositiveInfinity, Double.NegativeInfinity)
    val viaSpark = edges.toDF("x").select(pround(col("x"), 2)).collect().map(_.getDouble(0))
    edges.zip(viaSpark).foreach { case (x, s) =>
      assert(java.lang.Double.doubleToLongBits(pround(x, 2)) ===
        java.lang.Double.doubleToLongBits(s), s"pround($x, 2)")
    }
  }

  test("codegen hyperplane-bucket kernel is identical to the built-in fold, every table family") {
    val emb = graft.io.Tables.embeddings(spark, SparkTestSession.Sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // single-table family (mult=53, 8 planes) and every multitable family
    for ((mult, planes) <- Seq((53, 8)) ++ Seq(29, 37, 59, 73).map((_, 4))) {
      val mismatches = emb.select(
        hyperplaneBucketT(col("v"), mult, planes).as("fast"),
        foldHyperplaneBucketT(col("v"), mult, planes).as("fold"))
        .filter(col("fast") =!= col("fold")).count()
      assert(mismatches === 0L, s"bucket kernel diverges for mult=$mult planes=$planes")
    }
    // the multi-table single-pass form agrees with the per-table kernel
    val multi = emb.select(
      hyperplaneBucketsT(col("v"), Seq(29, 37, 59, 73), 4).as("all"),
      array(Seq(29, 37, 59, 73).map(m => hyperplaneBucketT(col("v"), m, 4)): _*).as("each"))
      .filter(col("all") =!= col("each")).count()
    assert(multi === 0L)
  }

  test("similar search: excludes target, returns k rows, scores descending") {
    val out = graft.operators.Similarity.similarSearch(spark, SparkTestSession.Sf0001).collect()
    assert(out.length === 10)
    assert(!out.exists(_.getLong(0) == 42L))
    val sims = out.map(_.getDouble(3))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("mmr rerank: relevance-first pick, then diversity strictly shapes the tail") {
    import org.apache.spark.sql.functions._
    val dir = SparkTestSession.Sf0001
    val out = graft.operators.Similarity.mmrRerank(spark, dir).collect()
    assert(out.length === 10)
    assert(out.map(_.getLong(0)).toSeq === (1L to 10L), "ranks contiguous")
    // pick 1 is the pure-relevance argmax: its rel must be the global max
    val rels = out.map(_.getDouble(4))
    assert(rels.head === rels.max, "first pick must be the most relevant")
    // mmr scores are non-increasing is NOT guaranteed by the algorithm,
    // but each score is λ·rel − γ·maxsim with maxsim ∈ [−1, 1] (cosine —
    // NEGATIVE when the pick is anti-correlated with the selected set),
    // so λ·rel − γ ≤ mmr ≤ λ·rel + γ; 1e-6 slack for the 6dp rounding
    out.foreach { r =>
      val (mmr, rel) = (r.getDouble(3), r.getDouble(4))
      assert(mmr <= 0.7 * rel + 0.3 + 1e-6 && mmr >= 0.7 * rel - 0.3 - 1e-6)
    }
    // the diversity property itself: the MMR set is no more self-similar
    // than the plain relevance top-10 (strictly less on this fixture)
    val emb = graft.io.Tables.gameEmbeddings(spark, dir)
      .select(col("universeId"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def maxPairSim(ids: Seq[Long]): Double =
      (for { a <- ids; b <- ids if a < b } yield cos(emb(a), emb(b))).max
    val mmrIds = out.map(_.getLong(1)).toSeq
    val topRelIds = graft.operators.Similarity.mmrPoolIds(spark, dir).take(10)
    assert(maxPairSim(mmrIds) <= maxPairSim(topRelIds) + 1e-9,
      "MMR must not be more redundant than the relevance top-k")
  }
}
