package e2ebench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Zipf(s) sampler over ranks 0 until n (rank 0 most popular). */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  def sample(rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Documents and embeddings in the engine's table layout
  * (`documents.parquet`, `embeddings.parquet`), kept in memory as well so
  * the benchmark can compute expected answers without asking the engine. */
final case class Corpus(
    docIds: Array[Long], texts: Array[String], langs: Array[String],
    nChars: Array[Long], vecIds: Array[Long], vecs: Array[Array[Float]],
    labels: Array[Int]) {

  def write(spark: SparkSession, dir: String): Unit = {
    val docs = docIds.indices.map(i =>
      Row(docIds(i), texts(i), langs(i), s"src${docIds(i) % 20}", nChars(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 4), Inputs.DocSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val embs = vecIds.indices.map(i =>
      Row(vecIds(i), vecs(i).toSeq, labels(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(embs, 4), Inputs.EmbSchema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Order-independent digest of the generated rows, for the
    * same-seed/different-seed determinism check. */
  def digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    docIds.indices.foreach(i => md.update(s"${docIds(i)}|${texts(i)}|${langs(i)}|${nChars(i)}\n".getBytes("UTF-8")))
    vecIds.indices.foreach { i =>
      md.update(s"${vecIds(i)}|${labels(i)}|".getBytes("UTF-8"))
      vecs(i).foreach(f => md.update(java.nio.ByteBuffer.allocate(4).putFloat(f).array()))
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}

/** Seeded input generators. Every draw comes from one SplittableRandom per
  * input, so a seed fixes the inputs exactly. */
object Inputs {
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))
  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  val Dim = 64
  /** Zipf exponent for query strings, target ids and upsert keys. */
  val ZipfS = 1.1

  /** The word list: the engine fixtures' vocabulary plus generated
    * syllable words, drawn with Zipf frequency so some words are common. */
  val Vocab: Array[String] = {
    val base = Seq("the", "a", "batch", "part", "spark", "line", "column", "order",
      "small", "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
      "filter", "query", "big", "key", "row", "window", "stream", "merge", "data",
      "table", "join", "vector", "customer")
    val syl = Seq("ka", "lo", "mi", "ner", "sto", "val", "qui", "dra", "ben", "tor",
      "zel", "pha", "rin", "gus", "mor", "tex")
    val gen = for (a <- syl; b <- syl; c <- Seq("", "n", "s", "x")) yield a + b + c
    (base ++ gen).distinct.toArray
  }
  private val wordZipf = new Zipf(Vocab.length, 1.0)

  private def text(rng: SplittableRandom): String = {
    val n = 8 + rng.nextInt(73)
    Iterator.fill(n)(Vocab(wordZipf.sample(rng))).mkString(" ")
  }

  private def langOf(rng: SplittableRandom): String = {
    val u = rng.nextDouble()
    if (u < 0.40) "en" else if (u < 0.55) "zh" else if (u < 0.70) "es"
    else if (u < 0.85) "fr" else "de"
  }

  /** Unit vector near one of `clusters` random centroids. */
  private def clustered(rng: SplittableRandom, centroids: Array[Array[Double]],
      c: Int, noise: Double): Array[Float] = {
    val v = Array.tabulate(Dim)(j => centroids(c)(j) + noise * rng.nextGaussian())
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }

  private def centroids(rng: SplittableRandom, k: Int): Array[Array[Double]] =
    Array.fill(k) {
      val c = Array.fill(Dim)(rng.nextGaussian())
      val n = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / n)
    }

  /** Distinct base texts (a collision would plant an extra duplicate). */
  private def distinctTexts(rng: SplittableRandom, n: Int): Array[String] = {
    val seen = new java.util.HashSet[String]()
    val out = Array.newBuilder[String]
    while (seen.size < n) {
      val t = text(rng)
      if (seen.add(t)) out += t
    }
    out.result()
  }

  /** The serving corpus: `n` games, `embShare` of them with an embedding
    * (no orphan embeddings), `zeroPlayerShare` with a 0 player count. The
    * engine's games view adds the tri-state description and null player
    * counts by universeId residue. */
  def games(seed: Long, n: Int, embShare: Double = 0.9,
      zeroPlayerShare: Double = 0.03): Corpus = {
    val rng = new SplittableRandom(seed ^ 0x6a09e667L)
    val texts = distinctTexts(rng, n)
    val nChars = texts.map(t => if (rng.nextDouble() < zeroPlayerShare) 0L else t.length.toLong)
    val langs = Array.fill(n)(langOf(rng))
    val cs = centroids(rng, 32)
    val embedded = (0 until n).filter(_ => rng.nextDouble() < embShare).map(_.toLong).toArray
    val labels = embedded.map(_ => rng.nextInt(cs.length))
    val vecs = labels.map(c => clustered(rng, cs, c, 0.12))
    Corpus(Array.tabulate(n)(_.toLong), texts, langs, nChars, embedded, vecs, labels)
  }

  /** The datagen corpus: `n` documents of which `exactShare` are exact
    * copies and `nearShare` one-word edits of earlier distinct documents,
    * and `embFraction × n` embeddings of which `nearVecShare` are
    * near-copies of earlier vectors. Returns the corpus and the planted
    * exact-duplicate count. */
  def documents(seed: Long, n: Int, exactShare: Double, nearShare: Double,
      embFraction: Double, nearVecShare: Double): (Corpus, Int) = {
    val rng = new SplittableRandom(seed ^ 0x3c6ef372L)
    val nExact = (n * exactShare).toInt
    val nNear = (n * nearShare).toInt
    val nBase = n - nExact - nNear
    val base = distinctTexts(rng, nBase)
    val baseSet = new java.util.HashSet[String](java.util.Arrays.asList(base: _*))
    // each planted exact copy duplicates a DIFFERENT original
    val exactSrc = permutation(rng, nBase).take(nExact)
    val exact = exactSrc.map(base(_))
    val near = Array.fill(nNear) {
      var t = ""
      while (t.isEmpty || baseSet.contains(t)) {
        val w = base(rng.nextInt(nBase)).split(" ")
        w(rng.nextInt(w.length)) = Vocab(rng.nextInt(Vocab.length))
        t = w.mkString(" ")
      }
      baseSet.add(t)
      t
    }
    val all = base ++ exact ++ near
    val order = permutation(rng, all.length)
    val texts = order.map(all(_))
    val langs = Array.fill(n)(langOf(rng))
    val nVec = (n * embFraction).toInt
    val cs = centroids(rng, 16)
    val labels = Array.fill(nVec)(rng.nextInt(cs.length))
    val vecs = new Array[Array[Float]](nVec)
    labels.indices.foreach { i =>
      vecs(i) =
        if (i > 0 && rng.nextDouble() < nearVecShare) {
          val src = vecs(rng.nextInt(i))
          val v = src.map(x => x + (0.003 * rng.nextGaussian()).toFloat)
          val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
          v.map(x => (x / norm).toFloat)
        } else clustered(rng, cs, labels(i), 0.25)
    }
    (Corpus(Array.tabulate(n)(_.toLong), texts, langs, texts.map(_.length.toLong),
      Array.tabulate(nVec)(_.toLong), vecs, labels), nExact)
  }

  /** A random permutation of `0 until n` (Fisher–Yates). */
  def permutation(rng: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    (n - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

}
