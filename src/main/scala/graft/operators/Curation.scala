package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.functions.OracleParity.pround
import graft.tools.CacheRegistry

/** Corpus-curation operators — the steps a training-data pipeline runs
  * between "deduplicated corpus" and "tokens on the trainer": deterministic
  * train/val/test splitting, seeded global shuffle into shards, fixed-budget
  * sequence packing, and BM25 retrieval for quality probes.
  *
  * Everything is seed-deterministic (md5-derived keys, never `rand()`), so a
  * 100 TB run is reproducible and resumable: re-running any stage on any
  * cluster layout yields byte-identical assignments — the property that makes
  * the DuckDB oracle possible is the same one that makes the pipeline safe to
  * re-run in production.
  */
object Curation {

  /** 32-bit uniform hash of a salted key — the seed-determinism primitive.
    * Same construction as [[TextAnalysis.fingerprint]]'s token hash: first 8
    * md5 hex digits as a long (mirrored exactly in DuckDB). */
  private def h32(key: Column, salt: String): Column =
    conv(substring(md5(concat(key.cast("string"), lit(":" + salt))), 1, 8), 16, 10)
      .cast("long")

  private def h32Sql(key: String, salt: String): String =
    s"CAST('0x' || substring(md5($key::VARCHAR || ':$salt'), 1, 8) AS BIGINT)"

  private def wsTokens(c: Column): Column =
    size(split(lower(c), "\\s+")).cast("long")

  private val wsTokensSql = """len(string_split_regex(lower(text), '\s+'))"""

  // ---------------------------------------------------------------------
  // cur_split — deterministic train/val/test split
  // ---------------------------------------------------------------------

  /** Hash-bucket split (90/5/5): bucket = h32(doc_id, seed) mod 100. Map-only
    * — no shuffle until the tiny per-split rollup — and STABLE UNDER
    * APPENDS: a document's split never changes when the corpus grows, which
    * is what keeps eval sets uncontaminated across pipeline re-runs (the
    * property `rand(seed)` does NOT have — Spark's sample is
    * partitioning-dependent). */
  def split9055(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val bucket = h32(col("doc_id"), "split42") % 100
    val split = when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    d.select(split.as("split"), wsTokens(col("text")).as("n_tok"), col("doc_id"))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("split"))
  }

  val split9055Sql: String =
    s"""WITH b AS (
       |  SELECT doc_id, $wsTokensSql AS n_tok,
       |         ${h32Sql("doc_id", "split42")} % 100 AS bucket
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, n_tok,
       |         CASE WHEN bucket < 90 THEN 'train'
       |              WHEN bucket < 95 THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM b)
       |SELECT split, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM s GROUP BY split ORDER BY split""".stripMargin

  // ---------------------------------------------------------------------
  // cur_shuffle_shards — seeded global shuffle into shards
  // ---------------------------------------------------------------------

  private val Shards = 8

  /** Seeded global shuffle, production shape: shard = h mod [[Shards]], then
    * sort WITHIN each shard by (h, doc_id). At 100 TB this is exactly one
    * hash-partitioned shuffle + a per-partition sort (no global ordering
    * bottleneck — each shard sorts independently and writes its own file),
    * yet the resulting order is fully deterministic. The query emits the
    * first 5 documents of every shard as the replayable witness. */
  def shuffleShards(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val h = h32(col("doc_id"), "shuf42")
    val keyed = d.select(col("doc_id"), h.as("h"), (h % Shards).as("shard"))
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    keyed
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= 5)
      .select(col("shard"), col("pos").cast("long").as("pos"), col("doc_id"))
      .orderBy(col("shard"), col("pos"))
  }

  val shuffleShardsSql: String =
    s"""WITH k AS (
       |  SELECT doc_id, ${h32Sql("doc_id", "shuf42")} AS h
       |  FROM documents),
       |p AS (
       |  SELECT h % $Shards AS shard, doc_id,
       |         row_number() OVER (PARTITION BY h % $Shards ORDER BY h, doc_id) AS pos
       |  FROM k)
       |SELECT shard, pos, doc_id FROM p WHERE pos <= 5 ORDER BY shard, pos""".stripMargin

  // ---------------------------------------------------------------------
  // cur_shard_manifest — the reproducibility contract per training shard
  // ---------------------------------------------------------------------

  /** Per-shard manifest over the [[shuffleShards]] assignment — the
    * artifact a trainer's data loader VALIDATES before an epoch (and the
    * thing that catches a silently re-materialized or partially-written
    * shard): doc count, token count, id range, and a content fingerprint.
    *
    * The fingerprint is a bit_xor over a 60-bit md5 prefix per document —
    * order-INDEPENDENT by choice: xor is commutative/associative, so the
    * aggregate is mergeable with bounded state and map-side combines like
    * any sum (one shuffle of 8 narrow rows at any corpus size; an
    * md5-of-ordered-concat fingerprint would need a per-shard sequential
    * fold — a collect_list holding the whole shard). Byte ORDER within a
    * shard is already pinned separately: it is deterministic from (h,
    * doc_id), and `cur_shuffle_shards` emits the replayable order witness.
    * A flipped doc, a dropped doc, or a doc swapped across shards all
    * flip the xor; only a same-shard permutation doesn't, and that cannot
    * happen without violating the order rule the witness checks. */
  def shardManifest(spark: SparkSession, dir: String): DataFrame =
    shardManifestOf(Tables.documents(spark, dir))

  /** The manifest's pre-aggregation projection — shared with
    * [[graft.streaming.StreamingShardManifest]] (one expression tree, so
    * streamed ≡ batch is a shared-definition fact, the StreamingProfile /
    * StreamingCms convention). */
  private[graft] def manifestRows(d: DataFrame): DataFrame = {
    val h = h32(col("doc_id"), "shuf42")
    d.select(col("doc_id"), (h % Shards).as("shard"),
      wsTokens(col("text")).as("n_tok"),
      conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("dhp"))
  }

  /** The manifest aggregate: every column is commutative/associative
    * (count, sum, min, max, xor) — mergeable with bounded state, which is
    * both the 100 TB map-side-combine property AND what lets the same
    * aggregation run under complete-mode streaming with [[Shards]] rows
    * of state. */
  private[graft] def manifestAgg(rows: DataFrame): DataFrame =
    rows.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        expr("bit_xor(dhp)").as("content_xor"))

  private[graft] def shardManifestOf(d: DataFrame): DataFrame =
    manifestAgg(manifestRows(d)).orderBy(col("shard"))

  val shardManifestSql: String =
    s"""WITH k AS (
       |  SELECT doc_id,
       |         ${h32Sql("doc_id", "shuf42")} % $Shards AS shard,
       |         $wsTokensSql AS n_tok,
       |         CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS dhp
       |  FROM documents)
       |SELECT shard, count(*) AS n_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
       |       bit_xor(dhp) AS content_xor
       |FROM k
       |GROUP BY shard
       |ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------------
  // cur_pack_chunks — fixed-budget sequence packing (distributed prefix sum)
  // ---------------------------------------------------------------------

  private val ChunkBudget = 2000L
  private val PackBuckets = 64L
  // h32 is uniform on [0, 2^32); the top log2(PackBuckets) bits give a
  // bucket whose order agrees with the order of h itself.
  private val BucketShift = (1L << 32) / PackBuckets

  /** Streaming-concat sequence packing — the standard LLM pretraining layout:
    * lay documents end-to-end in seeded-shuffle order and cut every
    * [[ChunkBudget]] tokens; a document belongs to the chunk its first token
    * falls in. The interesting part at scale is the RUNNING TOKEN OFFSET — a
    * naive `sum() over (order by …)` is a single-partition window (one
    * executor sorts 100 TB). This runs the textbook distributed prefix sum
    * instead: bucket by the HIGH bits of the order key (so bucket order ≡
    * global order), cumsum inside each bucket in parallel, then add each
    * bucket's exclusive running offset — a [[PackBuckets]]-row aggregate —
    * back via broadcast join. The oracle is the same computation as one flat
    * window, which is the equivalence the hash-check proves. */
  def packChunks(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val h = h32(col("doc_id"), "shuf42")
    val docs = d.select(
      col("doc_id"), h.as("h"), floor(h / BucketShift).as("bucket"),
      wsTokens(col("text")).as("n_tok"))

    val intraW = Window.partitionBy(col("bucket")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withIntra = docs.withColumn("intra", sum(col("n_tok")).over(intraW))

    // Per-bucket totals → exclusive running offsets. PackBuckets rows total:
    // the single-partition window is over a fixed-size frame, not the data.
    val offW = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = docs.groupBy(col("bucket"))
      .agg(sum(col("n_tok")).as("tot"))
      .withColumn("off", sum(col("tot")).over(offW) - col("tot"))
      .select(col("bucket"), col("off"))

    withIntra
      .join(broadcast(offsets), "bucket")
      .withColumn("start", col("off") + col("intra") - col("n_tok"))
      .withColumn("chunk_id", floor(col("start") / ChunkBudget))
      .groupBy(col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("chunk_id"))
  }

  val packChunksSql: String =
    s"""WITH k AS (
       |  SELECT doc_id, ${h32Sql("doc_id", "shuf42")} AS h,
       |         $wsTokensSql AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT n_tok,
       |         sum(n_tok) OVER (ORDER BY h, doc_id
       |                          ROWS UNBOUNDED PRECEDING) - n_tok AS start
       |  FROM k)
       |SELECT CAST(floor(start / $ChunkBudget) AS BIGINT) AS chunk_id,
       |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |FROM c GROUP BY 1 ORDER BY chunk_id""".stripMargin

  // ---------------------------------------------------------------------
  // cur_stratified_sample — per-stratum deterministic sampling
  // ---------------------------------------------------------------------

  private val StratumN = 30

  /** Balanced corpus sampling: the top-[[StratumN]] documents per language
    * by seeded hash rank — the quota step a multilingual pipeline runs so
    * low-resource languages survive downsampling. One window per stratum,
    * partitioned by `lang`, so strata sample in parallel; for strata big
    * enough that even a per-stratum sort hurts, the production variant
    * flips to a hash THRESHOLD (keep h < N/|stratum| · 2³²  — map-only,
    * approximate quota) — same key, same determinism, documented here
    * because the fixture-sized rank form is the oracle-checkable one. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    d.select(col("lang"), col("doc_id"),
        h32(col("doc_id"), "strat42").as("h"), wsTokens(col("text")).as("n_tok"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= StratumN)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("lang"))
  }

  val stratifiedSampleSql: String =
    s"""WITH k AS (
       |  SELECT lang, doc_id, ${h32Sql("doc_id", "strat42")} AS h,
       |         $wsTokensSql AS n_tok
       |  FROM documents),
       |r AS (
       |  SELECT lang, doc_id, n_tok,
       |         row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
       |  FROM k)
       |SELECT lang, count(*) AS n_sampled,
       |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |       min(doc_id) AS first_doc
       |FROM r WHERE rn <= $StratumN
       |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // cur_domain_mix — temperature-weighted source mixture sampling
  // ---------------------------------------------------------------------

  private val MixTarget = 200L // total docs in the mixed sample

  /** Temperature-based domain mixing (α = 0.5, the multilingual-sampling
    * recipe of XLM-R / mC4): per-source weights w_s ∝ (n_s/N)^α flatten the
    * source distribution so small domains survive downsampling, quotas
    * round to [[MixTarget]] total, and each source contributes its
    * hash-rank top-quota — fully seed-deterministic, like every other
    * curation stage.
    *
    * Scale shape: the weight/quota computation is a |sources|-row aggregate
    * (broadcast back), and sampling is one window per source — strata rank
    * in parallel. The one float-parity hazard is Σw (a sum of doubles is
    * partition-order-dependent); the norm is therefore folded in FIXED
    * source order over a collected |sources|-element array — same idiom as
    * BM25's pivoted term sums — which the oracle mirrors with
    * `list_reduce(list(w ORDER BY source))`. Quotas can exceed a small
    * source's size (sublinear weighting oversamples small domains);
    * `n_sampled < quota` rows surface exactly that, which is the signal a
    * production pipeline uses to switch the domain to multi-epoch repeats.
    */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val perSrc = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val total = perSrc.agg(sum(col("n_docs")).as("n_total"))
    val weighted = perSrc.crossJoin(broadcast(total))
      .withColumn("w", sqrt(col("n_docs").cast("double") / col("n_total").cast("double")))
    // Fixed-order fold for the normalizer: sort the (source, w) pairs, then
    // left-fold — bitwise-identical to the oracle's ordered list_reduce.
    val norm = weighted.agg(
      aggregate(
        transform(
          sort_array(collect_list(struct(col("source"), col("w")))),
          s => s.getField("w")),
        lit(0.0), (acc, x) => acc + x).as("norm"))
    val quotas = weighted.crossJoin(broadcast(norm))
      .select(col("source"), col("n_docs"),
        floor(lit(MixTarget.toDouble) * col("w") / col("norm") + 0.5)
          .cast("long").as("quota"))

    val rankW = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    d.select(col("source"), col("doc_id"),
        h32(col("doc_id"), "mix42").as("h"), wsTokens(col("text")).as("n_tok"))
      .withColumn("rn", row_number().over(rankW))
      .join(broadcast(quotas), "source")
      .filter(col("rn") <= col("quota"))
      .groupBy(col("source"), col("n_docs"), col("quota"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("source"))
  }

  val domainMixSql: String =
    s"""WITH s AS (
       |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
       |tot AS (
       |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM s),
       |wgt AS (
       |  SELECT source, n_docs, sqrt(n_docs::DOUBLE / n_total::DOUBLE) AS w
       |  FROM s, tot),
       |nrm AS (
       |  SELECT list_reduce(list_prepend(0.0, list(w ORDER BY source)),
       |                     (a, b) -> a + b) AS norm
       |  FROM wgt),
       |q AS (
       |  SELECT source, n_docs,
       |         CAST(floor($MixTarget.0 * w / norm + 0.5) AS BIGINT) AS quota
       |  FROM wgt, nrm),
       |r AS (
       |  SELECT source, doc_id, $wsTokensSql AS n_tok,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY ${h32Sql("doc_id", "mix42")}, doc_id) AS rn
       |  FROM documents)
       |SELECT r.source, q.n_docs, q.quota, count(*) AS n_sampled,
       |       CAST(sum(r.n_tok) AS BIGINT) AS n_tokens, min(r.doc_id) AS first_doc
       |FROM r JOIN q ON r.source = q.source
       |WHERE r.rn <= q.quota
       |GROUP BY r.source, q.n_docs, q.quota
       |ORDER BY r.source""".stripMargin

  // ---------------------------------------------------------------------
  // cur_decontaminate — cross-split n-gram leakage audit
  // ---------------------------------------------------------------------

  private val DecontGramN = 8

  /** Eval-set decontamination audit — the check a training pipeline runs
    * BEFORE trusting its eval numbers: which test-split documents share
    * [[DecontGramN]]-gram content with the train split? Runs over the
    * dedup fixture corpus (planted re-crawl copies and near-dup tails,
    * [[Dedup.corpus]]) under the SAME hash-bucket split as `cur_split`, so
    * it measures the real failure mode: duplicates straddling the split
    * boundary leak eval content into training. Shape at scale: explode the
    * (sorted-distinct, codegen-hashed) gram arrays and equi-join test
    * grams against train grams — one hash-partitioned join whose hot keys
    * are boilerplate grams (salt or drop top-df grams in production); the
    * test side is the small side by construction (5% split) and the gram
    * arrays come from the same kernel the dedup family uses. A clean
    * corpus returns zero rows; every row is a doc whose eval score is
    * compromised, with the evidence counted. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val bucket = h32(col("doc_id"), "split42") % 100
    val grams = Dedup.tokensFrame(spark, dir)
      .select(col("doc_id"), bucket.as("b"),
        explode(graft.functions.ArrayExpressions
          .hashedWordNGrams(col("toks"), DecontGramN)).as("gram"))
    val test = grams.filter(col("b") >= 95)
      .select(col("doc_id").as("test_doc_id"), col("gram"))
    val train = grams.filter(col("b") < 90)
      .select(col("doc_id").as("train_doc_id"), col("gram"))
    test.join(train, "gram")
      .groupBy(col("test_doc_id"))
      .agg(countDistinct(col("gram")).as("n_shared_grams"),
        countDistinct(col("train_doc_id")).as("n_train_docs"))
      .orderBy(col("test_doc_id"))
  }

  val decontaminateSql: String = {
    val gramJoin = (0 until DecontGramN).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""WITH ${Dedup.corpusSql},
       |tok AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks,
       |         ${h32Sql("doc_id", "split42")} % 100 AS b
       |  FROM corpus),
       |g AS (
       |  SELECT doc_id, b,
       |         unnest(list_distinct(list_transform(
       |           list_transform(generate_series(1, len(toks) - ${DecontGramN - 1}),
       |             i -> $gramJoin),
       |           s -> CAST('0x' || substring(md5(s), 1, 8) AS BIGINT)))) AS gram
       |  FROM tok)
       |SELECT t.doc_id AS test_doc_id,
       |       count(DISTINCT t.gram) AS n_shared_grams,
       |       count(DISTINCT tr.doc_id) AS n_train_docs
       |FROM g t JOIN g tr ON t.gram = tr.gram
       |WHERE t.b >= 95 AND tr.b < 90
       |GROUP BY t.doc_id
       |ORDER BY test_doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // cur_bm25_topk — BM25 retrieval (Robertson/Sparck Jones; the Lucene form)
  // ---------------------------------------------------------------------

  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25Terms = Seq("spark", "join", "window")
  private val Bm25TopK = 15

  /** BM25 top-k over `documents` for a fixed conjunctive term set — the
    * quality-probe retrieval a curation pipeline runs ("which documents
    * dominate this query?"). Shape at scale: one explode→filter (the filter
    * keeps ONLY query terms, so the exploded stream is |terms|-bounded per
    * doc, not vocabulary-sized), one groupBy(doc, term) for tf, a
    * |terms|-row df aggregate broadcast back, and a TakeOrderedAndProject
    * top-k — no global sort, no full inverted index materialized for a
    * 3-term probe. idf uses the +1 form (Lucene's), so it is never negative.
    * Scores are summed in fixed term order via pivoted columns (float-sum
    * parity — see OracleParity) and rounded to 4 dp. */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsParallel(spark, dir)
    // persisted: consumed twice (stats agg + tf explode) — without it each
    // consumer re-runs the regex tokenization over the whole corpus
    // (round 19, guide §5 "reused AND recomputing is more expensive")
    val docs = CacheRegistry.persistTracked(
      d.select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
        .withColumn("dl", size(col("toks")).cast("double")))

    // Corpus stats: N and average doc length — one tiny aggregate, broadcast.
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))

    // tf per (doc, term): explode restricted to the probe terms.
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))

    // df per term (|terms| rows) + idf.
    val df = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val scored = tf
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("w", col("idf") * (col("tf") * (Bm25K1 + 1.0)) /
        (col("tf") + (col("dl") / col("avgdl") * Bm25B + (1.0 - Bm25B)) * Bm25K1))

    // Fixed-order term sum (pivot to columns) for cross-engine float parity.
    val terms = Bm25Terms.zipWithIndex
    val termSums = terms.map { case (t, i) =>
      sum(when(col("term") === t, col("w")).otherwise(0.0)).as(s"w_$i") }
    val pivoted = scored.groupBy(col("doc_id")).agg(termSums.head, termSums.tail: _*)
    val total = terms.map { case (_, i) => col(s"w_$i") }.reduce(_ + _)

    pivoted
      .select(col("doc_id"), pround(total, 4).as("bm25"),
        (terms.map { case (t, i) =>
          when(col(s"w_$i") > 0.0, 1).otherwise(0) }.reduce(_ + _))
          .cast("long").as("n_terms"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  val bm25TopKSql: String = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    val wCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN term = '$t' THEN w ELSE 0.0 END) AS w_$i"
    }.mkString(",\n         ")
    val totalExpr = Bm25Terms.indices.map(i => s"w_$i").mkString(" + ")
    val nTermsExpr = Bm25Terms.indices
      .map(i => s"CASE WHEN w_$i > 0.0 THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH docs AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks,
       |         len(string_split_regex(lower(text), '\\s+'))::DOUBLE AS dl
       |  FROM documents),
       |stats AS (
       |  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM docs),
       |tf AS (
       |  SELECT doc_id, dl, t.term, count(*)::DOUBLE AS tf
       |  FROM docs, unnest(toks) AS t(term)
       |  WHERE t.term IN ($termList)
       |  GROUP BY doc_id, dl, t.term),
       |df AS (
       |  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
       |w AS (
       |  SELECT tf.doc_id,
       |         tf.term,
       |         ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
       |           * (tf.tf * (${Bm25K1} + 1.0))
       |           / (tf.tf + ${Bm25K1} * (1.0 - ${Bm25B} + ${Bm25B} * tf.dl / stats.avgdl)) AS w
       |  FROM tf, df, stats WHERE tf.term = df.term),
       |p AS (
       |  SELECT doc_id,
       |         $wCols
       |  FROM w GROUP BY doc_id)
       |SELECT doc_id,
       |       floor(($totalExpr) * 10000 + 0.5) / 10000.0 AS bm25,
       |       CAST($nTermsExpr AS BIGINT) AS n_terms
       |FROM p
       |ORDER BY floor(($totalExpr) * 10000 + 0.5) / 10000.0 DESC, doc_id
       |LIMIT $Bm25TopK""".stripMargin
  }

  // ---------------------------------------------------------------------
  // cur_span_corrupt — T5-style span-corruption sample construction
  // ---------------------------------------------------------------------

  private val SpanStartMod = 20L

  /** Span-corruption denoising pairs [Raffel et al., JMLR 2020, §3.1.4 —
    * the T5 pretraining objective; UL2's R-denoiser is the same shape]:
    * mask contiguous token spans and emit (input, target) where the input
    * replaces each masked span with one sentinel and the target lists each
    * sentinel followed by the span's tokens. Randomness is HASH-DERIVED —
    * a position p starts a span iff md5_32(doc_id:p) ≡ 0 (mod
    * [[SpanStartMod]]), and a span covers 3 positions — so the
    * corruption is deterministic per (doc, position): ~5% starts × 3-token
    * spans ≈ the 15% corruption rate T5 uses, with no RNG state to
    * coordinate across executors (the property that matters at 100 TB:
    * re-running a failed partition re-derives identical samples).
    *
    * Everything is IN-ARRAY per document — masked flags, span starts, and
    * both output sequences are `transform`/`flatten` over the token array,
    * because span membership at p only looks back 2 positions
    * of pure position arithmetic. ZERO shuffles (the only exchange is the
    * output sort): this runs at parquet-scan speed like the `flt_*`
    * battery. Both sequences are witnessed by 32-bit md5 fingerprints,
    * the `flt_line_dedup` idiom. */
  def spanCorrupt(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsParallel(spark, dir)
    def start(p: Column): Column =
      conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
        p.cast("string"))), 1, 8), 16, 10).cast("long") % SpanStartMod === 0
    val sentinel = lit("<m>")
    val emptyS = array().cast("array<string>")
    // stage starts → masked → span-begin as array columns (the exact CTE
    // shape the oracle uses): one md5 per position instead of ~8
    val base = d
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("ps", sequence(lit(1), col("n")))
      .withColumn("st", transform(col("ps"), p => start(p)))
      .withColumn("mk", transform(col("ps"), p =>
        element_at(col("st"), p) ||
          (p > 1 && element_at(col("st"), p - 1)) ||
          (p > 2 && element_at(col("st"), p - 2))))
      .withColumn("sb", transform(col("ps"), p =>
        element_at(col("mk"), p) && !(p > 1 && element_at(col("mk"), p - 1))))
    def mk(p: Column) = element_at(col("mk"), p)
    def sb(p: Column) = element_at(col("sb"), p)
    val fp: Column => Column =
      a => conv(substring(md5(array_join(a, " ")), 1, 8), 16, 10).cast("long")
    base.select(
        col("doc_id"),
        col("n").cast("long").as("n_tokens"),
        size(filter(col("ps"), p => sb(p))).cast("long").as("n_spans"),
        size(filter(col("ps"), p => mk(p))).cast("long").as("n_masked"),
        pround(size(filter(col("ps"), p => mk(p))).cast("double") / col("n"), 4)
          .as("mask_frac"),
        fp(flatten(transform(col("ps"), p =>
          when(!mk(p), array(element_at(col("toks"), p)))
            .when(sb(p), array(sentinel))
            .otherwise(emptyS)))).as("input_fp"),
        fp(flatten(transform(col("ps"), p =>
          when(mk(p) && sb(p), array(sentinel, element_at(col("toks"), p)))
            .when(mk(p), array(element_at(col("toks"), p)))
            .otherwise(emptyS)))).as("target_fp"))
      .orderBy(col("doc_id"))
  }

  val spanCorruptSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks,
       |         len(string_split_regex(lower(text), '\\s+')) AS n
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, toks, n,
       |    list_transform(generate_series(1, n), p ->
       |      (CAST('0x' || substring(md5(doc_id::VARCHAR || ':' || p::VARCHAR),
       |            1, 8) AS BIGINT) % $SpanStartMod = 0)
       |      OR (p > 1 AND CAST('0x' || substring(
       |            md5(doc_id::VARCHAR || ':' || (p-1)::VARCHAR),
       |            1, 8) AS BIGINT) % $SpanStartMod = 0)
       |      OR (p > 2 AND CAST('0x' || substring(
       |            md5(doc_id::VARCHAR || ':' || (p-2)::VARCHAR),
       |            1, 8) AS BIGINT) % $SpanStartMod = 0)) AS mk
       |  FROM t),
       |b AS (
       |  SELECT doc_id, toks, n, mk,
       |    list_transform(generate_series(1, n), p ->
       |      mk[p] AND NOT (p > 1 AND mk[p-1])) AS sb
       |  FROM m)
       |SELECT doc_id,
       |  CAST(n AS BIGINT) AS n_tokens,
       |  len(list_filter(generate_series(1, n), p -> sb[p])) AS n_spans,
       |  len(list_filter(generate_series(1, n), p -> mk[p])) AS n_masked,
       |  floor(len(list_filter(generate_series(1, n), p -> mk[p]))::DOUBLE
       |        / n * 10000 + 0.5) / 10000.0 AS mask_frac,
       |  -- coalesce: DuckDB array_to_string([]) is NULL, Spark's is ''
       |  CAST('0x' || substring(md5(coalesce(array_to_string(
       |    flatten(list_transform(generate_series(1, n), p ->
       |      CASE WHEN NOT mk[p] THEN [toks[p]]
       |           WHEN sb[p] THEN ['<m>'] ELSE [] END)), ' '), '')), 1, 8)
       |    AS BIGINT) AS input_fp,
       |  CAST('0x' || substring(md5(coalesce(array_to_string(
       |    flatten(list_transform(generate_series(1, n), p ->
       |      CASE WHEN mk[p] AND sb[p] THEN ['<m>', toks[p]]
       |           WHEN mk[p] THEN [toks[p]] ELSE [] END)), ' '), '')), 1, 8)
       |    AS BIGINT) AS target_fp
       |FROM b ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // cur_hard_negatives — BM25 hard-negative mining for retrieval training
  // ---------------------------------------------------------------------

  private val HnQueryStride = 97L
  private val HnQueryTerms = 5
  private val HnNegatives = 5

  /** Hard-negative mining — the stage that builds contrastive training data
    * for retrieval/embedding models [Karpukhin et al., EMNLP 2020 (DPR);
    * Xiong et al., ICLR 2021 (ANCE)]: for each (query, positive) pair, the
    * best negatives are the top-scoring NON-relevant documents under a
    * lexical retriever, not random ones. Queries are derived
    * deterministically (every [[HnQueryStride]]th document; pseudo-query =
    * its first [[HnQueryTerms]] distinct tokens; the source document is the
    * positive), scored with the same Lucene-form BM25 as `cur_bm25_topk`,
    * and the top [[HnNegatives]] non-self documents per query are emitted.
    *
    * Unlike `cur_bm25_topk`'s fixed conjunctive probe, term sets here are
    * PER-QUERY, so the fixed-order pivot trick doesn't apply; float parity
    * instead comes from rounding each (doc, term) weight to 6dp and summing
    * as DECIMAL(30,6) — exact and order-independent — and RANKING on the
    * exact decimal (ties → doc_id). The displayed score is the 4dp double.
    *
    * Scale shape: the query-term table is a |Q|·[[HnQueryTerms]]-row
    * BROADCAST; the exploded token stream is pruned to query vocabulary by
    * a broadcast semi-join before any aggregation (the stream is
    * |matches|-sized, not corpus-vocabulary-sized); then one
    * groupBy(doc, term), one groupBy(query, doc), and a per-query window
    * top-k over only the matched docs. No cartesian, no global sort. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsParallel(spark, dir)
    // persisted: consumed three times (stats, query-term derivation, tf
    // explode) — one tokenization instead of three (round 19, guide §5)
    val docs = CacheRegistry.persistTracked(
      d.select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
        .withColumn("dl", size(col("toks")).cast("double")))
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val qt = docs.filter(col("doc_id") % HnQueryStride === 0)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(slice(col("toks"), 1, HnQueryTerms))).as("term"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(qt.select(col("term")).distinct()), Seq("term"), "left_semi")
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val w = tf
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .select(col("doc_id"), col("term"),
        pround(col("idf") * (col("tf") * (Bm25K1 + 1.0)) /
          (col("tf") + (col("dl") / col("avgdl") * Bm25B + (1.0 - Bm25B)) * Bm25K1),
          6).as("w6"))
    val scored = w.join(broadcast(qt), "term")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w6").cast("decimal(30,6)")).as("sc"))
    val win = Window.partitionBy(col("query_id"))
      .orderBy(col("sc").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= HnNegatives)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id").as("neg_id"),
        pround(col("sc").cast("double"), 4).as("bm25"))
      .orderBy(col("query_id"), col("rank"))
  }

  val hardNegativesSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks,
       |         len(string_split_regex(lower(text), '\\s+'))::DOUBLE AS dl
       |  FROM documents),
       |stats AS (
       |  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM docs),
       |qt AS (
       |  SELECT doc_id AS query_id,
       |         unnest(list_distinct(list_slice(toks, 1, $HnQueryTerms))) AS term
       |  FROM docs WHERE doc_id % $HnQueryStride = 0),
       |tf AS (
       |  SELECT doc_id, dl, t.term, count(*)::DOUBLE AS tf
       |  FROM docs, unnest(toks) AS t(term)
       |  WHERE t.term IN (SELECT DISTINCT term FROM qt)
       |  GROUP BY doc_id, dl, t.term),
       |df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
       |w AS (
       |  SELECT tf.doc_id, tf.term,
       |         floor(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
       |               * (tf.tf * (${Bm25K1} + 1.0))
       |               / (tf.tf + ($Bm25B * tf.dl / stats.avgdl
       |                           + (1.0 - $Bm25B)) * $Bm25K1)
       |               * 1000000 + 0.5) / 1000000.0 AS w6
       |  FROM tf, df, stats WHERE tf.term = df.term),
       |s AS (
       |  SELECT qt.query_id, w.doc_id,
       |         sum(CAST(w.w6 AS DECIMAL(30,6))) AS sc
       |  FROM w JOIN qt ON w.term = qt.term
       |  WHERE w.doc_id <> qt.query_id
       |  GROUP BY qt.query_id, w.doc_id),
       |r AS (
       |  SELECT query_id, doc_id, sc,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY sc DESC, doc_id) AS rank
       |  FROM s)
       |SELECT query_id, rank, doc_id AS neg_id,
       |       floor(sc::DOUBLE * 10000 + 0.5) / 10000.0 AS bm25
       |FROM r WHERE rank <= $HnNegatives
       |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // cur_dsir_select — importance-resampling data selection (DSIR)
  // ---------------------------------------------------------------------

  private val DsirBuckets = 1024L
  private val DsirTopK = 20

  /** Data Selection via Importance Resampling [Xie et al., NeurIPS 2023]:
    * score every document by how much its HASHED BIGRAM features look like a
    * target distribution (here: the `lang = 'en'` slice) relative to the raw
    * pool, w(doc) = mean over features of log p̂_target(b) − log p̂_raw(b)
    * (add-half smoothing). The top-k by weight is the selected training
    * subset; on the fixture the top 20 is 18/20 English with en mean-weight
    * +0.006 vs ≈ −0.045 for every other language — the selector visibly
    * pulls the target distribution.
    *
    * The whole point of DSIR's hashed features is the SCALE SHAPE: the
    * "model" is [[DsirBuckets]] integers per side regardless of corpus
    * vocabulary, so fitting is one groupBy(bucket) with conditional counts
    * (map-side combine does almost all the work), the weight table is a
    * ≤1024-row BROADCAST, and scoring is explode → broadcast-join → one
    * groupBy(doc). Three narrow shuffles total at 100 TB, none keyed on
    * anything skewable. Bigram hashing rides the same codegen
    * [[graft.functions.ArrayExpressions.hashedWordNGrams]] kernel as the
    * dedup family (md5-mirrored in the oracle).
    *
    * Float parity: per-bucket weights are 6dp-rounded ([[pround]]) then
    * summed as DECIMAL(30,6) — exact and order-independent in both engines
    * (see OracleParity rule 1); the displayed score is the 4dp mean. */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsParallel(spark, dir)
    // persisted: consumed twice (bucket counts + the final re-join) — the
    // md5 n-gram hashing is the query's dominant kernel and ran twice
    // (round 19, guide §5)
    val grams = CacheRegistry.persistTracked(d
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.ArrayExpressions
          .hashedWordNGrams(split(lower(col("text")), "\\s+"), 2)).as("gram"))
      .select(col("doc_id"), col("lang"), (col("gram") % DsirBuckets).as("b")))
    val buckets = grams.groupBy(col("b")).agg(
      count(when(col("lang") === "en", 1)).as("t_cnt"),
      count(lit(1)).as("r_cnt"))
    val totals = buckets.agg(
      sum(col("t_cnt")).cast("double").as("tt"),
      sum(col("r_cnt")).cast("double").as("rt"))
    val half = DsirBuckets / 2.0
    val weights = buckets.crossJoin(broadcast(totals))
      .select(col("b"), pround(
        log((col("t_cnt") + 0.5) / (col("tt") + half)) -
          log((col("r_cnt") + 0.5) / (col("rt") + half)), 6).as("w"))
    grams.join(broadcast(weights), "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_feats"),
        sum(col("w").cast("decimal(30,6)")).as("sw"))
      .select(col("doc_id"), col("lang"), col("n_feats"),
        pround(col("sw").cast("double") / col("n_feats"), 4).as("dsir"))
      .orderBy(col("dsir").desc, col("doc_id"))
      .limit(DsirTopK)
  }

  val dsirSelectSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, string_split_regex(lower(text), '\\s+') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, lang,
       |         unnest(list_distinct(list_transform(
       |           list_transform(generate_series(1, len(toks) - 1),
       |             i -> toks[i] || ' ' || toks[i+1]),
       |           s -> CAST('0x' || substring(md5(s), 1, 8) AS BIGINT)))) AS gram
       |  FROM t),
       |f AS (SELECT doc_id, lang, gram % $DsirBuckets AS b FROM g),
       |bk AS (
       |  SELECT b, count(*) FILTER (lang = 'en') AS t_cnt, count(*) AS r_cnt
       |  FROM f GROUP BY b),
       |tot AS (SELECT sum(t_cnt)::DOUBLE AS tt, sum(r_cnt)::DOUBLE AS rt FROM bk),
       |w AS (
       |  SELECT b, floor((ln((t_cnt + 0.5) / (tt + ${DsirBuckets / 2}.0))
       |                   - ln((r_cnt + 0.5) / (rt + ${DsirBuckets / 2}.0)))
       |                  * 1000000 + 0.5) / 1000000.0 AS w
       |  FROM bk, tot),
       |s AS (
       |  SELECT f.doc_id, f.lang, count(*) AS n_feats,
       |         sum(CAST(w.w AS DECIMAL(30,6))) AS sw
       |  FROM f JOIN w ON f.b = w.b GROUP BY f.doc_id, f.lang)
       |SELECT doc_id, lang, n_feats,
       |       floor(sw::DOUBLE / n_feats * 10000 + 0.5) / 10000.0 AS dsir
       |FROM s ORDER BY dsir DESC, doc_id LIMIT $DsirTopK""".stripMargin

  // ---------------------------------------------------------------------
  // cur_chunk_overlap — sliding-window chunking with overlap (RAG shape)
  // ---------------------------------------------------------------------

  private val ChunkW = 32 // tokens per chunk
  private val ChunkS = 24 // stride → 8-token overlap between neighbors

  /** Sliding-window chunking with overlap — the retrieval/embedding prep
    * step ("chunk every document into ≤W-token windows with W−S tokens of
    * overlap, stable chunk ids") that sits between curation and the
    * embedding pipeline. Start positions are pure integer arithmetic
    * (chunk_no · S), so chunk identity is reproducible on any cluster
    * layout, and the op is MAP-ONLY: tokenize, explode the start lattice,
    * slice — no shuffle before the output sort, the same zero-shuffle
    * shape as the flt_* filters. The tail window is kept whenever the doc
    * extends past the last full stride (standard RAG chunker semantics),
    * so every token lands in ≥1 chunk. */
  def chunkOverlap(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsParallel(spark, dir)
    d.select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      // 1 + max(0, ceil((n-W)/S)) starts, all-integer so both engines agree
      .withColumn("chunk_no", explode(sequence(lit(0L),
        greatest(lit(0L),
          expr(s"(n - $ChunkW + ${ChunkS - 1}) div $ChunkS")))))
      .select(col("doc_id"), col("chunk_no"),
        (col("chunk_no") * ChunkS + 1).as("start_tok"),
        least(lit(ChunkW.toLong), col("n") - col("chunk_no") * ChunkS).as("n_tok"),
        array_join(slice(col("toks"),
          (col("chunk_no") * ChunkS + 1).cast("int"), lit(ChunkW)), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_no"))
  }

  val chunkOverlapSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         string_split_regex(lower(text), '\\s+') AS toks,
       |         len(string_split_regex(lower(text), '\\s+')) AS n
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, toks, n,
       |         unnest(generate_series(0,
       |           greatest(0, (n - $ChunkW + ${ChunkS - 1}) // $ChunkS))) AS chunk_no
       |  FROM t)
       |SELECT doc_id, chunk_no,
       |       chunk_no * $ChunkS + 1 AS start_tok,
       |       least($ChunkW, n - chunk_no * $ChunkS) AS n_tok,
       |       array_to_string(
       |         toks[chunk_no * $ChunkS + 1 : chunk_no * $ChunkS + $ChunkW],
       |         ' ') AS chunk_text
       |FROM s
       |ORDER BY doc_id, chunk_no""".stripMargin

  // ---------------------------------------------------------------------
  // cur_priority_sample — weighted sampling without replacement (A-ES)
  // ---------------------------------------------------------------------

  private val PrioK = 60

  /** Weighted sampling WITHOUT replacement [Efraimidis & Spirakis, IPL
    * 2006, algorithm A-ES]: each document draws u ∈ (0,1) from its seeded
    * hash and enters the race with priority key −ln(u)/w — an
    * Exponential(w) arrival time — and the global bottom-[[PrioK]] keys
    * are exactly a w-weighted sample without replacement. Here w is the
    * 4dp-rounded [[TextAnalysis.qualityCol]] score, i.e. "sample the
    * corpus with probability proportional to quality" — the curation
    * counterpart of DSIR's distribution matching.
    *
    * Scale shape: scoring is map-only (hash + ln per row), selection is
    * `ORDER BY key LIMIT K` → TakeOrderedAndProject (per-partition heaps,
    * driver merges K·P rows) — no corpus shuffle, no global sort, the
    * same top-k story as similarity search. Keys are rounded to 6dp
    * before ranking with a doc_id tiebreak, so the ordering survives
    * sub-ulp libm differences between engines. */
  def prioritySample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsParallel(spark, dir)
    val u = (h32(col("doc_id"), "prio42").cast("double") + lit(1.0)) / lit(4294967297.0)
    val w = pround(TextAnalysis.qualityCol(col("text")), 4)
    d.select(col("doc_id"), col("lang"),
        w.as("quality"),
        pround(-log(u) / w, 6).as("prio_key"))
      .orderBy(col("prio_key"), col("doc_id"))
      .limit(PrioK)
  }

  val prioritySampleSql: String =
    s"""WITH q AS ${graft.operators.TextAnalysis.qualitySqlOver("documents")},
       |k AS (
       |  SELECT d.doc_id, d.lang, q.q AS quality,
       |         (${h32Sql("d.doc_id", "prio42")}::DOUBLE + 1.0) / 4294967297.0 AS u
       |  FROM documents d JOIN q ON d.doc_id = q.doc_id)
       |SELECT doc_id, lang, quality,
       |       floor((-ln(u) / quality) * 1000000 + 0.5) / 1000000.0 AS prio_key
       |FROM k
       |ORDER BY prio_key, doc_id
       |LIMIT $PrioK""".stripMargin

  // ---------------------------------------------------------------------
  // cur_pipeline_report — the end-to-end corpus → training-shards funnel
  // ---------------------------------------------------------------------

  /** Round-10 verdict #3: every stage existed as its own oracle row, but no
    * single query chained them corpus → training shards — the artifact a
    * data lead reads first. This is that funnel, each stage running on the
    * SURVIVORS of the previous:
    *
    *   1. raw          — the dedup fixture corpus ([[Dedup.corpus]]);
    *   2. exact        — keep min doc_id per text hash;
    *   3. near_cc      — the shared CC membership artifact's survivors
    *                     (exact dups are jaccard-1 pairs, so this subsumes
    *                     stage 2 — the funnel is monotone by construction);
    *   4. quality      — the Gopher battery ([[Filtering.withQualityMetrics]]);
    *   5. domain_mix   — sqrt-weighted per-source quotas, hash-rank top-quota
    *                     (the `cur_domain_mix` arithmetic, over survivors);
    *   6. pack         — [[ChunkBudget]]-token sequence packing; n_out is
    *                     the CHUNK count (reduction here reads as the
    *                     docs-per-chunk compression, not a drop rate).
    *
    * Each row carries the exact survivor count AND its KMV estimate
    * (`n_out_kmv`) — at 100 TB the funnel is reported from sketches
    * (distinct-count shuffles cost more than the dedup), and KMV being
    * deterministic, the estimates hash-check against the oracle's bottom-k
    * replay, the `dedup_pipeline_report` convention. Per-stage cost: one
    * aggregate over each stage frame; the membership table rides the
    * `dedup-cc` IndexStore artifact, and the quality/mix frames persist for
    * their double use (stage count + next stage's input). */
  def curPipelineReport(spark: SparkSession, dir: String): DataFrame = {
    val kmv = udaf(graft.functions.KmvSketch)
    def hh(c: Column): Column = conv(substring(md5(c), 1, 8), 16, 10).cast("long")

    val c0 = Dedup.corpus(spark, dir)
    val exactIds = c0.groupBy(md5(col("text")).as("th"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val cleanIds = Components.membership(spark, dir)
      .filter(col("doc_id") === col("component")).select(col("doc_id"))
    val clean = c0.join(cleanIds, Seq("doc_id"), "left_semi")
    val quality = graft.tools.CacheRegistry.persistTracked(
      Filtering.withQualityMetrics(clean, col("text"))
        .filter(col("keep") === 1)
        .select(col("doc_id"), col("text"), col("source")))

    // domain mix over the quality survivors — cur_domain_mix's arithmetic
    val perSrc = quality.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val total = perSrc.agg(sum(col("n_docs")).as("n_total"))
    val weighted = perSrc.crossJoin(broadcast(total))
      .withColumn("w", sqrt(col("n_docs").cast("double") / col("n_total").cast("double")))
    val norm = weighted.agg(
      aggregate(
        transform(sort_array(collect_list(struct(col("source"), col("w")))),
          s => s.getField("w")),
        lit(0.0), (acc, x) => acc + x).as("norm"))
    val quotas = weighted.crossJoin(broadcast(norm))
      .select(col("source"),
        floor(lit(MixTarget.toDouble) * col("w") / col("norm") + 0.5)
          .cast("long").as("quota"))
    val rankW = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    val mixed = graft.tools.CacheRegistry.persistTracked(
      quality.select(col("source"), col("doc_id"), col("text"),
          h32(col("doc_id"), "mix42").as("h"))
        .withColumn("rn", row_number().over(rankW))
        .join(broadcast(quotas), "source")
        .filter(col("rn") <= col("quota"))
        .select(col("doc_id"), col("text")))

    // pack the mix — cur_pack_chunks's distributed prefix sum
    val hsh = h32(col("doc_id"), "shuf42")
    val docs = mixed.select(col("doc_id"), hsh.as("h"),
      floor(hsh / BucketShift).as("bucket"), wsTokens(col("text")).as("n_tok"))
    val intraW = Window.partitionBy(col("bucket")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offW = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = docs.groupBy(col("bucket")).agg(sum(col("n_tok")).as("tot"))
      .withColumn("off", sum(col("tot")).over(offW) - col("tot"))
      .select(col("bucket"), col("off"))
    val chunks = docs.withColumn("intra", sum(col("n_tok")).over(intraW))
      .join(broadcast(offsets), "bucket")
      .withColumn("chunk_id",
        floor((col("off") + col("intra") - col("n_tok")) / ChunkBudget))
      .select(col("chunk_id")).distinct()

    def cnt(df: DataFrame, key: Column, i: Int): DataFrame =
      df.agg(count(lit(1)).as(s"n$i"), kmv(hh(key)).as(s"k$i"))
    val agg = Seq(
      cnt(c0, col("doc_id").cast("string"), 0),
      cnt(exactIds, col("doc_id").cast("string"), 1),
      cnt(cleanIds, col("doc_id").cast("string"), 2),
      cnt(quality, col("doc_id").cast("string"), 3),
      cnt(mixed, col("doc_id").cast("string"), 4),
      cnt(chunks, col("chunk_id").cast("string"), 5))
      .map(broadcast).reduce(_ crossJoin _)
    def stage(no: Long, name: String, in: Column, out: Column, est: Column) =
      struct(lit(no).as("stage_no"), lit(name).as("stage"),
        in.as("n_in"), out.as("n_out"), est.as("n_out_kmv"))
    agg.select(explode(array(
        stage(1L, "raw", col("n0"), col("n0"), col("k0")),
        stage(2L, "exact", col("n0"), col("n1"), col("k1")),
        stage(3L, "near_cc", col("n1"), col("n2"), col("k2")),
        stage(4L, "quality", col("n2"), col("n3"), col("k3")),
        stage(5L, "domain_mix", col("n3"), col("n4"), col("k4")),
        stage(6L, "pack", col("n4"), col("n5"), col("k5")))).as("r"))
      .select(col("r.stage_no"), col("r.stage"), col("r.n_in"), col("r.n_out"),
        col("r.n_out_kmv"),
        pround(lit(1.0) - col("r.n_out").cast("double") / col("r.n_in"), 4)
          .as("reduction"))
      .orderBy(col("stage_no"))
  }

  val curPipelineReportSql: String = {
    val stages = Seq(
      (1, "raw", "n0", "n0", "k0"), (2, "exact", "n0", "n1", "k1"),
      (3, "near_cc", "n1", "n2", "k2"), (4, "quality", "n2", "n3", "k3"),
      (5, "domain_mix", "n3", "n4", "k4"), (6, "pack", "n4", "n5", "k5"))
      .map { case (no, nm, nin, nout, k) =>
        s"""  SELECT CAST($no AS BIGINT) AS stage_no, '$nm' AS stage,
           |         $nin AS n_in, $nout AS n_out, $k.est AS n_out_kmv,
           |         floor((1.0 - $nout::DOUBLE / $nin) * 10000 + 0.5) / 10000.0
           |           AS reduction
           |  FROM sc, $k""".stripMargin
      }.mkString("\n  UNION ALL\n")
    s"""WITH RECURSIVE ${Components.membershipCtes},
       |exact AS MATERIALIZED (
       |  SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
       |cleanids AS MATERIALIZED (SELECT doc_id FROM member WHERE doc_id = component),
       |cleandocs AS MATERIALIZED (
       |  SELECT c.doc_id, c.text, c.source
       |  FROM corpus c JOIN cleanids k ON c.doc_id = k.doc_id),
       |${Filtering.qualityKeepSql("cleandocs", "qk")},
       |qdocs AS MATERIALIZED (
       |  SELECT c.doc_id, c.text, c.source
       |  FROM cleandocs c JOIN qk ON qk.doc_id = c.doc_id
       |  WHERE qk.keep = 1),
       |ms AS (SELECT source, count(*) AS n_docs FROM qdocs GROUP BY source),
       |mtot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM ms),
       |mwgt AS (
       |  SELECT source, n_docs, sqrt(n_docs::DOUBLE / n_total::DOUBLE) AS w
       |  FROM ms, mtot),
       |mnrm AS (
       |  SELECT list_reduce(list_prepend(0.0, list(w ORDER BY source)),
       |                     (a, b) -> a + b) AS norm
       |  FROM mwgt),
       |mq AS (
       |  SELECT source, CAST(floor($MixTarget.0 * w / norm + 0.5) AS BIGINT) AS quota
       |  FROM mwgt, mnrm),
       |mr AS (
       |  SELECT source, doc_id, text,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY ${h32Sql("doc_id", "mix42")}, doc_id) AS rn
       |  FROM qdocs),
       |mixed AS MATERIALIZED (
       |  SELECT mr.doc_id, mr.text FROM mr
       |  JOIN mq ON mr.source = mq.source WHERE mr.rn <= mq.quota),
       |pk AS (
       |  SELECT doc_id, ${h32Sql("doc_id", "shuf42")} AS h, $wsTokensSql AS n_tok
       |  FROM mixed),
       |pc AS (
       |  SELECT sum(n_tok) OVER (ORDER BY h, doc_id
       |                          ROWS UNBOUNDED PRECEDING) - n_tok AS start
       |  FROM pk),
       |chunks AS MATERIALIZED (
       |  SELECT DISTINCT CAST(floor(start / $ChunkBudget) AS BIGINT) AS chunk_id
       |  FROM pc),
       |sc AS (
       |  SELECT (SELECT count(*) FROM corpus) AS n0,
       |         (SELECT count(*) FROM exact) AS n1,
       |         (SELECT count(*) FROM cleanids) AS n2,
       |         (SELECT count(*) FROM qdocs) AS n3,
       |         (SELECT count(*) FROM mixed) AS n4,
       |         (SELECT count(*) FROM chunks) AS n5),
       |${Components.kmvEstCte("k0", "corpus", "doc_id::VARCHAR")},
       |${Components.kmvEstCte("k1", "exact", "doc_id::VARCHAR")},
       |${Components.kmvEstCte("k2", "cleanids", "doc_id::VARCHAR")},
       |${Components.kmvEstCte("k3", "qdocs", "doc_id::VARCHAR")},
       |${Components.kmvEstCte("k4", "mixed", "doc_id::VARCHAR")},
       |${Components.kmvEstCte("k5", "chunks", "chunk_id::VARCHAR")}
       |SELECT * FROM (
       |$stages)
       |ORDER BY stage_no""".stripMargin
  }

  // ---------------------------------------------------------------------
  // index_build_bpe / cur_bpe_fertility — distributed BPE vocabulary
  // induction (train = build, fertility = serve)
  // ---------------------------------------------------------------------

  /** Merge steps to learn. The oracle pins this fixture dial; production
    * vocabularies run the same loop to 32k–100k merges — the per-step cost
    * does not change, only the step count. */
  private val BpeMerges = 12

  /** Plan-truncation stride for the BPE training loop: analysis depth
    * between eager checkpoints stays ≤ this, while the intermediate
    * rounds persist lazily (no extra job) — see [[bpeBuildStepsOn]]. */
  private val BpeCheckpointEvery = 4

  /** Greedy left-to-right merge application — one literal `replace` over a
    * DOUBLE-space-delimited symbol string. The pattern ` A␣␣B ` consumes
    * only ONE space of each double boundary, so consecutive occurrences
    * (`a a a a`) never share a consumed character and a single
    * left-to-right non-overlapping replace IS exactly the greedy BPE merge
    * (a single-space pattern would eat the boundary and skip every other
    * pair in a run). Token safety: a pattern symbol can only match a
    * COMPLETE token, because the pattern requires the full double space on
    * its interior side and the remaining boundary space on its outer side.
    * Both engines' `replace` scans left-to-right non-overlapping, so Spark
    * and DuckDB compute the identical merge. */
  private[graft] def bpeApplyMerge(seq: Column, pair: String, merged: String): Column =
    trim(replace(replace(
      concat(lit("  "), replace(seq, lit(" "), lit("  ")), lit("  ")),
      lit(" " + pair.replace(" ", "  ") + " "),
      lit(" " + merged + " ")), lit("  "), lit(" ")))

  /** Byte-pair-encoding vocabulary induction — the tokenizer-training step
    * of an LLM data pipeline (Sennrich et al. 2016, the construction behind
    * GPT-2/RoBERTa vocabularies). Output: one row per merge step with the
    * chosen pair, its corpus frequency, and the corpus token count after
    * the merge (the compression curve a tokenizer team reads).
    *
    * The 100 TB shape is the whole point: BPE training never iterates over
    * the corpus. The single corpus-sized pass is the word-frequency
    * groupBy (map-side combined — the same shape as a word count); every
    * merge step then runs on the UNIQUE-WORD table (∼millions of rows at
    * web scale, vs billions of documents), exploding each word's current
    * symbol sequence into adjacent pairs and summing `freq` per pair —
    * another map-side-combined agg, vocab-sized. The only driver state is
    * the argmax pair per step (1 row — the same driver boundary as the
    * k-row centroid pulls). Tie-break is deterministic: highest count,
    * then lexicographically largest pair, so the learned table is
    * byte-reproducible on any cluster layout.
    *
    * The per-step vocab frame is persisted and replaces its parent (the
    * lineage would otherwise deepen by one `replace` chain per step) —
    * tiny at fixture scale, and at production vocab sizes still a few
    * hundred MB, far below executor memory.
    *
    * Build/serve split: `index_build_bpe` (IndexBuild.buildBpe) trains and
    * stores BOTH artifacts — the merge table and the tokenized vocab — in
    * the IndexStore; [[bpeFertility]] serves off the stored vocab. */

  /** The initial vocab: unique words with frequency and the char-level
    * symbol sequence (space-joined, `</w>` end marker). */
  private def bpeVocab0(spark: SparkSession, dir: String): DataFrame =
    bpeVocab0Of(Tables.documentsParallel(spark, dir))

  /** Frame-input face of [[bpeVocab0]] (round 17 — the BPE maintainer
    * graft.streaming.StreamingBpeMaintainer @ 134fd08 trained on its own stored
    * corpus, not a fixture dir). */
  private[graft] def bpeVocab0Of(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        concat(concat_ws(" ", split(col("word"), "")), lit(" </w>")).as("seq"))

  /** The training loop — `index_build_bpe`'s build body. One iteration =
    * pair-count agg over the vocab + a 1-row argmax collect (the driver
    * boundary) + the greedy replace; each round's vocab frame is persisted
    * and replaces its parent so lineage stays one replace deep. */
  /** One fused agg per step: argmax pair AND total pair mass in one
    * collect. The argmax is `max(struct(c, pair))` — highest count, ties
    * to the lexicographically LARGEST pair (the direction is arbitrary;
    * what matters is that it is deterministic and the oracle orders the
    * same way). The pair mass gives the token curve for free via
    * Σ freq·len(seq) = Σ_pairs c + Σ freq (every word has one more symbol
    * than it has adjacent pairs), so the per-step token-count agg —
    * formerly a second driver-synchronized job per step, the exact
    * "driver job count dominates small iterative training" cost the PQ
    * trainer hit — disappears: K+2 jobs total instead of 2K. */
  private def bpePairAgg(vocab: DataFrame): Option[(String, Long, Long)] = {
    val row = vocab
      .withColumn("l", split(col("seq"), " "))
      // a FULLY-MERGED word (one symbol) has no adjacent pairs — and
      // `sequence(0, -1)` is a DESCENDING sequence in Spark, so the
      // unfiltered transform would index l[1] of a 1-element array
      // (round 17: bit on an exhaustible digram corpus; the identity
      // Σ freq·len = Σ pairs + Σ freq that prices the token curve is
      // unaffected — a 1-symbol word contributes 0 pairs)
      .filter(size(col("l")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(l) - 2), j -> concat(l[j], ' ', l[j+1]))"))
        .as("pair"), col("freq"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("c"))
      .agg(max(struct(col("c"), col("pair"))).as("m"), sum(col("c")).as("mass"))
      .collect()(0)
    // an exhausted vocabulary (every word fully merged) has nothing left
    // to learn — the trainer stops early instead of NPE-ing on the argmax
    if (row.isNullAt(0)) None
    else {
      val m = row.getStruct(0)
      Some((m.getString(1), m.getLong(0), row.getLong(1)))
    }
  }

  private[graft] def bpeBuildSteps(spark: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long, Long)], DataFrame) =
    bpeBuildStepsOn(spark, bpeVocab0(spark, dir))

  /** The same training loop from an arbitrary char-level vocab frame
    * (round 17 — the retrain path of
    * graft.streaming.StreamingBpeMaintainer @ 134fd08 fed its stored corpus
    * here). */
  private[graft] def bpeBuildStepsOn(spark: SparkSession, vocab0: DataFrame)
      : (Seq[(Int, String, String, Long, Long)], DataFrame) = {
    var vocab = graft.tools.CacheRegistry.persistTracked(vocab0)
    val totalFreq = vocab.agg(sum(col("freq"))).collect()(0).getLong(0)
    val steps =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long, Long)]
    var i = 1
    var exhausted = false
    while (i <= BpeMerges && !exhausted) {
      bpePairAgg(vocab) match {
        case None => exhausted = true // every word fully merged (round 17)
        case Some((pair, c, mass)) =>
          // this step's pair mass prices the PREVIOUS step's result: tokens
          // of vocab_{i-1} = mass_i + totalFreq (backfilled; the last
          // learned step pays one final sum below)
          if (i >= 2) {
            val (s, p, m2, cc, _) = steps(i - 2)
            steps(i - 2) = (s, p, m2, cc, mass + totalFreq)
          }
          val merged = pair.replace(" ", "")
          // Lineage discipline, round-19 form: the chained-replace ANALYSIS
          // cost grows with plan depth (measured 0.2 s -> 0.9 s/round by
          // round 12 at sf0.1 under persist-only), but an EAGER
          // localCheckpoint per merge costs one extra Spark job per round —
          // exactly the "driver job count dominates small iterative
          // training" tax the K+2 fusion removed elsewhere. Checkpoint
          // every [[BpeCheckpointEvery]]-th merge (bounding analysis depth
          // at that stride) and persist in between: the next round's
          // pair-count job materializes the persisted frame as a side
          // effect, so the intermediate rounds add NO extra job, and
          // execution still reads the parent's cache one replace deep.
          val next = vocab.withColumn("seq", bpeApplyMerge(col("seq"), pair, merged))
          vocab =
            if (i % BpeCheckpointEvery == 0)
              graft.tools.CacheRegistry.checkpointTracked(next)
            else graft.tools.CacheRegistry.persistTracked(next)
          steps += ((i, pair, merged, c, 0L))
          i += 1
      }
    }
    if (steps.nonEmpty) {
      val finalTokens = vocab
        .agg(sum(col("freq") * size(split(col("seq"), " ")).cast("long")))
        .collect()(0).getLong(0)
      val (s, p, m2, cc, _) = steps(steps.length - 1)
      steps(steps.length - 1) = (s, p, m2, cc, finalTokens)
    }
    // the last round's persisted frame IS the final vocab — hand it back so
    // the build stores it instead of re-deriving the chained-replace plan
    (steps.toSeq, vocab)
  }

  private[graft] def bpeStepsDf(spark: SparkSession,
      steps: Seq[(Int, String, String, Long, Long)]): DataFrame = {
    import spark.implicits._
    steps.toDF("step", "pair", "merged", "pair_count", "corpus_tokens")
  }

  /** Serve path: the stored tokenized vocab (built by `index_build_bpe`;
    * a standalone first touch trains and leaves the artifact behind). */
  private[graft] def storedBpeVocab(spark: SparkSession, dir: String): DataFrame =
    graft.tools.CacheRegistry.sharedTracked(s"bpe-vocab:$dir")(
      graft.tools.IndexStore.readOrBuild(spark, dir, "bpe-vocab")(
        bpeBuildSteps(spark, dir)._2))

  /** The shared tokenize-and-look-up projection: exploded corpus words
    * LEFT-joined to the broadcast (word → token count) vocabulary. The
    * batch fertility query and the streaming drift monitor
    * ([[graft.streaming.StreamingBpeMonitor]]) both aggregate over THIS
    * tree (the StreamingQualityFilter convention), so their parity is a
    * property of one expression, not of two copies. The left join is what
    * lets the stream see out-of-vocabulary words (null n_tok) — on the
    * training corpus itself OOV is impossible, so the batch aggregate is
    * unchanged by the outer-ness. */
  private[graft] def fertilityTokens(docs: DataFrame, vocab: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(vocab.select(col("word"),
        size(split(col("seq"), " ")).cast("long").as("n_tok"))), Seq("word"), "left")

  /** Tokenizer APPLY — the serving half of [[bpeTrain]]: tokenize the
    * corpus with the learned vocabulary and report per-source fertility
    * (tokens per word), the number a tokenizer team watches per domain and
    * language. The apply shape is the 100 TB story: token counts come from
    * a BROADCAST join of the (word → token count) vocabulary against the
    * exploded corpus — map-only over the corpus, one map-side-combined
    * rollup per source; no shuffle of document text, ever. (A production
    * 100k-merge vocab is a few MB — comfortably broadcastable.) OOV is
    * impossible by construction here (the vocab was trained on this
    * corpus); an inference-time corpus would LEFT join with a char-count
    * fallback. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    fertilityTokens(Tables.documentsParallel(spark, dir), storedBpeVocab(spark, dir))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"))
      .select(col("source"), col("n_words"), col("n_tokens"),
        pround(col("n_tokens").cast("double") / col("n_words"), 4)
          .as("tokens_per_word"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------------
  // cur_token_shards — tokenize with the LEARNED vocabulary, pack into
  // fixed-length training sequences (the end product a trainer reads)
  // ---------------------------------------------------------------------

  /** Tokens per packed training sequence. Production runs 2k–8k; the
    * construction is length-independent. */
  private val SeqLen = 512L

  /** The end of the pipeline: the per-SEQUENCE manifest of the packed
    * training set. [[packChunks]] packs by whitespace token counts and
    * assigns each doc wholly to its starting chunk; this is the real
    * thing — per-doc token counts come from the STORED BPE vocabulary
    * (`index_build_bpe`'s artifact, broadcast-joined exactly like
    * [[bpeFertility]]), documents are laid end-to-end in seeded-shuffle
    * order via the same distributed prefix sum, and every [[SeqLen]]-token
    * cut yields one row: how many documents overlap the sequence, how many
    * of its tokens are mid-document continuation carried over the cut
    * (`carry_tokens` — the attention-masking / boundary-waste stat a
    * pretraining team watches), and the token count (= [[SeqLen]]
    * everywhere but the tail).
    * A document spanning a cut contributes to every sequence it overlaps
    * (the [[chunkOverlap]] integer-lattice explode — map-only, ≤
    * ⌈len/SeqLen⌉+1 rows per doc). 100 TB shape: one broadcast join
    * (vocab, a few MB), one map-side-combined per-doc agg, the
    * [[PackBuckets]]-bounded prefix sum, and one final per-sequence agg —
    * no corpus-wide sort, no single-partition window. */
  def tokenShards(spark: SparkSession, dir: String): DataFrame = {
    val vocab = storedBpeVocab(spark, dir)
      .select(col("word"), size(split(col("seq"), " ")).cast("long").as("w_tok"))
    val h = h32(col("doc_id"), "shuf42")
    val docs = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(vocab), "word")
      .groupBy(col("doc_id")).agg(sum(col("w_tok")).as("n_tok"))
      .select(col("doc_id"), h.as("h"), floor(h / BucketShift).as("bucket"),
        col("n_tok"))

    val intraW = Window.partitionBy(col("bucket")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withIntra = docs.withColumn("intra", sum(col("n_tok")).over(intraW))
    val offW = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = docs.groupBy(col("bucket"))
      .agg(sum(col("n_tok")).as("tot"))
      .withColumn("off", sum(col("tot")).over(offW) - col("tot"))
      .select(col("bucket"), col("off"))

    withIntra
      .join(broadcast(offsets), "bucket")
      .withColumn("start", col("off") + col("intra") - col("n_tok"))
      .withColumn("seq_id", explode(sequence(
        floor(col("start") / SeqLen).cast("long"),
        floor((col("start") + col("n_tok") - 1) / SeqLen).cast("long"))))
      .groupBy(col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("start") < col("seq_id") * SeqLen,
          least(col("start") + col("n_tok"), (col("seq_id") + 1) * SeqLen)
            - col("seq_id") * SeqLen).otherwise(0L)).as("carry_tokens"),
        sum(least(col("start") + col("n_tok"), (col("seq_id") + 1) * SeqLen)
          - greatest(col("start"), col("seq_id") * SeqLen)).as("n_tokens"))
      .orderBy(col("seq_id"))
  }

  /** `cur_token_shards_lake` (round-11 verdict #7): the pipeline's END
    * PRODUCT committed through the manifest lake — the packed training
    * sequences land as a bucket-partitioned, manifest-committed table
    * (so time travel, retention, OPTIMIZE, data skipping, and CDC all
    * apply to the thing a trainer actually reads), and the gate reads
    * them back via [[Merge.readTableAt]] at the committed version. This
    * closes pipeline → lake: a training run pins (table, version)
    * instead of a loose parquet directory, and every re-read (resume,
    * audit, repro) is byte-identical regardless of later re-packs.
    * Shares [[tokenShardsSql]] — committing through the lake must be
    * content-neutral, which is exactly what the hash gate proves. */
  def tokenShardsLake(spark: SparkSession, dir: String): DataFrame = {
    val base = new java.io.File(dir).getName
    val tablePath =
      s"${System.getProperty("java.io.tmpdir")}/graft-shards-lake/$base/sequences"
    Merge.upsertIncrementalRounds(spark, tablePath, tokenShards(spark, dir),
      Seq.empty, "seq_id",
      overwriteCols = Seq("n_docs", "carry_tokens", "n_tokens"),
      coalesceCols = Seq.empty, keepCols = Seq.empty, buckets = 8)
    val v = Merge.tableVersions(spark, tablePath).max
    Merge.readTableAt(spark, tablePath, v)
      .select(col("seq_id"), col("n_docs"), col("carry_tokens"), col("n_tokens"))
      .orderBy(col("seq_id"))
  }

  // lazy: bpeCtesSql is declared below (the BPE section groups its oracle
  // helpers together); object-init order would otherwise read it as null
  lazy val tokenShardsSql: String =
    s"""WITH $bpeCtesSql,
       |wt AS (SELECT word, CAST(len(string_split(seq, ' ')) AS BIGINT) AS w_tok
       |       FROM v$BpeMerges),
       |dt AS (SELECT dw.doc_id, CAST(sum(wt.w_tok) AS BIGINT) AS n_tok
       |       FROM (SELECT doc_id,
       |               unnest(string_split_regex(lower(text), '\\s+')) AS word
       |             FROM documents) dw
       |       JOIN wt ON dw.word = wt.word
       |       WHERE dw.word != '' GROUP BY dw.doc_id),
       |c AS (SELECT doc_id, n_tok,
       |        sum(n_tok) OVER (ORDER BY ${h32Sql("doc_id", "shuf42")}, doc_id
       |                         ROWS UNBOUNDED PRECEDING) - n_tok AS start
       |      FROM dt),
       |s AS (SELECT unnest(generate_series(
       |               CAST(floor(start / $SeqLen) AS BIGINT),
       |               CAST(floor((start + n_tok - 1) / $SeqLen) AS BIGINT)))
       |               AS seq_id,
       |             doc_id, n_tok, start
       |      FROM c)
       |SELECT seq_id, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN start < seq_id * $SeqLen
       |                     THEN LEAST(start + n_tok, (seq_id + 1) * $SeqLen)
       |                          - seq_id * $SeqLen
       |                     ELSE 0 END) AS BIGINT) AS carry_tokens,
       |       CAST(sum(LEAST(start + n_tok, (seq_id + 1) * $SeqLen)
       |                - GREATEST(start, seq_id * $SeqLen)) AS BIGINT)
       |         AS n_tokens
       |FROM s GROUP BY seq_id ORDER BY seq_id""".stripMargin

  /** The K greedy merges unrolled as chained MATERIALIZED CTEs (one
    * pair-count + argmax + replace stage per step; scalar subqueries carry
    * the argmax into the replaces — MATERIALIZED so DuckDB evaluates each
    * stage once instead of inlining the recursion). Shared by the train
    * and fertility oracles. */
  private val bpeCtesSql: String = {
    def rep(b: String): String =
      s"trim(replace(replace('  ' || replace(seq, ' ', '  ') || '  ', " +
        s"' ' || (SELECT replace(pair, ' ', '  ') FROM $b) || ' ', " +
        s"' ' || (SELECT replace(pair, ' ', '') FROM $b) || ' '), '  ', ' '))"
    val stages = (1 to BpeMerges).map { i =>
      val prev = s"v${i - 1}"
      s"""p$i AS MATERIALIZED (SELECT pair, CAST(sum(freq) AS BIGINT) AS c FROM (
         |  SELECT unnest(list_transform(range(1, len(l)), j -> l[j] || ' ' || l[j+1])) AS pair, freq
         |  FROM (SELECT string_split(seq, ' ') AS l, freq FROM $prev)) GROUP BY pair),
         |b$i AS MATERIALIZED (SELECT pair, c FROM p$i ORDER BY c DESC, pair DESC LIMIT 1),
         |v$i AS MATERIALIZED (SELECT word, freq, ${rep(s"b$i")} AS seq FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""w AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word FROM documents)
       |  WHERE word != '' GROUP BY word),
       |v0 AS MATERIALIZED (
       |  SELECT word, freq,
       |         array_to_string(string_split(word, ''), ' ') || ' </w>' AS seq
       |  FROM w),
       |$stages""".stripMargin
  }

  val bpeTrainSql: String = {
    val rows = (1 to BpeMerges).map { i =>
      s"""  SELECT $i AS step, (SELECT pair FROM b$i) AS pair,
         |         (SELECT replace(pair, ' ', '') FROM b$i) AS merged,
         |         (SELECT c FROM b$i) AS pair_count,
         |         (SELECT CAST(sum(freq * len(string_split(seq, ' '))) AS BIGINT)
         |          FROM v$i) AS corpus_tokens""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH $bpeCtesSql
       |SELECT step, pair, merged, pair_count, corpus_tokens FROM (
       |$rows)
       |ORDER BY step""".stripMargin
  }

  val bpeFertilitySql: String =
    s"""WITH $bpeCtesSql,
       |wt AS (SELECT word, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_tok
       |       FROM v$BpeMerges),
       |dw AS (SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS word
       |       FROM documents)
       |SELECT dw.source, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(wt.n_tok) AS BIGINT) AS n_tokens,
       |       floor(sum(wt.n_tok)::DOUBLE / count(*) * 10000 + 0.5) / 10000.0
       |         AS tokens_per_word
       |FROM dw JOIN wt ON dw.word = wt.word
       |WHERE dw.word != ''
       |GROUP BY dw.source
       |ORDER BY dw.source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cur_bpe_fertility" -> bpeFertility,
    "cur_token_shards" -> tokenShards,
    "cur_token_shards_lake" -> tokenShardsLake,
    "cur_pipeline_report" -> curPipelineReport,
    "cur_chunk_overlap" -> chunkOverlap,
    "cur_priority_sample" -> prioritySample,
    "cur_split" -> split9055,
    "cur_dsir_select" -> dsirSelect,
    "cur_hard_negatives" -> hardNegatives,
    "cur_span_corrupt" -> spanCorrupt,
    "cur_shuffle_shards" -> shuffleShards,
    "cur_shard_manifest" -> shardManifest,
    "cur_pack_chunks" -> packChunks,
    "cur_stratified_sample" -> stratifiedSample,
    "cur_domain_mix" -> domainMix,
    "cur_decontaminate" -> decontaminate,
    "cur_bm25_topk" -> bm25TopK
  )

  val oracles: Map[String, String] = Map(
    "cur_bpe_fertility" -> bpeFertilitySql,
    // committing through the lake is content-neutral — shared oracle
    "cur_token_shards_lake" -> tokenShardsSql,
    "cur_token_shards" -> tokenShardsSql,
    "cur_pipeline_report" -> curPipelineReportSql,
    "cur_chunk_overlap" -> chunkOverlapSql,
    "cur_priority_sample" -> prioritySampleSql,
    "cur_split" -> split9055Sql,
    "cur_dsir_select" -> dsirSelectSql,
    "cur_hard_negatives" -> hardNegativesSql,
    "cur_span_corrupt" -> spanCorruptSql,
    "cur_shuffle_shards" -> shuffleShardsSql,
    "cur_shard_manifest" -> shardManifestSql,
    "cur_pack_chunks" -> packChunksSql,
    "cur_stratified_sample" -> stratifiedSampleSql,
    "cur_domain_mix" -> domainMixSql,
    "cur_decontaminate" -> decontaminateSql,
    "cur_bm25_topk" -> bm25TopKSql
  )
}
