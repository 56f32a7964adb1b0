package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.functions.{ArrayExpressions, VectorFunctions}
import graft.functions.OracleParity.pround
import graft.tools.CacheRegistry

/** Large-scale training-data deduplication operators — the pipeline ops a
  * 100 TB corpus needs beyond the reference's own surface.
  *
  * Scale invariant (round-2 hardening): NO operator here generates
  * candidates by joining unbounded blocks to themselves. Every candidate
  * set comes from a bounded generator:
  *
  *   - exact dedup: hash-groupBy on content digest (one shuffle on an
  *     8-byte key; map-side partial counts);
  *   - MinHash + LSH: shingle → k minhashes → bands → equi-join on
  *     (band, signature). Collision probability for a pair at Jaccard s is
  *     1−(1−s^r)^b — the candidate count is governed by actual similarity
  *     mass, not block size;
  *   - n-gram Jaccard: same banded-minhash candidate generator over bigram
  *     hashes (was: all-pairs inside (lang, source) blocks — O(|block|²)
  *     with blocks growing O(corpus); the classic dedup death at 100 TB);
  *   - SimHash: 60-bit signature; candidates block on 15-bit chunks —
  *     2^15 buckets whose occupancy is corpus-hash-uniform;
  *   - embedding cosine near-dup: candidates from sign-of-projection
  *     hyperplane buckets (2^8 buckets; was: all-pairs inside fixed-
  *     cardinality label blocks), then exact-cosine verification;
  *   - salted block join: where a block join IS the right tool (bounded
  *     semantic blocks with skewed occupancy), `saltedBlockPairJoin`
  *     splits each block across k tasks so one hot block cannot become a
  *     straggler — demonstrated by `dedup_salted_skew` on the corpus's
  *     skew-occupied `(lang, source)` key (en blocks up to 16× the rare
  *     ones).
  *
  * All hashing is md5-derived so the DuckDB oracle can reproduce it
  * bit-for-bit; at production scale you'd swap in xxhash64 via the same
  * column expressions.
  */
object Dedup {

  /** The dedup fixture corpus: the documents table plus an exact "re-crawl"
    * copy of every 4th doc and a near-duplicate (3 appended tokens) of
    * every 5th — emulating real crawl duplication, since the fixture's 500
    * texts are all distinct. */
  def corpus(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"), col("lang"), col("source"))
    val floor = deltaIdFloor(spark, dir)
    d.unionByName(
        d.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + floor).as("doc_id"), col("text"), col("lang"), col("source")))
      .unionByName(
        d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 2L * floor).as("doc_id"),
            concat(col("text"), lit(" near dup tail")).as("text"), col("lang"), col("source")))
  }

  val corpusSql: String =
    """corpus AS (
      |  SELECT doc_id, text, lang, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text, lang, source FROM documents WHERE doc_id % 4 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000, text || ' near dup tail', lang, source
      |  FROM documents WHERE doc_id % 5 = 0
      |)""".stripMargin

  // ---------------------------------------------------------------- exact

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("kept_doc_id"))
      .filter(col("n_copies") > 1)
      .orderBy(col("text_hash"))

  val dedupExactSql: String =
    s"""WITH $corpusSql
       |SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS kept_doc_id
       |FROM corpus
       |GROUP BY md5(text)
       |HAVING count(*) > 1
       |ORDER BY text_hash""".stripMargin

  /** The raw tokenization pass — what `index_build_tokens` materializes. */
  private[graft] def tokensFrame(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir).select(
      col("doc_id"), col("lang"), col("source"),
      split(lower(col("text")), "\\s+").as("toks"))

  /** Tokenized corpus shared ACROSS the dedup family: minhash, n-gram
    * Jaccard, salted-skew and simhash all start from
    * `split(lower(text), "\s+")` over the same corpus, and in a suite run
    * each used to re-scan and re-tokenize it per query. Layered like the
    * ANN artifacts since `index_build_tokens`: an [[IndexStore]] parquet
    * table (the at-scale `corpus_tokens` materialization, fingerprint-keyed
    * so corpus changes invalidate it) under a [[CacheRegistry.sharedTracked]]
    * in-memory handle (once-per-suite read). */
  private def corpusTokens(spark: SparkSession, dir: String): DataFrame =
    CacheRegistry.sharedTracked(s"dedup-tokens:$dir") {
      graft.tools.IndexStore.readOrBuild(spark, dir, "corpus-tokens")(
        tokensFrame(spark, dir))
    }

  // --------------------------------- exact substring dedup (Lee et al.)

  /** Window width. Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better") use 50 BPE tokens; the fixture's documents
    * run 10–99 whitespace tokens, so the fixture dial is 10 — every doc
    * contributes at least one window. */
  private val SubstrWindow = 10

  /** Exact-substring duplication report (Lee et al. 2022, the ExactSubstr
    * half of their pipeline — doc-level MinHash is [[dedupMinhashLsh]]).
    * A duplicated substring of ≥K tokens is exactly a run of duplicated
    * K-token windows, so instead of their suffix array — a global
    * sequential structure with no distributed analogue — we hash every
    * K-token window WITH its offset ([[ArrayExpressions.positionalWordNGrams]]),
    * count corpus-wide occurrences per window content, and report, per
    * document that contains any duplicated window: how many of its windows
    * are duplicated, the duplicated fraction, and the offset extent. Exact
    * copies show dup_frac = 1; near-dup tails < 1 — the per-span
    * granularity doc-level hashing can't see.
    *
    * Shape at 100 TB: one map-side window hash per doc, one groupBy on the
    * 8-byte window hash (count > 1 — map-side partial counts make the
    * unique mass, which is almost everything, collapse before the
    * shuffle), one equi-join back, one groupBy(doc). No suffix array, no
    * global sort, no all-pairs anything; boilerplate hot windows are
    * bounded by the count aggregate, not replicated through a pair join. */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame = {
    val w = corpusTokens(spark, dir)
      .select(col("doc_id"),
        (size(col("toks")) - (SubstrWindow - 1)).cast("long").as("n_windows"),
        posexplode(ArrayExpressions.positionalWordNGrams(col("toks"), SubstrWindow)))
      .withColumnRenamed("col", "gram")
    val dup = w.groupBy(col("gram")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") > 1)
      .select(col("gram"))
    w.join(dup, "gram")
      .groupBy(col("doc_id"), col("n_windows"))
      .agg(count(lit(1)).as("n_dup_windows"),
        (min(col("pos")) + 1).cast("long").as("first_dup_pos"),
        (max(col("pos")) + 1).cast("long").as("last_dup_pos"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        pround(col("n_dup_windows").cast("double") / col("n_windows").cast("double"), 4)
          .as("dup_frac"),
        col("first_dup_pos"), col("last_dup_pos"))
      .orderBy(col("doc_id"))
  }

  val dedupSubstringSql: String = {
    val gram = (0 until SubstrWindow).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""WITH $corpusSql,
       |tok AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
       |  FROM corpus),
       |g AS (
       |  SELECT doc_id,
       |         len(toks) - ${SubstrWindow - 1} AS n_windows,
       |         unnest(generate_series(1, len(toks) - ${SubstrWindow - 1})) AS pos,
       |         unnest(list_transform(generate_series(1, len(toks) - ${SubstrWindow - 1}),
       |           i -> CAST('0x' || substring(md5($gram), 1, 8) AS BIGINT))) AS gram
       |  FROM tok
       |  WHERE len(toks) >= $SubstrWindow),
       |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1)
       |SELECT doc_id,
       |       CAST(n_windows AS BIGINT) AS n_windows,
       |       count(*) AS n_dup_windows,
       |       floor(count(*)::DOUBLE / n_windows::DOUBLE * 10000 + 0.5) / 10000.0 AS dup_frac,
       |       CAST(min(pos) AS BIGINT) AS first_dup_pos,
       |       CAST(max(pos) AS BIGINT) AS last_dup_pos
       |FROM g JOIN dup USING (gram)
       |GROUP BY doc_id, n_windows
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------- banded-minhash candidate engine

  private val NumHashes = 16
  private val NumBands = 4
  private val RowsPerBand = NumHashes / NumBands
  private val MinhashPrime = 2147483647L
  /** (a, b) per hash function; a small enough that a*h32 never overflows. */
  private val seeds: Seq[(Long, Long)] =
    (0 until NumHashes).map(j => (2L * j + 3L, 1000003L * j))

  /** Candidate pairs (a_id < b_id) from banded minhash signatures over a
    * `(doc_id, hs)` projection, where `hs` is a sorted distinct ARRAY<LONG>
    * of gram hashes. This is THE bounded candidate generator: an equi-join
    * on (band, md5-of-band-signature), so per-task work is governed by
    * signature-collision mass — pairs that are actually similar — never by
    * the size of any semantic block. All 16 affine minhashes come from a
    * single codegen'd pass over the hash array
    * ([[graft.functions.AffineMinHash]]).
    *
    * Empty gram arrays (documents shorter than the gram width) minhash to
    * Long.MaxValue per seed; the oracle mirrors that sentinel with
    * `coalesce(list_min(...), Long.MaxValue)` since DuckDB's list_min of an
    * empty list is NULL (ADVICE r1 parity fix). */
  /** Banded minhash signatures (doc_id, band, sig) of a `(doc_id, hs)`
    * projection — the per-document LSH keys. Factored out of
    * [[bandedCandidates]] so the INCREMENTAL path can materialize the base
    * corpus's signatures once ([[bandsFrame]] / `index_build_minhash_bands`)
    * and join only a new batch's signatures against them.
    *
    * The (bands, rowsPerBand) dial defaults to the pinned 4×4 every oracle
    * query uses; graft.tools.BandSweep @ c6e9ec7 drives the other partitions of
    * the 16 hashes to measure the collision-probability trade the defaults buy
    * (SCALING.md "The banding dial"). */
  private[graft] def bandedSignatures(sh: DataFrame,
      bands: Int = NumBands, rowsPerBand: Int = RowsPerBand): DataFrame = {
    require(bands * rowsPerBand <= NumHashes,
      s"banding $bands x $rowsPerBand exceeds the $NumHashes computed hashes")
    val withMharr = sh.withColumn("mharr", ArrayExpressions.affineMinHash(
      col("hs"), seeds.map(_._1), seeds.map(_._2), MinhashPrime))
    val mhCols = seeds.indices.map(j => element_at(col("mharr"), j + 1).as(s"mh_$j"))
    val withMh = withMharr.select(col("doc_id") +: mhCols: _*)
    val bandStructs = (0 until bands).map { k =>
      val sig = md5(concat_ws(",",
        (0 until rowsPerBand).map(i => col(s"mh_${k * rowsPerBand + i}").cast("string")): _*))
      struct(lit(k).as("band"), sig.as("sig"))
    }
    withMh
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.sig").as("sig"))
  }

  private[graft] def bandedCandidates(sh: DataFrame): DataFrame = {
    val banded = bandedSignatures(sh)
    banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
  }

  /** DuckDB mirror of [[bandedSignatures]]: emits `mh$suffix` and
    * `banded$suffix` CTEs over a relation `gramsRel(doc_id, hs)`. The
    * suffix lets one query carry TWO signature sets (the incremental
    * dedup's base and delta). */
  private def bandedSignaturesSql(gramsRel: String, suffix: String): String = {
    val mhExprs = seeds.zipWithIndex.map { case ((a, b), j) =>
      s"coalesce(list_min(list_transform(hs, h -> ($a * h + $b) % $MinhashPrime)), ${Long.MaxValue}) AS mh_$j"
    }.mkString(",\n")
    val bandSelects = (0 until NumBands).map { k =>
      val cols = (0 until RowsPerBand).map(i => s"mh_${k * RowsPerBand + i}").mkString(", ")
      s"SELECT doc_id, $k AS band, md5(array_to_string([$cols], ',')) AS sig FROM mh$suffix"
    }.mkString("\n  UNION ALL\n  ")
    s"""mh$suffix AS (SELECT doc_id,
       |$mhExprs
       |FROM $gramsRel),
       |banded$suffix AS (
       |  $bandSelects
       |)""".stripMargin
  }

  /** DuckDB mirror of [[bandedCandidates]]: emits `mh`, `banded`, `cand`
    * CTEs over a relation `gramsRel(doc_id, hs)`. */
  private def bandedCandidatesSql(gramsRel: String): String =
    s"""${bandedSignaturesSql(gramsRel, "")},
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM banded x
       |  JOIN banded y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
       |)""".stripMargin

  // ---------------------------------------------------------- minhash+LSH

  /** doc_id + sorted distinct md5-hashed 3-word shingle set over an
    * arbitrary `(doc_id, toks)` frame, built by the fused
    * [[graft.functions.HashedWordNGrams]] kernel — one primitive pass per
    * document instead of five interpreted array transforms, and an 8-byte
    * hash per shingle on the wire instead of a ~20-byte string. Shared by
    * the whole-corpus [[shingled]] and the incremental path's base/delta
    * splits. */
  private[graft] def shingledOf(toks: DataFrame): DataFrame =
    toks.select(
      col("doc_id"),
      ArrayExpressions.hashedWordNGrams(col("toks"), 3).as("hs"))

  private def shingled(spark: SparkSession, dir: String): DataFrame =
    shingledOf(corpusTokens(spark, dir))

  private def shingledSqlOn(corpusRel: String, out: String): String =
    s"""$out AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(
       |           list_transform(generate_series(1, len(toks) - 2),
       |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
       |           s -> CAST('0x' || substring(md5(s), 1, 8) AS BIGINT))) AS hs
       |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks FROM $corpusRel)
       |)""".stripMargin

  private val shingledSql: String = shingledSqlOn("corpus", "sh")

  /** Verified near-dup pairs (a_id < b_id, Jaccard ≥ 0.5) — the composable
    * core of `dedup_minhash_lsh`, also consumed by
    * [[Components.dedupComponents]] as the edge set for duplicate-cluster
    * resolution. Unordered and unrounded; finishers apply their own
    * presentation. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // The signature set feeds three plan branches (banding + both verify
    // sides): persist it — tracked so the harness unpersists after the
    // action (ADVICE r1: the untracked persist leaked cached blocks across
    // the 50-query suite). The at-scale form is a materialized signatures
    // table (see NOTES.md).
    val sh = CacheRegistry.persistTracked(shingled(spark, dir))
    val cand = bandedCandidates(sh)
    val sa = sh.select(col("doc_id").as("a_id"), col("hs").as("sa"))
    val sb = sh.select(col("doc_id").as("b_id"), col("hs").as("sb"))
    cand.join(sa, "a_id").join(sb, "b_id")
      .withColumn("inter", ArrayExpressions.sortedLongIntersectCount(col("sa"), col("sb")))
      .withColumn("jacc",
        col("inter").cast("double") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jacc") >= 0.5)
      .select(col("a_id"), col("b_id"), col("jacc"))
  }

  /** DuckDB mirror of [[minhashPairs]]: the full CTE chain ending in
    * `pairs(a_id, b_id, jacc)`. Shared between the minhash query's oracle
    * and the connected-components oracle so both engines score the same
    * edge set. */
  val minhashPairsCtes: String =
    s"""$corpusSql,
       |$shingledSql,
       |${bandedCandidatesSql("sh")},
       |pairs AS (
       |  SELECT a_id, b_id, jacc FROM (
       |    SELECT a_id, b_id,
       |           len(list_intersect(sa.hs, sb.hs))::DOUBLE
       |             / (len(sa.hs) + len(sb.hs)
       |                - len(list_intersect(sa.hs, sb.hs))) AS jacc
       |    FROM cand
       |    JOIN sh sa ON sa.doc_id = a_id
       |    JOIN sh sb ON sb.doc_id = b_id)
       |  WHERE jacc >= 0.5
       |)""".stripMargin

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(spark, dir)
      .select(col("a_id"), col("b_id"), pround(col("jacc"), 4).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))

  val dedupMinhashLshSql: String =
    s"""WITH $minhashPairsCtes
       |SELECT a_id, b_id,
       |  floor(jacc * 10000 + 0.5) / 10000.0 AS jaccard
       |FROM pairs
       |ORDER BY a_id, b_id""".stripMargin

  // ------------------------------------------------------ incremental dedup

  /** Synthetic doc_ids at/above this floor are the fixture corpus's
    * "re-crawl" docs (the +100000 exact copies and +200000 near-dups in
    * [[corpus]]) — the incremental dedup's DELTA batch. Everything below is
    * the BASE corpus (= the documents table), whose band signatures are a
    * stored artifact.
    *
    * The floor is the fixture-pinned literal the oracle SQL unrolls — the
    * SIZED form every Spark-side consumer actually reads is
    * [[deltaIdFloor]], which equals this at every oracle fixture. The core
    * ([[incrementalVerdictFrames]]) carries no floor at all. */
  private[graft] val DeltaIdFloor = 100000L

  /** The base/delta id floor for `dir`'s corpus (round-11 verdict #4 —
    * the fixed 100000 offsets bounded every id-split dedup replay to ×20):
    * the pinned [[DeltaIdFloor]] whenever real doc ids stay below it
    * (every oracle fixture, where the DuckDB mirrors unroll the literal),
    * else the next power of ten above max(doc_id) — so [[corpus]]'s
    * synthetic re-crawl offsets never collide with real ids and the
    * incremental-dedup family replays at any ×K. Memoized per dir (one
    * max() aggregate, the corpusSize discipline). */
  private val floors = scala.collection.concurrent.TrieMap.empty[String, Long]
  private[graft] def deltaIdFloor(spark: SparkSession, dir: String): Long =
    floors.getOrElseUpdate(dir, {
      val maxId = Tables.documents(spark, dir)
        .agg(max(col("doc_id"))).head().getLong(0)
      var f = DeltaIdFloor
      while (f <= maxId) f *= 10L
      f
    })

  /** The base corpus's banded minhash signatures — what
    * `index_build_minhash_bands` materializes. At 100 TB this table is the
    * whole point of incremental dedup: it is built ONCE over the existing
    * corpus (and appended to as batches are accepted), so admitting a new
    * crawl never re-shingles the base. */
  private[graft] def bandsFrame(spark: SparkSession, dir: String): DataFrame =
    bandedSignatures(shingledOf(
      corpusTokens(spark, dir).filter(col("doc_id") < deltaIdFloor(spark, dir))))

  private def storedBands(spark: SparkSession, dir: String): DataFrame =
    CacheRegistry.sharedTracked(s"minhash-bands:$dir")(
      graft.tools.IndexStore.readOrBuild(spark, dir, "minhash-bands")(
        bandsFrame(spark, dir)))

  /** Incremental dedup: admit a NEW batch against the existing corpus
    * without re-deduplicating the corpus ("don't re-dedup 100 TB per
    * crawl"). Per delta doc, one verdict row:
    *
    *   - `dup_of_base`  — best verified match (Jaccard ≥ 0.5) is a base doc;
    *   - `dup_in_batch` — best match is an EARLIER delta doc (keep-first
    *     within the batch, so accepted batches stay internally deduped);
    *   - `new`          — no verified match; the doc would be admitted (and
    *     its band signatures appended to the stored table).
    *
    * Candidates come from two bounded generators, and base-vs-base pairs
    * are never formed:
    *
    *   1. delta-vs-base: the delta batch's band signatures (small — one
    *      crawl) BROADCAST against the stored base band table, which is
    *      scanned once and never shuffled — the join the 100 TB side pays
    *      is a map-side hash probe;
    *   2. delta-vs-delta: the usual banded self-join, sized by the batch.
    *
    * Verification then fetches shingle sets ONLY for docs named by a
    * candidate pair (at scale: an id-pruned fetch from the corpus-tokens
    * table; candidates ∝ similarity mass, not corpus size). Best match =
    * max Jaccard, min matched_id tiebreak — both engines compute Jaccard
    * as the same integer-count division, so the order is exact. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val toks = corpusTokens(spark, dir)
    val floor = deltaIdFloor(spark, dir)
    incrementalVerdictFrames(
      storedBands(spark, dir),
      // shingle base docs AFTER the candidate-id prune (ids => frame), so
      // only docs actually named by a candidate pair are ever shingled —
      // the 100 TB base contributes a narrow id-pruned token fetch, not a
      // corpus re-shingle
      candIds => shingledOf(
        toks.filter(col("doc_id") < floor)
          .join(broadcast(candIds), Seq("doc_id"), "left_semi")),
      // three consumers (banding, both verify sides): persist the small
      // delta shingle frame for the query's duration
      CacheRegistry.persistTracked(
        shingledOf(toks.filter(col("doc_id") >= floor))))
  }

  /** The frames-based incremental-dedup core: base band signatures + base
    * shingle sets + a delta batch's shingle sets → one verdict row per
    * delta doc, fed by the batch query above (stored artifact + fixture
    * split; the crawl-admission maintainer
    * graft.streaming.StreamingIncrementalDedup @ 134fd08 passed its state
    * tables). Base/in-batch attribution travels WITH the candidate (which
    * generator produced it), so the core never assumes anything about id
    * ranges.
    *
    * `fetchBaseShingles` maps a (doc_id) frame of candidate matched ids to
    * their `(doc_id, hs)` shingle sets — a FUNCTION rather than a frame
    * because the prune must happen BELOW the shingle computation: Catalyst
    * does not push a semi-join under a projection, so a pre-shingled
    * corpus frame would compute every base doc's shingles before the
    * filter (measured: the ×10 replay's verify stage re-shingled 100% of
    * the base). The batch query prunes the token fetch.
    *
    * The delta frame feeds three plan branches (banding, both verify
    * sides): callers persist it for the query's duration and own the
    * release. */
  private[graft] def incrementalVerdictFrames(baseBands: DataFrame,
      fetchBaseShingles: DataFrame => DataFrame, deltaSh: DataFrame): DataFrame = {
    val deltaBands = bandedSignatures(deltaSh)
    val candBase = baseBands.as("b")
      .join(broadcast(deltaBands).as("d"),
        col("b.band") === col("d.band") && col("b.sig") === col("d.sig"))
      .select(col("d.doc_id").as("delta_id"), col("b.doc_id").as("matched_id"),
        lit(false).as("in_batch"))
    val candDelta = bandedCandidates(deltaSh)
      .select(col("b_id").as("delta_id"), col("a_id").as("matched_id"),
        lit(true).as("in_batch"))
    val cand = candBase.unionByName(candDelta).distinct()

    val candIds = cand.select(col("matched_id").as("doc_id")).distinct()
    val matchedSh = fetchBaseShingles(candIds)
      .unionByName(deltaSh.join(broadcast(candIds), Seq("doc_id"), "left_semi"))
    val verified = cand
      .join(deltaSh.select(col("doc_id").as("delta_id"), col("hs").as("sd")), "delta_id")
      .join(matchedSh.select(col("doc_id").as("matched_id"), col("hs").as("sm")), "matched_id")
      .withColumn("inter", ArrayExpressions.sortedLongIntersectCount(col("sd"), col("sm")))
      .withColumn("jacc",
        col("inter").cast("double") / (size(col("sd")) + size(col("sm")) - col("inter")))
      .filter(col("jacc") >= 0.5)

    val w = Window.partitionBy(col("delta_id"))
      .orderBy(desc("jacc"), col("matched_id"))
    val best = verified
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("delta_id"), col("matched_id"), col("jacc"), col("in_batch"))
    deltaSh.select(col("doc_id").as("delta_id"))
      // best is delta-bounded (≤ one row per delta doc): broadcast it so
      // the verdict join never shuffles
      .join(broadcast(best), Seq("delta_id"), "left")
      .select(col("delta_id"), col("matched_id"),
        pround(col("jacc"), 4).as("jaccard"),
        when(col("matched_id").isNull, "new")
          .when(col("in_batch"), "dup_in_batch")
          .otherwise("dup_of_base").as("verdict"))
      .orderBy(col("delta_id"))
  }

  /** Shared CTE chain for the incremental oracle: base/delta corpus splits,
    * both signature sets, the two candidate generators, verified matches. */
  private val incrementalCtes: String =
    s"""$corpusSql,
       |corpus_base AS (SELECT * FROM corpus WHERE doc_id < $DeltaIdFloor),
       |corpus_delta AS (SELECT * FROM corpus WHERE doc_id >= $DeltaIdFloor),
       |${shingledSqlOn("corpus_base", "sh_b")},
       |${shingledSqlOn("corpus_delta", "sh_d")},
       |${bandedSignaturesSql("sh_b", "_b")},
       |${bandedSignaturesSql("sh_d", "_d")},
       |cand AS (
       |  SELECT DISTINCT delta_id, matched_id FROM (
       |    SELECT d.doc_id AS delta_id, b.doc_id AS matched_id
       |    FROM banded_d d JOIN banded_b b ON d.band = b.band AND d.sig = b.sig
       |    UNION ALL
       |    SELECT y.doc_id AS delta_id, x.doc_id AS matched_id
       |    FROM banded_d x JOIN banded_d y
       |      ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)),
       |sh_all AS (SELECT * FROM sh_b UNION ALL SELECT * FROM sh_d),
       |ver AS (
       |  SELECT delta_id, matched_id, jacc FROM (
       |    SELECT delta_id, matched_id,
       |           len(list_intersect(sd.hs, sm.hs))::DOUBLE
       |             / (len(sd.hs) + len(sm.hs)
       |                - len(list_intersect(sd.hs, sm.hs))) AS jacc
       |    FROM cand
       |    JOIN sh_d sd ON sd.doc_id = delta_id
       |    JOIN sh_all sm ON sm.doc_id = matched_id)
       |  WHERE jacc >= 0.5)""".stripMargin

  /** CTE chain ending in `vrows(delta_id, matched_id, jacc, verdict)` —
    * shared by the incremental query's oracle and the admission-funnel
    * report's. */
  private val incrementalVerdictCtes: String =
    s"""$incrementalCtes,
       |best AS (
       |  SELECT delta_id, matched_id, jacc FROM (
       |    SELECT delta_id, matched_id, jacc,
       |           row_number() OVER (PARTITION BY delta_id
       |                              ORDER BY jacc DESC, matched_id) AS rn
       |    FROM ver)
       |  WHERE rn = 1),
       |vrows AS (
       |  SELECT d.doc_id AS delta_id, b.matched_id, b.jacc,
       |         CASE WHEN b.matched_id IS NULL THEN 'new'
       |              WHEN b.matched_id < $DeltaIdFloor THEN 'dup_of_base'
       |              ELSE 'dup_in_batch' END AS verdict
       |  FROM corpus_delta d LEFT JOIN best b ON b.delta_id = d.doc_id)""".stripMargin

  val dedupIncrementalSql: String =
    s"""WITH $incrementalVerdictCtes
       |SELECT delta_id, matched_id,
       |       floor(jacc * 10000 + 0.5) / 10000.0 AS jaccard,
       |       verdict
       |FROM vrows
       |ORDER BY delta_id""".stripMargin

  /** The per-crawl ADMISSION FUNNEL — the report a crawl pipeline's
    * on-call reads after each ingest: crawl size → survivors after the
    * base-corpus check → survivors after the in-batch check (= admitted),
    * one row per stage with reduction rate and the KMV estimate of the
    * same count (the [[Components.dedupPipelineReport]] convention: at
    * 100 TB funnels report FROM sketches, and KMV's determinism makes the
    * estimates hash-checkable, not just tolerance-checked). Three 1-row
    * aggregates over the verdict frame the incremental query already
    * computes — nothing here costs more than the judging itself. */
  def dedupIncrementalReport(spark: SparkSession, dir: String): DataFrame = {
    val kmv = udaf(graft.functions.KmvSketch)
    def h(c: Column): Column =
      conv(substring(md5(c), 1, 8), 16, 10).cast("long")
    val v = CacheRegistry.persistTracked(dedupIncremental(spark, dir))
    val s = v.agg(
      count(lit(1)).as("n0"),
      sum(when(col("verdict") === "dup_of_base", 1L).otherwise(0L)).as("nb"),
      kmv(h(col("delta_id").cast("string"))).as("k0"))
    val s1 = v.filter(col("verdict") =!= "dup_of_base")
      .agg(kmv(h(col("delta_id").cast("string"))).as("k1"))
    val s2 = v.filter(col("verdict") === "new")
      .agg(count(lit(1)).as("nn"),
        kmv(h(col("delta_id").cast("string"))).as("k2"))
    def stage(no: Long, name: String, in: Column, out: Column, est: Column) =
      struct(lit(no).as("stage_no"), lit(name).as("stage"),
        in.as("n_in"), out.as("n_out"), est.as("n_out_kmv"))
    s.crossJoin(s1).crossJoin(s2)
      .select(explode(array(
        stage(1L, "crawl", col("n0"), col("n0"), col("k0")),
        stage(2L, "vs_base", col("n0"), col("n0") - col("nb"), col("k1")),
        stage(3L, "in_batch", col("n0") - col("nb"), col("nn"), col("k2")))).as("r"))
      .select(col("r.stage_no"), col("r.stage"), col("r.n_in"), col("r.n_out"),
        col("r.n_out_kmv"),
        // a crawl that is ALL base re-deliveries leaves stage 3 with
        // n_in = 0: report reduction 0 instead of tripping ANSI's
        // divide-by-zero
        when(col("r.n_in") === 0L, 0.0).otherwise(
          pround(lit(1.0) - col("r.n_out").cast("double") / col("r.n_in"), 4))
          .as("reduction"))
      .orderBy(col("stage_no"))
  }

  val dedupIncrementalReportSql: String =
    s"""WITH $incrementalVerdictCtes,
       |v_all AS (SELECT delta_id FROM vrows),
       |v_nb AS (SELECT delta_id FROM vrows WHERE verdict <> 'dup_of_base'),
       |v_new AS (SELECT delta_id FROM vrows WHERE verdict = 'new'),
       |${Components.kmvEstCte("k0", "v_all", "delta_id::VARCHAR")},
       |${Components.kmvEstCte("k1", "v_nb", "delta_id::VARCHAR")},
       |${Components.kmvEstCte("k2", "v_new", "delta_id::VARCHAR")},
       |s AS (
       |  SELECT count(*) AS n0,
       |         CAST(sum(CASE WHEN verdict = 'dup_of_base' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
       |         CAST(sum(CASE WHEN verdict = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS nn
       |  FROM vrows)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS stage_no, 'crawl' AS stage,
       |         n0 AS n_in, n0 AS n_out, k0.est AS n_out_kmv,
       |         CASE WHEN n0 = 0 THEN 0.0
       |              ELSE floor((1.0 - n0::DOUBLE / n0) * 10000 + 0.5) / 10000.0 END
       |           AS reduction
       |  FROM s, k0
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), 'vs_base', n0, n0 - nb, k1.est,
       |         CASE WHEN n0 = 0 THEN 0.0
       |              ELSE floor((1.0 - (n0 - nb)::DOUBLE / n0) * 10000 + 0.5) / 10000.0 END
       |  FROM s, k1
       |  UNION ALL
       |  SELECT CAST(3 AS BIGINT), 'in_batch', n0 - nb, nn, k2.est,
       |         CASE WHEN n0 - nb = 0 THEN 0.0
       |              ELSE floor((1.0 - nn::DOUBLE / (n0 - nb)) * 10000 + 0.5) / 10000.0 END
       |  FROM s, k2)
       |ORDER BY stage_no""".stripMargin

  /** Oracle for `index_build_minhash_bands`: from-scratch base-signature
    * rebuild, summarized. */
  val bandsBuildSql: String =
    s"""WITH $corpusSql,
       |corpus_base AS (SELECT * FROM corpus WHERE doc_id < $DeltaIdFloor),
       |${shingledSqlOn("corpus_base", "sh_b")},
       |${bandedSignaturesSql("sh_b", "_b")}
       |SELECT count(*) AS n_rows, count(DISTINCT doc_id) AS n_docs,
       |       count(DISTINCT sig) AS n_sigs
       |FROM banded_b""".stripMargin

  // -------------------------------------------------------------- simhash

  private val SimhashBits = 60
  private val ChunkBits = 15
  private val NumChunks = 4
  private val HammingMax = 8

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    // one codegen'd pass per document over its token-hash array — replaces
    // a 60-way explode (56M intermediate rows at sf0.1) plus two shuffles
    val sims = corpusTokens(spark, dir)
      .select(col("doc_id"),
        ArrayExpressions.simHash60(
          ArrayExpressions.hashedWords60(col("toks"))).as("simhash"))
    val chunks = sims
      .select(col("doc_id"), col("simhash"), explode(sequence(lit(0), lit(NumChunks - 1))).as("k"))
      .withColumn("chunk", expr(s"shiftright(simhash, $ChunkBits * k) & ${(1 << ChunkBits) - 1}"))
    val cand = chunks.as("x")
      .join(chunks.as("y"),
        col("x.k") === col("y.k") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int"))
      .filter(col("hamming") <= HammingMax)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val dedupSimhashSql: String =
    s"""WITH $corpusSql,
       |tok AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w FROM corpus),
       |th AS (
       |  SELECT doc_id, CAST('0x' || substring(md5(w), 1, 15) AS BIGINT) AS h FROM tok),
       |bits AS (
       |  SELECT doc_id, b.bit,
       |         sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, ${SimhashBits - 1})) AS bit) b
       |  GROUP BY doc_id, b.bit),
       |sims AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0::BIGINT END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id),
       |chunks AS (
       |  SELECT doc_id, simhash, k.k AS k,
       |         (simhash >> ($ChunkBits * k.k)) & ${(1 << ChunkBits) - 1} AS chunk
       |  FROM sims CROSS JOIN (SELECT unnest(generate_series(0, ${NumChunks - 1})) AS k) k),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
       |                  x.simhash AS sa, y.simhash AS sb
       |  FROM chunks x
       |  JOIN chunks y ON x.k = y.k AND x.chunk = y.chunk AND x.doc_id < y.doc_id)
       |SELECT a_id, b_id, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
       |FROM cand
       |WHERE bit_count(xor(sa, sb)) <= $HammingMax
       |ORDER BY a_id, b_id""".stripMargin

  // ------------------------------------------------------- n-gram jaccard

  /** Verified bigram-Jaccard near-dup pairs, with candidates from the SAME
    * banded-minhash generator as [[dedupMinhashLsh]] (run over bigram
    * hashes instead of 3-shingles). Round 1 blocked on (lang, source) and
    * joined blocks to themselves — O(|block|²) with block size growing
    * linearly in the corpus; at 100 TB one common-crawl-English block is
    * the whole corpus. Banding makes candidate volume track similarity
    * mass instead. Verification (exact Jaccard via the sorted-intersect
    * kernel) and the 0.3 threshold are unchanged; banding bounds RECALL to
    * pairs whose minhash signatures collide (1−(1−s^4)^4 at Jaccard s) —
    * the standard LSH trade, mirrored exactly by the oracle. */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // candidate generation + both verify sides consume the same hashed-gram
    // projection; persist (tracked — see dedupMinhashLsh) rather than
    // recompute the corpus scan + kernel three times
    val grams = CacheRegistry.persistTracked(
      corpusTokens(spark, dir).select(
        col("doc_id"),
        ArrayExpressions.hashedWordNGrams(col("toks"), 2).as("hs")))
    val cand = bandedCandidates(grams)
    val ga = grams.select(col("doc_id").as("a_id"), col("hs").as("ga"))
    val gb = grams.select(col("doc_id").as("b_id"), col("hs").as("gb"))
    cand.join(ga, "a_id").join(gb, "b_id")
      .withColumn("inter", ArrayExpressions.sortedLongIntersectCount(col("ga"), col("gb")))
      .withColumn("jacc",
        col("inter").cast("double") / (size(col("ga")) + size(col("gb")) - col("inter")))
      .filter(col("jacc") >= 0.3)
      .select(col("a_id"), col("b_id"), pround(col("jacc"), 4).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val dedupNgramJaccardSql: String =
    s"""WITH $corpusSql,
       |sh AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(
       |           list_transform(generate_series(1, len(toks) - 1),
       |             i -> toks[i] || ' ' || toks[i+1]),
       |           s -> CAST('0x' || substring(md5(s), 1, 8) AS BIGINT))) AS hs
       |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks FROM corpus)),
       |${bandedCandidatesSql("sh")}
       |SELECT a_id, b_id, floor(jacc * 10000 + 0.5) / 10000.0 AS jaccard
       |FROM (
       |  SELECT a_id, b_id,
       |         len(list_intersect(sa.hs, sb.hs))::DOUBLE
       |           / (len(sa.hs) + len(sb.hs)
       |              - len(list_intersect(sa.hs, sb.hs))) AS jacc
       |  FROM cand
       |  JOIN sh sa ON sa.doc_id = a_id
       |  JOIN sh sb ON sb.doc_id = b_id)
       |WHERE jacc >= 0.3
       |ORDER BY a_id, b_id""".stripMargin

  // ------------------------------------------- salted skewed block join

  /** Skew-hardening demo: the SAME verified bigram-Jaccard computation, but
    * with candidates from a bounded semantic block key — (lang, source) —
    * whose OCCUPANCY is heavily skewed in the fixture (en blocks hold up
    * to 16× the rows of the rare fr/de blocks; a miniature of the
    * common-crawl-English problem). This is the case salting is for:
    * blocks that are legitimate (a bounded key set), just unevenly filled.
    * [[graft.functions.ArrayExpressions.saltedBlockPairJoin]] gives the
    * left side salt h(id) mod 8 and replicates the right side to all 8
    * salts, so each (block, salt) task holds |block|/8 left rows — the hot
    * block splits across 8 tasks while the result is EXACTLY the unsalted
    * pair set, which is what the (unsalted) oracle verifies. For UNBOUNDED
    * block keys, salting is not enough — use banded-minhash candidates
    * ([[dedupNgramJaccard]]) instead. */
  def dedupSaltedSkew(spark: SparkSession, dir: String): DataFrame = {
    val grams = corpusTokens(spark, dir).select(
      col("doc_id"), col("lang"), col("source"),
      ArrayExpressions.hashedWordNGrams(col("toks"), 2).as("grams"))
    ArrayExpressions.saltedBlockPairJoin(grams, Seq("lang", "source"), "doc_id", 8)
      .withColumn("inter", ArrayExpressions.sortedLongIntersectCount(col("a_grams"), col("b_grams")))
      .withColumn("jacc",
        col("inter").cast("double") / (size(col("a_grams")) + size(col("b_grams")) - col("inter")))
      .filter(col("jacc") >= 0.3)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pairs"),
        pround(min(col("jacc")), 4).as("min_jaccard"),
        pround(max(col("jacc")), 4).as("max_jaccard"))
      .orderBy(col("lang"))
  }

  val dedupSaltedSkewSql: String =
    s"""WITH $corpusSql,
       |g AS (
       |  SELECT doc_id, lang, source,
       |         list_distinct(list_transform(
       |           list_transform(generate_series(1, len(toks) - 1),
       |             i -> toks[i] || ' ' || toks[i+1]),
       |           s -> CAST('0x' || substring(md5(s), 1, 8) AS BIGINT))) AS grams
       |  FROM (SELECT doc_id, lang, source, string_split_regex(lower(text), '\\s+') AS toks FROM corpus)),
       |p AS (
       |  SELECT x.lang AS lang,
       |         len(list_intersect(x.grams, y.grams))::DOUBLE
       |           / (len(x.grams) + len(y.grams)
       |              - len(list_intersect(x.grams, y.grams))) AS jacc
       |  FROM g x
       |  JOIN g y ON x.lang = y.lang AND x.source = y.source AND x.doc_id < y.doc_id)
       |SELECT lang, count(*) AS n_pairs,
       |       floor(min(jacc) * 10000 + 0.5) / 10000.0 AS min_jaccard,
       |       floor(max(jacc) * 10000 + 0.5) / 10000.0 AS max_jaccard
       |FROM p WHERE jacc >= 0.3
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // ------------------------------------------- embedding cosine near-dup

  private val NearDupPlanes = 8

  /** Embedding near-dup pairs with candidates from sign-of-projection
    * hyperplane buckets (shared with `ann_lsh_buckets`), then exact-cosine
    * verification at ≥ 0.99. Round 1 blocked on `label` — fixed
    * cardinality, so per-block pairs were O((N/k)²); hyperplane buckets
    * scale with 2^planes and near-identical vectors (the actual near-dups)
    * land in the same bucket unless a projection sits within the
    * perturbation of zero — the standard LSH recall trade, mirrored by the
    * oracle. */
  def dedupEmbeddingCosine(spark: SparkSession, dir: String): DataFrame =
    dedupEmbeddingCosinePlanes(spark, dir, NearDupPlanes)

  /** `e` plus its manufactured near-dups (every 10th vector perturbed by
    * ±2⁻⁷ per element, id offset by `pertOffset`) — the corpus both
    * blocking strategies scan. */
  private[graft] def withPerturbed(e: DataFrame, pertOffset: Long): DataFrame =
    e.unionByName(
      e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + pertOffset).as("vec_id"),
          transform(sequence(lit(1), lit(64)),
            i => element_at(col("v"), i) + lit(0.0078125) * (i % 3 - 1).cast("double")).as("v")))

  /** The shared near-dup core over any `(vec_id, v)` corpus: manufacture
    * near-dups ([[withPerturbed]], ids offset by 100000), block by
    * sign-of-projection hyperplane bucket, verify candidates by exact
    * cosine ≥ 0.99. */
  private[graft] def nearDupPairsOn(e: DataFrame, planes: Int): DataFrame = {
    val all = withPerturbed(e, 100000L)
      .withColumn("bucket", VectorFunctions.hyperplaneBucket(col("v"), planes))
    val x = all.select(col("vec_id").as("a_id"), col("v").as("va"), col("bucket"))
    val y = all.select(col("vec_id").as("b_id"), col("v").as("vb"), col("bucket"))
    x.join(y, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", VectorFunctions.cosineSimilarity(col("va"), col("vb")))
      .filter(col("cos") >= 0.99)
      .select(col("a_id"), col("b_id"), pround(col("cos"), 4).as("cosine"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Plane count is THE scale dial: 2^planes buckets, so occupancy — and with
    * it within-bucket candidate pairs — grows linearly in corpus size when
    * planes is fixed. Production sizing is planes ≈ log2(n / target_occupancy):
    * the graft.tools.SfScale @ c6e9ec7 100× run shows the fixed-8-plane query
    * going super-linear (bucket saturation) and this dial restoring ~linear
    * cost at the same recall trade (SCALING.md). */
  def dedupEmbeddingCosinePlanes(spark: SparkSession, dir: String, planes: Int): DataFrame =
    nearDupPairsOn(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v")),
      planes)

  /** The near-dup scan on the geometry that breaks hyperplane blocking (round-8
    * item #3): [[AnnRecall.clusteredCorpus]]'s members agree on every plane
    * whose projection of the shared center dominates the noise term, so
    * occupancy concentrates per cluster — within-bucket candidate pairs grow
    * with cluster size squared, not corpus size. The oracle-checked query pins
    * the size-capped demonstration corpus (regime, not scale); the
    * graft.tools.SfScale @ c6e9ec7 rerun derives the clustered corpus UNCAPPED
    * over the scaled fixture and measures the planes dial on the hostile
    * geometry — numbers in SCALING.md. */
  def dedupEmbeddingCosineClustered(spark: SparkSession, dir: String): DataFrame =
    nearDupPairsOn(AnnRecall.clusteredCorpus(spark, dir), NearDupPlanes)

  /** The PRODUCTION fix for clustered geometry, measured decisive at ×10
    * (150k vectors): raw-vector blocking carries 9.5M candidate pairs at 8
    * planes and the dial only halves pairs per 4 extra planes (new planes
    * split on the noise component alone); blocking the RESIDUAL v −
    * c[cluster] under a (cluster, bucket) key carries 695k pairs at the
    * same 8 planes — 13.7× fewer — and the dial regains flat-geometry
    * strength (4.3× per 4 planes). Residuals are noise-dominated, so their
    * sign patterns spread like the uniform fixture's: cluster-then-block
    * turns the hostile geometry back into the easy one. Training is the
    * shared deterministic Lloyd (same `#clustered` quantizer as the recall
    * harness), residuals the exact codegen kernel, so the whole pipeline —
    * training, assignment of the manufactured near-dups, residual buckets,
    * verify — replays in DuckDB. The recall trade this adds: a perturbed
    * copy assigned across a cell boundary from its source cannot pair
    * (mirrored exactly by the oracle). */
  def dedupEmbeddingCosineResidual(spark: SparkSession, dir: String): DataFrame = {
    val e = AnnRecall.clusteredCorpus(spark, dir)
    nearDupResidualOn(e, AnnRecall.clusteredCentroids(spark, dir, e), NearDupPlanes)
  }

  private[graft] def nearDupResidualOn(
      e: DataFrame, centroids: Seq[(Int, Array[Double])], planes: Int): DataFrame = {
    val all = IvfKMeans.assign(withPerturbed(e, 100000L), centroids)
    val rb = all.withColumn("bucket",
      VectorFunctions.hyperplaneBucket(
        graft.functions.CentroidResidual.column(col("v"), col("cluster"), centroids),
        planes))
    val x = rb.select(col("vec_id").as("a_id"), col("v").as("va"),
      col("cluster"), col("bucket"))
    val y = rb.select(col("vec_id").as("b_id"), col("v").as("vb"),
      col("cluster"), col("bucket"))
    x.join(y, Seq("cluster", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", VectorFunctions.cosineSimilarity(col("va"), col("vb")))
      .filter(col("cos") >= 0.99)
      .select(col("a_id"), col("b_id"), pround(col("cos"), 4).as("cosine"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** [[nearDupPairsOn]] as SQL over whatever CTE block defines `e`. */
  private def nearDupSqlFrom(eDef: String): String =
    s"""WITH $eDef,
       |pert AS (
       |  SELECT vec_id + 100000 AS vec_id,
       |         list_transform(generate_series(1, 64),
       |           i -> v[i] + 0.0078125 * ((i % 3) - 1)) AS v
       |  FROM e WHERE vec_id % 10 = 0),
       |allv AS (
       |  SELECT vec_id, v,
       |         ${VectorFunctions.hyperplaneBucketSql("v", NearDupPlanes)} AS bucket
       |  FROM (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM pert)),
       |pairs AS (
       |  SELECT x.vec_id AS a_id, y.vec_id AS b_id,
       |         list_dot_product(x.v, y.v)
       |           / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) AS cos
       |  FROM allv x
       |  JOIN allv y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
       |SELECT a_id, b_id, floor(cos * 10000 + 0.5) / 10000.0 AS cosine
       |FROM pairs WHERE cos >= 0.99
       |ORDER BY a_id, b_id""".stripMargin

  val dedupEmbeddingCosineSql: String =
    nearDupSqlFrom("e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)")

  val dedupEmbeddingCosineClusteredSql: String =
    nearDupSqlFrom(AnnRecall.ClusteredESql)

  /** Residual-blocking replay: Lloyd training on the clustered `e`
    * ([[IvfKMeans.trainingSqlFrom]]), assignment of corpus ∪ manufactured
    * near-dups, residual per row against the final centroids, hyperplane
    * buckets over the residual, (cluster, bucket) candidate join, exact
    * verify — every stage the Spark pipeline runs. */
  val dedupEmbeddingCosineResidualSql: String =
    s"""WITH ${IvfKMeans.trainingSqlFrom(AnnRecall.ClusteredESql)},
       |pert AS (
       |  SELECT vec_id + 100000 AS vec_id,
       |         list_transform(generate_series(1, 64),
       |           i -> v[i] + 0.0078125 * ((i % 3) - 1)) AS v
       |  FROM e WHERE vec_id % 10 = 0),
       |allv AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM pert),
       |${IvfKMeans.assignSql("allv", IvfKMeans.finalCentroidsRel, "aall")},
       |res AS (
       |  SELECT a.vec_id, a.v, a.cluster,
       |         list_transform(generate_series(1, 64), i -> a.v[i] - c.cv[i]) AS r
       |  FROM aall a JOIN ${IvfKMeans.finalCentroidsRel} c ON a.cluster = c.cluster),
       |rb AS (
       |  SELECT vec_id, v, cluster,
       |         ${VectorFunctions.hyperplaneBucketSql("r", NearDupPlanes)} AS bucket
       |  FROM res),
       |rpairs AS (
       |  SELECT x.vec_id AS a_id, y.vec_id AS b_id,
       |         list_dot_product(x.v, y.v)
       |           / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) AS cos
       |  FROM rb x
       |  JOIN rb y ON x.cluster = y.cluster AND x.bucket = y.bucket
       |            AND x.vec_id < y.vec_id)
       |SELECT a_id, b_id, floor(cos * 10000 + 0.5) / 10000.0 AS cosine
       |FROM rpairs WHERE cos >= 0.99
       |ORDER BY a_id, b_id""".stripMargin

  // --------------------------------------------------------- SemDeDup

  private val SemTau = 0.95

  /** SemDeDup [Abbas et al. 2023, arXiv:2303.09540] — SEMANTIC dedup as
    * cluster-then-prune: k-means the embedding space (the shared
    * deterministic Lloyd quantizer, so the whole pipeline replays in
    * DuckDB), then inside each cluster mark every pair with cosine ≥
    * [[SemTau]] as semantic duplicates and keep, per duplicate
    * neighborhood, the member with the LOWEST cosine to its centroid (the
    * paper's keep rule: the most atypical exemplar survives; ties break on
    * vec_id). A row is dropped iff some same-cluster neighbor above the
    * threshold precedes it in that (centroid_cos, vec_id) priority order —
    * the greedy sorted-scan semantics reference implementations use, as a
    * single self-join + groupBy instead of a sequential pass.
    *
    * This is the missing tier between `dedup_embedding_cosine` (syntactic
    * near-dup, hyperplane blocking at τ=0.99) and topic-level clustering:
    * SemTau=0.95 catches re-encodings of the same content that perturbation
    * blocking is tuned for but a 0.99 exact-dup bar would miss. The corpus
    * is the fixture plus the manufactured near-dup replicas (same planted
    * ground truth as the near-dup family — every planted pair must land
    * `keep=0` on exactly one side, asserted in DedupSpec).
    *
    * Scale shape — the reason SemDeDup works at dataset scale: the
    * quadratic lives INSIDE cells, bounded by occupancy N/K, and the
    * production dial is K ∝ N (the paper runs 50k clusters on LAION) which
    * holds per-cell cost constant; assignment is the map-only codegen
    * kernel and training is the sample-train/full-assign split
    * ([[IvfKMeans]] scaladoc). The oracle-checked form pins K=8, the
    * replayable fixture dial, same convention as the IVF family. */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v"))
    // the quantizer is the SAME k-means the IVF family trains on this
    // corpus — read it from the shared IndexStore handle (written by
    // index_build_ivf or the first toucher) instead of retraining
    semanticOn(e, IvfKMeans.trained(spark, dir)._3, 100000L)
  }

  /** The SemDeDup deliverable: the working corpus with every pruned
    * member dropped — corpus ⋉ keepers, one shuffle on the 8-byte id,
    * payload (witnessed by the 4dp vector norm) moved once. The semantic
    * analogue of `dedup_corpus_clean`. */
  def dedupSemanticClean(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v"))
    val keepers = dedupSemantic(spark, dir)
      .filter(col("keep") === 1L).select(col("vec_id"))
    withPerturbed(e, 100000L)
      .join(keepers, Seq("vec_id"), "left_semi")
      .select(col("vec_id"),
        pround(sqrt(VectorFunctions.dot(col("v"), col("v"))), 4).as("v_norm"))
      .orderBy(col("vec_id"))
  }

  private[graft] def semanticOn(
      e: DataFrame, cents: Seq[(Int, Array[Double])], pertOffset: Long,
      tau: Double = SemTau): DataFrame = {
    val assigned = IvfKMeans.assign(withPerturbed(e, pertOffset), cents)
    // centroids as a broadcast K-row table, not a K-deep when() chain —
    // the chain's generated code grows O(K·dim) and Janino compile time
    // dominates at the K ∝ N production dial
    import e.sparkSession.implicits._
    val cdf = cents.map { case (c, arr) => (c, arr.toSeq) }.toDF("cluster", "cv")
    val cw = assigned
      .join(broadcast(cdf), "cluster")
      .withColumn("cosc", VectorFunctions.cosineSimilarity(col("v"), col("cv")))
      .drop("cv")
    val x = cw.select(col("vec_id"), col("cluster"), col("v"), col("cosc"))
    val y = cw.select(col("vec_id").as("y_id"), col("cluster"),
      col("v").as("yv"), col("cosc").as("y_cosc"))
    val close = x.join(y, Seq("cluster"))
      .filter(col("vec_id") =!= col("y_id"))
      .filter(VectorFunctions.cosineSimilarity(col("v"), col("yv")) >= tau)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_close"),
        sum(when(col("y_cosc") < col("cosc") ||
          (col("y_cosc") === col("cosc") && col("y_id") < col("vec_id")),
          1L).otherwise(0L)).as("n_prior"))
    cw.join(close, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        pround(col("cosc"), 4).as("centroid_cos"),
        coalesce(col("n_close"), lit(0L)).as("n_close"),
        when(coalesce(col("n_prior"), lit(0L)) === 0L, 1L).otherwise(0L).as("keep"))
      .orderBy(col("vec_id"))
  }

  private val semanticCtes: String =
    s"""${IvfKMeans.trainingSql},
       |pert AS (
       |  SELECT vec_id + 100000 AS vec_id,
       |         list_transform(generate_series(1, 64),
       |           i -> v[i] + 0.0078125 * ((i % 3) - 1)) AS v
       |  FROM e WHERE vec_id % 10 = 0),
       |allv AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM pert),
       |${IvfKMeans.assignSql("allv", IvfKMeans.finalCentroidsRel, "aall")},
       |cw AS (
       |  SELECT a.vec_id, a.cluster, a.v,
       |         list_dot_product(a.v, c.cv)
       |           / (sqrt(list_dot_product(a.v, a.v))
       |              * sqrt(list_dot_product(c.cv, c.cv))) AS cosc
       |  FROM aall a JOIN ${IvfKMeans.finalCentroidsRel} c
       |    ON a.cluster = c.cluster),
       |p AS (
       |  SELECT x.vec_id, count(*) AS n_close,
       |         sum(CASE WHEN y.cosc < x.cosc
       |                    OR (y.cosc = x.cosc AND y.vec_id < x.vec_id)
       |                  THEN 1 ELSE 0 END) AS n_prior
       |  FROM cw x JOIN cw y ON x.cluster = y.cluster AND x.vec_id <> y.vec_id
       |  WHERE list_dot_product(x.v, y.v)
       |          / (sqrt(list_dot_product(x.v, x.v))
       |             * sqrt(list_dot_product(y.v, y.v))) >= $SemTau
       |  GROUP BY x.vec_id)""".stripMargin

  val dedupSemanticSql: String =
    s"""WITH $semanticCtes
       |SELECT cw.vec_id, cw.cluster,
       |       floor(cw.cosc * 10000 + 0.5) / 10000.0 AS centroid_cos,
       |       coalesce(p.n_close, 0)::BIGINT AS n_close,
       |       CAST(CASE WHEN coalesce(p.n_prior, 0) = 0 THEN 1 ELSE 0 END
       |            AS BIGINT) AS keep
       |FROM cw LEFT JOIN p ON cw.vec_id = p.vec_id
       |ORDER BY cw.vec_id""".stripMargin

  val dedupSemanticCleanSql: String =
    s"""WITH $semanticCtes,
       |keepers AS (
       |  SELECT cw.vec_id FROM cw LEFT JOIN p ON cw.vec_id = p.vec_id
       |  WHERE coalesce(p.n_prior, 0) = 0)
       |SELECT a.vec_id,
       |       floor(sqrt(list_dot_product(a.v, a.v)) * 10000 + 0.5)
       |         / 10000.0 AS v_norm
       |FROM allv a
       |WHERE a.vec_id IN (SELECT vec_id FROM keepers)
       |ORDER BY a.vec_id""".stripMargin

  // --------------------------------------------------- IVF-style ANN scan

  /** ANN scale path: restrict the scan to the query's coarse cell (label),
    * then exact cosine + per-query top-k — the IVF search shape. */
  def annIvfLabel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("label"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"), col("label"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("neighbor_id"))
    c.join(broadcast(q), Seq("label"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", VectorFunctions.cosineSimilarity(col("ne"), col("qe")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        pround(col("cos"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annIvfLabelSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe, label
      |           FROM embeddings WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |         list_dot_product(e.embedding::DOUBLE[], q.qe)
      |           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
      |              * sqrt(list_dot_product(q.qe, q.qe))) AS cos
      |  FROM embeddings e
      |  JOIN q ON e.label = q.label
      |  WHERE e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, cos,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, rank, floor(cos * 10000 + 0.5) / 10000.0 AS cosine
      |FROM ranked WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> dedupExact,
    "dedup_substring" -> dedupSubstring,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_simhash" -> dedupSimhash,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_salted_skew" -> dedupSaltedSkew,
    "dedup_embedding_cosine" -> dedupEmbeddingCosine,
    "dedup_embedding_cosine_clustered" -> dedupEmbeddingCosineClustered,
    "dedup_embedding_cosine_residual" -> dedupEmbeddingCosineResidual,
    "dedup_semantic" -> dedupSemantic,
    "dedup_semantic_clean" -> dedupSemanticClean,
    "dedup_incremental" -> dedupIncremental,
    "dedup_incremental_report" -> dedupIncrementalReport,
    "ann_ivf_label" -> annIvfLabel
  )

  val oracles: Map[String, String] = Map(
    "dedup_exact" -> dedupExactSql,
    "dedup_substring" -> dedupSubstringSql,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "dedup_salted_skew" -> dedupSaltedSkewSql,
    "dedup_embedding_cosine" -> dedupEmbeddingCosineSql,
    "dedup_embedding_cosine_clustered" -> dedupEmbeddingCosineClusteredSql,
    "dedup_embedding_cosine_residual" -> dedupEmbeddingCosineResidualSql,
    "dedup_semantic" -> dedupSemanticSql,
    "dedup_semantic_clean" -> dedupSemanticCleanSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "dedup_incremental_report" -> dedupIncrementalReportSql,
    "ann_ivf_label" -> annIvfLabelSql
  )
}
