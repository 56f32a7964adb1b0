package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ArrayExpressions
import graft.functions.OracleParity.pround
import graft.io.Tables

/** Document-level quality filtering — the rule battery a training-data
  * pipeline runs between raw crawl and dedup (the reference corpus has no
  * such stage; these are the standard public recipes: the repetition rules
  * of Gopher [Rae et al. 2021, §A1.1] / the heuristic filters of C4
  * [Raffel et al. 2020] and RefinedWeb, and regex PII scrubbing as run by
  * BigScience/ROOTS).
  *
  * Both operators are MAP-ONLY — one narrow projection over one `documents`
  * scan, no shuffle before the output sort — so at 100 TB they run at
  * parquet-scan speed and compose with any downstream stage without a
  * repartition. The per-doc loops (token mode, n-gram dedup) are compiled
  * kernels from [[graft.functions.ArrayExpressions]], not interpreted
  * higher-order lambdas: a 100k-token document costs O(n log n), not the
  * O(u·n) of the nested-lambda form the oracle mirrors at fixture scale.
  */
object Filtering {

  // ---------------------------------------------------------------------
  // flt_gopher_repetition — Gopher-style repetition metrics + keep flag
  // ---------------------------------------------------------------------

  // Thresholds follow Gopher's structure (duplicate-word fraction, top-word
  // fraction, duplicate-n-gram fraction, length bounds), re-tuned to this
  // corpus so every rule discriminates: ~43% of fixture docs pass all four.
  private val MaxDupWordFrac = 0.6
  private val MaxTopWordFrac = 0.15
  private val MaxDup2GramFrac = 0.05
  private val MinTokens = 20L
  private val MaxTokens = 1000L

  /** Per-document repetition metrics and the keep/drop decision:
    *
    *   - `dup_word_frac`  = 1 − |distinct tokens| / |tokens|
    *   - `top_word_frac`  = multiplicity of the most frequent token / |tokens|
    *   - `dup_2gram_frac` = 1 − |distinct bigrams| / |bigrams|
    *   - `keep`           = all three under threshold ∧ length in bounds
    *
    * The keep flag compares the UNROUNDED doubles (identical IEEE ops on
    * both engines); the reported fractions are 4dp-rounded for display.
    * Distinct-bigram counting rides [[ArrayExpressions.hashedWordNGrams]]
    * (sorted-distinct 32-bit gram hashes — the same kernel the dedup family
    * and `cur_decontaminate` use), and the token mode rides
    * [[ArrayExpressions.maxLongMultiplicity]] over
    * [[ArrayExpressions.hashedWords60]] hashes, both mirrored hash-for-hash
    * in the oracle so parity is by construction, not by collision luck.
    */
  def gopherRepetition(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .withColumn("n", size(col("toks")).cast("double"))
      .withColumn("hw", ArrayExpressions.hashedWords60(col("toks")))
      .withColumn("g2", ArrayExpressions.hashedWordNGrams(col("toks"), 2))
    val dupw = lit(1.0) - size(array_distinct(col("toks"))).cast("double") / col("n")
    val topw = ArrayExpressions.maxLongMultiplicity(col("hw")).cast("double") / col("n")
    val dup2 = when(col("n") >= 2.0,
      lit(1.0) - size(col("g2")).cast("double") / (col("n") - 1.0)).otherwise(0.0)
    val keep = dupw <= MaxDupWordFrac && topw <= MaxTopWordFrac &&
      dup2 <= MaxDup2GramFrac &&
      col("n") >= MinTokens.toDouble && col("n") <= MaxTokens.toDouble
    base.select(
        col("doc_id"),
        col("n").cast("long").as("n_tok"),
        pround(dupw, 4).as("dup_word_frac"),
        pround(topw, 4).as("top_word_frac"),
        pround(dup2, 4).as("dup_2gram_frac"),
        when(keep, 1L).otherwise(0L).as("keep"))
      .orderBy(col("doc_id"))
  }

  val gopherRepetitionSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, toks, len(toks)::DOUBLE AS n,
       |         list_transform(toks,
       |           w -> CAST('0x' || substring(md5(w), 1, 15) AS BIGINT)) AS hw,
       |         list_distinct(list_transform(
       |           list_transform(generate_series(1, len(toks) - 1),
       |             i -> toks[i] || ' ' || toks[i+1]),
       |           s -> CAST('0x' || substring(md5(s), 1, 8) AS BIGINT))) AS g2
       |  FROM t),
       |m AS (
       |  SELECT doc_id, n,
       |         1.0 - len(list_distinct(toks))::DOUBLE / n AS dupw,
       |         list_max(list_transform(list_distinct(hw),
       |           v -> len(list_filter(hw, x -> x = v))))::DOUBLE / n AS topw,
       |         CASE WHEN n >= 2 THEN 1.0 - len(g2)::DOUBLE / (n - 1.0)
       |              ELSE 0.0 END AS dup2
       |  FROM h)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tok,
       |       floor(dupw * 10000 + 0.5) / 10000.0 AS dup_word_frac,
       |       floor(topw * 10000 + 0.5) / 10000.0 AS top_word_frac,
       |       floor(dup2 * 10000 + 0.5) / 10000.0 AS dup_2gram_frac,
       |       CAST(CASE WHEN dupw <= $MaxDupWordFrac AND topw <= $MaxTopWordFrac
       |                  AND dup2 <= $MaxDup2GramFrac
       |                  AND n BETWEEN $MinTokens AND $MaxTokens
       |             THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // flt_pii_redact — regex PII scrub with per-doc audit counts
  // ---------------------------------------------------------------------

  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\+[0-9][0-9 ]{5,}[0-9]"
  private val IpRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** PII scrubbing over a corpus with PLANTED identifiers (the fixture
    * corpus is clean words, so the query derives a dirty variant first:
    * deterministic doc_id-keyed email / phone / IP suffixes — same pattern
    * as `cur_decontaminate`'s planted-duplicate corpus). Every step is a
    * deterministic string expression, so the DuckDB oracle replants and
    * re-scrubs the identical bytes; `clean_fp` (32-bit md5 prefix of the
    * redacted text) hash-checks that both engines redacted the exact same
    * spans, not just the same number of them.
    *
    * Match counts are audited BEFORE replacement; replacement order is
    * email → phone → IP (no placeholder contains a digit or '@', so later
    * passes cannot re-match earlier redactions). Patterns stay inside the
    * syntax intersection of Java regex and RE2 — no lookarounds, no
    * backrefs — which is also the portable subset a production pipeline
    * would standardize on.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val idS = col("doc_id").cast("string")
    val dirty = concat(
      col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), idS, lit("@example.com"))).otherwise(""),
      when(col("doc_id") % 11 === 0,
        concat(lit(" call +1 555 "),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(""),
      when(col("doc_id") % 13 === 0,
        concat(lit(" host 10.0."), (col("doc_id") % 250).cast("string"),
          lit("."), (col("doc_id") % 200 + 1).cast("string"))).otherwise(""))
    val clean = regexp_replace(
      regexp_replace(
        regexp_replace(dirty, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      IpRe, "<IP>")
    Tables.documentsParallel(spark, dir).select(
        col("doc_id"),
        regexp_count(dirty, lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(dirty, lit(PhoneRe)).cast("long").as("n_phones"),
        regexp_count(dirty, lit(IpRe)).cast("long").as("n_ips"),
        length(clean).cast("long").as("clean_len"),
        conv(substring(md5(clean), 1, 8), 16, 10).cast("long").as("clean_fp"))
      .filter(col("n_emails") + col("n_phones") + col("n_ips") > 0)
      .orderBy(col("doc_id"))
  }

  val piiRedactSql: String = {
    // the same pattern strings drop straight into single-quoted SQL:
    // DuckDB string literals are not backslash-processed
    val email = EmailRe
    val phone = PhoneRe
    val ip = IpRe
    s"""WITH dirty AS (
       |  SELECT doc_id,
       |    text ||
       |    CASE WHEN doc_id % 7 = 0
       |         THEN ' contact user' || doc_id::VARCHAR || '@example.com'
       |         ELSE '' END ||
       |    CASE WHEN doc_id % 11 = 0
       |         THEN ' call +1 555 ' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
       |         ELSE '' END ||
       |    CASE WHEN doc_id % 13 = 0
       |         THEN ' host 10.0.' || (doc_id % 250)::VARCHAR || '.'
       |              || (doc_id % 200 + 1)::VARCHAR
       |         ELSE '' END AS text
       |  FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    len(regexp_extract_all(text, '$email')) AS n_emails,
       |    len(regexp_extract_all(text, '$phone')) AS n_phones,
       |    len(regexp_extract_all(text, '$ip')) AS n_ips,
       |    regexp_replace(regexp_replace(regexp_replace(text,
       |      '$email', '<EMAIL>', 'g'),
       |      '$phone', '<PHONE>', 'g'),
       |      '$ip', '<IP>', 'g') AS clean
       |  FROM dirty)
       |SELECT doc_id, n_emails, n_phones, n_ips,
       |       length(clean) AS clean_len,
       |       CAST('0x' || substring(md5(clean), 1, 8) AS BIGINT) AS clean_fp
       |FROM c
       |WHERE n_emails + n_phones + n_ips > 0
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // flt_gopher_quality — Gopher-style document-quality battery
  // ---------------------------------------------------------------------

  private val QMinWords = 20L
  private val QMaxWords = 400L
  private val QMinMeanWordLen = 3.0
  private val QMaxMeanWordLen = 10.0
  private val QMaxSymbolRatio = 0.05
  private val QMinAlphaFrac = 0.9
  private val QMinStopwords = 2L

  /** The OTHER half of Gopher §A1.1 (complementing `flt_gopher_repetition`'s
    * repetition rules): document-shape quality — word-count bounds, mean word
    * length bounds, symbol-to-word ratio (`#`/`…` tokens), fraction of words
    * containing an alphabetic character, and a minimum stopword count. Runs
    * over a DIRTY derived corpus (the fixture is clean words, so hashtag runs
    * and numeric-token runs are planted on deterministic doc_id strata — the
    * same idiom as `flt_pii_redact`'s planted identifiers), which proves each
    * rule actually fires; the length/stopword/word-length rules also fire on
    * natural documents (~45% of the fixture fails at least one rule).
    *
    * Every metric is a CODEGEN STRING KERNEL, no interpreted lambdas: token
    * counts via one regex split, character mass via space-strip, and the
    * per-token classifiers via `regexp_count` over a DOUBLE-SPACED padding
    * (`' '+replace(t,' ','  ')+' '`) — doubling the separators gives every
    * token its own leading AND trailing space, so the ` tok `-shaped patterns
    * count adjacent matches exactly where a single-spaced form would miss
    * every second one (regex matches cannot overlap). Map-only like the rest
    * of the module: at 100 TB this runs at parquet-scan speed.
    *
    * The keep flag compares UNROUNDED doubles (identical IEEE ops in both
    * engines); displayed fractions are 4dp-rounded.
    */
  /** The metric projection itself: appends `n_words`,
    * `mean_word_len`, `symbol_ratio`, `alpha_frac`, `n_stop`, `keep` to
    * any frame, derived from `textCol`. Whole-stage codegen CSEs the
    * repeated padded/count subexpressions. */
  private[graft] def withQualityMetrics(
      df: DataFrame, textCol: Column): DataFrame = {
    val n = size(split(textCol, "\\s+")).cast("double")
    val padded = concat(lit(" "), regexp_replace(textCol, " ", "  "), lit(" "))
    val mwl = length(regexp_replace(textCol, " ", "")).cast("double") / n
    val symr = regexp_count(padded, lit(" (#|\\.\\.\\.) ")).cast("double") / n
    val alpha = regexp_count(padded, lit(" [^ ]*[a-z][^ ]* ")).cast("double") / n
    val nStop = regexp_count(padded, lit(" (the|a|of|to|and) ")).cast("long")
    val keep = n >= QMinWords.toDouble && n <= QMaxWords.toDouble &&
      mwl >= QMinMeanWordLen && mwl <= QMaxMeanWordLen &&
      symr <= QMaxSymbolRatio && alpha >= QMinAlphaFrac && nStop >= QMinStopwords
    df.withColumn("n_words", n.cast("long"))
      .withColumn("mean_word_len", pround(mwl, 4))
      .withColumn("symbol_ratio", pround(symr, 4))
      .withColumn("alpha_frac", pround(alpha, 4))
      .withColumn("n_stop", nStop)
      .withColumn("keep", when(keep, 1L).otherwise(0L))
  }

  /** CTE block (no WITH): [[withQualityMetrics]]'s keep flag over
    * `$rel(doc_id, text, …)` → `$out(doc_id, keep)` — the reusable SQL
    * form of the Gopher battery the curation pipeline's quality stage
    * composes (same thresholds, same unrounded comparisons). */
  private[operators] def qualityKeepSql(rel: String, out: String): String =
    s"""${out}_m AS (
       |  SELECT doc_id,
       |    ' ' || replace(text, ' ', '  ') || ' ' AS padded,
       |    len(string_split_regex(text, '\\s+'))::DOUBLE AS n,
       |    length(replace(text, ' ', ''))::DOUBLE AS chars
       |  FROM $rel),
       |$out AS (
       |  SELECT doc_id,
       |    CASE WHEN n BETWEEN $QMinWords AND $QMaxWords
       |          AND chars / n BETWEEN $QMinMeanWordLen AND $QMaxMeanWordLen
       |          AND len(regexp_extract_all(padded, ' (#|\\.\\.\\.) '))::DOUBLE / n <= $QMaxSymbolRatio
       |          AND len(regexp_extract_all(padded, ' [^ ]*[a-z][^ ]* '))::DOUBLE / n >= $QMinAlphaFrac
       |          AND len(regexp_extract_all(padded, ' (the|a|of|to|and) ')) >= $QMinStopwords
       |     THEN 1 ELSE 0 END AS keep
       |  FROM ${out}_m)""".stripMargin

  def gopherQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsParallel(spark, dir)
    val dirty = concat(
      col("text"),
      when(col("doc_id") % 5 === 0, " # # # # # # # #").otherwise(""),
      when(col("doc_id") % 7 === 0, " 12 345 6789 01 23 456 78 90").otherwise(""))
    withQualityMetrics(d.select(col("doc_id"), dirty.as("t")), col("t"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"), col("alpha_frac"), col("n_stop"), col("keep"))
      .orderBy(col("doc_id"))
  }

  val gopherQualitySql: String =
    s"""WITH dirty AS (
       |  SELECT doc_id,
       |    text ||
       |    CASE WHEN doc_id % 5 = 0 THEN ' # # # # # # # #' ELSE '' END ||
       |    CASE WHEN doc_id % 7 = 0 THEN ' 12 345 6789 01 23 456 78 90'
       |         ELSE '' END AS t
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    ' ' || replace(t, ' ', '  ') || ' ' AS padded,
       |    len(string_split_regex(t, '\\s+'))::DOUBLE AS n,
       |    length(replace(t, ' ', ''))::DOUBLE AS chars
       |  FROM dirty),
       |x AS (
       |  SELECT doc_id, n,
       |    chars / n AS mwl,
       |    len(regexp_extract_all(padded, ' (#|\\.\\.\\.) '))::DOUBLE / n AS symr,
       |    len(regexp_extract_all(padded, ' [^ ]*[a-z][^ ]* '))::DOUBLE / n AS alpha,
       |    len(regexp_extract_all(padded, ' (the|a|of|to|and) ')) AS n_stop
       |  FROM m)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_words,
       |       floor(mwl * 10000 + 0.5) / 10000.0 AS mean_word_len,
       |       floor(symr * 10000 + 0.5) / 10000.0 AS symbol_ratio,
       |       floor(alpha * 10000 + 0.5) / 10000.0 AS alpha_frac,
       |       CAST(n_stop AS BIGINT) AS n_stop,
       |       CAST(CASE WHEN n BETWEEN $QMinWords AND $QMaxWords
       |                  AND mwl BETWEEN $QMinMeanWordLen AND $QMaxMeanWordLen
       |                  AND symr <= $QMaxSymbolRatio AND alpha >= $QMinAlphaFrac
       |                  AND n_stop >= $QMinStopwords
       |             THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM x ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // flt_line_dedup — cross-document line-level deduplication
  // ---------------------------------------------------------------------

  private val LineTokens = 12
  private val MinDupDocs = 5L
  private val Boiler1 = "accept cookies to continue reading this site"
  private val Boiler2 = "all rights reserved contact the site owner today"

  /** Line-level dedup — the RefinedWeb / CCNet / C4 boilerplate stage: a
    * line that recurs across ≥ [[MinDupDocs]] distinct documents is
    * boilerplate (cookie banners, nav bars, license footers) and is removed
    * from EVERY document, preserving the order of what remains. The fixture
    * corpus is single-line, so lines are derived ([[LineTokens]]-token
    * windows) and two boilerplate lines are planted on deterministic doc_id
    * strata — the planted lines recur across ~125/~83 docs and are the ones
    * the threshold catches; natural lines are effectively unique.
    *
    * Shape at scale: explode lines (8-byte hash + pos), ONE groupBy(line_hash)
    * to find recurring hashes — the duplicate-hash table is tiny by
    * construction (only boilerplate recurs), so the removal join is a
    * BROADCAST LEFT ANTI, not a shuffle of the corpus — then one
    * groupBy(doc_id) to reassemble. `clean_fp` (32-bit md5 of the kept lines
    * joined in original order) hash-checks that both engines kept exactly
    * the same bytes in the same order, the same witness idiom as
    * `flt_pii_redact`.
    */
  def lineDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsParallel(spark, dir)
    val emptyS = array().cast("array<string>")
    val base = d
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .withColumn("nl", ceil(size(col("toks")) / lit(LineTokens.toDouble)).cast("int"))
      .withColumn("lines", concat(
        when(col("doc_id") % 4 === 0, array(lit(Boiler1))).otherwise(emptyS),
        transform(sequence(lit(0), col("nl") - 1),
          i => array_join(slice(col("toks"), i * LineTokens + 1, lit(LineTokens)), " ")),
        when(col("doc_id") % 6 === 0, array(lit(Boiler2))).otherwise(emptyS)))
    val exploded = base
      .select(col("doc_id"), size(col("lines")).as("n_lines"),
        posexplode(col("lines")))
      .select(col("doc_id"), col("n_lines"), col("pos"), col("col").as("line"),
        conv(substring(md5(col("col")), 1, 8), 16, 10).cast("long").as("lh"))
    val dup = exploded.groupBy(col("lh"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= MinDupDocs)
      .select(col("lh"))
    exploded.join(broadcast(dup), Seq("lh"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        max(col("n_lines")).cast("long").as("n_lines"),
        (max(col("n_lines")) - count(lit(1))).cast("long").as("n_dropped"),
        conv(substring(md5(array_join(
          transform(
            sort_array(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line")),
          "\n")), 1, 8), 16, 10).cast("long").as("clean_fp"))
      .orderBy(col("doc_id"))
  }

  val lineDedupSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
       |  FROM documents),
       |l0 AS (
       |  SELECT doc_id, list_transform(
       |      generate_series(0, CAST(ceil(len(toks) / $LineTokens.0) AS INT) - 1),
       |      i -> array_to_string(
       |             list_slice(toks, i*$LineTokens + 1, i*$LineTokens + $LineTokens),
       |             ' ')) AS lines
       |  FROM t),
       |l1 AS (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id % 4 = 0 THEN ['$Boiler1'] ELSE [] END)
       |    || lines ||
       |    (CASE WHEN doc_id % 6 = 0 THEN ['$Boiler2'] ELSE [] END) AS lines
       |  FROM l0),
       |e AS (
       |  SELECT doc_id, len(lines) AS n_lines,
       |         unnest(generate_series(1, len(lines))) AS pos,
       |         unnest(lines) AS line
       |  FROM l1),
       |hh AS (
       |  SELECT doc_id, n_lines, pos, line,
       |         CAST('0x' || substring(md5(line), 1, 8) AS BIGINT) AS lh
       |  FROM e),
       |dup AS (
       |  SELECT lh FROM hh GROUP BY lh
       |  HAVING count(DISTINCT doc_id) >= $MinDupDocs),
       |k AS (
       |  SELECT * FROM hh WHERE lh NOT IN (SELECT lh FROM dup))
       |SELECT doc_id, max(n_lines) AS n_lines,
       |       CAST(max(n_lines) - count(*) AS BIGINT) AS n_dropped,
       |       CAST('0x' || substring(
       |         md5(string_agg(line, chr(10) ORDER BY pos)), 1, 8) AS BIGINT)
       |         AS clean_fp
       |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // flt_lm_perplexity — CCNet-style LM quality bucketing (head/middle/tail)
  // ---------------------------------------------------------------------

  private val LmBuckets = 512L

  /** The CCNet quality stage [Wenzek et al., LREC 2020]: score every document
    * by its cross-entropy under a language model trained on a trusted target
    * corpus, then split the pool into HEAD / MIDDLE / TAIL terciles of the
    * score distribution (CCNet trains KenLM on Wikipedia; here the target is
    * the `lang = 'en'` slice and the LM is a HASHED bigram model — a true
    * conditional model over a [[LmBuckets]]-way quotient vocabulary,
    * p(wb | cb) = (c(cb,wb) + ½) / (c(cb·) + B/2), so the entire model is
    * ≤ B² count cells regardless of corpus vocabulary). On the fixture the
    * en mean cross-entropy sits ~0.5 nats below every other language and the
    * head tercile is en-dominated — the bucketing discriminates exactly the
    * way CCNet's does.
    *
    * Scale shape: fitting is one groupBy over ≤ B² 16-byte keys (map-side
    * combine does the mass), the weight tables are ≤ B²-row / ≤ B-row
    * BROADCASTS, scoring is explode → two broadcast left joins → one
    * groupBy(doc). The tercile cutoffs are an exact `percentile` aggregate
    * over one rounded double per document — fine at fixture scale and
    * oracle-checkable; at 10^10 docs swap in `percentile_approx` (the
    * cutoffs are dataset statistics, not per-row math — the documented
    * production dial, same convention as the planes dials in Dedup).
    *
    * Float parity: per-cell log-weights are 6dp-rounded then summed as
    * DECIMAL(30,6) (OracleParity rule 1); the displayed cross-entropy is the
    * 4dp mean. Tercile boundaries interpolate between adjacent 4dp-rounded
    * order statistics, so an engine-side ulp wobble in the interpolation
    * cannot cross a document's h value — bucket labels are deterministic. */
  def lmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsParallel(spark, dir)
    val denom = LmBuckets / 2.0
    def h32(c: Column) =
      conv(substring(md5(c), 1, 8), 16, 10).cast("long") % LmBuckets
    val toksed = d
      .select(col("doc_id"), col("lang"), split(lower(col("text")), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 2)
    val pairs = toksed
      .select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(2), size(col("toks"))),
          i => struct(h32(element_at(col("toks"), i - 1)).as("cb"),
            h32(element_at(col("toks"), i)).as("wb")))).as("p"))
      .select(col("doc_id"), col("lang"), col("p.cb"), col("p.wb"))
    val mc = pairs.filter(col("lang") === "en")
      .groupBy(col("cb"), col("wb")).agg(count(lit(1)).as("c"))
    val cc = mc.groupBy(col("cb")).agg(sum(col("c")).as("ctx"))
    val w1 = mc.join(cc, "cb").select(col("cb"), col("wb"),
      pround(log((col("c") + 0.5) / (col("ctx") + denom)), 6).as("w"))
    val w0 = cc.select(col("cb"),
      pround(log(lit(0.5) / (col("ctx") + denom)), 6).as("w0"))
    val wUnseenCtx = pround(log(lit(0.5) / lit(denom)), 6)
    val perDoc = pairs
      .join(broadcast(w1), Seq("cb", "wb"), "left")
      .join(broadcast(w0), Seq("cb"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("w"), col("w0"), wUnseenCtx).as("lp"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("lp").cast("decimal(30,6)")).as("slp"))
      .select(col("doc_id"), col("lang"), col("n_pairs"),
        pround(-col("slp").cast("double") / col("n_pairs"), 4).as("h"))
    val cuts = perDoc.agg(
      percentile(col("h"), lit(1.0 / 3.0)).as("q33"),
      percentile(col("h"), lit(2.0 / 3.0)).as("q66"))
    perDoc.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("lang"), col("n_pairs"), col("h"),
        when(col("h") <= col("q33"), "head")
          .when(col("h") <= col("q66"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  val lmPerplexitySql: String = {
    val denom = s"${LmBuckets / 2}.0"
    s"""WITH t AS (
       |  SELECT doc_id, lang, string_split_regex(lower(text), '\\s+') AS toks
       |  FROM documents
       |  WHERE len(string_split_regex(lower(text), '\\s+')) >= 2),
       |g AS (
       |  SELECT doc_id, lang,
       |    unnest(list_transform(generate_series(2, len(toks)),
       |      i -> CAST('0x' || substring(md5(toks[i-1]), 1, 8) AS BIGINT)
       |             % $LmBuckets)) AS cb,
       |    unnest(list_transform(generate_series(2, len(toks)),
       |      i -> CAST('0x' || substring(md5(toks[i]), 1, 8) AS BIGINT)
       |             % $LmBuckets)) AS wb
       |  FROM t),
       |mc AS (SELECT cb, wb, count(*) AS c FROM g WHERE lang = 'en'
       |       GROUP BY cb, wb),
       |cc AS (SELECT cb, sum(c) AS ctx FROM mc GROUP BY cb),
       |w1 AS (SELECT mc.cb, mc.wb,
       |         floor(ln((mc.c + 0.5) / (cc.ctx + $denom)) * 1000000 + 0.5)
       |           / 1000000.0 AS w
       |       FROM mc JOIN cc ON mc.cb = cc.cb),
       |w0 AS (SELECT cb,
       |         floor(ln(0.5 / (ctx + $denom)) * 1000000 + 0.5)
       |           / 1000000.0 AS w0
       |       FROM cc),
       |s AS (SELECT g.doc_id, g.lang,
       |        coalesce(w1.w, w0.w0,
       |          floor(ln(0.5 / $denom) * 1000000 + 0.5) / 1000000.0) AS lp
       |      FROM g LEFT JOIN w1 ON g.cb = w1.cb AND g.wb = w1.wb
       |             LEFT JOIN w0 ON g.cb = w0.cb),
       |pd AS (SELECT doc_id, lang, count(*) AS n_pairs,
       |         floor(-(sum(CAST(lp AS DECIMAL(30,6)))::DOUBLE) / count(*)
       |               * 10000 + 0.5) / 10000.0 AS h
       |       FROM s GROUP BY doc_id, lang),
       |q AS (SELECT quantile_cont(h, 1.0/3.0) AS q33,
       |             quantile_cont(h, 2.0/3.0) AS q66 FROM pd)
       |SELECT doc_id, lang, n_pairs, h,
       |       CASE WHEN h <= q.q33 THEN 'head'
       |            WHEN h <= q.q66 THEN 'middle'
       |            ELSE 'tail' END AS bucket
       |FROM pd, q ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // flt_c4_heuristics — C4's page-level cleaning battery
  // ---------------------------------------------------------------------

  private val C4MinLineWords = 3
  private val C4MinSentences = 3L
  private val C4BadRe = "\\b(xxx|porn|nsfw)\\b"
  private val JsLine = "enable javascript to view this page."
  private val LoremLine = "lorem ipsum dolor sit amet."
  private val BraceLine = "function() { return 0; }"
  private val BadLine = "visit xxx site now."

  /** The C4 cleaning battery [Raffel et al. 2020, §2.2] — the page-level
    * heuristics the original C4 corpus was built with, the one published
    * filter recipe this module did not yet cover:
    *
    *   - LINE rules: keep a line iff it ends in terminal punctuation
    *     (`. ! ? "`), has ≥ [[C4MinLineWords]] words, and does not mention
    *     "javascript" (C4 drops the cookie/JS-warning boilerplate at line
    *     level, not page level);
    *   - PAGE rules: drop the whole page if any line hits the bad-word list
    *     (a compact embedded stand-in for C4's public LDNOOBW list — the
    *     mechanism, whole-token regex alternation, is what scales to the
    *     full list), contains the phrase "lorem ipsum", or contains `{`
    *     (C4's code-page heuristic); require ≥ [[C4MinSentences]] surviving
    *     sentences (C4 uses 5 on web pages; 3 here so the rule discriminates
    *     on this corpus's 1–9 derived lines — ~30% of fixture docs fail it).
    *
    * The fixture corpus is single-line clean words, so pages are derived
    * exactly as in [[lineDedup]] ([[LineTokens]]-token windows), terminal
    * punctuation is planted on a deterministic (doc_id + line_index) % 3
    * stratum, and one representative violation line per page rule is planted
    * on deterministic doc_id strata — every rule provably fires, and the
    * DuckDB oracle replants identical bytes. `clean_fp` (32-bit md5 prefix
    * of the kept lines joined in order) witnesses byte-identical cleaning,
    * the same idiom as `flt_pii_redact` / `flt_line_dedup`.
    *
    * Shape at scale: MAP-ONLY — the whole battery is one projection of
    * array expressions over one documents scan (no explode, no shuffle
    * before the output sort), so it runs at parquet-scan speed and fuses
    * with any other per-document stage. The per-line work is a handful of
    * short-string regexes; at fixture scale the interpreted HOF lambdas
    * cost <1 s, and the kernel-ization dial (compiling the line classifier
    * as a codegen Expression, the `ArrayExpressions` pattern) stays
    * available if a profile ever shows them hot.
    */
  def c4Heuristics(spark: SparkSession, dir: String): DataFrame = {
    val emptyS = array().cast("array<string>")
    val base = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .withColumn("nl", ceil(size(col("toks")) / lit(LineTokens.toDouble)).cast("int"))
      .withColumn("lines", concat(
        transform(sequence(lit(0), col("nl") - 1), i => {
          val line = array_join(slice(col("toks"), i * LineTokens + 1, lit(LineTokens)), " ")
          when((col("doc_id") + i) % 3 =!= 2, concat(line, lit("."))).otherwise(line)
        }),
        when(col("doc_id") % 9 === 0, array(lit(JsLine))).otherwise(emptyS),
        when(col("doc_id") % 17 === 0, array(lit(LoremLine))).otherwise(emptyS),
        when(col("doc_id") % 19 === 0, array(lit(BraceLine))).otherwise(emptyS),
        when(col("doc_id") % 23 === 0, array(lit(BadLine))).otherwise(emptyS)))
    def isSent(l: Column): Column = l.rlike("[.!?\"]$")
    val flagged = base
      .withColumn("kept", filter(col("lines"), l =>
        isSent(l) && size(split(l, " ")) >= C4MinLineWords &&
          !l.contains("javascript")))
      .withColumn("n_sent", size(filter(col("lines"), isSent(_))).cast("long"))
      .withColumn("bad", exists(col("lines"), l => l.rlike(C4BadRe)))
      .withColumn("lor", exists(col("lines"), l => l.contains("lorem ipsum")))
      .withColumn("brace", exists(col("lines"), l => l.contains("{")))
    flagged.select(
        col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        col("n_sent"),
        size(col("kept")).cast("long").as("n_kept"),
        when(col("bad"), 1L).otherwise(0L).as("has_badword"),
        when(col("lor"), 1L).otherwise(0L).as("has_lorem"),
        when(col("brace"), 1L).otherwise(0L).as("has_brace"),
        when(size(col("kept")) >= C4MinSentences && !col("bad") && !col("lor")
          && !col("brace"), 1L).otherwise(0L).as("keep"),
        conv(substring(md5(array_join(col("kept"), "\n")), 1, 8), 16, 10)
          .cast("long").as("clean_fp"))
      .orderBy(col("doc_id"))
  }

  val c4HeuristicsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
       |  FROM documents),
       |l0 AS (
       |  SELECT doc_id, toks,
       |         CAST(ceil(len(toks) / $LineTokens.0) AS INT) AS nl
       |  FROM t),
       |l1 AS (
       |  SELECT doc_id, list_transform(generate_series(0, nl - 1),
       |    i -> CASE WHEN (doc_id + i) % 3 <> 2
       |         THEN array_to_string(
       |                list_slice(toks, i*$LineTokens + 1, i*$LineTokens + $LineTokens),
       |                ' ') || '.'
       |         ELSE array_to_string(
       |                list_slice(toks, i*$LineTokens + 1, i*$LineTokens + $LineTokens),
       |                ' ') END) AS lines0
       |  FROM l0),
       |l2 AS (
       |  SELECT doc_id,
       |    lines0
       |    || (CASE WHEN doc_id % 9 = 0 THEN ['$JsLine'] ELSE [] END)
       |    || (CASE WHEN doc_id % 17 = 0 THEN ['$LoremLine'] ELSE [] END)
       |    || (CASE WHEN doc_id % 19 = 0 THEN ['$BraceLine'] ELSE [] END)
       |    || (CASE WHEN doc_id % 23 = 0 THEN ['$BadLine'] ELSE [] END) AS lines
       |  FROM l1),
       |c AS (
       |  SELECT doc_id, len(lines) AS n_lines,
       |    len(list_filter(lines, l -> regexp_matches(l, '[.!?"]$$'))) AS n_sent,
       |    list_filter(lines, l -> regexp_matches(l, '[.!?"]$$')
       |      AND len(string_split(l, ' ')) >= $C4MinLineWords
       |      AND NOT contains(l, 'javascript')) AS kept,
       |    len(list_filter(lines, l -> regexp_matches(l, '$C4BadRe'))) > 0 AS bad,
       |    len(list_filter(lines, l -> contains(l, 'lorem ipsum'))) > 0 AS lor,
       |    len(list_filter(lines, l -> contains(l, '{'))) > 0 AS brace
       |  FROM l2)
       |SELECT doc_id, n_lines, n_sent, len(kept) AS n_kept,
       |       CAST(CASE WHEN bad THEN 1 ELSE 0 END AS BIGINT) AS has_badword,
       |       CAST(CASE WHEN lor THEN 1 ELSE 0 END AS BIGINT) AS has_lorem,
       |       CAST(CASE WHEN brace THEN 1 ELSE 0 END AS BIGINT) AS has_brace,
       |       CAST(CASE WHEN len(kept) >= $C4MinSentences
       |                  AND NOT bad AND NOT lor AND NOT brace
       |             THEN 1 ELSE 0 END AS BIGINT) AS keep,
       |       CAST('0x' || substring(
       |         md5(coalesce(array_to_string(kept, chr(10)), '')), 1, 8) AS BIGINT)
       |         AS clean_fp
       |FROM c ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "flt_gopher_repetition" -> gopherRepetition,
    "flt_gopher_quality" -> gopherQuality,
    "flt_pii_redact" -> piiRedact,
    "flt_line_dedup" -> lineDedup,
    "flt_lm_perplexity" -> lmPerplexity,
    "flt_c4_heuristics" -> c4Heuristics
  )

  val oracles: Map[String, String] = Map(
    "flt_gopher_repetition" -> gopherRepetitionSql,
    "flt_gopher_quality" -> gopherQualitySql,
    "flt_pii_redact" -> piiRedactSql,
    "flt_line_dedup" -> lineDedupSql,
    "flt_lm_perplexity" -> lmPerplexitySql,
    "flt_c4_heuristics" -> c4HeuristicsSql
  )
}
