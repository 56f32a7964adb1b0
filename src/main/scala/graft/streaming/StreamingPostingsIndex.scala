package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.operators.{Merge, TextSearch}

/** CDC-fed inverted-index maintenance — the text-search member of the
  * index-maintainer family, refitted (round-11 verdict #1) to consume the
  * lake's CHANGE FEED instead of raw snapshot streams and to commit through
  * the bucket-pruned [[BucketedPostingsState]] instead of a full-state
  * rewrite. The maintainer tier now has the same cost shape as the lake it
  * serves: per batch, COMPUTE ∝ changed docs and WRITTEN BYTES ∝ touched
  * word-buckets — nothing corpus-sized on the hot path.
  *
  * Architecture (the composed incremental story):
  *
  *   - the games table lives in the manifest-committed lake
  *     ([[graft.operators.Merge]]); a [[StreamingChangeFeed]] merges crawl
  *     batches and drains each version's changes (WITH preimages) into the
  *     append-only feed log;
  *   - this maintainer tails that log: per feed version, the post-images
  *     name and carry the touched docs' NEW text (tokenized through the
  *     same [[TextSearch.postingsOf]] as the batch artifact — one
  *     tokenizer, so streamed ≡ rebuilt is a set equality), and the
  *     PREIMAGES carry their OLD text, which recomputes exactly the stale
  *     postings to delete — the delete half of the upsert costs ZERO reads
  *     of the postings state or the table. This is the same
  *     preimages-make-deltas-computable contract IVM uses
  *     ([[Merge.ivmDeltaAgg]]), applied to an index instead of an
  *     aggregate;
  *   - the games snapshot is NOT maintainer state at all: serving reads the
  *     lake table AT the pinned version ([[Merge.readTableAt]]), so the
  *     games copy the old maintainer rewrote per batch simply no longer
  *     exists.
  *
  * Exactly-once: postings manifest version = feed version, so a replayed
  * feed version is skipped by [[BucketedPostingsState.commitDelta]] without
  * touching disk, and a crash mid-commit leaves uncommitted generations the
  * retry clears — [[catchUp]] is idempotent and re-entrant from any crash
  * point, with no checkpoint state of its own.
  *
  * Retention coupling: serving pins (table version v, postings version v);
  * the lake writer's `retainVersions` must cover the maintainer's worst
  * lag, exactly the change feed's own drain-lag rule. The feed log itself
  * is append-only (grows with changes, never rewritten), so the maintainer
  * can always catch up from its last committed version.
  */
class StreamingPostingsIndex(spark: SparkSession, tablePath: String,
    feedDir: String, stateDir: String, buckets: Int = 0,
    keepVersions: Int = 3,
    hooks: Merge.IncHooks = Merge.IncHooks.none) extends Serializable {

  // buckets <= 0 → SIZED: existing stores keep their recorded layout, a fresh
  // one derives buckets ∝ the POSTINGS row count (the population that actually
  // fills the buckets — doc count undercounts by the words-per-doc factor) at
  // the policy's pinned per-bucket occupancy (round-12 verdict #6 / the
  // graft.tools.PostingsMaintainerScale @ c6e9ec7 pinned-vs-sized control row).
  // One extra postingsOf pass at bootstrap only — the amortized one-time cost
  // the bootstrap already pays.
  private val resolvedBuckets =
    if (buckets > 0) buckets
    else BucketedAppendState.recordedBuckets(spark, stateDir).getOrElse {
      val v0 = Merge.tableVersions(spark, tablePath).max
      graft.operators.SizingPolicy.sizedStateBuckets(
        TextSearch.postingsOf(Merge.readTableAt(spark, tablePath, v0)).count())
    }
  private val state = new BucketedPostingsState(spark, stateDir, resolvedBuckets,
    keepVersions, hooks)

  // bootstrap: one corpus-sized build at the CURRENT table version — the
  // batch artifact's one-time cost; every later commit is delta-sized
  if (state.latestVersion.isEmpty) {
    val v0 = Merge.tableVersions(spark, tablePath).max
    state.bootstrap(v0,
      TextSearch.postingsOf(Merge.readTableAt(spark, tablePath, v0)))
  }

  def currentVersion: Long = state.latestVersion
    .getOrElse(sys.error(s"no committed postings state under $stateDir")).toLong
  def currentPostings(): DataFrame = state.postings()
  def currentDictionary(): DataFrame = state.dict()

  /** Surviving committed postings versions — for retention tests. */
  def postingsVersions(): Seq[Long] = state.committedVersions.map(_.toLong)

  @transient private lazy val feedFs =
    new Path(feedDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Feed versions present in the log, ascending. */
  private def feedVersions(): Seq[Int] =
    if (!feedFs.exists(new Path(feedDir))) Seq.empty
    else feedFs.listStatus(new Path(feedDir)).map(_.getPath.getName).toSeq
      .filter(_.startsWith("version=")).map(_.stripPrefix("version=").toInt)
      .sorted

  /** Apply every emitted-but-unapplied feed version, in order. Per version:
    * fresh postings from the post-images, stale postings from the
    * preimages, one bucket-pruned delete-insert commit. Idempotent — safe
    * to call from any trigger at any time. */
  def catchUp(): Unit = {
    val from = state.latestVersion.getOrElse(0)
    feedVersions().filter(_ > from).foreach(applyFeedVersion)
  }

  /** Returns the commit stats, or None when the version was already
    * applied (replay).
    *
    * DELETE ops (round-13 takedown cascade): a deleted doc's feed row has
    * null post-images and full preimages — its stale postings recompute
    * from the PREIMAGE text (naming the buckets to touch), it contributes
    * nothing fresh, and the doc-level anti-join removes every surviving
    * pair. Serving is already delete-clean on the other axis too: the
    * games snapshot is the lake read at the pinned version, where the
    * row no longer exists. */
  private[graft] def applyFeedVersion(v: Int): Option[PostingsCommitStats] = {
    val rows = spark.read.parquet(s"$feedDir/version=$v")
    require(rows.columns.contains("pre_name"),
      s"feed at $feedDir carries no preimages — the postings maintainer " +
        "needs them to compute stale postings without scanning state; " +
        "drain the feed with feedPreimages = true")
    val touchedDocs = rows.select(col("universeId")).distinct()
    val fresh = TextSearch.postingsOf(rows.filter(col("op") =!= "delete")
      .select(col("universeId"),
        col("name"), col("description"), col("gameplayDescription")))
    val stale = TextSearch.postingsOf(
      rows.filter(col("op").isin("update", "delete"))
        .select(col("universeId"),
          col("pre_name").as("name"),
          col("pre_description").as("description"),
          col("pre_gameplayDescription").as("gameplayDescription")))
    state.commitDelta(v, touchedDocs, stale, fresh)
  }

  /** Tail the feed log live: the stream is a TRIGGER (its rows are not
    * consumed directly — a file source may split one feed version's files
    * across micro-batches, and the delta commit needs whole versions);
    * each firing applies every complete emitted version via [[catchUp]],
    * whose own version tracking provides exactly-once independent of the
    * checkpoint. */
  def start(checkpointDir: String): StreamingQuery = {
    // minimal trigger schema: any one column of the feed files
    val trigger = spark.readStream
      .schema(StructType(Seq(StructField("op", StringType))))
      .parquet(s"$feedDir/version=*")
    trigger.writeStream
      .foreachBatch((_: Dataset[Row], _: Long) => catchUp())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Index-served search at the pinned (table, postings) version pair —
    * the SAME frames core as `f6_text_search_indexed`
    * ([[TextSearch.searchIndexedFrames]]), so streamed serving inherits the
    * batch query's semantics and its oracle. Both reads pin version
    * [[currentVersion]]: the games snapshot comes from the lake's
    * time-travel read, the postings pair from one manifest — a writer
    * advancing either mid-query can never produce a torn pair. */
  def searchCurrent(normalizedQuery: String, limit: Int): DataFrame = {
    val v = currentVersion.toInt
    val games = Merge.readTableAt(spark, tablePath, v).drop("bucket", "gen")
    TextSearch.searchIndexedFrames(games, state.postingsAt(v), state.dictAt(v),
      normalizedQuery, limit)
  }
}
