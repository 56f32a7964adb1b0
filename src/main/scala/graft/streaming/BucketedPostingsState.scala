package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.operators.Merge

/** Per-commit accounting of [[BucketedPostingsState]] — the evidence that
  * maintainer writes are priced by CHANGES, not corpus size (the bytes axis
  * graft.tools.PostingsMaintainerScale @ c6e9ec7 measures). */
final case class PostingsCommitStats(
    version: Int, touchedBuckets: Int, totalBuckets: Int,
    writtenBytes: Long, stateBytes: Long)

/** Manifest-committed, word-bucketed, copy-on-write postings store — the
  * state layer that brings the lake's write shape (written bytes ∝ touched
  * buckets) to the index-MAINTAINER tier (round-11 verdict #1: the
  * maintainers computed batch-sized but committed corpus-sized tables per
  * micro-batch through [[VersionedState]]'s full rewrite; at 100 TB a
  * per-batch full-state rewrite is the last corpus-sized write in the
  * system).
  *
  * Layout ([[graft.operators.Merge]]'s manifest discipline, two tables
  * under ONE manifest so a served (postings, dictionary) pair can never
  * tear):
  *
  * {{{
  * root/postings/bucket=<b>/gen=<g>/   (word, universeId)
  * root/dict/bucket=<b>/gen=<g>/       (word)  — the bucket's distinct words
  * root/_manifests/manifest-v<v>       "b,g" lines; temp + one-file rename
  * }}}
  *
  * `bucket(word) = pmod(xxhash64(word), buckets)` — a stable
  * data-independent hash of the posting KEY, exactly the lake's
  * key-mod-buckets rule lifted to string keys. A delta touches the buckets
  * of its stale ∪ fresh words; untouched buckets carry their generation
  * forward in the manifest and are never read or rewritten. The manifest
  * version doubles as the FEED version the state reflects, so a serve path
  * can pin (games table version v, postings manifest v) and read a
  * consistent snapshot pair.
  *
  * Commit protocol (per delta): clear uncommitted leftovers of a crashed
  * prior attempt at this generation, append the rewritten touched buckets
  * as `gen=<version>` for both tables, then rename the manifest in — the
  * atomic commit point. A replayed version (`latestVersion >= version`)
  * returns None without touching disk, so feed-consumer retries are
  * no-ops. Retention keeps the last `keepVersions` manifests and every
  * generation they reference (the serve tier's time-pinning window), same
  * sweep shape as the lake's VACUUM.
  */
final class BucketedPostingsState(spark: SparkSession, rootDir: String,
    buckets: Int, keepVersions: Int = 3,
    hooks: Merge.IncHooks = Merge.IncHooks.none) extends Serializable {
  require(buckets >= 1, s"buckets must be >= 1, got $buckets")
  require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")

  private val root = new Path(rootDir)
  @transient private lazy val fs =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def manifestDir = new Path(root, "_manifests")
  private def genPath(table: String, b: Int, g: Int) =
    new Path(root, s"$table/bucket=$b/gen=$g")

  /** The bucket count the on-disk layout was committed with (recorded at
    * first commit, like [[BucketedAppendState]]) — a reopened store can
    * never hash words against a different layout than it was written
    * with, whatever the constructor was passed. */
  @transient lazy val bucketCount: Int =
    BucketedAppendState.recordedBuckets(spark, rootDir).getOrElse(buckets)

  private def recordBuckets(): Unit = {
    val p = new Path(manifestDir, "buckets")
    if (!fs.exists(p)) {
      fs.mkdirs(manifestDir)
      val out = fs.create(p, false)
      try out.write(s"$bucketCount\n".getBytes("UTF-8")) finally out.close()
    }
  }

  private def bucketOf = pmod(xxhash64(col("word")), lit(bucketCount.toLong)).cast("int")

  private val postingsSchema = StructType(Seq(
    StructField("word", StringType), StructField("universeId", LongType)))
  private val dictSchema = StructType(Seq(StructField("word", StringType)))

  // ------------------------------------------------------------- manifests

  def committedVersions: Seq[Int] =
    if (!fs.exists(manifestDir)) Seq.empty
    else fs.listStatus(manifestDir).map(_.getPath.getName).toSeq
      .filter(_.startsWith("manifest-v")).map(_.stripPrefix("manifest-v").toInt)
      .sorted

  def latestVersion: Option[Int] = committedVersions.lastOption

  /** Put-if-absent commit ([[graft.operators.ManifestIo]] — round-12
    * verdict: no pre-delete; a replayed or concurrent commit of an
    * existing version surfaces as a [[graft.operators.VersionConflictException]]
    * instead of silently replacing committed state. The replay guards in
    * [[bootstrap]]/[[commitDelta]] make the benign retries no-ops before
    * ever reaching here). */
  private def commitManifest(version: Int, state: Map[Int, Int]): Unit = {
    recordBuckets()
    graft.operators.ManifestIo.commitFile(fs, manifestDir, s"manifest-v$version",
      state.toSeq.sorted.map { case (b, g) => s"$b,$g" }
        .mkString("", "\n", "\n"))
  }

  private def readManifestAt(version: Int): Map[Int, Int] = {
    val p = new Path(manifestDir, s"manifest-v$version")
    require(fs.exists(p),
      s"postings state version $version is expired or never committed " +
        s"(retained: ${committedVersions.mkString(",")})")
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    text.linesIterator.filter(_.nonEmpty).map { l =>
      val Array(b, g) = l.split(','); b.toInt -> g.toInt
    }.toMap
  }

  // ----------------------------------------------------------------- reads

  private def load(table: String, state: Map[Int, Int], schema: StructType): DataFrame =
    if (state.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else {
      val paths = state.toSeq.sorted.map { case (b, g) => s"$rootDir/$table/bucket=$b/gen=$g" }
      spark.read.option("basePath", s"$rootDir/$table").parquet(paths: _*)
        .drop("bucket", "gen")
    }

  def postingsAt(version: Int): DataFrame =
    load("postings", readManifestAt(version), postingsSchema)
  def dictAt(version: Int): DataFrame =
    load("dict", readManifestAt(version), dictSchema)
  def postings(): DataFrame =
    postingsAt(latestVersion.getOrElse(sys.error(s"no committed state under $rootDir")))
  def dict(): DataFrame =
    dictAt(latestVersion.getOrElse(sys.error(s"no committed state under $rootDir")))

  // ---------------------------------------------------------------- writes

  private def dirBytes(p: Path): Long =
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).map(st =>
      if (st.isDirectory) dirBytes(st.getPath) else st.getLen).sum

  /** Write-once generation label per writer attempt (round 14 — the
    * lake's `freshGen` rule): no attempt collides with a crashed retry's
    * leftovers, which become unreachable litter instead of data the
    * retry must pre-delete. The label is CLAIMED atomically via a
    * put-if-absent `genmark-` marker — one fs call per draw, no
    * check-then-write window, no per-bucket probing. */
  private def freshGen(version: Int): Int = {
    require(version < (1 << 19), s"generation label space exhausted at $version")
    def draw() = (version << 12) | scala.util.Random.nextInt(1 << 12)
    while (true) {
      val g = draw()
      try {
        graft.operators.ManifestIo.commitFile(fs, manifestDir, s"genmark-$g", "")
        return g
      } catch {
        case _: graft.operators.VersionConflictException => () // taken — redraw
      }
    }
    sys.error("unreachable")
  }

  /** Append `rows` (word, universeId, bucket) as a fresh write-once
    * generation of both tables; returns (gen, buckets that actually
    * received data — a bucket whose rewrite came out empty is dropped
    * from the manifest, it no longer exists). */
  private def writeGen(version: Int, touched: Seq[Int], rows0: DataFrame,
      align: Boolean = false): (Int, Seq[Int]) = {
    val gen = freshGen(version)
    // bulk-load alignment (bootstrap only): hash-partition on the bucket
    // column so each bucket lands in one task — a wide unaligned write
    // fans every task into up to `buckets` partition dirs (open-writer
    // memory + tasks×buckets tiny files), the same dial the lake's
    // upsertIncrementalRounds documents. Delta writes fan into only their
    // touched buckets and skip the shuffle.
    val rows = if (align) rows0.repartition(col("bucket")) else rows0
    rows.withColumn("gen", lit(gen))
      .write.mode("append").partitionBy("bucket", "gen")
      .parquet(s"$rootDir/postings")
    rows.select(col("bucket"), col("word")).distinct()
      .withColumn("gen", lit(gen))
      .write.mode("append").partitionBy("bucket", "gen")
      .parquet(s"$rootDir/dict")
    (gen, touched.filter(b => fs.exists(genPath("postings", b, gen))))
  }

  /** `written`: the (bucket → gen) entries THIS commit produced. */
  private def stats(version: Int, written: Map[Int, Int],
      committed: Map[Int, Int]): PostingsCommitStats = {
    val writtenBytes = written.map { case (b, g) =>
      dirBytes(genPath("postings", b, g)) + dirBytes(genPath("dict", b, g)) }.sum
    val total = committed.map { case (b, g) =>
      dirBytes(genPath("postings", b, g)) + dirBytes(genPath("dict", b, g)) }.sum
    PostingsCommitStats(version, written.size, committed.size, writtenBytes, total)
  }

  /** Full build at `version` — the ONE corpus-sized write the maintainer
    * ever pays, at bootstrap (the batch artifact's build cost, paid once;
    * every later commit is a [[commitDelta]]). */
  def bootstrap(version: Int, postings: DataFrame): PostingsCommitStats = {
    val b = bucketCount // resolve the layout BEFORE wiping the old store
    fs.delete(root, true)
    val rows = postings.select(col("word"), col("universeId")).withColumn("bucket", bucketOf)
    val (gen, present) = writeGen(version, (0 until b), rows, align = true)
    val committed = present.map(_ -> gen).toMap
    hooks.beforeCommit(version)
    commitManifest(version, committed)
    hooks.afterCommit(version)
    sweepRetention(version)
    stats(version, committed, committed)
  }

  /** One delete-then-insert round: remove every (word, universeId) pair of
    * `touchedDocs` whose word lies in a touched bucket, insert
    * `freshPostings`. `stalePostings` = the touched docs' PREVIOUS postings
    * (recomputed from CDC preimages by the caller) — it exists purely to
    * NAME the buckets that may hold rows to delete: an old pair of a
    * touched doc lives in the bucket of one of its old words, so
    * buckets(stale.word) ∪ buckets(fresh.word) covers every row that must
    * change, and no untouched bucket can hold one. Within touched buckets
    * the delete is the doc-level anti-join (the same delete-half the
    * full-commit maintainer used), so delete correctness never depends on
    * the stale recomputation being exact row-for-row — only the bucket
    * COVER does, which is a superset by construction.
    *
    * Returns None when `version` is already committed (feed replay). */
  def commitDelta(version: Int, touchedDocs: DataFrame,
      stalePostings: DataFrame, freshPostings: DataFrame): Option[PostingsCommitStats] = {
    if (latestVersion.exists(_ >= version)) return None
    val current = latestVersion.map(readManifestAt)
      .getOrElse(sys.error(s"commitDelta before bootstrap under $rootDir"))
    val fresh = freshPostings.select(col("word"), col("universeId"))
      .withColumn("bucket", bucketOf)
    val touched = stalePostings.select(col("word")).withColumn("bucket", bucketOf)
      .select(col("bucket"))
      .unionByName(fresh.select(col("bucket")))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    if (touched.isEmpty) { // nothing changed textually — commit the carry-over
      hooks.beforeCommit(version)
      commitManifest(version, current)
      hooks.afterCommit(version)
      sweepRetention(version)
      return Some(stats(version, Map.empty, current))
    }
    val oldEntries = current.filter { case (b, _) => touched.contains(b) }
    val oldRows = load("postings", oldEntries, postingsSchema)
      .withColumn("bucket", bucketOf)
    val keptRows = oldRows.join(
      broadcast(touchedDocs.select(col("universeId")).distinct()),
      Seq("universeId"), "left_anti")
    val newRows = keptRows.select(col("word"), col("universeId"), col("bucket"))
      .unionByName(fresh)
    val (gen, present) = writeGen(version, touched, newRows)
    val written = present.map(_ -> gen).toMap
    val committed = (current -- touched) ++ written
    hooks.beforeCommit(version)
    commitManifest(version, committed)
    hooks.afterCommit(version)
    sweepRetention(version)
    Some(stats(version, written, committed))
  }

  /** Keep the last `keepVersions` manifests and every generation they
    * reference; delete expired manifests and the generations only they
    * referenced. Round 14: the dead set comes from the MANIFESTS
    * (referenced minus live, both driver memory) and its paths are
    * deleted directly — the per-bucket directory walk was O(buckets)
    * driver listings per commit. A crashed-and-abandoned attempt's gen
    * (never referenced) is unreachable litter a maintenance pass may
    * reclaim by age; a RETRIED attempt writes a fresh salted gen and
    * never collides with it. */
  private def sweepRetention(version: Int): Unit = {
    val keepFrom = math.max(0, version - keepVersions + 1)
    val all = committedVersions
    val manifests = all.map(v => v -> readManifestAt(v)).toMap
    val live: Set[(Int, Int)] = all.filter(v => v >= keepFrom && v <= version)
      .flatMap(v => manifests(v).toSeq).toSet
    val referenced: Set[(Int, Int)] = all.flatMap(v => manifests(v).toSeq).toSet
    (referenced -- live).foreach { case (b, g) =>
      fs.delete(genPath("postings", b, g), true)
      fs.delete(genPath("dict", b, g), true)
    }
    // gen-claim markers expire with their generations (never-referenced
    // markers belong to in-flight or abandoned claims and are left alone)
    val liveGens = live.map(_._2)
    val refGens = referenced.map(_._2)
    fs.listStatus(manifestDir).map(_.getPath)
      .filter(_.getName.startsWith("genmark-"))
      .foreach { p =>
        p.getName.stripPrefix("genmark-").toIntOption.foreach { g =>
          if (refGens.contains(g) && !liveGens.contains(g)) fs.delete(p, false)
        }
      }
    fs.listStatus(manifestDir).map(_.getPath)
      .filter(p => p.getName.startsWith("manifest-v") &&
        p.getName.stripPrefix("manifest-v").toInt < keepFrom)
      .foreach(p => fs.delete(p, false))
  }
}
