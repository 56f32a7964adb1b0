package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Merge

/** Per-commit accounting of [[BucketedAppendState]]. */
final case class BucketedCommitStats(
    version: Long, touchedBuckets: Int, totalBuckets: Int,
    writtenBytes: Long, stateBytes: Long)

/** Manifest-committed, key-bucketed state store, built for the
  * streaming vector-index maintainers (deleted, no measured caller; see
  * graft.streaming.StreamingNswIndex @ 134fd08) — round-13 refit of the
  * round-12 store, closing ADVICE r12's findings:
  *
  *   - '''gen LISTS, not copy-on-write appends''' (ADVICE #1): the
  *     manifest maps each keyed table's bucket to a LIST of generations,
  *     so an append commit writes ONLY the delta's rows (one new
  *     generation in each touched bucket) — written bytes ∝ delta size,
  *     independent of bucket count or bucket size. The round-12 shape
  *     (new gen = old rows ++ delta) rewrote every touched bucket whole,
  *     which with the default 16 buckets meant essentially the whole
  *     state per commit; the '∝ batch' claim only held with buckets
  *     sized ∝ corpus. Per-bucket read amplification is bounded by
  *     [[maxGensPerBucket]]: a commit that would push a bucket past it
  *     COLLAPSES that bucket's generations into one (local compaction,
  *     amortized — each row is rewritten once per `maxGensPerBucket`
  *     appends to its bucket).
  *   - '''small tables live in the manifest''' (ADVICE #2): entry
  *     `table,-1,v` records the version whose whole-rewrite dir holds the
  *     table, so a small table omitted from one delta CARRIES FORWARD
  *     (readAt at the new version still resolves it), and a keyed table
  *     first introduced after bootstrap commits like any other (the
  *     committed map is the union of current and touched tables, not
  *     current's keys).
  *   - '''deletes''' (round-12 verdict #2 — the takedown cascade):
  *     [[commitDelta]] takes per-table delete-key frames; a touched
  *     bucket's generations collapse to (all old rows anti-join deleted
  *     keys) ++ its delta rows — copy-on-write of exactly the buckets
  *     holding deleted keys, written bytes ∝ touched buckets.
  *   - '''replay-guarded commitFull''' (ADVICE #4): a replayed
  *     retrain/bootstrap of an already-committed version is a no-op
  *     (None) — and the commit itself is PUT-IF-ABSENT
  *     ([[graft.operators.ManifestIo]]), so nothing ever deletes or
  *     replaces a committed manifest.
  *   - '''bucket count pinned on disk''': the first commit records
  *     `_manifests/buckets`; reopening the store (servers construct this
  *     read-only with the default) uses the recorded count, so the
  *     writer's sizing dial ([[graft.operators.SizingPolicy.sizedStateBuckets]])
  *     can never diverge from the hash layout on disk.
  *
  * Layout (one manifest covering every table, so a served vectors/knn
  * pair can never tear):
  *
  * {{{
  * root/<table>/bucket=<b>/gen=<g>/    keyed tables (key-hash buckets)
  * root/<table>-v<g>/                  small tables, rewritten whole; <g>
  *                                     is a CLAIMED write-once label since
  *                                     round 15 (version<<20|salt, drawn
  *                                     through the same put-if-absent
  *                                     genmark markers as keyed gens), so
  *                                     two same-version racers can never
  *                                     land bytes in one dir — the
  *                                     manifest commit picks the single
  *                                     winner whose label it records.
  *                                     Pre-round-15 manifests recording
  *                                     the bare version keep reading: the
  *                                     dir name derives from the recorded
  *                                     label either way
  * root/_manifests/manifest-v<v>       "table,bucket,gen" lines (one per
  *                                     LIVE generation; bucket -1 = small)
  * root/_manifests/buckets             the bucket count the layout uses
  * }}}
  */
object BucketedAppendState {
  /** The bucket count an existing store at `rootDir` was committed with
    * (None = no store yet) — lets a maintainer choose SIZED buckets at
    * bootstrap ([[graft.operators.SizingPolicy.sizedStateBuckets]])
    * without paying a corpus count on every reopen. */
  def recordedBuckets(spark: SparkSession, rootDir: String): Option[Int] = {
    val p = new Path(rootDir, "_manifests/buckets")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt)
      finally in.close()
    }
  }

  /** BYTES-measured bootstrap sizing (round 16 — closes the
    * [[graft.operators.SizingPolicy.sizedStateBucketsForBytes]] wiring gap):
    * the bytes dial is the one that matters at scale
    * (graft.tools.DeleteScale @ c6e9ec7's ×100 replay: the row dial inflated a
    * narrow-row table 4.5× in pure per-file overhead and would overload a
    * wide-row bucket 1000×), but a DataFrame's on-disk size is unknowable
    * before its first write — so maintainers bootstrapped through the row dial.
    * This measures it: write a bounded probe of the store's first table ONCE,
    * read bytes-per-row off the probe files, project to `projectedRows`, and
    * size through the bytes dial — all BEFORE the layout freezes at the store's
    * first commit. An existing store's recorded layout always wins (reopen can
    * never resize), and the probe dir is removed on every path.
    *
    * The estimate is a parquet-encoded probe of `probeRows` rows: footer
    * overhead biases small probes slightly UP (more buckets — the safe
    * direction), corpus-wide dictionary wins bias slightly down; both are
    * second-order next to the 4.5×/1000× row-dial failure modes. */
  def measuredBuckets(spark: SparkSession, rootDir: String,
      sample: org.apache.spark.sql.DataFrame, projectedRows: Long,
      targetBucketBytes: Long = graft.operators.SizingPolicy.DefaultBucketBytes,
      probeRows: Int = 1024): Int =
    recordedBuckets(spark, rootDir).getOrElse {
      val dir = new Path(rootDir, ".sizing-probe")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try {
        sample.limit(probeRows).coalesce(1)
          .write.mode("overwrite").parquet(dir.toString)
        val bytes = fs.listStatus(dir).filter(st =>
          st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith(".")).map(_.getLen).sum
        val rows = spark.read.parquet(dir.toString).count() // footer-served
        val perRow = if (rows <= 0L) 0.0 else bytes.toDouble / rows
        val projectedBytes =
          math.ceil(perRow * math.max(projectedRows, 1L)).toLong
        graft.operators.SizingPolicy.sizedStateBucketsForBytes(
          math.max(projectedBytes, 1L), targetBucketBytes)
      } finally fs.delete(dir, true)
    }
}

/** @param alignDeltaWrites repartition each delta write by bucket so a touched
  *   bucket's generation lands as ONE file instead of one file per shuffle task
  *   (round 17 — graft.tools.StateGrowthScale @ c6e9ec7 measured the unaligned
  *   shape at ~16× the file count, with full-state reads degrading 2.5→7 s
  *   across the gen cycle at 120 commit rounds; the cost is one BATCH-sized
  *   shuffle per commit, which is the delta commit's own size class). Off
  *   reproduces the legacy layout.
  * @param collapseStagger extra per-bucket collapse headroom drawn
  *   deterministically in [0, stagger] from the bucket id: under a UNIFORM
  *   touch pattern every bucket's gen list grows in lockstep and the maxGens
  *   collapse fires for ALL buckets in the SAME commit — a corpus-sized stall
  *   (graft.tools.StateGrowthScale @ c6e9ec7: rounds 40/80/120 cost 59/111/174 s
  *   while ordinary rounds cost ~5 s). Staggered thresholds spread the rewrites
  *   across rounds — the classic compaction-stampede fix. Read amplification
  *   stays bounded by maxGensPerBucket + collapseStagger (documented bound; 0
  *   keeps the exact legacy contract). */
final class BucketedAppendState(spark: SparkSession, rootDir: String,
    buckets: Int = 16, keyed: Map[String, String] = Map.empty,
    keepVersions: Int = 3,
    maxGensPerBucket: Int = 8,
    hooks: Merge.IncHooks = Merge.IncHooks.none,
    litterVacuumEveryCommits: Int = 64,
    litterVacuumAgeMs: Long = 24L * 3600 * 1000,
    alignDeltaWrites: Boolean = true,
    collapseStagger: Int = 0) extends Serializable {
  require(buckets >= 1, s"buckets must be >= 1, got $buckets")
  require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
  require(maxGensPerBucket >= 1, s"maxGensPerBucket must be >= 1")
  require(collapseStagger >= 0, s"collapseStagger must be >= 0")

  /** Per-bucket collapse threshold: maxGens plus this bucket's share of
    * the stagger span (a splitmix-style scramble so adjacent buckets draw
    * unrelated offsets). */
  private def collapseThreshold(b: Int): Int =
    if (collapseStagger == 0) maxGensPerBucket
    else {
      var z = b.toLong + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      maxGensPerBucket + (((z ^ (z >>> 31)) & Long.MaxValue) %
        (collapseStagger + 1)).toInt
    }

  private val root = new Path(rootDir)
  @transient private lazy val fs =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def manifestDir = new Path(root, "_manifests")
  private def genPath(table: String, b: Int, g: Long) =
    new Path(root, s"$table/bucket=$b/gen=$g")
  private def smallPath(table: String, v: Long) = new Path(root, s"$table-v$v")

  /** The bucket count the ON-DISK layout was committed with — recorded at
    * first commit so readers and restarted writers can never hash keys
    * against a different layout than the one on disk. */
  @transient lazy val bucketCount: Int = {
    val p = new Path(manifestDir, "buckets")
    if (!fs.exists(p)) buckets
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
      finally in.close()
    }
  }

  private def recordBuckets(): Unit = {
    val p = new Path(manifestDir, "buckets")
    if (!fs.exists(p)) {
      fs.mkdirs(manifestDir)
      val out = fs.create(p, false)
      try out.write(s"$buckets\n".getBytes("UTF-8")) finally out.close()
    }
  }

  private def bucketOf(key: String) =
    pmod(xxhash64(col(key)), lit(bucketCount.toLong)).cast("int")

  // ------------------------------------------------------------- manifests

  def committedVersions: Seq[Long] =
    if (!fs.exists(manifestDir)) Seq.empty
    else fs.listStatus(manifestDir).map(_.getPath.getName).toSeq
      .filter(_.startsWith("manifest-v")).map(_.stripPrefix("manifest-v").toLong)
      .sorted

  def latest: Option[Long] = committedVersions.lastOption

  /** table → (bucket → live gens, ascending). Small tables appear as
    * bucket -1 with a single gen (the version whose dir holds them). */
  private def readManifestAt(version: Long): Map[String, Map[Int, Seq[Long]]] = {
    val p = new Path(manifestDir, s"manifest-v$version")
    require(fs.exists(p),
      s"state version $version is expired or never committed " +
        s"(retained: ${committedVersions.mkString(",")})")
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    text.linesIterator.filter(_.nonEmpty).map { l =>
      val Array(t, b, g) = l.split(','); (t, b.toInt, g.toLong)
    }.toSeq.groupBy(_._1).map { case (t, rows) =>
      t -> rows.groupBy(_._2).map { case (b, gs) =>
        b -> gs.map(_._3).sorted }
    }
  }

  private def commitManifest(version: Long,
      state: Map[String, Map[Int, Seq[Long]]]): Unit = {
    recordBuckets()
    graft.operators.ManifestIo.commitFile(fs, manifestDir, s"manifest-v$version",
      state.toSeq.sortBy(_._1).flatMap { case (t, m) =>
        m.toSeq.sortBy(_._1).flatMap { case (b, gs) =>
          gs.sorted.map(g => s"$t,$b,$g") } }
        .mkString("", "\n", "\n"))
  }

  // ----------------------------------------------------------------- reads

  def read(name: String): DataFrame =
    readAt(name, latest.getOrElse(sys.error(s"no committed state under $rootDir")))

  /** Keyed tables resolve through the manifest (explicit committed gen
    * paths, possibly several generations per bucket); small tables through
    * their bucket=-1 entry — which carries forward across deltas that
    * omit them. A table the manifest has never committed fails with a
    * descriptive error naming what IS committed (ADVICE r12 #3: the old
    * fall-through produced an unrelated parquet path error). */
  def readAt(name: String, version: Long): DataFrame = {
    val m = readManifestAt(version)
    m.get(name) match {
      case Some(state) if state.keySet == Set(-1) =>
        spark.read.parquet(smallPath(name, state(-1).head).toString)
      case Some(state) if state.nonEmpty =>
        val paths = state.toSeq.sortBy(_._1).flatMap { case (b, gs) =>
          gs.map(g => s"$rootDir/$name/bucket=$b/gen=$g") }
        spark.read.option("basePath", s"$rootDir/$name").parquet(paths: _*)
          .drop("bucket", "gen")
      case _ =>
        sys.error(s"table '$name' has no committed state at version $version " +
          s"under $rootDir (committed tables: ${m.keys.toSeq.sorted.mkString(", ")})")
    }
  }

  /** The committed versions whose manifest carries `name` — per-table, as
    * the signature promises (ADVICE r12 #5: the old implementation
    * ignored its argument). */
  def versionsOf(name: String): Seq[Long] =
    committedVersions.filter(v => readManifestAt(v).contains(name))

  /** bucket → live generation count at the latest version — the
    * read-amplification observable ([[maxGensPerBucket]] bounds it via
    * commit-time collapse). */
  def liveGenCounts(name: String): Map[Int, Int] =
    latest.map(readManifestAt).flatMap(_.get(name))
      .map(_.map { case (b, gs) => b -> gs.length })
      .getOrElse(Map.empty)

  // ---------------------------------------------------------------- writes

  private def dirBytes(p: Path): Long =
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).map(st =>
      if (st.isDirectory) dirBytes(st.getPath) else st.getLen).sum

  /** Write-once generation label for one writer attempt at `version`
    * (round 14 — the lake's `freshGen` rule adopted by the stores, the
    * last delete-then-write in the system): version in the high bits
    * (readable lineage), random low salt per attempt, so no two attempts
    * — crashed retries, or a contract-violating concurrent writer — can
    * ever share a gen dir. A crashed attempt's leftovers become
    * unreachable litter (no manifest names them) instead of data the
    * retry must clear first. The label is CLAIMED atomically via a
    * put-if-absent `genmark-` marker (ONE fs call per draw — probing
    * every touched bucket would be O(buckets) serial RPCs on a
    * commitFull at the sized bucket counts, and check-then-write still
    * races); a same-salt draw against a crashed attempt (p = 2⁻²⁰) just
    * redraws. */
  private def freshGen(version: Long, table: String): Long = {
    def draw() = (version << 20) | scala.util.Random.nextInt(1 << 20).toLong
    while (true) {
      val g = draw()
      try {
        graft.operators.ManifestIo.commitFile(fs, manifestDir,
          s"genmark-$table-$g", "")
        return g
      } catch {
        case _: graft.operators.VersionConflictException => () // taken — redraw
      }
    }
    sys.error("unreachable")
  }

  /** Write a small table whole at a CLAIMED write-once label (round 15 —
    * closing the last last-write-wins write in the commit story: the
    * previous shape overwrote `$table-v$version` with no claim, so two
    * same-version racers shared one dir — the manifest commit picked one
    * winner, but the LOSER's parquet overwrite could land after the
    * winner's, leaving the committed version pointing at bytes the winner
    * never wrote. The label is drawn through the same put-if-absent
    * genmark claim as keyed generations, so every attempt writes its own
    * dir write-once; a losing or crashed attempt's dir is unreferenced
    * litter [[vacuumLitter]] reclaims by age). Returns the label the
    * manifest records at bucket -1. */
  private def writeSmall(version: Long, table: String, rows: DataFrame): Long = {
    val label = freshGen(version, table)
    rows.write.parquet(smallPath(table, label).toString)
    label
  }

  /** Write `rows` (already carrying `bucket`) as a fresh write-once
    * generation of `table`; returns (gen, buckets that received data). */
  private def writeKeyedGen(version: Long, table: String,
      rows: DataFrame, touched: Seq[Int], align: Boolean): (Long, Seq[Int]) = {
    val gen = freshGen(version, table)
    (if (align) rows.repartition(col("bucket")) else rows)
      .withColumn("gen", lit(gen))
      .write.mode("append").partitionBy("bucket", "gen")
      .parquet(s"$rootDir/$table")
    (gen, touched.filter(b => fs.exists(genPath(table, b, gen))))
  }

  /** `written`: the (bucket, gen) entries THIS commit produced per table
    * (bucket −1 = the small-table dir at the commit's version). */
  private def stats(version: Long, written: Map[String, Seq[(Int, Long)]],
      committed: Map[String, Map[Int, Seq[Long]]]): BucketedCommitStats = {
    def entryBytes(t: String, b: Int, g: Long): Long =
      if (b == -1) dirBytes(smallPath(t, g)) else dirBytes(genPath(t, b, g))
    val writtenBytes = written.map { case (t, es) =>
      es.map { case (b, g) => entryBytes(t, b, g) }.sum }.sum
    val total = committed.map { case (t, m) =>
      m.map { case (b, gs) => gs.map(g => entryBytes(t, b, g)).sum }.sum }.sum
    val touched = written.collect {
      case (t, es) if keyed.contains(t) => es.length }.sum
    val totalBuckets = committed.collect {
      case (t, m) if keyed.contains(t) => m.size }.sum
    BucketedCommitStats(version, touched, totalBuckets, writtenBytes, total)
  }

  /** The union-committed map: every table of `current` carries forward
    * unless touched; touched tables (INCLUDING ones current never saw —
    * ADVICE r12 #2) take their new entries — and take them WHOLE.
    *
    * ADVICE r13 #2: this used to merge per-bucket maps
    * (`current(t) ++ replaced(t)`), which resurrected deleted rows two
    * ways: a [[commitFull]] retrain whose rewrite left a bucket empty kept
    * that bucket's OLD gen list, and a [[commitDelta]] whose deletes
    * emptied a bucket (the emptied entry is filtered out of the caller's
    * merged map) re-adopted the old gens from `current`. Both violate the
    * takedown guarantee silently. Callers now pass the COMPLETE post-commit
    * per-table map (commitDelta merges bucket-wise itself before calling),
    * and a table present in `replaced` replaces its entry outright. */
  private def unionCommit(current: Map[String, Map[Int, Seq[Long]]],
      replaced: Map[String, Map[Int, Seq[Long]]]): Map[String, Map[Int, Seq[Long]]] =
    (current.keySet ++ replaced.keySet).map { t =>
      t -> replaced.getOrElse(t, current(t))
    }.toMap

  /** Full write of every table at `version` — bootstrap and retrain-style
    * rewrites (corpus-sized by nature, amortized; aligned bulk load).
    * None when `version` is already committed (replayed bootstrap/retrain
    * — ADVICE r12 #4). */
  def commitFull(version: Long,
      tables: Map[String, DataFrame]): Option[BucketedCommitStats] = {
    if (latest.exists(_ >= version)) return None
    val current = latest.map(readManifestAt).getOrElse(Map.empty)
    val keyedEntries = keyed.collect { case (t, key) if tables.contains(t) =>
      val (gen, present) = writeKeyedGen(version, t,
        tables(t).withColumn("bucket", bucketOf(key)),
        (0 until bucketCount), align = true)
      t -> present.map(b => b -> Seq(gen)).toMap
    }
    val smallEntries = tables.keys.filterNot(keyed.contains).map { t =>
      t -> Map(-1 -> Seq(writeSmall(version, t, tables(t))))
    }.toMap
    val replaced = keyedEntries ++ smallEntries
    // a FULL write replaces the touched tables' entire entries (it is the
    // retrain path) but still carries forward tables it did not touch
    val committed = unionCommit(current, replaced)
    val written = keyedEntries.map { case (t, m) =>
      t -> m.toSeq.map { case (b, gs) => b -> gs.head } } ++
      smallEntries.map { case (t, m) => t -> Seq(-1 -> m(-1).head) }
    hooks.beforeCommit(version.toInt)
    commitManifest(version, committed)
    hooks.afterCommit(version.toInt)
    sweepRetention(version)
    maybeVacuumLitter(version)
    Some(stats(version, written, committed))
  }

  /** One append-only delta commit — see [[commitDelta]]. */
  def commitAppend(version: Long,
      deltas: Map[String, DataFrame]): Option[BucketedCommitStats] =
    commitDelta(version, deltas, Map.empty)

  /** One delta commit: per keyed table, `appends(t)`'s rows land as ONE
    * new generation in each touched bucket (written bytes ∝ delta — the
    * old rows are NOT rewritten), and `deleteKeys(t)`'s buckets collapse
    * to (old rows anti-join deleted keys) ++ their share of the delta
    * (copy-on-write of exactly the buckets holding deleted keys). A
    * bucket whose gen list would exceed [[maxGensPerBucket]] collapses
    * the same way (amortized local compaction — bounded read
    * amplification). Small tables in `appends` are rewritten whole;
    * omitted ones carry forward. Returns None when `version` is already
    * committed (replay no-op). */
  def commitDelta(version: Long,
      appends: Map[String, DataFrame],
      deleteKeys: Map[String, DataFrame]): Option[BucketedCommitStats] = {
    if (latest.exists(_ >= version)) return None
    val current = readManifestAt(latest.getOrElse(
      sys.error(s"commitDelta before bootstrap under $rootDir")))
    val touchedTables = (appends.keySet ++ deleteKeys.keySet).toSeq.sorted
    val keyedEntries = touchedTables.flatMap(t => keyed.get(t).map { key =>
      val delta = appends.get(t)
        .map(_.withColumn("bucket", bucketOf(key)))
      val appendBuckets = delta.map(_.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).toSet).getOrElse(Set.empty)
      val delKeys = deleteKeys.get(t).map(_.select(col(key)).distinct())
      val delBuckets = delKeys.map(_.withColumn("bucket", bucketOf(key))
        .select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).toSet).getOrElse(Set.empty)
      val oldEntries = current.getOrElse(t, Map.empty)
      // collapse where deletes apply, where the gen list is full, or
      // where a delete-bucket also takes appends; plain-append elsewhere
      val collapseBuckets = delBuckets ++ appendBuckets.filter(b =>
        oldEntries.get(b).exists(_.length >= collapseThreshold(b)))
      val appendOnly = (appendBuckets -- collapseBuckets).toSeq.sorted
      val collapse = collapseBuckets.toSeq.sorted
      def loadBuckets(bs: Seq[Int]): Option[DataFrame] = {
        val paths = bs.flatMap(b => oldEntries.getOrElse(b, Seq.empty)
          .map(g => s"$rootDir/$t/bucket=$b/gen=$g"))
        if (paths.isEmpty) None
        else Some(spark.read.option("basePath", s"$rootDir/$t")
          .parquet(paths: _*).drop("gen"))
      }
      val deltaInCollapse = delta.map(_.filter(col("bucket")
        .isin(collapse.map(Integer.valueOf): _*)))
      val oldKept = loadBuckets(collapse).map { old =>
        delKeys.fold(old)(dk =>
          old.join(broadcast(dk), Seq(key), "left_anti"))
      }
      val collapseRows = (oldKept, deltaInCollapse) match {
        case (Some(o), Some(d)) => Some(o.unionByName(d.select(o.columns.map(col): _*)))
        case (Some(o), None) => Some(o)
        case (None, Some(d)) => Some(d)
        case (None, None) => None
      }
      val appendRows = delta.map(_.filter(col("bucket")
        .isin(appendOnly.map(Integer.valueOf): _*)))
      val toWrite = (collapseRows, appendRows) match {
        case (Some(c), Some(a)) => Some(c.unionByName(a.select(c.columns.map(col): _*)))
        case (Some(c), None) => Some(c)
        case (None, Some(a)) => Some(a)
        case (None, None) => None
      }
      val touched = (collapse ++ appendOnly).sorted
      val written = toWrite.map(writeKeyedGen(version, t, _, touched,
        align = alignDeltaWrites))
      val gen = written.map(_._1)
      val present = written.map(_._2).getOrElse(Seq.empty)
      // collapsed buckets point at ONLY the new gen (empty rewrite drops
      // the bucket — every row deleted); append buckets gain a gen
      val entries =
        collapse.filter(present.contains).map(b => b -> Seq(gen.get)) ++
        collapse.filterNot(present.contains).map(b => b -> Seq.empty[Long]) ++
        appendOnly.filter(present.contains).map(b =>
          b -> (oldEntries.getOrElse(b, Seq.empty) :+ gen.get))
      Seq(t -> entries.toMap)
    }).flatten.toMap
    val smallEntries = touchedTables
      .filter(t => !keyed.contains(t) && appends.contains(t)).map { t =>
        t -> Map(-1 -> Seq(writeSmall(version, t, appends(t))))
      }.toMap
    // merge keyed entries bucket-wise into current (empty lists drop the
    // bucket); small tables replace whole
    val committed = unionCommit(current,
      keyedEntries.map { case (t, m) =>
        val merged = (current.getOrElse(t, Map.empty) ++ m)
          .filter(_._2.nonEmpty)
        t -> merged
      } ++ smallEntries)
    val written = keyedEntries.map { case (t, m) =>
      t -> m.toSeq.collect { case (b, gs) if gs.nonEmpty => b -> gs.last } } ++
      smallEntries.map { case (t, m) => t -> Seq(-1 -> m(-1).head) }
    hooks.beforeCommit(version.toInt)
    commitManifest(version, committed)
    hooks.afterCommit(version.toInt)
    sweepRetention(version)
    maybeVacuumLitter(version)
    Some(stats(version, written, committed))
  }

  /** Age-gated litter vacuum ON the maintainer loop (round-14 ADVICE #4:
    * nothing invoked [[vacuumLitter]] automatically, so a long-running
    * streaming maintainer accumulated crashed-attempt dirs, abandoned
    * claim markers, and ManifestIo `.tmp-` files without bound across
    * crashes). Every `litterVacuumEveryCommits` commits — amortized so a
    * change-sized commit is never dominated by the sweep's listings; 0
    * disables it for callers running their own maintenance schedule. */
  private def maybeVacuumLitter(version: Long): Unit =
    if (litterVacuumEveryCommits > 0 &&
        version % litterVacuumEveryCommits == 0 && version > 0)
      vacuumLitter(litterVacuumAgeMs)

  /** Reclaim ORPHANED litter: gen dirs and small-table dirs no on-disk
    * manifest references, older than `olderThanMs` — crashed-and-abandoned
    * writer attempts (a RETRIED attempt writes a fresh salted gen and
    * never reuses these). The routine sweep deliberately leaves them
    * alone: a never-referenced dir is indistinguishable from an
    * in-flight writer's not-yet-committed data, so reclaiming it safely
    * needs an age gate covering the longest plausible write — the same
    * rule as [[graft.operators.Merge.vacuumOrphans]]. Returns dirs
    * deleted. */
  def vacuumLitter(olderThanMs: Long = 24L * 3600 * 1000): Int = {
    val referenced: Set[(String, Int, Long)] = committedVersions
      .flatMap(v => readManifestAt(v).toSeq.flatMap { case (t, m) =>
        m.toSeq.flatMap { case (b, gs) => gs.map(g => (t, b, g)) } }).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    var deleted = 0
    keyed.keys.foreach { t =>
      val tdir = new Path(root, t)
      if (fs.exists(tdir))
        fs.listStatus(tdir).filter(_.getPath.getName.startsWith("bucket="))
          .foreach { bs =>
            val b = bs.getPath.getName.stripPrefix("bucket=").toInt
            fs.listStatus(bs.getPath).filter(_.getPath.getName.startsWith("gen="))
              .foreach { gs =>
                val g = gs.getPath.getName.stripPrefix("gen=").toLong
                if (!referenced.contains((t, b, g)) &&
                    gs.getModificationTime < cutoff) {
                  fs.delete(gs.getPath, true); deleted += 1
                }
              }
          }
    }
    val smallDir = "^(.+)-v(\\d+)$".r
    fs.listStatus(root).foreach { st =>
      st.getPath.getName match {
        case smallDir(t, v) if !referenced.contains((t, -1, v.toLong)) &&
            st.getModificationTime < cutoff =>
          fs.delete(st.getPath, true); deleted += 1
        case _ => ()
      }
    }
    // abandoned gen-claim markers (claimed, never committed)
    val refGens = referenced.map { case (t, _, g) => (t, g) }
    markerFiles().foreach { case (p, t, g) =>
      if (!refGens.contains((t, g)) &&
          fs.getFileStatus(p).getModificationTime < cutoff) {
        fs.delete(p, false); deleted += 1
      }
    }
    // ManifestIo temp files a crashed commit attempt left behind: the
    // winner/loser paths both delete their temp on a DECIDED claim, so an
    // aged `.tmp-` under _manifests is always a crash leftover (round-14
    // ADVICE #4: no sweep reclaimed these at all)
    if (fs.exists(manifestDir))
      fs.listStatus(manifestDir).map(_.getPath)
        .filter(_.getName.startsWith(".tmp-"))
        .foreach { p =>
          if (fs.getFileStatus(p).getModificationTime < cutoff) {
            fs.delete(p, false); deleted += 1
          }
        }
    deleted
  }

  /** Keep the last `keepVersions` manifests, every generation they
    * reference, and the small-table dirs they reference; delete the rest
    * (replaced/collapsed generations, expired manifests).
    *
    * Round 14: the dead set is computed FROM THE MANIFESTS (referenced
    * by some on-disk manifest, live in no retained one) and its paths
    * deleted directly — the previous per-bucket directory walk was
    * O(buckets) driver fs listings per commit, which at the sized bucket
    * counts (up to 2^20) would dominate a change-sized commit. A
    * crashed-and-abandoned attempt's gen dir (never referenced by any
    * manifest) is not swept here; the retry writes a FRESH salted gen
    * (collision-checked — [[freshGen]]), so leftovers are unreachable,
    * rare, bounded litter a maintenance pass may reclaim by age. */
  private def sweepRetention(version: Long): Unit = {
    val keepFrom = math.max(0L, version - keepVersions + 1)
    val all = committedVersions
    val manifests = all.map(v => v -> readManifestAt(v)).toMap
    def entriesOf(vs: Seq[Long]): Set[(String, Int, Long)] =
      vs.flatMap(v => manifests(v).toSeq.flatMap { case (t, m) =>
        m.toSeq.flatMap { case (b, gs) => gs.map(g => (t, b, g)) } }).toSet
    val live = entriesOf(all.filter(v => v >= keepFrom && v <= version))
    val referenced = entriesOf(all)
    val dead = referenced -- live
    dead.foreach {
      case (t, -1, g) => fs.delete(smallPath(t, g), true)
      case (t, b, g) => fs.delete(genPath(t, b, g), true)
    }
    // gen-claim markers expire with their generations; never-referenced
    // markers (in-flight or abandoned claims) age out via vacuumLitter
    val liveGens = live.map { case (t, _, g) => (t, g) }
    val refGens = referenced.map { case (t, _, g) => (t, g) }
    markerFiles().foreach { case (p, t, g) =>
      if (refGens.contains((t, g)) && !liveGens.contains((t, g)))
        fs.delete(p, false)
    }
    fs.listStatus(manifestDir).map(_.getPath)
      .filter(p => p.getName.startsWith("manifest-v") &&
        p.getName.stripPrefix("manifest-v").toLong < keepFrom)
      .foreach(p => fs.delete(p, false))
  }

  /** Every `genmark-<table>-<gen>` claim marker under `_manifests`. */
  private def markerFiles(): Seq[(Path, String, Long)] =
    fs.listStatus(manifestDir).map(_.getPath).toSeq
      .filter(_.getName.startsWith("genmark-"))
      .flatMap { p =>
        val rest = p.getName.stripPrefix("genmark-")
        val i = rest.lastIndexOf('-')
        if (i <= 0) None
        else rest.drop(i + 1).toLongOption.map(g => (p, rest.take(i), g))
      }
}
