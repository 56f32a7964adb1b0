package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Copy-on-write versioned parquet state with a commit pointer and
  * keep-last-K retention, for state that is genuinely batch-bounded
  * (the streaming upsert that used it is deleted; see
  * graft.streaming.StreamingUpsert @ 134fd08). It is the hand-rolled
  * analogue of a lakehouse table format's transaction log
  * (Delta/Iceberg); on one of those this class collapses to table
  * commits + `VACUUM`. Index-sized state outgrows the full-table rewrite
  * this class does per commit; [[BucketedAppendState]] is the
  * bucket-pruned store whose per-commit written bytes are change-sized,
  * not state-sized.
  *
  * Three properties the earlier per-class writes lacked:
  *
  *   - '''Retry-safe writes.''' Version dirs are written with
  *     `SaveMode.Overwrite` and versions are derived from the micro-batch
  *     id (`version = batchId + 1`), so a `foreachBatch` retry of a
  *     partially-failed batch overwrites its own partial output instead of
  *     colliding with `ErrorIfExists` and failing permanently.
  *   - '''Atomic-ish commit pointer.''' `_LATEST` holds the committed
  *     version, written via temp-file + rename AFTER the data dirs are
  *     fully written. Readers (and a restarted writer) only ever see fully
  *     committed versions; a crash between data write and pointer write
  *     loses nothing but an uncommitted dir that the retry overwrites.
  *   - '''Bounded storage.''' After each commit, versions ≤ latest − K are
  *     deleted (keep-last-K). Without this the index grows one full corpus
  *     copy per micro-batch forever — the same defect class as the jobs
  *     table before its retention sweep (`jobs_retention_sweep`).
  *
  * Versions may be sparse (empty/duplicate batches commit nothing); the
  * pointer names the latest real commit, and pruning is by version number,
  * so sparsity only means "fewer than K survivors", never a dangling read.
  */
final class VersionedState(spark: SparkSession, baseDir: String, keepVersions: Int = 3)
    extends Serializable {
  require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")

  private val base = new Path(baseDir)
  @transient private lazy val fs =
    base.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def pointer = new Path(base, "_LATEST")
  private def tablePath(name: String, version: Long) = new Path(base, s"$name-v$version")

  /** The committed version, or None before the first commit (fresh dir). */
  def latest: Option[Long] =
    if (!fs.exists(pointer)) None
    else {
      val in = fs.open(pointer)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLongOption
      finally in.close()
    }

  /** Read table `name` at the committed version. */
  def read(name: String): DataFrame =
    readAt(name, latest.getOrElse(sys.error(s"no committed version under $baseDir")))

  /** Read table `name` at an explicit version — the serve path pins the
    * version it observed from one `latest` read so every table of a
    * refresh comes from the SAME commit even if the writer advances the
    * pointer mid-refresh. */
  def readAt(name: String, version: Long): DataFrame =
    spark.read.parquet(tablePath(name, version).toString)

  /** Commit one version: write every table dir (Overwrite — retry-safe),
    * then advance the pointer, then prune versions older than the keep
    * window. The pointer write is last so a crash mid-commit leaves the
    * previous version served. */
  def commit(version: Long, tables: Map[String, DataFrame]): Unit = {
    tables.foreach { case (name, df) =>
      df.write.mode(SaveMode.Overwrite).parquet(tablePath(name, version).toString)
    }
    writePointer(version)
    prune(version)
  }

  private def writePointer(version: Long): Unit = {
    val tmp = new Path(base, "_LATEST.tmp")
    val out = fs.create(tmp, true)
    try out.write(version.toString.getBytes("UTF-8")) finally out.close()
    if (fs.exists(pointer)) fs.delete(pointer, false)
    if (!fs.rename(tmp, pointer)) sys.error(s"failed to commit pointer for v$version")
  }

  private val VersionDir = "^(.+)-v(\\d+)$".r

  /** Delete all table dirs with version ≤ committed − keepVersions. Listing
    * the base dir (rather than tracking table names) prunes every table the
    * caller has ever committed, including ones absent from later commits. */
  private def prune(committed: Long): Unit = {
    val cutoff = committed - keepVersions
    if (cutoff >= 0)
      fs.listStatus(base).foreach { st =>
        st.getPath.getName match {
          case VersionDir(_, v) if v.toLong <= cutoff => fs.delete(st.getPath, true)
          case _ => ()
        }
      }
  }

  /** Surviving on-disk versions of table `name`, ascending — for retention
    * tests and operational inspection. */
  def versionsOf(name: String): Seq[Long] =
    fs.listStatus(base).toSeq.flatMap { st =>
      st.getPath.getName match {
        case VersionDir(n, v) if n == name => Some(v.toLong)
        case _ => None
      }
    }.sorted
}
