package graft.tools

import org.apache.spark.sql.{DataFrame, Dataset}

/** Tracks DataFrames persisted inside lazily-built query plans so the
  * harness (Bench / Verify / tests) can unpersist them once the query's
  * action has run.
  *
  * Query builders like `Dedup.dedupMinhashLsh` persist a shared subplan
  * (the signature set feeds banding plus both verify sides) but return a
  * lazy DataFrame — they cannot unpersist before the caller's action, and
  * leaving blocks cached leaks executor memory across a 50-query suite
  * (round-1 bench logged "Block rdd_x already exists" on re-execution).
  * Builders register what they persist; runners call [[release]] after
  * each action completes.
  */
object CacheRegistry {
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()
  // the PHYSICAL RDDs behind checkpointTracked frames — see release()
  private val checkpointRdds =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]()
  private val shared = scala.collection.concurrent.TrieMap.empty[String, Dataset[_]]

  /** Persist `df` at MEMORY_AND_DISK and register it for later release. */
  def persistTracked(df: DataFrame): DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tracked.add(df)
    df
  }

  /** Eagerly localCheckpoint `df`, truncating lineage AND the analyzed
    * plan. persist alone cuts re-execution but leaves the full logical
    * subtree in every downstream plan, so an iterative builder that feeds
    * round i's output into round i+1 multiple times (NN-descent references
    * the kept graph 6× per round) pays analyzer cost exponential in the
    * round count — 5 rounds was enough to wedge the driver. Checkpointed
    * blocks live on the executors until the RDD is GC'd (ContextCleaner);
    * the result is registered so [[release]] stays uniform for callers,
    * though unpersist on it is a no-op. */
  def checkpointTracked(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(true)
    // Register the checkpoint's PHYSICAL RDD so release() can free its
    // blocks deterministically (round 19, guide §5): unpersist on the
    // returned Dataset is a no-op for checkpoints — the blocks are only
    // reclaimed when the driver GC collects the RDD reference and the
    // ContextCleaner notices, which on a large heap can be MINUTES later.
    // A 157-query suite runs dozens of iterative builders (NN-descent,
    // pagerank, BPE: one checkpoint per round/merge), so undropped blocks
    // accumulated across queries and competed with live caches for the
    // storage pool — part of the measured in-suite-vs-isolated inflation
    // (index_build_bpe 19.2 s in-suite vs 5.7 s isolated, same code).
    // Unpersisting after the query's action is safe exactly like the
    // persisted case: the frame is dead once its query completes (a
    // re-execution after release would need recompute either way — for a
    // truncated-lineage checkpoint that is an error, and no release-scoped
    // frame outlives its query; primed/shared frames never checkpoint).
    out.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        checkpointRdds.add(lr.rdd)
      case _ => ()
    }
    tracked.add(out)
    out
  }

  /** A cache shared ACROSS queries in one suite run, keyed by the caller
    * (e.g. the tokenized dedup corpus per data dir): built and persisted on
    * first use, reused by every later query, untouched by the per-query
    * [[release]], freed only by [[releaseShared]] (or process exit). The
    * at-scale form is a materialized intermediate table that several
    * pipeline stages read. */
  def sharedTracked(key: String)(build: => DataFrame): DataFrame = {
    // race-safe now that AnnRecall's build pool reaches this concurrently
    // (ADVICE r18): TrieMap.getOrElseUpdate can evaluate `build` twice
    // under same-key races and persist a frame nothing ever unpersists.
    // First-wins via putIfAbsent; the losing thread unpersists its frame.
    shared.get(key) match {
      case Some(df) => df.asInstanceOf[DataFrame]
      case None =>
        val df = build
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        shared.putIfAbsent(key, df) match {
          case None => df
          case Some(winner) =>
            try df.unpersist(false) catch { case _: Throwable => () }
            winner.asInstanceOf[DataFrame]
        }
    }
  }

  /** Insert-or-REPLACE a shared frame (unlike [[sharedTracked]]'s
    * get-or-build): the `index_build_*` queries prime the serve-side
    * handle with the freshly rebuilt IndexStore artifact, so serve queries
    * measured after a build never pay a build or a first read. */
  def primeShared(key: String, df: DataFrame): DataFrame = {
    shared.remove(key).foreach { d =>
      try d.unpersist(false) catch { case _: Throwable => () }
    }
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    shared.put(key, df)
    df
  }

  private val sharedObjects = scala.collection.concurrent.TrieMap.empty[String, Any]

  /** Insert-or-replace the driver-object analogue of [[primeShared]]. */
  def primeObject[T](key: String, value: T): T = {
    sharedObjects.put(key, value)
    value
  }

  /** Driver-held index artifacts shared across queries in one suite run —
    * trained k-means centroids, PQ codebooks (K×Dim scalars, the
    * documented driver boundary). Same lifecycle as [[sharedTracked]]:
    * built once per key, reused by every later query (the standalone IVF
    * family and the recall harness all train the SAME quantizer — at
    * scale a trained quantizer is a persisted artifact, not a per-query
    * job), forgotten by [[releaseShared]]. */
  def sharedObject[T](key: String)(build: => T): T =
    sharedObjects.getOrElseUpdate(key, build).asInstanceOf[T]

  /** Unpersist and forget every [[sharedTracked]] / [[sharedObject]] entry. */
  def releaseShared(blocking: Boolean = false): Unit = {
    shared.keys.foreach { k =>
      shared.remove(k).foreach { d =>
        try d.unpersist(blocking)
        catch { case _: Throwable => () }
      }
    }
    sharedObjects.clear()
  }

  /** Run `body` in a tracked-frame SCOPE: frames and checkpoint RDDs
    * registered DURING the body are unpersisted and dropped from the
    * registry when it returns (success or failure); those registered
    * before are left alone. `CacheRegistrySpec` uses it to pin that a
    * release frees localCheckpoint blocks, not just the Dataset handles,
    * without touching frames other suites registered on the shared test
    * session.
    *
    * Single-writer assumption: a CONCURRENT thread registering frames
    * during the body would see them released with the scope. */
  def scopedRelease[T](blocking: Boolean = false)(body: => T): T = {
    val before = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Dataset[_], java.lang.Boolean]())
    tracked.forEach(d => before.add(d))
    val beforeRdds = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[org.apache.spark.rdd.RDD[_], java.lang.Boolean]())
    checkpointRdds.forEach(r => beforeRdds.add(r))
    try body
    finally {
      val keep = new java.util.ArrayList[Dataset[_]]()
      var d = tracked.poll()
      while (d != null) {
        if (before.contains(d)) keep.add(d)
        else { try d.unpersist(blocking) catch { case _: Throwable => () } }
        d = tracked.poll()
      }
      keep.forEach(k => tracked.add(k))
      // checkpoint blocks created inside the scope are freed with it —
      // deterministically, instead of waiting for driver GC and the
      // ContextCleaner to notice the dropped references
      val keepR = new java.util.ArrayList[org.apache.spark.rdd.RDD[_]]()
      var r = checkpointRdds.poll()
      while (r != null) {
        if (beforeRdds.contains(r)) keepR.add(r)
        else { try r.unpersist(blocking) catch { case _: Throwable => () } }
        r = checkpointRdds.poll()
      }
      keepR.forEach(k => checkpointRdds.add(k))
    }
  }

  /** Unpersist everything registered since the last call. Bench passes
    * `blocking = true` so a query never competes for storage memory with
    * the previous query's still-draining cached blocks — eviction noise
    * showed up as a 10× outlier on one BENCH_r04 query. */
  def release(blocking: Boolean = false): Unit = {
    var d = tracked.poll()
    while (d != null) {
      try d.unpersist(blocking)
      catch { case _: Throwable => () }
      d = tracked.poll()
    }
    var r = checkpointRdds.poll()
    while (r != null) {
      try r.unpersist(blocking)
      catch { case _: Throwable => () }
      r = checkpointRdds.poll()
    }
  }
}
