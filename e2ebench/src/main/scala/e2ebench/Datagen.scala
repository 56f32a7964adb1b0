package e2ebench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.SparkEntry
import graft.tools.CacheRegistry

/** `datagen_batch`: closed-loop passes, on one driver thread, of the
  * datagen pipeline's `SparkEntry` entries in six steps. Each entry's
  * result goes through the `noop` sink, then `CacheRegistry.release`. */
object Datagen {
  val Docs = 1000
  val ExactShare = 0.04
  val NearShare = 0.04
  val EmbFraction = 0.4
  val NearVecShare = 0.03
  /** Latency limit per entry call, for `within_slo_share`: twice the
    * entry's cold time at the parent commit (median of five runs on a
    * 4-core host) plus half a second, which an entry misses once its time
    * more than doubles. */
  val SloMs: Map[String, Int] = Map(
    "e1_gameplay_markdown" -> 4700, "e2_embed_stub" -> 2800,
    "flt_c4_heuristics" -> 6400, "flt_gopher_quality" -> 2100,
    "dedup_exact" -> 2700, "dedup_minhash_lsh" -> 5500,
    "cur_dsir_select" -> 4000, "cur_hard_negatives" -> 5200,
    "index_build_ivf" -> 6000, "index_build_nsw" -> 5400,
    "ann_ivf_nprobe" -> 2000, "ann_brute_force_topk" -> 1400)

  /** Two entries per step. A comparison's 22 runs per workload leave one
    * datagen run about 35 s, so the pass leaves out flt_line_dedup,
    * dedup_embedding_cosine, cur_token_shards and ann_nsw_search (10 of
    * the 31 s a cold pass of all 16 entries takes on a 4-core host). */
  val Steps: Seq[(String, Seq[String])] = Seq(
    "enrich" -> Seq("e1_gameplay_markdown", "e2_embed_stub"),
    "filter" -> Seq("flt_c4_heuristics", "flt_gopher_quality"),
    "dedup" -> Seq("dedup_exact", "dedup_minhash_lsh"),
    "curate" -> Seq("cur_dsir_select", "cur_hard_negatives"),
    "index" -> Seq("index_build_ivf", "index_build_nsw"),
    "ann" -> Seq("ann_ivf_nprobe", "ann_brute_force_topk"))

  /** Per-layer metrics of a traced pass. */
  val Layers: Seq[(String, String)] = Steps.map(_._1).flatMap(s => Seq(
    s"operators.$s.wall_s" -> "s",
    s"operators.$s.jobs" -> "count",
    s"operators.$s.tasks" -> "count",
    s"operators.$s.driver_gap_s" -> "s",
    s"operators.$s.task_s" -> "s",
    s"operators.$s.core_busy_share" -> "share",
    s"operators.$s.shuffle_write_mb" -> "MB",
    s"operators.$s.spill_mb" -> "MB",
    s"io.$s.scan_mb" -> "MB",
    s"cache.$s.release_s" -> "s")) ++ Seq(
    "operators.dedup.kept_share" -> "share",
    "operators.ann.recall_at_5" -> "share")

  final case class Call(step: String, entry: String, group: String, startNs: Long,
      sinkEndNs: Long, endNs: Long, rows: Long, digest: String, extra: Map[String, Double]) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** Order-independent digest of a frame's rows: the sum of per-row
    * xxhash64 values (maps hashed through their JSON form). */
  private def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(s"`${f.name}`"))
        case _ => col(s"`${f.name}`")
      }
    }: _*)

  /** One entry through the noop sink and the release, as job group
    * `step:entry:pass`. */
  private def runEntry(ctx: Ctx, dir: String, step: String, entry: String, pass: Int): Call = {
    val group = s"$step:$entry:$pass"
    ctx.inGroup(group)(runEntryIn(ctx, dir, step, entry, pass, group))
  }

  private def runEntryIn(ctx: Ctx, dir: String, step: String, entry: String, pass: Int,
      group: String): Call = {
    val spark = ctx.spark
    val id = ctx.rec.nextId()
    val t0 = System.nanoTime()
    val obs = Observation(s"chk-$entry-$pass")
    val df = ctx.rec.span(s"operators.$entry.plan", parent = id)(SparkEntry.queries(entry)(spark, dir))
    val extras = if (entry == "dedup_exact") Seq(sum(col("n_copies")).as("copies")) else Nil
    val observed = df.observe(obs,
      count(lit(1)).as("rows"),
      (sum(rowHash(df).cast("decimal(38,0)")).cast("string")).as("digest") +: extras: _*)
    ctx.rec.span(s"operators.$entry.sink", parent = id) {
      observed.write.format("noop").mode("overwrite").save()
    }
    val t2 = System.nanoTime()
    ctx.rec.span(s"cache.$entry.release", parent = id)(CacheRegistry.release(blocking = true))
    val t3 = System.nanoTime()
    ctx.rec.add(Span(id, s"operators.$step.$entry", t0, t3, 0L, pass.toLong, group))
    val m = obs.get
    Call(step, entry, group, t0, t2, t3, m("rows").asInstanceOf[Long],
      Option(m("digest")).map(_.toString).getOrElse("null"),
      extras.map(_ => "copies" -> Option(m("copies")).map(_.toString.toDouble).getOrElse(0.0)).toMap)
  }

  /** Where the engine keeps built index artifacts (its `IndexStore`
    * default), keyed by the input files; a batch over fresh input builds
    * them anew, so every pass starts without them. */
  private val IndexStoreDir = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
    s"${System.getProperty("java.io.tmpdir")}/graft-index-store"))

  /** One pass over every step; shared caches and stored index artifacts
    * are dropped first so each pass does the same work. */
  def pass(ctx: Ctx, dir: String, n: Int): Seq[Call] = {
    CacheRegistry.releaseShared(blocking = true)
    org.apache.commons.io.FileUtils.deleteDirectory(IndexStoreDir)
    Steps.flatMap { case (step, entries) =>
      entries.map(e => runEntry(ctx, dir, step, e, n))
    }
  }

  /** The engine's dedup corpus re-crawls every 4th doc exactly (and every
    * 5th with a fixed tail); expected dedup_exact groups and removed rows
    * over the generated texts plus those copies. */
  private def expectedExact(c: Corpus): (Long, Long) = {
    val counts = mutable.HashMap.empty[String, Long]
    c.docIds.indices.foreach { i =>
      val t = c.texts(i)
      counts(t) = counts.getOrElse(t, 0L) + (if (c.docIds(i) % 4 == 0) 2L else 1L)
      if (c.docIds(i) % 5 == 0) {
        val near = t + " near dup tail"
        counts(near) = counts.getOrElse(near, 0L) + 1L
      }
    }
    val groups = counts.values.filter(_ > 1)
    (groups.size.toLong, groups.map(_ - 1).sum)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val opts = ctx.opts
    val dir = ctx.dir("datagen")
    val (corpus, planted) = Inputs.documents(opts.seed, Docs, ExactShare, NearShare,
      EmbFraction, NearVecShare)
    corpus.write(spark, dir)
    val (expGroups, expRemoved) = expectedExact(corpus)
    System.err.println(s"datagen: ${corpus.docIds.length} docs, $planted planted exact copies, " +
      s"digest ${corpus.digest}")

    // SETUP: open the input tables, three times (median). The measured
    // pass itself runs cold, in a fresh JVM, as a batch job does.
    val opens = (1 to 3).map { _ =>
      ctx.timed(Seq("documents", "embeddings").foreach(t =>
        spark.read.parquet(s"$dir/$t.parquet").count()))._2
    }
    val setupS = ctx.sessionS + Stats.median(opens)

    def measure(first: Int): (Seq[Seq[Call]], Seq[Double], Double) = {
      val passes = mutable.ArrayBuffer.empty[Seq[Call]]
      val walls = mutable.ArrayBuffer.empty[Double]
      val gc0 = Jvm.gcMs
      val t0 = System.nanoTime()
      while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < opts.seconds) {
        val (calls, s) = ctx.timed(pass(ctx, dir, first + passes.length))
        passes += calls; walls += s
      }
      (passes.toSeq, walls.toSeq, (Jvm.gcMs - gc0) / ((System.nanoTime() - t0) / 1e9))
    }

    // every entry's rows and digest must match every other pass over this
    // input: the passes of this run, and those an earlier run over the
    // same input (same seed) in this checkout recorded
    val digestFile = new java.io.File(opts.work, s"../datagen-digests-${corpus.digest}.txt")
    def digests(p: Seq[Call]) = p.map(c => s"${c.entry} ${c.rows} ${c.digest}")
    def checkPasses(passes: Seq[Seq[Call]]): Unit = {
      val recorded =
        if (digestFile.isFile) Some(scala.io.Source.fromFile(digestFile).getLines().toList)
        else None
      val ref = recorded.getOrElse(digests(passes.head))
      passes.foreach { p =>
        digests(p).zip(ref).foreach { case (a, b) =>
          ctx.check(s"datagen.${a.split(" ")(0)}.deterministic", a == b, s"$a vs $b")
        }
      }
      if (recorded.isEmpty)
        java.nio.file.Files.write(digestFile.toPath,
          digests(passes.head).mkString("", "\n", "\n").getBytes("UTF-8"))
      passes.flatten.filter(_.entry == "dedup_exact").foreach { c =>
        ctx.check("datagen.dedup_exact.planted",
          c.rows == expGroups && c.extra("copies") - c.rows == expRemoved,
          s"groups ${c.rows} removed ${c.extra("copies") - c.rows}, expected $expGroups / $expRemoved")
      }
    }

    if (opts.trace) ctx.tracing(true)
    val cpu0 = Jvm.cpuMs
    val (passes, walls, gcMsPerS) = measure(first = 1)
    val cpuPerCall = (Jvm.cpuMs - cpu0) / passes.flatten.length
    checkPasses(passes)
    val calls = passes.flatten
    System.err.println("datagen: entry ms " + calls.map(c => f"${c.entry}=${c.ms}%.0f").mkString(" "))
    val lat = calls.map(_.ms)
    val within = calls.count(c => c.ms <= SloMs(c.entry)).toDouble / calls.length
    val docsPerS = Docs / Stats.median(walls)
    val e2e = Map(
      "setup_s" -> setupS,
      "cpu_ms_per_op" -> cpuPerCall,
      "within_slo_share" -> within,
      "peak_rss_mb" -> Jvm.peakRssMb)
    val report = Seq(
      "setup_s" -> setupS,
      "passes" -> passes.length.toDouble,
      "pass_s_p50" -> Stats.median(walls),
      "batch_docs_per_s" -> docsPerS,
      "entry_p50_ms" -> Stats.median(lat),
      "cpu_ms_per_entry" -> cpuPerCall,
      "within_slo_share" -> within,
      "error_share" -> ctx.failed.toDouble / calls.length,
      "peak_rss_mb" -> Jvm.peakRssMb)
    val layers =
      if (!opts.trace) Map.empty[String, Double]
      else {
        val layers0 = traced(ctx, dir, passes, gcMsPerS)
        // tracing overhead: a warm untraced pass against a warm traced one
        ctx.tracing(false)
        val (plain, _, _) = measure(first = 100)
        ctx.tracing(true)
        val (again, _, _) = measure(first = 200)
        checkPasses(plain ++ again)
        layers0 + ("trace.overhead_ms" ->
          (Stats.median(again.flatten.map(_.ms)) - Stats.median(plain.flatten.map(_.ms))))
      }
    Outcome(calls.length.toLong, e2e, report, layers)
  }

  /** Per-step layer metrics of the traced passes (counters keyed by the
    * `step:entry` job group each call ran under). */
  private def traced(ctx: Ctx, dir: String, passes: Seq[Seq[Call]],
      gcMsPerS: Double): Map[String, Double] = {
    ctx.counters.drain()
    val cores = ctx.spark.sparkContext.defaultParallelism
    val np = passes.length.toDouble
    val perStep = Steps.flatMap { case (step, entries) =>
      val calls = passes.flatten.filter(_.step == step)
      val works = calls.map(c => ctx.counters.of(c.group))
      val wallS = calls.map(c => (c.endNs - c.startNs) / 1e9).sum / np
      val gapS = calls.map(c => Intervals.gap(
        ctx.counters.of(c.group).jobIntervals, c.startNs, c.endNs) / 1e9).sum / np
      val taskS = works.map(_.taskMs).sum / 1000.0 / np
      Seq(
        s"operators.$step.wall_s" -> wallS,
        s"operators.$step.jobs" -> works.map(_.jobs).sum / np,
        s"operators.$step.tasks" -> works.map(_.tasks).sum / np,
        s"operators.$step.driver_gap_s" -> gapS,
        s"operators.$step.task_s" -> taskS,
        s"operators.$step.core_busy_share" -> taskS / (wallS * cores),
        s"operators.$step.shuffle_write_mb" -> works.map(_.shuffleWriteBytes).sum / 1048576.0 / np,
        s"operators.$step.spill_mb" -> works.map(_.spillBytes).sum / 1048576.0 / np,
        s"io.$step.scan_mb" -> works.map(_.fileScanBytes).sum / 1048576.0 / np,
        s"cache.$step.release_s" -> calls.map(c => (c.endNs - c.sinkEndNs) / 1e9).sum / np)
    }
    // quality guards, outside the timed passes
    def collectIds(entry: String) = SparkEntry.queries(entry)(ctx.spark, dir)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = collectIds("ann_brute_force_topk")
    val recall = Seq("ann_ivf_nprobe", "ann_nsw_search")
      .map(e => (collectIds(e) intersect truth).size.toDouble / truth.size).sum / 2
    CacheRegistry.release(blocking = true)
    val removed = Stats.median(passes.flatten.filter(_.entry == "dedup_exact")
      .map(c => c.extra("copies") - c.rows))
    // the engine's dedup corpus: every doc, plus copies of every 4th and 5th
    val corpusRows = Docs + (0 until Docs).count(_ % 4 == 0) + (0 until Docs).count(_ % 5 == 0)
    (perStep ++ Seq(
      "operators.dedup.kept_share" -> (1.0 - removed / corpusRows),
      "operators.ann.recall_at_5" -> recall,
      "jvm.gc_ms_per_s" -> gcMsPerS,
      "jvm.heap_peak_mb" -> Jvm.heapPeakMb)).toMap
  }
}
