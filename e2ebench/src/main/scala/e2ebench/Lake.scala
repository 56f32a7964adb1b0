package e2ebench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Merge

/** `lake_ingest`: one closed-loop client against a generated `Merge`
  * table — upsert rounds (j1 column policy), each followed by a burst of
  * point reads, with a compaction every few rounds. */
object Lake {
  val Rows = 200000
  val Buckets = 8
  val BatchRows = 64
  val UpdateShare = 0.7
  val ReadsPerRound = 6
  val CompactEvery = 2
  /** Latency limit per point read, for `within_slo_share`: about twice
    * the p90 at the parent commit (4-core host). */
  val SloMs = 600.0

  val Overwrite = Seq("rootPlaceId", "name", "playerCount")
  val Coalesce = Seq("description")
  val Keep = Seq("gameplayDescription")
  val Cols = Seq("universeId", "rootPlaceId", "name", "description",
    "gameplayDescription", "playerCount")

  /** An upsert batch: every table column but the KEEP one. */
  val BatchSchema: StructType = StructType(Seq(
    StructField("universeId", LongType, nullable = false),
    StructField("rootPlaceId", LongType),
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("playerCount", LongType)))

  /** The latest value of every column the generator wrote, per key. */
  final class State(capacity: Int) {
    val rootPlaceId = new Array[Long](capacity)
    val name = new Array[String](capacity)
    val description = new Array[String](capacity)
    val gameplay = new Array[String](capacity)
    val playerCount = new Array[Long](capacity)
    var keys = 0

    def row(k: Int): Row = Row(k.toLong, rootPlaceId(k), name(k), description(k),
      gameplay(k), playerCount(k))
  }

  /** Seeded generator of the bulk load, the upsert batches and the point
    * read keys. Updates favour popular keys (Zipf over a random ranking)
    * and recent keys (Zipf over insertion order, newest first). */
  final class Gen(seed: Long, maxRounds: Int) {
    private val rng = new SplittableRandom(seed ^ 0x9b05688cL)
    val state = new State(Rows + maxRounds * BatchRows)
    private val popular = Inputs.permutation(rng, Rows)
    private val zPop = new Zipf(Rows, Inputs.ZipfS)
    private val zRecent = new Zipf(Rows, Inputs.ZipfS)
    private val zKeys = new Zipf(Rows, Inputs.ZipfS)
    // the bulk load's values are arithmetic in (key, salt), so the table is
    // generated by Spark and the expected state here, from one formula
    private val salt = Math.floorMod(seed, 1000003L)

    (0 until Rows).foreach { k =>
      state.rootPlaceId(k) = k + 1000000L
      state.name(k) = s"game $k"
      state.description(k) = if ((k * 7919L + salt) % 10 == 0) null else s"desc $k"
      state.gameplay(k) = if ((k * 31L + salt) % 3 == 0) null else s"**Gameplay Summary**: game $k"
      state.playerCount(k) = (k * 2654435761L + salt) % 5000
    }
    state.keys = Rows

    def initial(spark: SparkSession): DataFrame = {
      val k = col("id")
      spark.range(Rows).select(
        k.as("universeId"),
        (k + 1000000L).as("rootPlaceId"),
        concat(lit("game "), k.cast("string")).as("name"),
        when((k * 7919L + salt) % 10 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("desc "), k.cast("string"))).as("description"),
        when((k * 31L + salt) % 3 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("**Gameplay Summary**: game "), k.cast("string")))
          .as("gameplayDescription"),
        ((k * 2654435761L + salt) % 5000).as("playerCount"))
    }

    private def updateKey(): Int =
      if (rng.nextBoolean()) popular(zPop.sample(rng))
      else state.keys - 1 - math.min(state.keys - 1, zRecent.sample(rng))

    /** Round `r`'s batch; applies the j1 policy to the expected state. */
    def batch(spark: SparkSession, r: Int): DataFrame = {
      val keys = mutable.LinkedHashSet.empty[Int]
      val updates = (BatchRows * UpdateShare).toInt
      while (keys.size < updates) keys += updateKey()
      (0 until BatchRows - updates).foreach(i => keys += state.keys + i)
      state.keys += BatchRows - updates
      val rows = keys.toSeq.map { k =>
        val desc = if (rng.nextInt(10) < 3) null else s"refresh$r $k"
        val row = Row(k.toLong, k + 1000000L * (r + 2), s"game $k r$r", desc,
          rng.nextInt(5000).toLong)
        state.rootPlaceId(k) = row.getLong(1)
        state.name(k) = row.getString(2)
        if (desc != null) state.description(k) = desc
        state.playerCount(k) = row.getLong(4)
        row
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), BatchSchema)
    }

    /** 1–10 distinct existing keys, Zipf-popular. */
    def readKeys(): Seq[Long] = {
      val n = 1 + rng.nextInt(10)
      Iterator.continually {
        if (rng.nextBoolean()) popular(zKeys.sample(rng)) else rng.nextInt(state.keys)
      }.distinct.take(n).map(_.toLong).toSeq
    }
  }

  final case class Read(ms: Double, startNs: Long, endNs: Long, files: Long, group: String)
  final case class RoundRun(ms: Double, startNs: Long, endNs: Long, st: Merge.IncRoundStats, group: String)
  final case class CompactRun(s: Double, group: String)

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L) else f.length()

  private def dataBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dataBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length() else 0L

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val opts = ctx.opts
    val base = ctx.dir("lake")
    val gen = new Gen(opts.seed, maxRounds = 400)
    val initial = gen.initial(spark)
    ctx.phase("generate")

    // SETUP: bulk load + skipping sidecars, twice (the faster counts: a
    // third load would not fit a run in the time a comparison allows)
    def bulkLoad(path: String): Unit = {
      Merge.upsertIncrementalRounds(spark, path,
        initial.repartition(Buckets, pmod(col("universeId"), lit(Buckets))), Seq.empty,
        "universeId", Overwrite, Coalesce, Keep, Buckets)
      Merge.cluster(spark, path, "playerCount", filesPerBucket = 1, bloomCols = Seq("universeId"))
    }
    val loads = (1 to 2).map { i =>
      val p = s"$base/load-$i"
      val (_, s) = ctx.timed(bulkLoad(p))
      if (i < 2) org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
      s
    }
    val path = s"$base/load-2"
    ctx.phase("bulk loads")
    var round = 0
    def upsert(group: String): RoundRun = {
      round += 1
      val fresh = gen.batch(spark, round)
      val t0 = System.nanoTime()
      val st = ctx.inGroup(group)(ctx.rec.span("merge.upsertRound", req = round, group = group) {
        Merge.upsertRound(spark, path, fresh, "universeId", Overwrite, Coalesce, Keep, Buckets)
      })
      val t1 = System.nanoTime()
      RoundRun((t1 - t0) / 1e6, t0, t1, st, group)
    }
    def pointRead(group: String, traced: Boolean): Read = {
      val keys = gen.readKeys()
      val t0 = System.nanoTime()
      val (rows, files) = ctx.inGroup(group)(ctx.rec.span("merge.readTableWhereIn", req = round, group = group) {
        val df = Merge.readTableWhereIn(spark, path, "universeId", keys)
        (df.select(Cols.map(col): _*).collect(), if (traced) df.inputFiles.length.toLong else 0L)
      })
      val t1 = System.nanoTime()
      val expected = keys.map(k => gen.state.row(k.toInt)).toSet
      ctx.check("lake.point_read.latest", rows.toSet == expected && rows.length == keys.length,
        s"keys $keys: got ${rows.mkString(";")}")
      Read((t1 - t0) / 1e6, t0, t1, files, group)
    }
    // the bulk loads exercise the write path; warm the read path
    val (_, warmS) = ctx.timed((1 to 3).foreach(_ => pointRead("warm", traced = false)))
    val setupS = ctx.sessionS + loads.min + warmS
    ctx.phase("warmup")

    var cpu0 = 0.0
    def measure(traced: Boolean) = {
      val rounds = mutable.ArrayBuffer.empty[RoundRun]
      val reads = mutable.ArrayBuffer.empty[Read]
      val compacts = mutable.ArrayBuffer.empty[CompactRun]
      val gc0 = Jvm.gcMs
      cpu0 = Jvm.cpuMs
      val t0 = System.nanoTime()
      // whole cycles only, so every run does the same mix of work
      while (rounds.isEmpty || (System.nanoTime() - t0) / 1e9 < opts.seconds) {
        (1 to CompactEvery).foreach { _ =>
          rounds += upsert(s"round-${round + 1}")
          (1 to ReadsPerRound).foreach(i => reads += pointRead(s"read-$round-$i", traced))
        }
        val g = s"compact-$round"
        val (_, s) = ctx.timed(ctx.inGroup(g)(ctx.rec.span("merge.compact", req = round, group = g) {
          Merge.compact(spark, path, targetFiles = 1)
        }))
        compacts += CompactRun(s, g)
      }
      (rounds.toSeq, reads.toSeq, compacts.toSeq, (Jvm.gcMs - gc0) / ((System.nanoTime() - t0) / 1e9))
    }

    val (rounds, reads, compacts, _) = measure(traced = false)
    val cpuMs = Jvm.cpuMs - cpu0
    ctx.phase("measure")
    val writeS = rounds.map(_.ms / 1000).sum + compacts.map(_.s).sum
    val upsertRowsPerS = rounds.length * BatchRows / writeS
    val readMs = reads.map(_.ms)
    val within = readMs.count(_ <= SloMs).toDouble / readMs.length
    val ops = rounds.length + reads.length + compacts.length
    val e2e = Map(
      "setup_s" -> setupS,
      "cpu_ms_per_op" -> cpuMs / ops,
      "within_slo_share" -> within,
      "peak_rss_mb" -> Jvm.peakRssMb)

    val layers =
      if (!opts.trace) Map.empty[String, Double]
      else {
        ctx.tracing(true)
        val (tr, trReads, trCompacts, gcMsPerS) = measure(traced = true)
        ctx.counters.drain()
        val filesTotal = Merge.tableFileCount(spark, path).toDouble
        val bytesPerRow = tr.last.st.tableBytes.toDouble / gen.state.keys
        def per[T](xs: Seq[T])(f: T => Double) = if (xs.isEmpty) 0.0 else xs.map(f).sum / xs.length
        val roundWork = tr.map(r => ctx.counters.of(r.group))
        Map(
          "merge.round_s_p50" -> Stats.median(tr.map(_.ms / 1000)),
          "merge.round.jobs" -> per(roundWork)(_.jobs.toDouble),
          "merge.round.driver_gap_s" -> per(tr)(r =>
            Intervals.gap(ctx.counters.of(r.group).jobIntervals, r.startNs, r.endNs) / 1e9),
          "merge.round.task_s" -> per(roundWork)(_.taskMs / 1000.0),
          "merge.touched_bucket_share" -> per(tr)(r => r.st.touchedBuckets.toDouble / r.st.totalBuckets),
          "merge.write_amp" -> per(tr)(r => r.st.rewrittenBytes / (BatchRows * bytesPerRow)),
          "merge.files_total" -> filesTotal,
          "merge.point.files_read" -> per(trReads)(_.files.toDouble),
          "merge.point.skip_share" -> per(trReads)(r => 1.0 - r.files / filesTotal),
          "merge.compact_s" -> per(trCompacts)(_.s),
          "merge.compact_rewritten_mb" -> per(trCompacts)(c =>
            ctx.counters.of(c.group).outputBytes / 1048576.0),
          "jvm.gc_ms_per_s" -> gcMsPerS,
          "jvm.heap_peak_mb" -> Jvm.heapPeakMb,
          "trace.overhead_ms" -> (Stats.median(trReads.map(_.ms)) - Stats.median(readMs))) ++
          pointWork(ctx, trReads)
      }

    // end checks and space, outside the timed loop
    val table = Merge.readTable(spark, path).select(Cols.map(col): _*)
    val liveRows = table.count()
    ctx.check("lake.final_row_count", liveRows == gen.state.keys,
      s"table has $liveRows rows, generator wrote ${gen.state.keys} distinct keys")
    // bytes on disk (every retained generation, sidecar and manifest) per
    // byte of the live rows, as one compact parquet copy stores them
    val compactCopy = s"$base/live-copy"
    table.coalesce(1).write.mode("overwrite").parquet(compactCopy)
    val spaceAmp = dirBytes(new java.io.File(path)).toDouble / dataBytes(new java.io.File(compactCopy))
    val report = Seq(
      "setup_s" -> setupS,
      "rounds" -> rounds.length.toDouble,
      "point_reads" -> reads.length.toDouble,
      "upsert_rows_per_s" -> upsertRowsPerS,
      "cpu_ms_per_op" -> cpuMs / ops,
      "point_read_p50_ms" -> Stats.median(readMs),
      "point_read_p95_ms" -> Stats.percentile(readMs, 0.95).getOrElse(Double.NaN),
      "space_amp" -> spaceAmp,
      "within_slo_share" -> within,
      "error_share" -> ctx.failed.toDouble / (rounds.length + reads.length),
      "peak_rss_mb" -> Jvm.peakRssMb)
    Outcome(ops.toLong, e2e, report,
      if (layers.isEmpty) layers else layers + ("merge.space_amp" -> spaceAmp))
  }

  /** Per point read: jobs and driver time (wall not covered by a job). */
  private def pointWork(ctx: Ctx, reads: Seq[Read]): Map[String, Double] = {
    val works = reads.map(r => ctx.counters.of(r.group))
    val driverMs = reads.indices.map(i =>
      Intervals.gap(works(i).jobIntervals, reads(i).startNs, reads(i).endNs) / 1e6)
    Map(
      "merge.point.jobs" -> works.map(_.jobs).sum.toDouble / math.max(1, works.length),
      "merge.point.driver_ms" -> driverMs.sum / math.max(1, driverMs.length))
  }
}
