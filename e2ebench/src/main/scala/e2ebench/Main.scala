package e2ebench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Every digit a Double carries; non-finite values become null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

/** What one workload run hands back: operation counts, the e2e metrics
  * every workload reports, its own wall-clock report, and (traced runs)
  * per-layer metrics. */
final case class Outcome(
    attempted: Long,
    e2e: Map[String, Double],
    report: Seq[(String, Double)],
    layers: Map[String, Double] = Map.empty)

/** Run state shared by the workloads: the session, the options, the span
  * recorder, the listeners (traced runs only) and the named check
  * failures. */
final class Ctx(val spark: SparkSession, val opts: Opts, val sessionS: Double) {
  val rec = new Recorder
  val counters = new SparkCounters(spark)
  private val failures = mutable.LinkedHashMap.empty[String, Int]

  /** Record a failed check under `name`; every failure counts once
    * toward `failed`. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    if (!ok) {
      failures(name) = failures.getOrElse(name, 0) + 1
      if (failures(name) <= 3) System.err.println(s"CHECK FAILED $name: $detail")
    }
    ok
  }

  def failed: Long = failures.values.sum.toLong
  def failureSummary: String = failures.map { case (k, v) => s"$k=$v" }.mkString(",")

  def dir(name: String): String = {
    val d = new java.io.File(opts.work, name)
    d.mkdirs()
    d.getAbsolutePath
  }

  private val born = System.nanoTime()

  /** Logs the end of a phase, with seconds since the run started. */
  def phase(name: String): Unit =
    System.err.println(f"e2ebench: $name done at ${(System.nanoTime() - born) / 1e9}%.1f s")

  /** Wall seconds of `body`. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Switches tracing (spans and Spark listeners) on or off. */
  def tracing(enabled: Boolean): Unit = {
    if (enabled) counters.install() else counters.uninstall()
    rec.on = enabled
  }

  /** Runs `body` with `group` as the calling thread's job group. */
  def inGroup[T](group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}

/** `e2ebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`: generates the workload's inputs from the seed under
  * `dir`, sets up, measures for `s` seconds, checks every output, and
  * prints one JSON result line last. Exits 1 when any check failed. */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "serve_mixed" -> Serve.run,
    "datagen_batch" -> Datagen.run,
    "lake_ingest" -> Lake.run)

  /** The end-to-end metrics every workload reports (BENCHMARK.json). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "cpu_ms_per_op" -> "ms",
    "within_slo_share" -> "share",
    "peak_rss_mb" -> "MB")

  /** The per-layer metrics of the traced run (BENCHMARK.json), printed by
    * every workload. A layer a workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "api.http_ms_p50" -> "ms",
    "api.vector_service_ms_p50" -> "ms",
    "api.text_service_ms_p50" -> "ms",
    "api.response_kb_p50" -> "KB",
    "api.jobs_per_req" -> "count",
    "api.stages_per_req" -> "count",
    "api.tasks_per_req" -> "count",
    "api.driver_ms_per_req" -> "ms",
    "api.task_ms_per_req" -> "ms",
    "api.sched_wait_ms_per_req" -> "ms",
    "api.core_busy_share" -> "share",
    "api.vector.driver_share" -> "share",
    "api.text.driver_share" -> "share",
    "cache.file_scan_mb_per_req" -> "MB",
    "cache.storage_mb" -> "MB",
    "loadgen.late_ms_p50" -> "ms",
    "jvm.heap_peak_mb" -> "MB",
    "jvm.gc_ms_per_s" -> "ms/s",
    "trace.overhead_ms" -> "ms",
    "merge.round_s_p50" -> "s",
    "merge.round.jobs" -> "count",
    "merge.round.driver_gap_s" -> "s",
    "merge.round.task_s" -> "s",
    "merge.touched_bucket_share" -> "share",
    "merge.write_amp" -> "ratio",
    "merge.space_amp" -> "ratio",
    "merge.files_total" -> "count",
    "merge.point.files_read" -> "count",
    "merge.point.skip_share" -> "share",
    "merge.point.jobs" -> "count",
    "merge.point.driver_ms" -> "ms",
    "merge.compact_s" -> "s",
    "merge.compact_rewritten_mb" -> "MB") ++ Datagen.Layers

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (known: ${Workloads.keys.toSeq.sorted.mkString(", ")})")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace must be 0 or 1")
    Opts(w, need("seed").toLong, need("seconds").toInt, trace == "1", need("work"))
  }

  def session(opts: Opts): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"e2ebench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new java.io.File(opts.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(opts.work, "warehouse").getAbsolutePath)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    new java.io.File(opts.work).mkdirs()
    val t0 = System.nanoTime()
    val spark = session(opts)
    val ctx = new Ctx(spark, opts, (System.nanoTime() - t0) / 1e9)
    val outcome =
      try Workloads(opts.workload)(ctx)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          ctx.check("workload_error", ok = false, e.toString)
          Outcome(1, Map.empty, Seq.empty)
      }
    if (opts.trace)
      ctx.rec.write(new java.io.File(opts.work, "..").toPath
        .resolve(s"trace-${opts.workload}-${opts.seed}.jsonl").normalize(), ctx.counters)
    val metrics =
      if (opts.trace) PerLayer.map { case (n, u) => (n, outcome.layers.getOrElse(n, 0.0), u) }
      else EndToEnd.map { case (n, u) => (n, outcome.e2e.getOrElse(n, Double.NaN), u) }
    for ((n, v, _) <- metrics)
      ctx.check("metric_defined", !v.isNaN && !v.isInfinite, s"$n is $v")
    val correct = ctx.failed == 0
    println("REPORT " + Json.obj(Seq(
      "workload" -> Json.str(opts.workload), "seed" -> opts.seed.toString,
      "failures" -> Json.str(ctx.failureSummary)) ++
      outcome.report.map { case (k, v) => k -> Json.num(v) }))
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> math.max(1L, outcome.attempted).toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Json.metrics(metrics))))
    System.out.flush()
    try spark.stop() catch { case _: Throwable => () }
    sys.exit(if (correct) 0 else 1)
  }
}
