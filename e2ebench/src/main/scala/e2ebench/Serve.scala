package e2ebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.api.{ApiServer, GameService}
import graft.enrich.StubEnrichmentClient

/** `serve_mixed`: an open loop at a fixed rate against an in-process
  * [[ApiServer]] on loopback port 0, at most [[Clients]] connections,
  * over a generated games corpus. See e2ebench/README.md for the sizes
  * and the reasons behind them. */
object Serve {
  val Games = 20000
  /** About a third of the warm closed-loop capacity at 4 clients on a
    * 4-core host (11 req/s): low enough that the queue stays short. */
  val Rate = 3.5
  val Clients = 4
  /** Latency limit for `within_slo_share`, from each request's due time:
    * about twice the p90 at the parent commit (4-core host). */
  val SloMs = 1600.0
  val Limit = 10

  sealed trait Kind { def vector: Boolean }
  case object VectorSearch extends Kind { val vector = true }
  case object SimilarSearch extends Kind { val vector = true }
  case object TextSearch extends Kind { val vector = false }
  case object GamesList extends Kind { val vector = false }
  case object StatsPage extends Kind { val vector = false }
  /** Endpoint mix, as shares of the requests sent. */
  val Mix: Seq[(Kind, Double)] = Seq(
    VectorSearch -> 0.30, SimilarSearch -> 0.25, TextSearch -> 0.25,
    GamesList -> 0.15, StatsPage -> 0.05)

  final case class Req(kind: Kind, q: String, target: Long, limit: Int) {
    def path: String = kind match {
      case VectorSearch => s"/vector-search?q=${enc(q)}&limit=$limit"
      case SimilarSearch => s"/similar-search/$target?limit=$limit"
      case TextSearch => s"/search?q=${enc(q)}&limit=$limit"
      case GamesList => s"/games?limit=$limit"
      case StatsPage => "/stats"
    }
    def call(s: GameService): String = kind match {
      case VectorSearch => s.vectorSearch(Some(q), Some(limit.toString))
      case SimilarSearch => s.similarSearch(target.toString, Some(limit.toString))
      case TextSearch => s.search(Some(q), Some(limit.toString))
      case GamesList => s.gamesList(Some(limit.toString))
      case StatsPage => s.stats()
    }
  }
  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  /** What the generator knows about the corpus, for the output checks. */
  final class Truth(c: Corpus) {
    private val pop: Map[Long, Double] = c.docIds.indices.map { i =>
      val id = c.docIds(i)
      val pc = if (id % 13 == 0) 0.0 else c.nChars(i).toDouble
      id -> (math.min(0.2, pc / 500.0) + 0.8)
    }.toMap
    private val ids = c.vecIds
    private val vecs = c.vecs.map(_.map(_.toDouble))
    private val norms = vecs.map(v => math.sqrt(v.map(x => x * x).sum))
    private val rowOf = ids.indices.map(i => ids(i) -> i).toMap

    private def scores(q: Array[Double], skip: Long): Seq[(Long, Double)] = {
      val qn = math.sqrt(q.map(x => x * x).sum)
      ids.indices.filter(i => ids(i) != skip).map { i =>
        var dot = 0.0
        var j = 0
        while (j < q.length) { dot += vecs(i)(j) * q(j); j += 1 }
        ids(i) -> dot / (norms(i) * qn) * pop(ids(i))
      }
    }

    /** `got` is a top-k of `scored`, ties allowed at the k-th score. */
    private def validTopK(scored: Seq[(Long, Double)], got: Seq[Long], k: Int): Boolean = {
      val eps = 1e-9
      val sorted = scored.sortBy(-_._2)
      val kth = sorted(math.min(k, sorted.length) - 1)._2
      val byId = scored.toMap
      got.length == math.min(k, sorted.length) && got.distinct.length == got.length &&
        got.forall(id => byId.get(id).exists(_ >= kth - eps)) &&
        sorted.takeWhile(_._2 > kth + eps).forall(p => got.contains(p._1))
    }

    def vectorOk(q: String, got: Seq[Long], k: Int): Boolean =
      validTopK(scores(new StubEnrichmentClient(Inputs.Dim).embed(Seq(q.trim)).head, -1L), got, k)

    def similarOk(target: Long, got: Seq[Long], k: Int): Boolean =
      validTopK(scores(vecs(rowOf(target)), target), got, k)

    val total: Long = c.docIds.length.toLong
    /** The /stats counters the engine's games view must report. */
    val stats: Map[String, Long] = Map(
      "totalGames" -> total,
      "gamesLackingIcons" -> total,
      "gamesLackingThumbnails" -> total,
      "gamesLackingDescriptions" -> c.docIds.count(id => id % 17 == 0 || id % 19 == 0 || id % 23 == 0).toLong,
      "gamesLackingGameplayDescriptions" -> c.docIds.count(_ % 3 == 0).toLong,
      "gamesLackingEmbeddings" -> (total - ids.length))
  }

  /** Query pool: common words (Zipf-drawn), each matching ≥ `Limit`
    * games so every search returns exactly `Limit` rows. */
  private val queryPool: IndexedSeq[String] =
    Inputs.Vocab.toIndexedSeq.filter(_.length >= 4).take(48)

  /** Endpoint of each request: the [[Mix]] shares, evenly interleaved
    * (smooth weighted round robin), the same for every seed, so runs
    * differ in their parameters and not in how heavy requests overlap. */
  def kinds(n: Int): IndexedSeq[Kind] = {
    val credit = Array.fill(Mix.length)(0.0)
    (0 until n).map { _ =>
      Mix.indices.foreach(j => credit(j) += Mix(j)._2)
      val j = Mix.indices.maxBy(credit(_))
      credit(j) -= 1.0
      Mix(j)._1
    }
  }

  /** The seeded request stream: query strings and similar-search targets
    * Zipf-popular, list limits uniform. The popularity ranks and limits
    * come from the fixed sequence `ranks`, the same for every seed, so
    * every run repeats its queries and targets equally often; the seed
    * picks which word and which game holds each rank. */
  def stream(seed: Long, ranks: Long, n: Int, c: Corpus): IndexedSeq[Req] = {
    val rng = new SplittableRandom(seed ^ 0x510e527fL)
    val draw = new SplittableRandom(ranks)
    val pool = Inputs.permutation(rng, queryPool.length).map(queryPool)
    val qz = new Zipf(pool.length, Inputs.ZipfS)
    val popular = Inputs.permutation(rng, c.vecIds.length)
    val tz = new Zipf(c.vecIds.length, Inputs.ZipfS)
    kinds(n).map {
      case GamesList => Req(GamesList, "", 0L, Seq(10, 25, 50)(draw.nextInt(3)))
      case k => Req(k, pool(qz.sample(draw)), c.vecIds(popular(tz.sample(draw))), Limit)
    }
  }

  final case class Sample(i: Int, dueNs: Long, sentNs: Long, doneNs: Long,
      status: Int, body: String) {
    def latencyMs: Double = (doneNs - dueNs) / 1e6
    def lateMs: Double = (sentNs - dueNs) / 1e6
  }

  /** Sends `reqs` on an open-loop schedule (request i due at i / Rate
    * seconds) from [[Clients]] threads; a request waits for a free client
    * when all are busy, and its latency counts from its due time. */
  def openLoop(reqs: IndexedSeq[Req])(send: (Int, Req) => (Int, String)): IndexedSeq[Sample] = {
    val out = new Array[Sample](reqs.length)
    val next = new AtomicInteger(0)
    val t0 = System.nanoTime() + 20000000L
    val threads = (0 until Clients).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.length) {
          val due = t0 + (i * 1e9 / Rate).toLong
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          val sent = System.nanoTime()
          val (st, body) =
            try send(i, reqs(i)) catch { case e: Throwable => (-1, e.toString) }
          out(i) = Sample(i, due, sent, System.nanoTime(), st, body)
          i = next.getAndIncrement()
        }
      })
      t.start()
      t
    }
    threads.foreach(_.join())
    out.toIndexedSeq
  }

  /** Sends `reqs` from [[Clients]] threads, each as soon as a client is
    * free (the warmup load). */
  private def closedLoop(reqs: IndexedSeq[Req])(send: Req => Any): Unit = {
    val next = new AtomicInteger(0)
    val threads = (0 until Clients).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.length) { send(reqs(i)); i = next.getAndIncrement() }
      })
      t.start()
      t
    }
    threads.foreach(_.join())
  }

  private def http(client: HttpClient, port: Int)(r: Req): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${r.path}")).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** Checks one response; returns false (and records the named failure)
    * when it is not a success envelope with the expected content. */
  private def checkResponse(ctx: Ctx, truth: Truth, r: Req, s: Sample): Boolean = {
    val kind = r.kind.toString
    if (!ctx.check(s"serve.$kind.status", s.status == 200, s"HTTP ${s.status}: ${s.body.take(200)}"))
      return false
    val json = try JsonMethods.parse(s.body) catch { case _: Throwable => JNothing }
    if (!ctx.check(s"serve.$kind.envelope", json \ "success" == JBool(true), s.body.take(200)))
      return false
    val data = json \ "data"
    r.kind match {
      case StatsPage =>
        truth.stats.forall { case (k, v) =>
          ctx.check(s"serve.StatsPage.$k", (data \ k) == JLong(v) || (data \ k) == JInt(v),
            s"$k: got ${data \ k}, expected $v") }
      case _ =>
        val rows = data match { case JArray(xs) => xs; case _ => Nil }
        val ids = rows.map(row => (row \ "universeId") match {
          case JLong(v) => v; case JInt(v) => v.toLong; case _ => -1L })
        ctx.check(s"serve.$kind.rows", rows.length == r.limit,
          s"${r.path}: ${rows.length} rows, expected ${r.limit}") && (r.kind match {
          case VectorSearch => ctx.check("serve.VectorSearch.topk",
            truth.vectorOk(r.q, ids, r.limit), s"${r.path}: ids $ids")
          case SimilarSearch => ctx.check("serve.SimilarSearch.topk",
            truth.similarOk(r.target, ids, r.limit), s"${r.path}: ids $ids")
          case _ => true
        })
    }
  }

  private def p50(xs: Seq[Double]): Double = Stats.median(xs)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val opts = ctx.opts
    val dir = ctx.dir("serve")
    // input generation: not part of setup_s
    val corpus = Inputs.games(opts.seed, Games)
    corpus.write(spark, dir)
    val truth = new Truth(corpus)
    val n = math.max(1, (Rate * opts.seconds).toInt)
    val reqs = stream(opts.seed, 1L, n, corpus)
    queryPool.foreach { q =>
      val hits = corpus.texts.count(_.contains(q))
      require(hits >= Limit, s"query '$q' matches only $hits games")
    }
    ctx.phase("generate")
    val warm = stream(opts.seed, 2L, 12, corpus)
    // a vector search reads every game and embedding, /stats every game
    val fillReqs = Seq(VectorSearch, StatsPage).map(k => warm.find(_.kind == k).get)

    // SETUP: server + cache fill, three times (median); then warmup
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def fill(): (ApiServer, Int) = {
      val server = new ApiServer(spark, dir, 0)
      val port = server.start()
      fillReqs.foreach(http(client, port))
      (server, port)
    }
    val fills = (1 to 3).map { i =>
      val ((server, port), s) = ctx.timed(fill())
      if (i < 3) { server.stop(); (None, s) } else (Some((server, port)), s)
    }
    val (server, port) = fills.last._1.get
    val (_, warmS) = ctx.timed(closedLoop(warm)(http(client, port)))
    val setupS = ctx.sessionS + p50(fills.map(_._2)) + warmS
    ctx.phase("setup")

    try {
      Jvm.resetHeapPeak()
      val gc0 = Jvm.gcMs
      val cpu0 = Jvm.cpuMs
      val (samples, wallS) = ctx.timed(openLoop(reqs)((_, r) => http(client, port)(r)))
      val cpuPerReq = (Jvm.cpuMs - cpu0) / samples.length
      val gcMsPerS = (Jvm.gcMs - gc0) / wallS
      ctx.phase("measure")
      val ok = samples.map(s => checkResponse(ctx, truth, reqs(s.i), s))
      val lat = samples.map(_.latencyMs)
      val okLat = samples.indices.filter(ok).map(lat)
      def classP50(vector: Boolean) = p50(samples.indices
        .filter(i => ok(i) && reqs(i).kind.vector == vector).map(lat))
      val within = samples.indices.count(i => ok(i) && lat(i) <= SloMs).toDouble / samples.length
      val e2e = Map(
        "setup_s" -> setupS,
        "cpu_ms_per_op" -> cpuPerReq,
        "within_slo_share" -> within,
        "peak_rss_mb" -> Jvm.peakRssMb)
      val report = Seq(
        "setup_s" -> setupS,
        "requests" -> samples.length.toDouble,
        "req_per_s" -> ok.count(identity) / wallS,
        "cpu_ms_per_req" -> cpuPerReq,
        "req_p50_ms" -> p50(okLat),
        "req_p90_ms" -> Stats.percentile(okLat, 0.90).getOrElse(Double.NaN),
        "req_p95_ms" -> Stats.percentile(okLat, 0.95).getOrElse(Double.NaN),
        "vector_req_p50_ms" -> classP50(vector = true),
        "text_req_p50_ms" -> classP50(vector = false),
        "within_slo_share" -> within,
        "error_share" -> ok.count(!_).toDouble / samples.length,
        "peak_rss_mb" -> Jvm.peakRssMb)
      val layers =
        if (!opts.trace) Map.empty[String, Double]
        else traced(ctx, server, client, port, reqs, truth, p50(okLat), gcMsPerS)
      Outcome(samples.length.toLong, e2e, report, layers)
    } finally server.stop()
  }

  /** The traced run: the same stream again over HTTP with the listeners
    * on (tracing overhead), then as direct [[GameService]] calls, each
    * under its own job group, for the per-request Spark counters. */
  private def traced(ctx: Ctx, server: ApiServer, client: HttpClient, port: Int,
      reqs: IndexedSeq[Req], truth: Truth, untracedP50: Double,
      gcMsPerS0: Double): Map[String, Double] = {
    val sc = ctx.spark.sparkContext
    ctx.tracing(true)
    val httpSamples = openLoop(reqs) { (i, r) =>
      ctx.rec.span(s"http.${r.kind}", req = i + 1L)(http(client, port)(r)) }
    httpSamples.foreach(s => checkResponse(ctx, truth, reqs(s.i), s))
    ctx.counters.drain()
    ctx.counters.reset()
    Jvm.resetHeapPeak()
    val gc0 = Jvm.gcMs
    val (direct, wallS) = ctx.timed(openLoop(reqs) { (i, r) =>
      val body = ctx.inGroup(s"req-$i") {
        ctx.rec.span(s"service.${r.kind}", req = i + 1L, group = s"req-$i")(r.call(server.service))
      }
      (200, body)
    })
    val gcMsPerS = (Jvm.gcMs - gc0) / wallS
    direct.foreach(s => checkResponse(ctx, truth, reqs(s.i), s))
    ctx.counters.drain()
    val cores = sc.defaultParallelism
    val per = direct.map { s =>
      val w = ctx.counters.of(s"req-${s.i}")
      val driverMs = Intervals.gap(w.jobIntervals, s.sentNs, s.doneNs) / 1e6
      (s, w, driverMs)
    }
    def mean(f: ((Sample, GroupWork, Double)) => Double) = per.map(f).sum / per.length
    def driverShare(vector: Boolean) = {
      val xs = per.filter(p => reqs(p._1.i).kind.vector == vector)
      xs.map(_._3).sum / xs.map(p => (p._1.doneNs - p._1.sentNs) / 1e6).sum
    }
    val taskMs = per.map(_._2.taskMs).sum.toDouble
    val storageMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    val httpP50 = p50(httpSamples.map(_.latencyMs))
    Map(
      "api.http_ms_p50" -> (httpP50 - p50(direct.map(_.latencyMs))),
      "api.vector_service_ms_p50" -> p50(direct.filter(s => reqs(s.i).kind.vector).map(_.latencyMs)),
      "api.text_service_ms_p50" -> p50(direct.filterNot(s => reqs(s.i).kind.vector).map(_.latencyMs)),
      "api.response_kb_p50" -> p50(httpSamples.map(_.body.getBytes("UTF-8").length / 1024.0)),
      "api.jobs_per_req" -> mean(_._2.jobs.toDouble),
      "api.stages_per_req" -> mean(_._2.stages.toDouble),
      "api.tasks_per_req" -> mean(_._2.tasks.toDouble),
      "api.driver_ms_per_req" -> mean(_._3),
      "api.task_ms_per_req" -> mean(_._2.taskMs.toDouble),
      "api.sched_wait_ms_per_req" -> mean(_._2.schedWaitMs.toDouble),
      "api.core_busy_share" -> taskMs / (wallS * 1000.0 * cores),
      "api.vector.driver_share" -> driverShare(vector = true),
      "api.text.driver_share" -> driverShare(vector = false),
      "cache.file_scan_mb_per_req" -> mean(_._2.fileScanBytes / 1048576.0),
      "cache.storage_mb" -> storageMb,
      "loadgen.late_ms_p50" -> p50(httpSamples.map(_.lateMs)),
      "jvm.heap_peak_mb" -> Jvm.heapPeakMb,
      "jvm.gc_ms_per_s" -> gcMsPerS,
      "trace.overhead_ms" -> (httpP50 - untracedP50))
  }
}
