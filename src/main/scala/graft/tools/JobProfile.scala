package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Job-level attribution profiler (dev tool, round 18): runs ONE SparkEntry
  * query through the noop sink with a listener recording every Spark job's
  * wall time and call site, then prints the job table plus the DRIVER GAP —
  * wall time not covered by any job (manifest/FS round trips, plan time,
  * driver collects). The gap is what per-stage UI views never show and is
  * exactly where multi-action queries (the j1 merge family) hide their
  * sequential driver work.
  *
  * Usage: runMain graft.tools.JobProfile <query> [sfDir] [warmRuns]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: JobProfile <query> [sfDir]"))
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val warmRuns = args.lift(2).flatMap(_.toIntOption).getOrElse(1)
    val spark = graft.Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = graft.SparkEntry.queries.getOrElse(name,
      graft.SparkEntry.benchOnlyQueries(name))

    // codegen/JIT warmup at the smallest fixture, then once at the target
    // fixture so shared store artifacts exist (Bench's setup pass)
    try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    CacheRegistry.release(blocking = true)
    (1 to warmRuns).foreach { _ =>
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      CacheRegistry.release(blocking = true)
    }

    final case class Job(id: Int, start: Long, var end: Long, site: String)
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("?")
        jobs.synchronized { jobs(js.jobId) = Job(js.jobId, js.time, -1L, site) }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(je.jobId).foreach(_.end = je.time) }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val wall0 = System.currentTimeMillis()
    fn(spark, dir).write.format("noop").mode("overwrite").save()
    val wallSec = (System.nanoTime() - t0) / 1e9
    val wall1 = System.currentTimeMillis()
    spark.sparkContext.removeSparkListener(listener)
    CacheRegistry.release(blocking = true)

    val js = jobs.synchronized { jobs.values.toSeq.sortBy(_.start) }
    println(f"JOBPROF $name total=$wallSec%.2f s jobs=${js.size}")
    var cursor = wall0
    var gapTotal = 0L
    js.foreach { j =>
      val gap = math.max(0L, j.start - cursor)
      gapTotal += gap
      val dur = (if (j.end < 0) wall1 else j.end) - j.start
      if (gap > 20 || dur > 20)
        println(f"JOBPROF   gap=${gap / 1e3}%6.2f s  job=${j.id}%4d dur=${dur / 1e3}%6.2f s  ${j.site}")
      cursor = math.max(cursor, if (j.end < 0) wall1 else j.end)
    }
    gapTotal += math.max(0L, wall1 - cursor)
    val jobSum = js.map(j => (if (j.end < 0) wall1 else j.end) - j.start).sum
    println(f"JOBPROF $name job_sum=${jobSum / 1e3}%.2f s driver_gap=${gapTotal / 1e3}%.2f s (gaps<=20ms folded)")
    // per-call-site rollup
    js.groupBy(_.site).map { case (s, g) =>
      s -> (g.map(j => (if (j.end < 0) wall1 else j.end) - j.start).sum, g.size)
    }.toSeq.sortBy(-_._2._1).take(20).foreach { case (s, (ms, n)) =>
      println(f"JOBPROF   site $s%-50s n=$n%3d sum=${ms / 1e3}%6.2f s")
    }
    spark.stop()
  }
}
