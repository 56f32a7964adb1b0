package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

/** Crash-recovery proof for the streaming writers (round-9 verdict #3):
  * kill a streaming query and resume it from its checkpoint.
  *
  * The crash window that matters is BETWEEN the two commits: the sink has
  * written batch `batchId`'s output, but the engine dies before writing
  * `checkpoint/commits/<batchId>` — on restart Structured Streaming
  * re-executes that batch from its offsets entry, and the sink must keep
  * the output exactly-once. The spec simulates exactly that window
  * deterministically: run to completion, DELETE the newest commit-log
  * entry, drop more data, restart from the same checkpoint, and require
  * the final output to equal an uninterrupted reference run.
  */
class StreamingRecoverySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Start a query and drain it. A restart on a just-terminated query's
    * checkpoint can race Spark's ASYNC active-checkpoint cleanup (the
    * registry entry is removed when the listener bus delivers the
    * termination event, which awaitTermination does not wait for) — that
    * transient "concurrently using" failure is retried; anything else
    * propagates. */
  private def runToCompletion(mk: () => org.apache.spark.sql.streaming.StreamingQuery,
      timeoutMs: Long): Unit = {
    var attempts = 0
    while (attempts >= 0) {
      try {
        assert(mk().awaitTermination(timeoutMs), "stream did not drain in time")
        return
      } catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException
            if e.getMessage.contains("concurrently using") && attempts < 40 =>
          attempts += 1
          Thread.sleep(250L)
      }
    }
  }

  private def crashWindow(ckptDir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val commits = Paths.get(ckptDir, "commits")
    val entries = Files.list(commits).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.forall(_.isDigit))
    assert(entries.nonEmpty, s"no commit entries under $commits")
    val latest = entries.maxBy(_.getFileName.toString.toLong)
    assert(Files.deleteIfExists(latest), s"could not delete $latest")
  }

  test("StreamingWindowedQuantiles emits each window exactly once across a crash") {
    import graft.streaming.StreamingWindowedQuantiles
    val ev = graft.io.Tables.events(spark, SparkTestSession.Sf0001)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    val mid = ev.agg(org.apache.spark.sql.functions.expr(
      "percentile(unix_timestamp(ts), 0.5)")).head().getDouble(0)
    val dropA = ev.filter(org.apache.spark.sql.functions.unix_timestamp(col("ts")) <= mid)
    val dropB = ev.filter(org.apache.spark.sql.functions.unix_timestamp(col("ts")) > mid)
    // far-future sentinel closes every real window after the restart
    val dropC = ev.orderBy(col("ts").desc).limit(1)
      .withColumn("ts", org.apache.spark.sql.functions.expr("ts + INTERVAL 30 DAYS"))
      .withColumn("event_id", org.apache.spark.sql.functions.lit(999999999L))

    def stream(dropDir: String) = spark.readStream
      .schema(graft.streaming.EventsStream.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dropDir/*")
    def rows(path: String) = spark.read.parquet(path)
      .collect().map(r => (SparkTestSession.tsAt(r, 0), r.getString(1),
        r.getSeq[Double](2))).sortBy(t => (t._1, t._2)).toSeq

    // reference: all three drops, uninterrupted
    val refDrop = Files.createTempDirectory("rec-wq-ref-drops").toString
    val refOut = Files.createTempDirectory("rec-wq-ref-out").toString
    val refCkpt = Files.createTempDirectory("rec-wq-ref-ckpt").toString
    dropA.coalesce(1).write.parquet(s"$refDrop/a")
    dropB.coalesce(1).write.parquet(s"$refDrop/b")
    dropC.coalesce(1).write.parquet(s"$refDrop/c")
    runToCompletion(() => StreamingWindowedQuantiles.startAppendParquet(
      StreamingWindowedQuantiles.samplesAppend(stream(refDrop)), refOut, refCkpt),
      120000L)
    val want = rows(refOut)
    assert(want.nonEmpty)

    // crashed run: drops A+B, complete, commit-log crash window, then C
    val drop = Files.createTempDirectory("rec-wq-drops").toString
    val out = Files.createTempDirectory("rec-wq-out").toString
    val ckpt = Files.createTempDirectory("rec-wq-ckpt").toString
    dropA.coalesce(1).write.parquet(s"$drop/a")
    dropB.coalesce(1).write.parquet(s"$drop/b")
    runToCompletion(() => StreamingWindowedQuantiles.startAppendParquet(
      StreamingWindowedQuantiles.samplesAppend(stream(drop)), out, ckpt), 120000L)
    crashWindow(ckpt)
    dropC.coalesce(1).write.parquet(s"$drop/c")

    // restart: the engine re-executes the batch whose commit entry
    // vanished; the parquet sink's _spark_metadata log must keep its
    // output exactly-once (no window row appears twice)
    runToCompletion(() => StreamingWindowedQuantiles.startAppendParquet(
      StreamingWindowedQuantiles.samplesAppend(stream(drop)), out, ckpt), 120000L)
    assert(rows(out) === want,
      "recovered append output diverges from the uninterrupted run")
  }
}
