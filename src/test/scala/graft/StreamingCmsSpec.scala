package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.io.Tables
import graft.streaming.StreamingCms

/** Streaming ≡ batch for the count-min cells, plus the property the
  * sketch is bought for: state bounded by SKETCH size (d·w = 1024),
  * not by vocabulary — asserted against Spark's own state metrics while
  * the stream's distinct-token count is two orders of magnitude larger.
  */
class StreamingCmsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("cms cells stream in complete mode, state sketch-bounded, batch-identical") {
    val drop = Files.createTempDirectory("graft-scms-in").toString
    val ckpt = Files.createTempDirectory("graft-scms-ckpt").toString
    // per-doc token suffix (the graft.tools.SfScale @ c6e9ec7 idiom): the
    // fixture's natural vocabulary is tiny (~31 tokens), so widen it past the
    // sketch size — the state bound below is only meaningful if vocabulary >>
    // cells
    val docs = Tables.documents(spark, SparkTestSession.Sf0001)
      .select(col("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit("x"), col("doc_id"))), " ").as("text"),
        timestamp_millis(col("doc_id") * 1000L).as("ts"))
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(drop)
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(drop)

    val in = spark.readStream.schema(StreamingCms.schema)
      .option("maxFilesPerTrigger", 1).parquet(drop)
    val q = StreamingCms.startComplete(
      StreamingCms.cellsStream(in), "scms_cells", ckpt, Trigger.AvailableNow())
    val finished = q.awaitTermination(120000L)
    assert(finished, "stream did not drain within 120s")

    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val streamed = canon(spark.sql("SELECT i, bucket, c FROM scms_cells").collect())
    val toks = StreamingCms.tokens(docs)
    val batch = canon(graft.operators.Sketches.cmsCellsOn(toks)
      .select(col("i"), col("bucket"), col("c")).collect())
    assert(streamed.nonEmpty)
    assert(streamed === batch, "streamed sketch must equal the batch sketch")

    // the bound that matters: state rows ≤ d·w cells while the stream's
    // vocabulary is far larger than the sketch
    val vocab = toks.distinct().count()
    assert(vocab > 1024, s"fixture vocabulary must exceed the sketch, got $vocab")
    val stateRows = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
    assert(stateRows.nonEmpty && stateRows.max <= 1024L,
      s"CMS state must stay sketch-bounded, saw ${stateRows.toSeq}")
    q.stop()
  }
}
