package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.ArrayExpressions
import graft.io.Tables
import graft.operators.{Dedup, Events}

class StatefulSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("banded interval join equals a naive range scan, empty incidents included") {
    val out = graft.operators.Events.intervalJoin(spark, SparkTestSession.Sf0001)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.length === 24)
    def md5_32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d, 16)
    }
    val ev = graft.io.Tables.events(spark, SparkTestSession.Sf0001)
      .select(org.apache.spark.sql.functions.unix_millis(
        org.apache.spark.sql.functions.col("ts")).as("ems"),
        org.apache.spark.sql.functions.col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val base = 1704067200000L
    out.foreach { case (k, s, e, nEv, nUs) =>
      assert(s === base + k * 30L * 3600 * 1000, s"start incident $k")
      assert(e === s + (md5_32(s"inc:$k") % 120 + 30) * 60000L, s"end incident $k")
      val in = ev.filter { case (t, _) => t >= s && t < e }
      assert(nEv === in.length.toLong, s"n_events incident $k")
      assert(nUs === in.map(_._2).distinct.length.toLong, s"n_users incident $k")
    }
    assert(out.exists(_._4 > 0L), "no incident caught any events")
    // plan shape: broadcast band equi-join, never a nested-loop range join
    val plan = graft.operators.Events.intervalJoin(spark, SparkTestSession.Sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected banded broadcast join in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"range join must not plan as a product:\n$plan")
  }

  test("bandedIntervalJoin is exact for arbitrary geometries, derived or forced band") {
    import spark.implicits._
    // overlapping intervals, a zero-width-adjacent pair, and a long outlier
    // (the derived band uses the MEDIAN span so the outlier must not widen
    // every band — it just explodes to more band rows itself)
    val ints = Seq((1, 100L, 900L), (2, 900L, 1700L), (3, 500L, 1300L),
      (4, 3000L, 3100L), (5, 10000L, 90000L))
    val intervals = ints.toDF("iid", "s_ms", "e_ms")
    val events = spark.range(0, 2000)
      .select((col("id") * 53L % 100000L).as("ems"))
    val evLocal = events.collect().map(_.getLong(0))
    val expected = (for {
      t <- evLocal; (iid, s, e) <- ints if t >= s && t < e
    } yield (t, iid)).toSeq.sorted
    def got(bandMs: Option[Long]) =
      graft.operators.Events.bandedIntervalJoin(events, intervals, bandMs)
        .select(col("ems"), col("iid"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    assert(got(None) === expected)            // span-derived band
    assert(got(Some(256L)) === expected)      // much finer than spans
    assert(got(Some(1 << 20)) === expected)   // much coarser than spans
    // derivation: next pow2 >= median span (median of 800,800,800,100,80000)
    assert(graft.operators.Events.derivedBandMs(intervals) === 1024L)
    // the driver-side constant for the incident geometry must equal the
    // dataframe derivation it replaced (same interpolated median, same pow2)
    assert(graft.operators.Events.incidentBandMs ===
      graft.operators.Events.derivedBandMs(
        graft.operators.Events.incidentWindows(spark)))
    // degenerate interval sets: empty set derives a fallback band and joins
    // to nothing; inverted/empty-span intervals are dropped, not exploded
    val none = Seq.empty[(Int, Long, Long)].toDF("iid", "s_ms", "e_ms")
    assert(graft.operators.Events.bandedIntervalJoin(events, none).count() === 0L)
    val bad = Seq((1, 900L, 100L), (2, 500L, 500L), (3, 100L, 900L))
      .toDF("iid", "s_ms", "e_ms")
    val got3 = graft.operators.Events.bandedIntervalJoin(events, bad)
      .select(col("iid")).distinct().collect().map(_.getInt(0)).toSet
    assert(got3 === Set(3), "inverted/empty intervals must match nothing")
  }

  test("salted block pair join returns exactly the unsalted pair set") {
    val grams = Dedup.corpus(spark, SparkTestSession.Sf0001)
      .select(col("doc_id"), col("lang"), col("source"),
        ArrayExpressions.hashedWordNGrams(split(lower(col("text")), "\\s+"), 2).as("grams"))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("a_doc_id"), col("b_doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val unsalted = {
      val x = grams.select(col("doc_id").as("a_doc_id"), col("lang"), col("source"))
      val y = grams.select(col("doc_id").as("b_doc_id"), col("lang"), col("source"))
      pairSet(x.join(y, Seq("lang", "source")).filter(col("a_doc_id") < col("b_doc_id")))
    }
    val salted = pairSet(
      ArrayExpressions.saltedBlockPairJoin(grams, Seq("lang", "source"), "doc_id", k = 4))
    assert(salted === unsalted)
    assert(salted.nonEmpty)
  }

  test("batch ev_attribution pair counts agree with the raw pair join") {
    // the grouped query's n_views must total the flat pair count (plus
    // zero-view purchases contributing nothing)
    val grouped = Events.attribution(spark, SparkTestSession.Sf0001)
    val totalViews = grouped.agg(sum(col("n_views"))).head().getLong(0)
    val zeroLag = grouped.filter(col("n_views") === 0)
      .filter(col("last_view_lag_s") =!= -1L).count()
    assert(zeroLag === 0L)

    val ev = Tables.events(spark, SparkTestSession.Sf0001)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    val pairs = p.join(v,
        col("p_user") === col("v_user") &&
          col("v_ts") <= col("p_ts") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 48 HOURS"))
      .count()
    assert(totalViews === pairs)
  }
}
