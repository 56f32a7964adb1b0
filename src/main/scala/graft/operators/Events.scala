package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Tables
import graft.functions.OracleParity._

/** Event-stream operators over the `events` table. The reference has no
  * streaming surface (SURVEY §2.9), so these are the forward-looking
  * pipeline ops: tumbling-window aggregation, gap-based sessionization, and
  * JSON property extraction (F16). Each is written so the SAME dataframe
  * code runs under Structured Streaming (see graft.streaming.EventsStream:
  * the windowed aggregation is reused verbatim over a streaming source +
  * watermark); here they run in batch mode and are oracle-checked.
  *
  * Scale: window aggregation shuffles once on (window, event_type) with
  * map-side partials; sessionization shuffles once on user_id then does a
  * linear per-partition pass — both hold at 1000 executors.
  */
object Events {

  /** Tumbling 1-hour window × event_type counts + exact sums — the
    * streaming-native aggregation shape, batch-executed. */
  def windowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  val windowAggSql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |  count(*) AS n,
      |  CAST(round(sum(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  /** Gap-based sessionization: a new session starts when a user is idle
    * > 30 minutes. Lag + running sum inside one user-partitioned window —
    * the batch equivalent of flatMapGroupsWithState session tracking. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ev.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val sessionizeSql: String =
    """WITH lagged AS (
      |  SELECT user_id, event_id, ts,
      |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, ts,
      |         CASE WHEN prev_ts IS NULL
      |                   OR date_diff('second', prev_ts, ts) > 1800 THEN 1
      |              ELSE 0 END AS new_session
      |  FROM lagged),
      |sessions AS (
      |  SELECT user_id, ts,
      |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, count(*) AS n_events,
      |       min(ts) AS session_start, max(ts) AS session_end
      |FROM sessions
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** F16 — JSON extraction (`from_json`) over the props column, aggregated:
    * total of props.k per event type (the reference parses LLM JSON output
    * the same way — generateGameplayDescriptions.ts:152-158). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", from_json(col("props"), StructType(Seq(StructField("k", LongType))))
        .getField("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))

  val jsonExtractSql: String =
    """SELECT event_type,
      |  count(CAST(props->>'$.k' AS BIGINT)) AS n_with_k,
      |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Rolling-frame window aggregate: 4-event moving average per user.
    * The frame sum routes through DECIMAL because engines disagree on
    * sliding-window float summation internals (DuckDB uses segment trees);
    * decimal makes the frame sum exact and association-free. */
  def rollingAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-3, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("sum_d", sum(col("value").cast("decimal(30,6)")).over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .select(col("event_id"), col("user_id"),
        graft.functions.OracleParity.pround(
          col("sum_d").cast("double") / col("cnt"), 4).as("moving_avg"))
      .orderBy(col("event_id"))
  }

  val rollingAvgSql: String =
    """SELECT event_id, user_id,
      |  floor(CAST(sum(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE)
      |        / (count(*) OVER w) * 10000 + 0.5) / 10000.0 AS moving_avg
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** A3 — job-stats aggregation (reference: src/lib/jobManager.ts:218-243,
    * `GROUP BY status, COUNT(*)` plus a total row). The jobs fixture is
    * derived from events by mapping event types onto job statuses —
    * the reference's SQLite job table is a tiny single-node concern
    * (SURVEY §1.4), so only its QUERY shape is rebuilt. */
  def jobStats(spark: SparkSession, dir: String): DataFrame = {
    val status = when(col("event_type") === "click", "completed")
      .when(col("event_type") === "error", "failed")
      .when(col("event_type") === "view", "running")
      .otherwise("pending")
    val jobs = Tables.events(spark, dir).withColumn("status", status)
    jobs.groupBy(col("status")).agg(count(lit(1)).as("n"))
      .unionByName(jobs.agg(count(lit(1)).as("n")).select(lit("total").as("status"), col("n")))
      .orderBy(col("status"))
  }

  val jobStatsSql: String =
    """WITH jobs AS (
      |  SELECT CASE WHEN event_type = 'click' THEN 'completed'
      |              WHEN event_type = 'error' THEN 'failed'
      |              WHEN event_type = 'view' THEN 'running'
      |              ELSE 'pending' END AS status
      |  FROM events)
      |SELECT status, count(*) AS n FROM jobs GROUP BY status
      |UNION ALL
      |SELECT 'total' AS status, count(*) AS n FROM jobs
      |ORDER BY status""".stripMargin

  // ------------------------------------------------------ interval join

  private val IncidentCount = 24
  private val IncidentStepMs = 30L * 3600 * 1000 // one incident per 30 h
  private val EpochBaseMs = 1704067200000L // 2024-01-01T00:00:00Z

  private[graft] def nextPow2(m0: Long): Long = {
    val m = math.max(m0, 1L)
    if (java.lang.Long.bitCount(m) == 1) m
    else java.lang.Long.highestOneBit(m) << 1
  }

  /** Band width for [[bandedIntervalJoin]], derived from the interval-span
    * distribution: the next power of two ≥ the median span. Median (not
    * max) so one outlier interval cannot widen every band — a long
    * interval just explodes to ⌈span/band⌉ band rows, which is the cheap
    * side of the tradeoff; a band much wider than typical spans would
    * instead make every EVENT probe intervals it cannot match. The result
    * is exact for ANY band width (the residual bound re-check below), so
    * the dial is pure plan shaping — which is also why the empty-interval
    * fallback (1 h) is arbitrary: with no intervals the join is empty at
    * any band.
    *
    * Derived over the same `e_ms > s_ms` population that
    * [[bandedIntervalJoin]] actually explodes: a mostly-degenerate
    * interval set (inverted/empty rows) would otherwise drive the median
    * to ≤ 0, collapse the band to 1 ms, and turn each surviving hour-long
    * interval into millions of broadcast band rows — the dial inverting
    * its own purpose. Exactness is unaffected either way; this keeps the
    * PLAN sane on hostile inputs. */
  private[graft] def derivedBandMs(intervals: DataFrame): Long = {
    val row = intervals
      .filter(col("e_ms") > col("s_ms"))
      .select(expr("CAST(percentile(e_ms - s_ms, 0.5) AS LONG)"))
      .head()
    if (row.isNullAt(0)) 3600000L else nextPow2(row.getLong(0))
  }

  /** INTERVAL (range) JOIN as a reusable operator: match rows of `events`
    * (point column `ems`, epoch millis) to the rows of `intervals`
    * (`s_ms` inclusive, `e_ms` exclusive) containing them. Spark plans the
    * naive `e.ems BETWEEN i.s_ms AND i.e_ms` theta-join as a nested loop;
    * the scalable form is BANDING: explode each interval to the fixed-width
    * bands it covers (≤ ⌈span/band⌉ + 1 rows each — a tiny BROADCAST next
    * to the event stream), give every event its single band by one integer
    * division, equi-join on the band, and re-check the exact bounds. Each
    * event meets each overlapping interval in exactly one band (its own),
    * so the rewrite is exact with no dedup — for any band width. Cost at
    * 100 TB: one scan of events + Σ(span)/band broadcast rows, never
    * |events| × |intervals|.
    *
    * Returns the matched INNER pairs (all columns of both sides minus the
    * plumbing); callers aggregate and re-join `intervals` for LEFT
    * semantics (see [[intervalJoin]]). PlanSpec pins the
    * broadcast-equi-join shape on a synthetic interval set. */
  def bandedIntervalJoin(
      events: DataFrame, intervals: DataFrame,
      bandMs: Option[Long] = None): DataFrame = {
    val band = bandMs.getOrElse(derivedBandMs(intervals))
    val bands = intervals
      // half-open semantics: an empty or inverted interval matches nothing
      // — and must be dropped BEFORE the explode, where Spark's sequence()
      // would otherwise auto-step DOWNWARD through (s_ms-e_ms)/band rows
      // and bloat the broadcast
      .filter(col("e_ms") > col("s_ms"))
      .withColumn("band", explode(sequence(
        floor(col("s_ms") / band).cast("long"),
        floor((col("e_ms") - 1) / band).cast("long"))))
    events
      .withColumn("band", floor(col("ems") / band).cast("long"))
      .join(broadcast(bands), "band")
      .filter(col("ems") >= col("s_ms") && col("ems") < col("e_ms"))
      .drop("band")
  }

  /** Attribute point events to the incident windows containing them
    * ("which alerts/deploys/outages does each event fall inside?") —
    * [[bandedIntervalJoin]] with the band width derived from the incident
    * span statistics, then a per-incident aggregate.
    *
    * The 24 incident windows are hash-derived (start on a 30 h lattice,
    * duration 30–149 min from md5) so both engines construct identical
    * intervals; the ORACLE runs DuckDB's native inequality join — the
    * banded rewrite must reproduce the reference range-join semantics row
    * for row, including empty incidents via LEFT semantics. */
  private def md5Hex32(s: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)

  /** [[derivedBandMs]] of the incident geometry, computed driver-side:
    * the 24 windows are hash-derived CONSTANTS, so launching a percentile
    * Spark job per query construction (every warmup + measured bench run,
    * every flavor replay) just to rederive the same power of two is waste.
    * Same arithmetic: median via the two middle order statistics (what
    * percentile(…, 0.5) interpolates for an even count), truncated to
    * long, next power of two. StatefulSpec pins this equal to the
    * dataframe derivation. */
  private[graft] lazy val incidentBandMs: Long = {
    val durs = (0 until IncidentCount)
      .map(k => (md5Hex32(s"inc:$k") % 120 + 30) * 60000L).sorted
    nextPow2(((durs(IncidentCount / 2 - 1) + durs(IncidentCount / 2)) / 2.0).toLong)
  }

  /** The hash-derived incident windows (30 h lattice, 30–149 min spans)
    * — shared by the batch query and the streaming twin's parity spec. */
  private[graft] def incidentWindows(spark: SparkSession): DataFrame =
    spark.range(0, IncidentCount)
      .select(col("id").cast("int").as("incident_id"))
      .withColumn("s_ms", lit(EpochBaseMs) + col("incident_id") * IncidentStepMs)
      .withColumn("dur_ms",
        (conv(substring(md5(concat(lit("inc:"), col("incident_id").cast("string"))),
          1, 8), 16, 10).cast("long") % 120 + 30) * 60000L)
      .withColumn("e_ms", col("s_ms") + col("dur_ms"))
      .drop("dur_ms")

  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val incidents = incidentWindows(spark)
    val ev = Tables.events(spark, dir)
      .select(unix_millis(col("ts")).as("ems"), col("user_id"))
    val matched = bandedIntervalJoin(ev, incidents, Some(incidentBandMs))
      .groupBy(col("incident_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
    incidents
      .join(matched, Seq("incident_id"), "left")
      .select(col("incident_id"), col("s_ms"), col("e_ms"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("n_users"), lit(0L)).as("n_users"))
      .orderBy(col("incident_id"))
  }

  val intervalJoinSql: String =
    s"""WITH incidents AS (
       |  SELECT CAST(k AS INTEGER) AS incident_id,
       |         $EpochBaseMs + k * $IncidentStepMs AS s_ms,
       |         $EpochBaseMs + k * $IncidentStepMs
       |           + (CAST('0x' || substring(md5('inc:' || k::VARCHAR), 1, 8)
       |              AS BIGINT) % 120 + 30) * 60000 AS e_ms
       |  FROM (SELECT unnest(generate_series(0, ${IncidentCount - 1})) AS k)),
       |ev AS (SELECT epoch_ms(ts) AS ems, user_id FROM events)
       |SELECT i.incident_id, CAST(i.s_ms AS BIGINT) AS s_ms,
       |       CAST(i.e_ms AS BIGINT) AS e_ms,
       |       count(e.ems) AS n_events,
       |       count(DISTINCT e.user_id) AS n_users
       |FROM incidents i LEFT JOIN ev e
       |  ON e.ems >= i.s_ms AND e.ems < i.e_ms
       |GROUP BY i.incident_id, i.s_ms, i.e_ms
       |ORDER BY i.incident_id""".stripMargin

  // ------------------------------------------------- attribution join

  private val AttribWindowHours = 48L

  /** ATTRIBUTION JOIN — for every purchase, the views by the same user in
    * the preceding [[AttribWindowHours]] hours (count + lag from the most
    * recent one): the ad-attribution / conversion-funnel primitive, and
    * the BATCH TWIN of the stream-stream time-bounded join in
    * [[graft.streaming.StreamingJoin]] (whose parity test asserts the two
    * produce identical pairs).
    *
    * Unlike `ev_interval_join` (no equi-key ⇒ banding required), the user_id
    * equi-key makes this a plain HASH JOIN with a residual time filter —
    * broadcast while one side fits (skew-immune by construction), one shuffle
    * of each side keyed by user beyond that, per-user fan-out bounded by rate ×
    * window. Hot users in the shuffle regime get [[attributionSalted]] —
    * MEASURED on a skewed ×10 replay (one user owning 10 % of all events:
    * forced-shuffle stock 54 s with a 107× straggler task, AQE unable to split
    * it — byte-blind compute skew — salted 6 s; graft.tools.SfScale @ c6e9ec7
    * `ev_attribution_skew` block, SCALING.md "attribution under a hot key")
    * rather than argued by analogy to `dedup_salted_skew`. The streaming form
    * keeps state bounded by the same window via watermarks. LEFT semantics keep
    * zero-view purchases (`n_views = 0`, NULL lag — coalesced to -1 so the lag
    * column stays non-null BIGINT in both engines). */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    p.join(v,
        col("user_id") === col("v_user") &&
          col("v_ts") <= col("p_ts") &&
          col("v_ts") >= col("p_ts") - expr(s"INTERVAL $AttribWindowHours HOURS"),
        "left")
      .groupBy(col("p_id"), col("user_id"), col("p_ts"))
      .agg(count(col("v_ts")).as("n_views"), max(col("v_ts")).as("last_v"))
      .select(col("p_id"), col("user_id"), col("n_views"),
        coalesce(
          expr("(unix_millis(p_ts) - unix_millis(last_v)) div 1000"),
          lit(-1L)).as("last_view_lag_s"))
      .orderBy(col("p_id"))
  }

  private[graft] val AttribSalts = 8

  /** [[attribution]] with the VIEW side salted [[AttribSalts]] ways — the
    * opt-in plan for hot-user skew: each view gets a deterministic salt
    * from its timestamp hash, each purchase replicates to every salt, and
    * the join key becomes (user_id, salt), so a user owning 10 % of all
    * views splits across [[AttribSalts]] tasks instead of pinning one.
    * The per-purchase aggregate then collapses the replication: every view
    * of a purchase lands under exactly one of its salt copies, and a
    * zero-view purchase contributes [[AttribSalts]] all-NULL rows that
    * `count(v_ts)` ignores — so the result is EXACTLY [[attribution]]'s
    * for ANY salt count, which is why the oracle is the SAME SQL. Cost:
    * a ×salts blow-up of the (small) purchase side — pay it when key
    * statistics say skew AND the join is past the broadcast threshold,
    * not by default. Measured on the skewed ×10 replay (SCALING.md
    * "attribution under a hot key"): forced-shuffle stock 54.2 s with a
    * 107× straggler, AQE-on 32.8 s with the straggler intact (its
    * skew-join splits on partition bytes; this is quadratic-OUTPUT
    * compute skew those stats cannot see), salted 6.0 s with the max
    * task 18.6 → 4.9 s. */
  def attributionSalted(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withColumn("p_salt", explode(sequence(lit(0), lit(AttribSalts - 1))))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withColumn("v_salt", pmod(hash(col("v_ts")), lit(AttribSalts)))
    p.join(v,
        col("user_id") === col("v_user") && col("p_salt") === col("v_salt") &&
          col("v_ts") <= col("p_ts") &&
          col("v_ts") >= col("p_ts") - expr(s"INTERVAL $AttribWindowHours HOURS"),
        "left")
      .groupBy(col("p_id"), col("user_id"), col("p_ts"))
      .agg(count(col("v_ts")).as("n_views"), max(col("v_ts")).as("last_v"))
      .select(col("p_id"), col("user_id"), col("n_views"),
        coalesce(
          expr("(unix_millis(p_ts) - unix_millis(last_v)) div 1000"),
          lit(-1L)).as("last_view_lag_s"))
      .orderBy(col("p_id"))
  }

  val attributionSql: String =
    s"""WITH p AS (
       |  SELECT event_id AS p_id, user_id, ts AS p_ts FROM events
       |  WHERE event_type = 'purchase'),
       |v AS (
       |  SELECT user_id AS v_user, ts AS v_ts FROM events
       |  WHERE event_type = 'view')
       |SELECT p.p_id, p.user_id, count(v.v_ts) AS n_views,
       |       coalesce((epoch_ms(p.p_ts) - epoch_ms(max(v.v_ts))) // 1000, -1)
       |         AS last_view_lag_s
       |FROM p LEFT JOIN v
       |  ON p.user_id = v.v_user AND v.v_ts <= p.p_ts
       | AND v.v_ts >= p.p_ts - INTERVAL $AttribWindowHours HOUR
       |GROUP BY p.p_id, p.user_id, p.p_ts
       |ORDER BY p.p_id""".stripMargin

  // ---------------------------------------------------------------------
  // ev_window_quantiles — per-window quantile sketch (streaming-ready)
  // ---------------------------------------------------------------------

  private val WqProbes = Seq(0.5, 0.9)
  private val WqEps = 0.1

  /** The per-(window, type) bottom-k sample aggregation, shared verbatim
    * with [[graft.streaming.StreamingWindowedQuantiles]]: under Structured
    * Streaming this exact expression runs watermarked in APPEND mode, so
    * closed windows emit finalized samples and their k-row state evicts —
    * per-window percentiles over an unbounded stream with
    * O(k · active windows × types) state. */
  private[graft] def windowSketchAgg(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val bk = udaf(graft.functions.BottomKSketch, ExpressionEncoder[(Long, Double)]())
    val h60 = conv(substring(md5(col("event_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    ev.select(col("ts"), col("event_type").as("et"), col("value").as("v"),
        h60.as("h"))
      .groupBy(window(col("ts"), "1 day").as("wd"), col("et"))
      .agg(bk(col("h"), col("v")).as("arr"))
      .select(col("wd.start").as("w"), col("et"), col("arr"))
  }

  /** Per-window-per-type p50/p90 over the event stream — `q_quantile_groups`
    * on EVENT TIME: daily tumbling windows × event_type, each holding one
    * [[graft.functions.BottomKSketch]] buffer (k=256 rows of state at any
    * window volume; the same aggregation streams in append mode via
    * [[windowSketchAgg]]). Estimates are type-1 order statistics of each
    * window's hash-selected sample; the exact ECDF rides along and
    * `within_eps` pins |frac − p| ≤ [[WqEps]] + 1/n — the DKW sketch bound
    * PLUS the type-1 discretization term an n-row window cannot beat
    * (a 2-event window's p50 lands at ECDF 0.5 or 1.0 by arithmetic, not
    * by sketch error; calibrated: zero violations at any SF, max
    * DKW-side slack 0.06 at sf0.1's 600-event saturated windows).
    * Deterministic end to end — the oracle replays the sketch as
    * row_number over hash per window. */
  def windowQuantiles(spark: SparkSession, dir: String): DataFrame =
    windowQuantilesOn(Tables.events(spark, dir))

  private[graft] def windowQuantilesOn(ev: DataFrame): DataFrame = {
    val samples = windowSketchAgg(ev)
      .select(col("w") +: col("et") +: WqProbes.map { p =>
        val tag = (p * 100).toInt
        element_at(col("arr"),
          greatest(lit(1L), ceil(lit(p) * size(col("arr")))).cast("int"))
          .as(s"est_p$tag")
      }: _*)
    val base = ev.select(
      window(col("ts"), "1 day").getField("start").as("w"),
      col("event_type").as("et"), col("value").as("v"))
    val estCols = WqProbes.map(p => s"est_p${(p * 100).toInt}")
    base
      .join(broadcast(samples), Seq("w", "et"))
      .groupBy(col("w"), col("et"))
      .agg(count(lit(1)).as("n"),
        WqProbes.map { p =>
          val tag = (p * 100).toInt
          sum(when(col("v") <= col(s"est_p$tag"), 1L).otherwise(0L))
            .as(s"cnt_$tag")
        } ++ estCols.map(c => max(col(c)).as(c)): _*)
      .select(col("w").as("window_start") +: col("et").as("event_type") +:
        col("n") +: WqProbes.flatMap { p =>
          val tag = (p * 100).toInt
          val frac = col(s"cnt_$tag").cast("double") / col("n")
          Seq(col(s"est_p$tag"), pround(frac, 4).as(s"frac_p$tag"))
        } :+ WqProbes.map { p =>
          val tag = (p * 100).toInt
          abs(col(s"cnt_$tag").cast("double") / col("n") - p) <=
            lit(WqEps) + lit(1.0) / col("n")
        }.reduce(_ && _).as("within_eps"): _*)
      .orderBy(col("window_start"), col("event_type"))
  }

  val windowQuantilesSql: String = {
    val k = graft.functions.BottomKSketch.K
    s"""WITH b0 AS (
       |  SELECT date_trunc('day', ts)::TIMESTAMP AS w, event_type AS et,
       |         value AS v,
       |         CAST('0x' || substring(md5(event_id::VARCHAR), 1, 15)
       |              AS BIGINT) AS h
       |  FROM events),
       |b AS (SELECT w, et, h, min(v) AS v FROM b0 GROUP BY w, et, h),
       |r AS (SELECT w, et, v,
       |        row_number() OVER (PARTITION BY w, et ORDER BY h) AS rn
       |      FROM b),
       |s AS (SELECT w, et, list(v ORDER BY v) AS arr
       |      FROM r WHERE rn <= $k GROUP BY w, et),
       |e AS (SELECT w, et,
       |        arr[CAST(greatest(1, ceil(0.5 * len(arr))) AS INT)] AS est_p50,
       |        arr[CAST(greatest(1, ceil(0.9 * len(arr))) AS INT)] AS est_p90
       |      FROM s),
       |x AS (SELECT b0.w, b0.et, count(*) AS n,
       |        sum(CASE WHEN b0.v <= e.est_p50 THEN 1 ELSE 0 END)::DOUBLE
       |          / count(*) AS f50,
       |        sum(CASE WHEN b0.v <= e.est_p90 THEN 1 ELSE 0 END)::DOUBLE
       |          / count(*) AS f90,
       |        max(e.est_p50) AS est_p50, max(e.est_p90) AS est_p90
       |      FROM b0 JOIN e ON b0.w = e.w AND b0.et = e.et GROUP BY 1, 2)
       |SELECT w AS window_start, et AS event_type, n, est_p50,
       |       floor(f50 * 10000 + 0.5) / 10000.0 AS frac_p50,
       |       est_p90,
       |       floor(f90 * 10000 + 0.5) / 10000.0 AS frac_p90,
       |       abs(f50 - 0.5) <= $WqEps + 1.0 / n
       |         AND abs(f90 - 0.9) <= $WqEps + 1.0 / n AS within_eps
       |FROM x ORDER BY window_start, event_type""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st_window_agg" -> windowAgg,
    "ev_window_quantiles" -> windowQuantiles,
    "st_sessionize" -> sessionize,
    "ev_interval_join" -> intervalJoin,
    "ev_attribution" -> attribution,
    "ev_attribution_salted" -> attributionSalted,
    "f16_json_extract" -> jsonExtract,
    "t_rolling_avg" -> rollingAvg,
    "a3_job_stats" -> jobStats
  )

  val oracles: Map[String, String] = Map(
    "st_window_agg" -> windowAggSql,
    "ev_window_quantiles" -> windowQuantilesSql,
    "st_sessionize" -> sessionizeSql,
    "ev_interval_join" -> intervalJoinSql,
    "ev_attribution" -> attributionSql,
    // salted ≡ unsalted is the exactness claim, so the oracle IS the same SQL
    "ev_attribution_salted" -> attributionSql,
    "f16_json_extract" -> jsonExtractSql,
    "t_rolling_avg" -> rollingAvgSql,
    "a3_job_stats" -> jobStatsSql
  )
}
