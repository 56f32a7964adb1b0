package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit, when}
import scala.jdk.CollectionConverters._

import graft.operators.Merge

class MergeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def existing = Seq(
    (1L, 10L, "old-one", Some("desc1"), Some("gp1"), Some(5L)),
    (2L, 20L, "old-two", None, Some("gp2"), None)
  ).toDF("universeId", "rootPlaceId", "name", "description", "gameplayDescription", "playerCount")

  private def fresh = Seq(
    (2L, 21L, "new-two", Some("fresh-desc"), Option.empty[String], Some(99L)),
    (3L, 30L, "new-three", None, None, Some(7L))
  ).toDF("universeId", "rootPlaceId", "name", "description", "gameplayDescription", "playerCount")

  test("J1: matched rows overwrite name/rootPlaceId but keep enrichments") {
    val out = Merge.mergeUpsert(existing, fresh, "universeId",
      overwriteCols = Seq("rootPlaceId", "name"),
      coalesceCols = Seq.empty,
      keepCols = Seq("description", "gameplayDescription", "playerCount"))
      .orderBy("universeId").collect()
    assert(out.length === 3)
    // 1: existing-only, untouched
    assert(out(0) === Row(1L, 10L, "old-one", "desc1", "gp1", 5L))
    // 2: matched — fresh name/rootPlaceId, existing enrichments (incl nulls)
    assert(out(1) === Row(2L, 21L, "new-two", null, "gp2", null))
    // 3: fresh-only insert, enrichments null
    assert(out(2) === Row(3L, 30L, "new-three", null, null, null))
  }

  test("J1b: coalesce description prefers fresh, falls back to existing") {
    val out = Merge.mergeUpsert(existing, fresh, "universeId",
      overwriteCols = Seq("rootPlaceId", "name"),
      coalesceCols = Seq("description"),
      keepCols = Seq("gameplayDescription", "playerCount"))
      .orderBy("universeId").collect()
    assert(out(0).getString(3) === "desc1")      // existing kept
    assert(out(1).getString(3) === "fresh-desc") // fresh wins
  }

  test("merge is idempotent: merging a table with itself preserves it") {
    val g = existing
    val out = Merge.mergeUpsert(g, g, "universeId",
      overwriteCols = Seq("rootPlaceId", "name"),
      coalesceCols = Seq.empty,
      keepCols = Seq("description", "gameplayDescription", "playerCount"))
    assert(out.orderBy("universeId").collect() === g.orderBy("universeId").collect())
  }

  test("incremental bucket merge == unrolled full-outer merges, rewriting only touched buckets") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-inc-spec").toString
    val table = s"$tmp/games"
    // 60 keys; fresh rounds are small sparse slices so most buckets are idle
    def mk(ids: Seq[Long], tag: String) = ids.map(id =>
      (id, id * 10, s"$tag-$id", Option.when(id % 3 == 0)(s"d$tag$id"),
        Option.when(id % 4 == 0)(s"g$id"), Some(id % 7)))
      .toDF("universeId", "rootPlaceId", "name", "description", "gameplayDescription", "playerCount")
    val initial = mk(0L until 60L, "base")
    val rounds = Seq(mk(Seq(3L, 21L, 64L), "r1"), mk(Seq(7L, 35L), "r2"))
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    val stats = Merge.upsertIncrementalRounds(
      spark, table, initial, rounds, "universeId", over, coal, keep, buckets = 16)

    // locality: round 1 touches buckets {3, 5, 0} = 3 of 16; round 2
    // touches {7, 3} = 2 — and rewritten bytes stay a minority of the table's
    assert(stats.map(_.touchedBuckets) === Seq(3, 2))
    stats.foreach(s => assert(s.rewrittenBytes < s.tableBytes,
      s"round ${s.round} rewrote ${s.rewrittenBytes} of ${s.tableBytes} bytes"))

    // equivalence: the on-disk result equals the same rounds applied as
    // global full-outer merges with identical per-column policy
    val expected = rounds.foldLeft(initial) { (acc, f) =>
      Merge.mergeUpsert(acc, f, "universeId", over, coal, keep)
    }
    val cols = Seq("universeId", "rootPlaceId", "name", "description",
      "gameplayDescription", "playerCount")
    val got = Merge.readTable(spark, table)
      .selectExpr(cols: _*).orderBy("universeId").collect()
    assert(got === expected.selectExpr(cols: _*).orderBy("universeId").collect())

    // the touched-bucket read prunes partitions at the scan (the at-scale
    // point: an incremental round never scans the idle buckets)
    val pruned = Merge.readTable(spark, table).filter($"bucket".isin(3, 0))
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("bucket"),
      s"expected bucket partition pruning in:\n$scan")
  }

  test("manifest commit makes each round atomic: a crash on either side of the commit leaves a consistent table") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-inc-crash").toString
    def mk(ids: Seq[Long], tag: String) = ids.map(id =>
      (id, id * 10, s"$tag-$id", Option.when(id % 3 == 0)(s"d$tag$id"),
        Option.when(id % 4 == 0)(s"g$id"), Some(id % 7)))
      .toDF("universeId", "rootPlaceId", "name", "description", "gameplayDescription", "playerCount")
    val initial = mk(0L until 60L, "base")
    val rounds = Seq(mk(Seq(3L, 21L), "r1"), mk(Seq(7L, 35L), "r2"))
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    val cols = Seq("universeId", "rootPlaceId", "name", "description",
      "gameplayDescription", "playerCount")
    def state(acc: Seq[org.apache.spark.sql.DataFrame]) =
      acc.foldLeft(initial)((a, f) => Merge.mergeUpsert(a, f, "universeId", over, coal, keep))
        .selectExpr(cols: _*).orderBy("universeId").collect()

    // crash BEFORE round 2's manifest commit: its gen dirs are on disk but
    // unnamed by any manifest — the table must read as after round 1
    val t1 = s"$tmp/pre"
    val boom = new RuntimeException("kill before commit")
    val thrown = intercept[RuntimeException] {
      Merge.upsertIncrementalRounds(spark, t1, initial, rounds, "universeId",
        over, coal, keep, buckets = 16,
        hooks = Merge.IncHooks(beforeCommit = r => if (r == 2) throw boom))
    }
    assert(thrown eq boom)
    assert(Merge.readTable(spark, t1).selectExpr(cols: _*)
      .orderBy("universeId").collect() === state(rounds.take(1)))

    // crash AFTER round 2's commit (before GC): stale gen dirs linger but
    // the manifest already names the new version — the table reads round 2,
    // and the raw dir listing really does carry the un-GC'd generation
    // (proving the reader, not the GC, is what keeps the view consistent)
    val t2 = s"$tmp/post"
    val thrown2 = intercept[RuntimeException] {
      Merge.upsertIncrementalRounds(spark, t2, initial, rounds, "universeId",
        over, coal, keep, buckets = 16,
        hooks = Merge.IncHooks(afterCommit = r => if (r == 2) throw boom))
    }
    assert(thrown2 eq boom)
    assert(Merge.readTable(spark, t2).selectExpr(cols: _*)
      .orderBy("universeId").collect() === state(rounds))
    val rawRows = spark.read.parquet(t2).count()
    val liveRows = Merge.readTable(spark, t2).count()
    assert(rawRows > liveRows, "expected stale generations on disk after the post-commit crash")

    // and the crashed run RESUMES: upsertRound derives the round from the
    // last committed manifest (t1 stopped at version 1), clears round 2's
    // uncommitted leftover gen dirs, and converges to the same final state
    val resumed = Merge.upsertRound(spark, t1, rounds(1), "universeId",
      over, coal, keep, buckets = 16)
    assert(resumed.round === 2)
    assert(Merge.readTable(spark, t1).selectExpr(cols: _*)
      .orderBy("universeId").collect() === state(rounds))
  }

  private def mkTT(ids: Seq[Long], tag: String) = ids.map(id =>
    (id, id * 10, s"$tag-$id", Option.when(id % 3 == 0)(s"d$tag$id"),
      Option.when(id % 4 == 0)(s"g$id"), Some(id % 7)))
    .toDF("universeId", "rootPlaceId", "name", "description", "gameplayDescription", "playerCount")

  private val ttCols = Seq("universeId", "rootPlaceId", "name", "description",
    "gameplayDescription", "playerCount")

  test("time travel: every retained version reads as exactly its prefix of merges") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-tt").toString
    val table = s"$tmp/games"
    val initial = mkTT(0L until 60L, "base")
    val rounds = Seq(mkTT(Seq(3L, 21L, 64L), "r1"), mkTT(Seq(7L, 35L), "r2"),
      mkTT(Seq(3L, 11L), "r3"))
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table, initial, rounds, "universeId",
      over, coal, keep, buckets = 16, retainVersions = 4)
    assert(Merge.tableVersions(spark, table) === Seq(0, 1, 2, 3))
    (0 to 3).foreach { v =>
      val expected = rounds.take(v).foldLeft(initial)((a, f) =>
        Merge.mergeUpsert(a, f, "universeId", over, coal, keep))
      assert(Merge.readTableAt(spark, table, v).selectExpr(ttCols: _*)
        .orderBy("universeId").collect() ===
        expected.selectExpr(ttCols: _*).orderBy("universeId").collect(),
        s"version $v")
    }
    // the latest version and the plain reader agree
    assert(Merge.readTableAt(spark, table, 3).selectExpr(ttCols: _*)
      .orderBy("universeId").collect() ===
      Merge.readTable(spark, table).selectExpr(ttCols: _*)
        .orderBy("universeId").collect())
  }

  test("retention: expired versions are swept from disk and refuse to read") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-ret").toString
    val table = s"$tmp/games"
    val initial = mkTT(0L until 60L, "base")
    val rounds = Seq(mkTT(Seq(3L, 21L), "r1"), mkTT(Seq(7L, 35L), "r2"),
      mkTT(Seq(3L, 11L), "r3"))
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table, initial, rounds, "universeId",
      over, coal, keep, buckets = 16, retainVersions = 2)
    // only the last two manifests survive; older versions refuse cleanly
    assert(Merge.tableVersions(spark, table) === Seq(2, 3))
    val e = intercept[IllegalArgumentException] {
      Merge.readTableAt(spark, table, 1)
    }
    assert(e.getMessage.contains("expired"))
    // disk hygiene: the (bucket, gen) dirs on disk are EXACTLY the union
    // of what the retained manifests reference — replaced generations and
    // expired-version-only generations are swept
    val onDisk = spark.read.parquet(table).select("bucket", "gen")
      .distinct().as[(Int, Int)].collect().toSet
    val live = Seq(2, 3).flatMap(v => Merge.readTableAt(spark, table, v)
      .select("bucket", "gen").distinct().as[(Int, Int)].collect()).toSet
    assert(onDisk === live, "unswept generations on disk")
    // and version 2 still reads as exactly two merges applied
    val expected2 = rounds.take(2).foldLeft(initial)((a, f) =>
      Merge.mergeUpsert(a, f, "universeId", over, coal, keep))
    assert(Merge.readTableAt(spark, table, 2).selectExpr(ttCols: _*)
      .orderBy("universeId").collect() ===
      expected2.selectExpr(ttCols: _*).orderBy("universeId").collect())
  }

  test("cdc: manifest-diff pruning, feed applies back, compaction emits nothing") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-cdc").toString
    val table = s"$tmp/games"
    val initial = mkTT(0L until 60L, "base")
    val rounds = Seq(mkTT(Seq(3L, 21L, 64L), "r1"), mkTT(Seq(7L, 35L), "r2"),
      mkTT(Seq(3L, 11L), "r3"))
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table, initial, rounds, "universeId",
      over, coal, keep, buckets = 16, retainVersions = 10)
    // same-version feed is empty (no manifest diff, no files read)
    assert(Merge.readChanges(spark, table, 2, 2, "universeId").isEmpty)
    // the manifest diff prices the read: round 3 touched keys {3, 11} →
    // buckets {3, 11} under pmod(key, 16)
    assert(Merge.changedBucketsBetween(spark, table, 2, 3) === Seq(3, 11))
    val feed23 = Merge.readChanges(spark, table, 2, 3, "universeId")
    assert(feed23.inputFiles.nonEmpty && feed23.inputFiles.forall(f =>
      f.contains("/bucket=3/") || f.contains("/bucket=11/")),
      "CDC read must only open changed buckets' files")
    val f23 = feed23.collect()
    assert(f23.map(_.getLong(0)).sorted === Array(3L, 11L))
    assert(f23.forall(_.getString(1) == "update"))
    // a key NEW to the table arrives as op=insert
    val f01 = Merge.readChanges(spark, table, 0, 1, "universeId").collect()
    assert(f01.filter(_.getString(1) == "insert").map(_.getLong(0)).toSeq === Seq(64L))
    // apply contract: v1 + feed(1→3) post-images ≡ v3 exactly
    val feed13 = Merge.readChanges(spark, table, 1, 3, "universeId").drop("op")
    val applied = Merge.mergeUpsert(
      Merge.readTableAt(spark, table, 1).selectExpr(ttCols: _*), feed13,
      "universeId", overwriteCols = ttCols.tail, Seq(), Seq())
    assert(applied.selectExpr(ttCols: _*).orderBy("universeId").collect() ===
      Merge.readTableAt(spark, table, 3).selectExpr(ttCols: _*)
        .orderBy("universeId").collect())
    // compaction is layout-only: its version emits ZERO changes even
    // though its manifest diff names every multi-file bucket
    val st = Merge.compact(spark, table, retainVersions = 10)
    assert(st.buckets > 0, "fixture should have at least one oversized bucket")
    assert(Merge.readChanges(spark, table, 3, st.version, "universeId").isEmpty,
      "compact-only versions must emit no changes")
  }

  test("schema evolution: a round adds a column; old versions keep their schema") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("merge-evo").toString
    val table = s"$tmp/games"
    val initial = mkTT(0L until 40L, "base")
    Merge.upsertIncrementalRounds(spark, table, initial,
      Seq(mkTT(Seq(3L, 21L), "r1")), "universeId",
      Seq("rootPlaceId", "name", "playerCount"), Seq("description"),
      Seq("gameplayDescription"), buckets = 8, retainVersions = 10)
    // round 2 carries a NEW column (tags) under overwrite policy
    val evolved = Seq((7L, 70L, "seven v2", Option.empty[String],
        Option.empty[String], Some(2L), Some("fresh,hot")),
      (64L, 640L, "sixty-four", Option.empty[String],
        Option.empty[String], Some(1L), Some("new")))
      .toDF("universeId", "rootPlaceId", "name", "description",
        "gameplayDescription", "playerCount", "tags")
    Merge.upsertRound(spark, table, evolved, "universeId",
      Seq("rootPlaceId", "name", "playerCount", "tags"), Seq("description"),
      Seq("gameplayDescription"), buckets = 8, retainVersions = 10)
    // current read: widened schema; pre-evolution rows read tags as null
    val cur = Merge.readTable(spark, table)
    assert(cur.columns.contains("tags"))
    val byId = cur.collect().map(r => r.getLong(r.fieldIndex("universeId")) -> r).toMap
    assert(byId(7L).getAs[String]("tags") === "fresh,hot")
    assert(byId(64L).getAs[String]("tags") === "new")
    assert(byId(3L).isNullAt(byId(3L).fieldIndex("tags")),
      "pre-evolution rows must read the new column as null")
    // time travel is schema-faithful: version 1 has no tags column
    assert(!Merge.readTableAt(spark, table, 1).columns.contains("tags"))
    // CDC across the evolution boundary: the new column rides the feed
    // with null preimages (an ordinary null -> value update)
    val feed = Merge.readChanges(spark, table, 1, 2, "universeId",
      withPreimage = true).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(feed(7L).getAs[String]("tags") === "fresh,hot")
    assert(feed(7L).isNullAt(feed(7L).fieldIndex("pre_tags")))
    assert(feed(64L).getString(1) === "insert")
    // a post-evolution plain round keeps the widened schema (fresh batch
    // WITHOUT tags: pre-existing tag values survive under keep-ness of
    // absence — tags not in any policy list means existing side wins)
    Merge.upsertRound(spark, table, mkTT(Seq(7L), "r3"), "universeId",
      Seq("rootPlaceId", "name", "playerCount"), Seq("description"),
      Seq("gameplayDescription", "tags"), buckets = 8, retainVersions = 10)
    val after = Merge.readTable(spark, table).collect()
      .map(r => r.getLong(r.fieldIndex("universeId")) -> r).toMap
    assert(after(7L).getAs[String]("name") === "r3-7")
    assert(after(7L).getAs[String]("tags") === "fresh,hot",
      "keep-policy column must survive a post-evolution round")
  }

  test("ivm: preimage feeds maintain an aggregate view exactly at every version") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("merge-ivm").toString
    val table = s"$tmp/games"
    val initial = mkTT(0L until 60L, "base")
    val rounds = Seq(mkTT(Seq(3L, 21L, 64L), "r1"), mkTT(Seq(7L, 35L), "r2"),
      mkTT(Seq(3L, 11L), "r3"))
    Merge.upsertIncrementalRounds(spark, table, initial, rounds, "universeId",
      Seq("rootPlaceId", "name", "playerCount"), Seq("description"),
      Seq("gameplayDescription"), buckets = 16, retainVersions = 10)
    // preimage columns: null for inserts, the old row's values for updates
    val feed = Merge.readChanges(spark, table, 0, 1, "universeId",
      withPreimage = true).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(feed(64L).getString(1) === "insert" &&
      feed(64L).isNullAt(feed(64L).fieldIndex("pre_name")))
    assert(feed(3L).getString(1) === "update" &&
      feed(3L).getAs[String]("pre_name") === "base-3" &&
      feed(3L).getAs[String]("name") === "r1-3")
    // the maintained view == the recomputed aggregate, at EVERY version
    def recompute(v: Int) = Merge.readTableAt(spark, table, v)
      .withColumn("shard", pmod(col("universeId"), lit(10L)))
      .groupBy("shard").agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("playerCount"), lit(0L))).as("total_pc"))
      .orderBy("shard").collect()
    var view = recompute(0)
    (1 to 3).foreach { v =>
      val delta = Merge.readChanges(spark, table, v - 1, v, "universeId",
          withPreimage = true)
        .withColumn("shard", pmod(col("universeId"), lit(10L)))
        .groupBy("shard").agg(
          sum(when(col("op") === "insert", 1L).otherwise(0L)).as("d_rows"),
          (sum(coalesce(col("playerCount"), lit(0L))) -
            sum(coalesce(col("pre_playerCount"), lit(0L)))).as("d_pc"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      view = view.map { r =>
        val (dr, dp) = delta.getOrElse(r.getLong(0), (0L, 0L))
        org.apache.spark.sql.Row(r.getLong(0), r.getLong(1) + dr, r.getLong(2) + dp)
      } ++ delta.keys.filterNot(s => view.exists(_.getLong(0) == s))
        .map(s => org.apache.spark.sql.Row(s, delta(s)._1, delta(s)._2))
      assert(view.sortBy(_.getLong(0)).map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
        recompute(v).map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq,
        s"maintained view diverges at version $v")
    }
  }

  test("clustering + data skipping: pruned reads open fewer files, drop no rows") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-skip").toString
    val table = s"$tmp/games"
    val initial = mkTT(0L until 60L, "base")
    val rounds = Seq(mkTT(Seq(3L, 21L), "r1"), mkTT(Seq(7L, 35L), "r2"))
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table, initial, rounds, "universeId",
      over, coal, keep, buckets = 16)
    val before = Merge.readTable(spark, table).selectExpr(ttCols: _*)
      .orderBy("universeId").collect()
    // cluster on playerCount (values 0..6 under mkTT's id % 7)
    val st = Merge.cluster(spark, table, "playerCount", filesPerBucket = 3)
    // pure layout change: contents identical through the plain reader
    assert(Merge.readTable(spark, table).selectExpr(ttCols: _*)
      .orderBy("universeId").collect() === before)
    // the pruned read returns exactly the filtered rows...
    val pruned = Merge.readTableWhere(spark, table, Seq(("playerCount", 6L, 6L)))
    val want = before.filter(r => !r.isNullAt(5) && r.getLong(5) == 6L)
    assert(pruned.selectExpr(ttCols: _*).orderBy("universeId").collect() === want)
    // ...while opening strictly fewer files than the full table holds
    val total = Merge.readTable(spark, table).inputFiles.length
    assert(pruned.inputFiles.nonEmpty && pruned.inputFiles.length < total,
      s"expected pruning, opened ${pruned.inputFiles.length} of $total")
    // a later merge round invalidates the sidecar (new version, no stats):
    // the read falls back to the full scan and stays CORRECT
    Merge.upsertRound(spark, table, mkTT(Seq(6L), "r3"), "universeId",
      over, coal, keep, buckets = 16)
    val after = Merge.readTable(spark, table).selectExpr(ttCols: _*)
      .orderBy("universeId").collect()
    val fallback = Merge.readTableWhere(spark, table, Seq(("playerCount", 6L, 6L)))
    assert(fallback.selectExpr(ttCols: _*).orderBy("universeId").collect() ===
      after.filter(r => !r.isNullAt(5) && r.getLong(5) == 6L))
    assert(st.version === 3, s"cluster must commit v3 after 2 rounds, got $st")
  }

  test("type widening: an int column widens to long; old versions keep int") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val tmp = java.nio.file.Files.createTempDirectory("merge-widen").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    // v0 commits playerCount as INT
    val initial = mkTT(0L until 40L, "base")
      .withColumn("playerCount", col("playerCount").cast("int"))
    Merge.upsertIncrementalRounds(spark, table, initial, Seq.empty,
      "universeId", over, coal, keep, buckets = 8, retainVersions = 4)
    assert(Merge.readTable(spark, table).schema("playerCount").dataType === IntegerType)
    // a batch carries playerCount as LONG, with a value no int can hold
    val big = 3000000000L
    val batch = mkTT(Seq(3L, 41L), "r1")
      .withColumn("playerCount",
        when(col("universeId") === 3L, big).otherwise(col("playerCount")))
    Merge.upsertRound(spark, table, batch, "universeId", over, coal, keep,
      buckets = 8, retainVersions = 4)
    val cur = Merge.readTable(spark, table)
    // merged schema is the widened one; untouched buckets' int pages read
    // upcast under it; the wide value survives
    assert(cur.schema("playerCount").dataType === LongType)
    assert(cur.filter(col("universeId") === 3L)
      .select("playerCount").head().getLong(0) === big)
    assert(cur.filter(col("universeId") === 5L)
      .select("playerCount").head().getLong(0) === 5L % 7)
    assert(cur.count() === 41)
    // a NARROWER later batch casts up, schema stays long
    Merge.upsertRound(spark, table,
      mkTT(Seq(7L), "r2").withColumn("playerCount", col("playerCount").cast("int")),
      "universeId", over, coal, keep, buckets = 8, retainVersions = 4)
    assert(Merge.readTable(spark, table).schema("playerCount").dataType === LongType)
    // time travel: version 0 still reads under ITS OWN (int) schema
    assert(Merge.readTableAt(spark, table, 0)
      .schema("playerCount").dataType === IntegerType)
  }

  test("rename with mapping: metadata-only rename, old versions keep the old name") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-rename").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table, mkTT(0L until 40L, "base"),
      Seq(mkTT(Seq(3L, 21L), "r1")), "universeId", over, coal, keep,
      buckets = 8, retainVersions = 8)
    val genFilesBefore = Merge.readTable(spark, table).inputFiles.toSet
    // rename name -> title: metadata-only (no data files change)
    Merge.renameColumn(spark, table, "name", "title", retainVersions = 8)
    val cur = Merge.readTable(spark, table)
    assert(cur.columns.contains("title") && !cur.columns.contains("name"))
    assert(cur.inputFiles.toSet === genFilesBefore, "rename must not rewrite data")
    assert(cur.filter(col("universeId") === 3L)
      .select("title").head().getString(0) === "r1-3")
    // a post-rename merge uses the NEW logical name; physical files keep
    // the old one (stable physical names), and the round-trip is exact
    val batch = mkTT(Seq(5L, 50L), "r2").withColumnRenamed("name", "title")
    Merge.upsertRound(spark, table, batch,
      "universeId", Seq("rootPlaceId", "title", "playerCount"), coal, keep,
      buckets = 8, retainVersions = 8)
    val cur2 = Merge.readTable(spark, table)
    assert(cur2.filter(col("universeId") === 5L)
      .select("title").head().getString(0) === "r2-5")
    assert(cur2.filter(col("universeId") === 3L)
      .select("title").head().getString(0) === "r1-3")
    assert(cur2.count() === 41)
    // time travel BEFORE the rename surfaces the OLD name
    val v1 = Merge.readTableAt(spark, table, 1)
    assert(v1.columns.contains("name") && !v1.columns.contains("title"))
    assert(v1.filter(col("universeId") === 3L)
      .select("name").head().getString(0) === "r1-3")
    // CDC across the post-rename window reads logical names
    val changes = Merge.readChanges(spark, table, 2, 3, "universeId")
    assert(changes.columns.contains("title"))
    assert(changes.select("universeId").collect().map(_.getLong(0)).sorted
      === Array(5L, 50L))
  }

  test("z-order clustering: two-predicate reads prune on both axes, drop no rows") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-skipz").toString
    val table = s"$tmp/games"
    // two independent high-cardinality axes: universeId 0..479,
    // playerCount = (id·37) mod 480 — decorrelated, so a (playerCount,
    // universeId) rectangle selects ~1/16 of the rows and NEITHER axis
    // alone can prune it well (low-cardinality playerCount would make
    // one-dimension clustering trivially perfect and the comparison
    // meaningless)
    val initial = (0L until 480L).map(id =>
      (id, id * 10, s"base-$id", Option.when(id % 3 == 0)(s"d$id"),
        Option.when(id % 4 == 0)(s"g$id"), Some(id * 37 % 480)))
      .toDF("universeId", "rootPlaceId", "name", "description",
        "gameplayDescription", "playerCount")
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table, initial,
      Seq(mkTT(Seq(3L, 21L), "r1")), "universeId", over, coal, keep, buckets = 4)
    val before = Merge.readTable(spark, table).selectExpr(ttCols: _*)
      .orderBy("universeId").collect()
    val preds = Seq(("playerCount", 0L, 119L), ("universeId", 0L, 119L))
    def want = before.filter(r => !r.isNullAt(5) &&
      r.getLong(5) >= 0L && r.getLong(5) <= 119L &&
      r.getLong(0) >= 0L && r.getLong(0) <= 119L)

    // control: one-dimension layout — playerCount stats prune, the
    // universeId predicate filters but cannot prune
    Merge.cluster(spark, table, "playerCount", filesPerBucket = 8)
    val oneD = Merge.readTableWhere(spark, table, preds)
    assert(oneD.selectExpr(ttCols: _*).orderBy("universeId").collect() === want)
    val files1d = oneD.inputFiles.length

    // z layout: both predicates prune
    Merge.clusterZ(spark, table, Seq("playerCount", "universeId"), filesPerBucket = 8)
    // pure layout change: contents identical through the plain reader
    assert(Merge.readTable(spark, table).selectExpr(ttCols: _*)
      .orderBy("universeId").collect() === before)
    val z = Merge.readTableWhere(spark, table, preds)
    assert(z.selectExpr(ttCols: _*).orderBy("universeId").collect() === want)
    val total = Merge.readTable(spark, table).inputFiles.length
    assert(z.inputFiles.nonEmpty && z.inputFiles.length < total,
      s"expected z pruning, opened ${z.inputFiles.length} of $total")
    // the multi-column claim: the z layout answers the two-predicate read
    // with STRICTLY fewer files than the one-dimension control, whose
    // second predicate cannot prune
    assert(z.inputFiles.length < files1d,
      s"z kept ${z.inputFiles.length} files vs 1d control $files1d")
  }

  test("string Z-order: a rank-normalized string dimension prunes takedown-shaped predicates (round 17)") {
    // lower-bound semantics of the rank kernel itself: deterministic on
    // ties, monotone, nulls handled by the Column face
    import org.apache.spark.unsafe.types.UTF8String
    val cuts = Array("b", "d", "d", "f").map(UTF8String.fromString)
    def b(s: String) = graft.functions.StringRankBucket.bucketOf(cuts, UTF8String.fromString(s))
    assert(b("a") === 0 && b("b") === 1 && b("c") === 1 && b("d") === 3 &&
      b("e") === 3 && b("f") === 4 && b("z") === 4)
    assert(Seq("a", "b", "c", "d", "e", "f", "z").map(b).sorted ===
      Seq("a", "b", "c", "d", "e", "f", "z").map(b), "rank is monotone")
    // the rank expression must stay inside whole-stage codegen: the
    // layout rewrite shuffles the whole table on this key (a Range
    // source, not a local relation — ConvertToLocalRelation would
    // otherwise fold the projection away before any plan forms)
    val rankPlan = spark.range(4)
      .select(col("id").cast("string").as("s"))
      .select(graft.functions.StringRankBucket.rank(col("s"), cuts).as("r"))
      .queryExecution.executedPlan.toString
    // `*(n)` is the whole-stage-codegen stage marker in the physical
    // plan's simple string — the rank projection must carry it
    assert("\\*\\(\\d+\\) Project \\[stringrankbucket".r
      .findFirstIn(rankPlan).isDefined,
      s"StringRankBucket fell out of codegen:\n$rankPlan")

    val tmp = java.nio.file.Files.createTempDirectory("merge-strz").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    // domain-shaped strings: every value shares the "https://d" prefix, so
    // a min/max byte-scaled key would collapse the dimension — the rank
    // normalization is what makes the layout usable. Axes decorrelated
    // from the bucket key (×37, ×53 mod 960).
    val n = 960L
    val rows = (0L until n).map { id =>
      (id, id * 10, f"https://d${id * 37 % n}%04d.example.com",
        Option.when(id % 3 == 0)(s"d$id"), Option(s"g$id"), Some(id * 53 % n))
    }.toDF("universeId", "rootPlaceId", "name", "description",
      "gameplayDescription", "playerCount")
    Merge.upsertIncrementalRounds(spark, table, rows, Seq.empty,
      "universeId", over, coal, keep, buckets = 4)
    val before = Merge.readTable(spark, table).selectExpr(ttCols: _*)
      .orderBy("universeId").collect()
    val (lo, hi) = ("https://d0100.example.com", "https://d0199.example.com")
    def want = before.filter { r =>
      val s = r.getString(2); s >= lo && s <= hi
    }
    assert(want.length === 100, s"precondition: ${want.length}")

    // control: numeric 1-D layout — the takedown-shaped string predicate
    // has no stats column and cannot prune a single file
    Merge.cluster(spark, table, "playerCount", filesPerBucket = 8)
    val ctl = Merge.readTableWhere(spark, table, Seq(("name", lo, hi)))
    assert(ctl.selectExpr(ttCols: _*).orderBy("universeId").collect() === want)
    val totalCtl = Merge.readTable(spark, table).inputFiles.length
    assert(ctl.inputFiles.length === totalCtl,
      s"control must be unable to prune, opened ${ctl.inputFiles.length}/$totalCtl")

    // string+numeric Z layout: the same predicate now prunes, and the
    // numeric dimension keeps pruning too — zero row drift on both
    Merge.clusterZ(spark, table, Seq("name", "playerCount"), filesPerBucket = 8)
    assert(Merge.readTable(spark, table).selectExpr(ttCols: _*)
      .orderBy("universeId").collect() === before,
      "clusterZ is a pure layout change")
    val z = Merge.readTableWhere(spark, table, Seq(("name", lo, hi)))
    assert(z.selectExpr(ttCols: _*).orderBy("universeId").collect() === want)
    val total = Merge.readTable(spark, table).inputFiles.length
    assert(z.inputFiles.nonEmpty && z.inputFiles.length < total,
      s"string z-dimension must prune, opened ${z.inputFiles.length} of $total")
    val numPred = Seq(("playerCount", 0L, n / 4 - 1))
    val zn = Merge.readTableWhere(spark, table, numPred)
    assert(zn.inputFiles.length < total,
      s"numeric co-dimension still prunes, opened ${zn.inputFiles.length} of $total")
    assert(zn.selectExpr(ttCols: _*).orderBy("universeId").collect() ===
      before.filter(r => !r.isNullAt(5) && r.getLong(5) < n / 4))
    // MIXED read: both families prune in ONE keep-decision — the
    // takedown-audit shape; never more files than either single-type
    // face, zero row drift against the conjunction filter
    val zm = Merge.readTableWhere(spark, table, numPred :+ (("name", lo, hi)))
    assert(zm.inputFiles.length <=
      math.min(z.inputFiles.length, zn.inputFiles.length),
      s"mixed pruning must be the intersection: ${zm.inputFiles.length} " +
        s"vs str ${z.inputFiles.length} / num ${zn.inputFiles.length}")
    assert(zm.selectExpr(ttCols: _*).orderBy("universeId").collect() ===
      before.filter { r =>
        val s = r.getString(2)
        s >= lo && s <= hi && !r.isNullAt(5) && r.getLong(5) < n / 4
      })
  }

  test("bloom point reads: bounded distributed probe, absent keys open none, maintained across merge rounds, fragment-less fallback") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-bloom").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    // 480 high-cardinality keys so min/max on universeId could not prune
    // a point read after the playerCount clustering scrambles id order
    Merge.upsertIncrementalRounds(spark, table,
      mkTT(0L until 480L, "base"), Seq(mkTT(Seq(3L, 21L), "r1")),
      "universeId", over, coal, keep, buckets = 8)
    Merge.cluster(spark, table, "playerCount", filesPerBucket = 8,
      bloomCols = Seq("universeId"))
    val all = Merge.readTable(spark, table)
    val total = all.inputFiles.length
    // present keys: exact rows, strictly fewer files than the table
    val hit = Merge.readTableWhereIn(spark, table, "universeId", Seq(3L, 350L))
    assert(hit.selectExpr(ttCols: _*).orderBy("universeId").collect() ===
      all.filter(col("universeId").isin(3L, 350L))
        .selectExpr(ttCols: _*).orderBy("universeId").collect())
    assert(hit.inputFiles.nonEmpty && hit.inputFiles.length < total,
      s"expected bloom pruning, opened ${hit.inputFiles.length} of $total")
    // ...and the min/max CONTROL cannot prune this probe: both ids sit
    // inside essentially every file's universeId range after clustering
    // on playerCount — the gap the bloom sidecar exists to close
    // an ABSENT key opens ZERO files (no false negatives means an empty
    // candidate set is provably empty)
    val miss = Merge.readTableWhereIn(spark, table, "universeId", Seq(999999L))
    assert(miss.inputFiles.isEmpty && miss.isEmpty)
    // the probe is DISTRIBUTED (round-13 verdict #1): positions are
    // computed before the fragment scan and word_idx IN (positions) is
    // pushed into it, so the driver collects O(|values| * k * files)
    // sidecar rows — never rows ∝ table size
    val report = Merge.pointProbe(spark, table, "universeId", Seq(3L, 350L))
    assert(report.scannedSidecarRows <= 2L * 4 * total,
      s"probe collected ${report.scannedSidecarRows} sidecar rows for " +
        s"2 values * 4 hashes * $total files")

    // a later merge round MAINTAINS the sidecar (round-13 verdict #5):
    // the new generation gets its own fragment at append time, so point
    // reads stay pruned between clustered rewrites instead of degrading
    // to full manifest scans
    Merge.upsertRound(spark, table, mkTT(Seq(350L), "r2"), "universeId",
      over, coal, keep, buckets = 8)
    val after = Merge.readTableWhereIn(spark, table, "universeId", Seq(350L))
    assert(after.collect().map(_.getString(2)).toSeq === Seq("r2-350"))
    val totalAfter = Merge.readTable(spark, table).inputFiles.length
    assert(after.inputFiles.length < totalAfter,
      s"point read after a post-cluster merge round must stay pruned " +
        s"(opened ${after.inputFiles.length} of $totalAfter)")

    // a generation WITHOUT a #frag entry has no fragment and is read
    // whole — pruning degrades gracefully, correctness never depends on it
    val latest = Merge.tableVersions(spark, table).max
    val mf = java.nio.file.Paths.get(s"$table/_manifests/manifest-v$latest")
    java.nio.file.Files.write(mf, java.nio.file.Files.readAllLines(mf).asScala
      .filterNot(_.startsWith("#frag")).asJava)
    val fb = Merge.readTableWhereIn(spark, table, "universeId", Seq(350L))
    assert(fb.collect().map(_.getString(2)).toSeq === Seq("r2-350"))
    assert(fb.inputFiles.length === totalAfter,
      "fragment-less generations must fall back to the full manifest read")
  }

  test("string-typed range pruning: lexicographic stats prune files, zero row drift (round 16)") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-strprune").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table,
      mkTT(0L until 240L, "base"), Seq(mkTT(Seq(3L, 21L), "r1")),
      "universeId", over, coal, keep, buckets = 8, retainVersions = 10)
    // cluster on the STRING column: the rewrite range-splits by name and
    // records full-value min/max string stats per file
    Merge.cluster(spark, table, "name", filesPerBucket = 4, retainVersions = 10)
    val all = Merge.readTable(spark, table)
    val total = all.inputFiles.length
    val (lo, hi) = ("base-10", "base-19")
    val expected = all
      .filter(col("name") >= lo && col("name") <= hi)
      .selectExpr(ttCols: _*).orderBy("universeId").collect()
    assert(expected.nonEmpty, "fixture sanity: the string range must match rows")
    val pruned = Merge.readTableWhere(spark, table, Seq(("name", lo, hi)))
    // zero row drift vs the plain filter…
    assert(pruned.selectExpr(ttCols: _*).orderBy("universeId").collect() === expected)
    // …while opening strictly fewer files (the lexicographic keep-decision
    // pruned through the same full-value stats the numeric path uses)
    assert(pruned.inputFiles.nonEmpty && pruned.inputFiles.length < total,
      s"expected string pruning, opened ${pruned.inputFiles.length} of $total")
    // a later merge round maintains the string stats for its new gen, and
    // the read still answers exactly (pruning is never a correctness
    // dependency)
    Merge.upsertRound(spark, table, mkTT(Seq(12L), "r2"), "universeId",
      over, coal, keep, buckets = 8, retainVersions = 10)
    val after = Merge.readTableWhere(spark, table, Seq(("name", lo, hi)))
    val expectedAfter = Merge.readTable(spark, table)
      .filter(col("name") >= lo && col("name") <= hi)
      .selectExpr(ttCols: _*).orderBy("universeId").collect()
    assert(after.selectExpr(ttCols: _*).orderBy("universeId").collect() === expectedAfter)
    assert(after.inputFiles.length < Merge.readTable(spark, table).inputFiles.length)
  }

  test("deleteWhere: touched-bucket rewrite, time travel across the delete, VACUUM makes it physical") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-del").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table, mkTT(0L until 60L, "base"),
      Seq(mkTT(Seq(3L, 21L), "r1")), "universeId", over, coal, keep,
      buckets = 16, retainVersions = 10)
    val preDelete = Merge.readTable(spark, table).selectExpr(ttCols: _*)
      .orderBy("universeId").collect()
    val filesBefore = Merge.readTable(spark, table).inputFiles.toSet

    // delete keys {5, 21, 37, 53} — buckets {5, 5, 5, 5} under mod 16
    val st = Merge.deleteWhere(spark, table, col("universeId") % 16 === 5L,
      retainVersions = 10)
    assert(st.deletedRows === 4 && st.touchedBuckets === 1)
    val cur = Merge.readTable(spark, table)
    assert(cur.count() === 56)
    assert(cur.filter(col("universeId") % 16 === 5L).isEmpty)
    // untouched buckets were NOT rewritten: their files carry over
    val filesAfter = cur.inputFiles.toSet
    assert(filesAfter.filterNot(_.contains("/bucket=5/")).subsetOf(filesBefore),
      "delete must rewrite only the touched bucket")
    // NULL predicate rows are KEPT (SQL DELETE three-valued rule)
    val st0 = Merge.deleteWhere(spark, table,
      when(col("universeId") < 0, true).otherwise(lit(null)), retainVersions = 10)
    assert(st0.deletedRows === 0 && Merge.readTable(spark, table).count() === 56)
    // a no-match delete burns no version
    assert(Merge.tableVersions(spark, table) === Seq(0, 1, 2))

    // time travel: the pre-delete version reads complete
    assert(Merge.readTableAt(spark, table, 1).selectExpr(ttCols: _*)
      .orderBy("universeId").collect() === preDelete)

    // CDC across the delete version: op=delete, null post, full preimages
    val feed = Merge.readChanges(spark, table, 1, 2, "universeId",
      withPreimage = true).collect()
    assert(feed.length === 4 && feed.forall(_.getString(1) === "delete"))
    val f21 = feed.find(_.getLong(0) === 21L).get
    assert(f21.isNullAt(f21.fieldIndex("name")))
    assert(f21.getAs[String]("pre_name") === "r1-21")
    // apply contract: v1 minus the feed's deleted keys == v2
    val delKeys = feed.map(_.getLong(0)).toSet
    assert(Merge.readTableAt(spark, table, 1)
      .filter(!col("universeId").isin(delKeys.toSeq.map(java.lang.Long.valueOf): _*))
      .selectExpr(ttCols: _*).orderBy("universeId").collect() ===
      cur.selectExpr(ttCols: _*).orderBy("universeId").collect())

    // a FULL-bucket delete drops the bucket from the manifest and the
    // feed still names its rows
    Merge.deleteWhere(spark, table, col("universeId") % 16 === 7L, retainVersions = 10)
    assert(Merge.changedBucketsBetween(spark, table, 2, 3) === Seq(7))
    assert(Merge.readChanges(spark, table, 2, 3, "universeId")
      .filter(col("op") === "delete").count() === 4)
    assert(Merge.readTable(spark, table).count() === 52)

    // VACUUM: one more round under tight retention expires the pre-delete
    // versions — the deleted rows' generations leave the DISK, not just
    // the manifest (the takedown-becomes-physical point)
    Merge.upsertRound(spark, table, mkTT(Seq(8L), "r2"), "universeId",
      over, coal, keep, buckets = 16, retainVersions = 1)
    val raw = spark.read.parquet(table)
    assert(raw.filter(col("universeId") % 16 === 5L).isEmpty &&
      raw.filter(col("universeId") % 16 === 7L).isEmpty,
      "expired pre-delete generations must be vacuumed off disk")
  }

  test("optimistic concurrency: disjoint-bucket writers both land; overlap is a clean conflict; versions stay immutable") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-occ").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table, mkTT(0L until 60L, "base"),
      Seq.empty, "universeId", over, coal, keep, buckets = 16, retainVersions = 10)

    // DISJOINT race: writer A (key 3 → bucket 3) loses the put-if-absent
    // rename for round 1 to writer B (key 7 → bucket 7, committed from
    // A's beforeCommit hook — deterministic interleaving), re-reads the
    // winner's manifest, and retries at the next version
    var inner: Merge.IncRoundStats = null
    val statsA = Merge.upsertRound(spark, table, mkTT(Seq(3L), "wa"),
      "universeId", over, coal, keep, buckets = 16, retainVersions = 10,
      hooks = Merge.IncHooks(beforeCommit = r => if (r == 1 && inner == null) {
        inner = Merge.upsertRound(spark, table, mkTT(Seq(7L), "wb"),
          "universeId", over, coal, keep, buckets = 16, retainVersions = 10)
      }))
    assert(inner.round === 1, "writer B wins round 1")
    assert(statsA.round === 2, "writer A retries and commits the next version")
    assert(Merge.tableVersions(spark, table) === Seq(0, 1, 2))
    // exactly one winner per version: v1 carries only B's change, v2 both
    val v1 = Merge.readTableAt(spark, table, 1).selectExpr(ttCols: _*).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(v1(7L) === "wb-7" && v1(3L) === "base-3")
    val v2 = Merge.readTableAt(spark, table, 2).selectExpr(ttCols: _*).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(v2(7L) === "wb-7" && v2(3L) === "wa-3",
      "the loser's retry must merge its manifest over the winner's")

    // OVERLAP race: a concurrent writer rewrote the SAME bucket this
    // round read — the retry must refuse with a conflict error, not
    // commit rows merged from stale data
    var inner2: Merge.IncRoundStats = null
    val e = intercept[graft.operators.VersionConflictException] {
      Merge.upsertRound(spark, table, mkTT(Seq(3L), "wc"),
        "universeId", over, coal, keep, buckets = 16, retainVersions = 10,
        hooks = Merge.IncHooks(beforeCommit = r => if (r == 3 && inner2 == null) {
          inner2 = Merge.upsertRound(spark, table, mkTT(Seq(19L), "wd"),
            "universeId", over, coal, keep, buckets = 16, retainVersions = 10)
        }))
    }
    assert(e.getMessage.contains("stale"), s"got: ${e.getMessage}")
    // the winner's commit is untouched; the loser burned no version
    assert(Merge.tableVersions(spark, table) === Seq(0, 1, 2, 3))
    val v3 = Merge.readTableAt(spark, table, 3).selectExpr(ttCols: _*).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(v3(19L) === "wd-19" && v3(3L) === "wa-3")
    // and re-running the refused round against the fresh state succeeds
    val retried = Merge.upsertRound(spark, table, mkTT(Seq(3L), "wc"),
      "universeId", over, coal, keep, buckets = 16, retainVersions = 10)
    assert(retried.round === 4)
    assert(Merge.readTable(spark, table).filter($"universeId" === 3L)
      .select("name").head().getString(0) === "wc-3")
  }

  test("ivm min/max: extremum evictions recompute only dirty groups (verdict r13 #6)") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-ivm-mm").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    // playerCount = id % 7, shard = id % 10: shard 3 holds pc {3,6,2,5,1,4}
    // at ids {3,13,23,33,43,53} — max 6 is UNIQUELY id 13, min 1 is id 43
    Merge.upsertIncrementalRounds(spark, table, mkTT(0L until 60L, "base"),
      Seq.empty, "universeId", over, coal, keep, buckets = 16, retainVersions = 10)
    val base = Merge.ivmMinMaxBase(Merge.readTableAt(spark, table, 0))
    def direct(v: Int) = Merge.ivmMinMaxBase(Merge.readTableAt(spark, table, v))
      .orderBy("shard").collect()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("shard").collect()
    def step(view: org.apache.spark.sql.DataFrame, v: Int) =
      Merge.ivmMinMaxApply(view,
        Merge.ivmMinMaxDelta(Merge.readChanges(spark, table, v - 1, v,
          "universeId", withPreimage = true)),
        Merge.readTableAt(spark, table, v))

    // v1: DELETE both extremum holders of shard 3 — a candidates-only
    // fold would keep max 6 / min 1; the recompute must land 5 / 2
    Merge.deleteWhere(spark, table,
      col("universeId").isin(13L, 43L), retainVersions = 10)
    val view1 = step(base, 1)
    assert(rows(view1) === direct(1))
    val s3 = rows(view1).find(_.getLong(0) === 3L).get
    assert(s3.getLong(1) === 5L && s3.getLong(2) === 2L,
      s"shard 3 extrema after eviction: got (${s3.getLong(1)}, ${s3.getLong(2)})")

    // v2: an UPDATE that lowers the current max holder (id 33, pc 5 -> 0)
    // is an eviction too — pre ties the extremum, recompute lands 4
    Merge.upsertRound(spark, table,
      mkTT(Seq(33L), "r2").withColumn("playerCount", lit(0L)),
      "universeId", over, coal, keep, buckets = 16, retainVersions = 10)
    val view2 = step(view1, 2)
    assert(rows(view2) === direct(2))
    assert(rows(view2).find(_.getLong(0) === 3L).get.getLong(1) === 4L)

    // v3: a FULL-shard delete drops the shard from the view, matching the
    // direct aggregate (the recompute of an emptied group returns no row)
    Merge.deleteWhere(spark, table, col("universeId") % 10 === 7L,
      retainVersions = 10)
    val view3 = step(view2, 3)
    assert(rows(view3) === direct(3))
    assert(!rows(view3).exists(_.getLong(0) === 7L))

    // clean-path sanity: an insert above every extremum refreshes without
    // touching the table (shape: the fold stays exact either way)
    Merge.upsertRound(spark, table,
      mkTT(Seq(103L), "r4").withColumn("playerCount", lit(99L)),
      "universeId", over, coal, keep, buckets = 16, retainVersions = 10)
    val view4 = step(view3, 4)
    assert(rows(view4) === direct(4))
    assert(rows(view4).find(_.getLong(0) === 3L).get.getLong(1) === 99L)

    // NULL-extremum shard: re-populate the emptied shard 7 with a single
    // NULL-playerCount row (view row exists with null extrema), then
    // delete it — the eviction extrema cannot see a null departure, so
    // the n_del term must mark the shard dirty and the recompute must
    // drop it instead of serving a spurious (7, null, null) row
    Merge.upsertRound(spark, table,
      mkTT(Seq(107L), "r5").withColumn("playerCount", lit(null).cast("long")),
      "universeId", over, coal, keep, buckets = 16, retainVersions = 10)
    val view5 = step(view4, 5)
    assert(rows(view5) === direct(5))
    assert(rows(view5).exists(r => r.getLong(0) === 7L && r.isNullAt(1)))
    Merge.deleteWhere(spark, table, col("universeId") === 107L,
      retainVersions = 10)
    val view6 = step(view5, 6)
    assert(rows(view6) === direct(6))
    assert(!rows(view6).exists(_.getLong(0) === 7L),
      "a null-row delete emptying an all-null shard must drop it from the view")
  }

  test("commitFile is atomic-exclusive across PROCESSES on local FS (verdict r13 #3)") {
    // simulate another process's committed version with a raw NIO write —
    // no Hadoop FileSystem call, no JVM lock involvement: the link(2)
    // claim must still refuse, and the winner's bytes must be untouched
    val dir = java.nio.file.Files.createTempDirectory("manifest-xproc")
    java.nio.file.Files.write(dir.resolve("manifest-v1"),
      "0,0\n".getBytes("UTF-8"))
    val hp = new org.apache.hadoop.fs.Path(dir.toString)
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val e = intercept[graft.operators.VersionConflictException] {
      graft.operators.ManifestIo.commitFile(hfs, hp, "manifest-v1", "9,9\n")
    }
    assert(e.getMessage.contains("already committed"))
    assert(new String(java.nio.file.Files.readAllBytes(
      dir.resolve("manifest-v1")), "UTF-8") === "0,0\n",
      "the loser must not have altered the committed bytes")
    // no temp litter survives a refused commit
    assert(!hfs.listStatus(hp)
      .exists(_.getPath.getName.startsWith(".tmp-")))
    // and a fresh name still commits
    graft.operators.ManifestIo.commitFile(hfs, hp, "manifest-v2", "1,1\n")
    assert(new String(java.nio.file.Files.readAllBytes(
      dir.resolve("manifest-v2")), "UTF-8") === "1,1\n")
  }

  test("two REAL JVMs race one table: child wins, parent conflicts cleanly (round 15)") {
    // verdict r14 #6: the raw-NIO simulation above is honest, but the
    // link(2) claim deserves one actual fork. A second JVM (full Spark
    // session, the test classpath) runs upsertRound on the SAME local
    // table while this process holds its own round open across the
    // child's whole commit (IncHooks.beforeCommit blocks until the child
    // reports done). Both rounds touch the same bucket, so OCC must make
    // the parent a clean VersionConflictException — never a silent merge.
    val tmp = java.nio.file.Files.createTempDirectory("merge-2jvm").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table, mkTT(0L until 30L, "base"),
      Seq.empty, "universeId", over, coal, keep, buckets = 16,
      retainVersions = 10)

    val goFile = java.nio.file.Paths.get(s"$tmp/go")
    val doneFile = java.nio.file.Paths.get(s"$tmp/done")
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    // carry this JVM's --add-opens pairs into the child (Spark on JDK 17)
    val inArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList
    val opens = inArgs.zipWithIndex.collect {
      case (a, i) if a == "--add-opens" && i + 1 < inArgs.size =>
        Seq(a, inArgs(i + 1))
    }.flatten
    val cmd = Seq(javaBin) ++ opens ++ Seq("-Xmx2g", "-cp", cp,
      "graft.RaceWriterMain", table, goFile.toString, doneFile.toString)
    val childLog = new java.io.File(s"$tmp/child.log")
    val child = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(childLog)
      .start()
    try {
      // parent round touches key 3 — the same bucket the child writes —
      // and blocks pre-commit until the child's whole round has landed
      val hooks = Merge.IncHooks(beforeCommit = _ => {
        java.nio.file.Files.writeString(goFile, "go")
        val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
        while (!java.nio.file.Files.exists(doneFile) &&
            System.nanoTime() < deadline) Thread.sleep(50)
        assert(java.nio.file.Files.exists(doneFile),
          s"child never finished; log:\n${scala.io.Source.fromFile(childLog).mkString}")
      })
      val ex = intercept[graft.operators.VersionConflictException] {
        Merge.upsertRound(spark, table, mkTT(Seq(3L), "proc1"), "universeId",
          over, coal, keep, buckets = 16, retainVersions = 10, hooks = hooks)
      }
      assert(ex.getMessage.contains("concurrent writer"))
      child.waitFor()
      assert(java.nio.file.Files.readString(doneFile) === "committed",
        s"child outcome; log:\n${scala.io.Source.fromFile(childLog).mkString}")
      // the committed table serves the CHILD's bytes, exactly once
      val latest = Merge.readTable(spark, table)
        .filter(col("universeId") === 3L).collect()
      assert(latest.length === 1 && latest.head.getString(2) === "proc2-3",
        "the winner's write must be what the table serves")
      // every retained version still reads
      Merge.tableVersions(spark, table).foreach { v =>
        assert(Merge.readTableAt(spark, table, v).count() >= 30L)
      }
      // the loser's gen dirs are manifest-invisible litter for the
      // age-gated vacuum — never readable, and reclaimable
      assert(Merge.vacuumOrphans(spark, table, olderThanMs = 0L) > 0,
        "the refused round's generation must be vacuumable litter")
    } finally child.destroyForcibly()
  }

  /** Fork a second Spark JVM running [[RaceWriterMain]]'s `op` on
    * `table` (the round-15 two-JVM harness, shared by the round-16
    * mixed-operation races). */
  private def forkRacer(tmp: String, table: String, op: String) = {
    val goFile = java.nio.file.Paths.get(s"$tmp/go")
    val doneFile = java.nio.file.Paths.get(s"$tmp/done")
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val inArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList
    val opens = inArgs.zipWithIndex.collect {
      case (a, i) if a == "--add-opens" && i + 1 < inArgs.size =>
        Seq(a, inArgs(i + 1))
    }.flatten
    val cmd = Seq(javaBin) ++ opens ++ Seq("-Xmx2g", "-cp", cp,
      "graft.RaceWriterMain", table, goFile.toString, doneFile.toString, op)
    val childLog = new java.io.File(s"$tmp/child.log")
    val child = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true).redirectOutput(childLog).start()
    (child, goFile, doneFile, childLog)
  }

  /** Hooks that release the forked child at this writer's pre-commit
    * point and block until the child's whole commit has landed. */
  private def raceHooks(goFile: java.nio.file.Path,
      doneFile: java.nio.file.Path, childLog: java.io.File): Merge.IncHooks =
    Merge.IncHooks(beforeCommit = _ => {
      java.nio.file.Files.writeString(goFile, "go")
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      while (!java.nio.file.Files.exists(doneFile) &&
          System.nanoTime() < deadline) Thread.sleep(50)
      assert(java.nio.file.Files.exists(doneFile),
        s"child never finished; log:\n${scala.io.Source.fromFile(childLog).mkString}")
    })

  test("two JVMs, mixed ops: upsert wins, deleteWhere conflicts, fragments follow the winner (round 16)") {
    // verdict r15 #4: RaceWriterMain raced two upsertRounds; the strict-
    // OCC surface most likely to hide a hole is a DELETE (whole-table
    // read set) racing a writer that changes a bucket its predicate scan
    // already read. Child commits an upsert of key 3 while this process
    // holds a deleteWhere(universeId = 3) open across the child's whole
    // commit — the delete MUST conflict (its scan is stale), never
    // silently merge, and the committed table must serve the winner's
    // bytes with its fragment metadata intact.
    val tmp = java.nio.file.Files.createTempDirectory("merge-2jvm-updel").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table, mkTT(0L until 30L, "base"),
      Seq.empty, "universeId", over, coal, keep, buckets = 16,
      retainVersions = 10)
    // live sidecar policy, so the race also exercises fragment commits
    Merge.cluster(spark, table, "playerCount", filesPerBucket = 2,
      retainVersions = 10, bloomCols = Seq("universeId"))
    val (child, goFile, doneFile, childLog) = forkRacer(tmp, table, "upsert")
    try {
      val ex = intercept[graft.operators.VersionConflictException] {
        Merge.deleteWhere(spark, table, col("universeId") === 3L,
          retainVersions = 10, hooks = raceHooks(goFile, doneFile, childLog))
      }
      assert(ex.getMessage.contains("concurrent writer"))
      child.waitFor()
      assert(java.nio.file.Files.readString(doneFile) === "committed",
        s"child outcome; log:\n${scala.io.Source.fromFile(childLog).mkString}")
      // the winner's row is served; the refused delete never applied
      val latest = Merge.readTable(spark, table)
        .filter(col("universeId") === 3L).collect()
      assert(latest.length === 1 && latest.head.getString(2) === "proc2-3",
        "the table must serve the winning upsert's bytes")
      // every retained version still reads
      Merge.tableVersions(spark, table).foreach { v =>
        assert(Merge.readTableAt(spark, table, v).count() === 30L)
      }
      // fragments consistent with the winner: every live generation is
      // described by the committed manifest (the winner's #frag entry
      // landed with its commit), so probes pay zero FS round-trips and
      // the pruned point read serves the winner's row
      val report = Merge.pointProbe(spark, table, "universeId", Seq(3L))
      assert(report.unfragmentedGens === 0,
        s"winner's fragments must be manifest-served: $report")
      val hit = Merge.readTableWhereIn(spark, table, "universeId", Seq(3L))
      assert(hit.collect().map(_.getString(2)).toSeq === Seq("proc2-3"))
    } finally child.destroyForcibly()
  }

  test("two JVMs, mixed ops: clusterRewrite wins, deleteWhere conflicts, the layout serves (round 16)") {
    // the second round-16 mix: a layout rewrite (cluster — rewrites EVERY
    // bucket and defines the sidecar policy) racing a delete whose
    // predicate scan read the pre-rewrite layout. The delete must refuse;
    // the winner's clustered layout, fragments, and policy must all serve.
    val tmp = java.nio.file.Files.createTempDirectory("merge-2jvm-delclu").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table, mkTT(0L until 30L, "base"),
      Seq.empty, "universeId", over, coal, keep, buckets = 16,
      retainVersions = 10)
    val (child, goFile, doneFile, childLog) = forkRacer(tmp, table, "cluster")
    try {
      val ex = intercept[graft.operators.VersionConflictException] {
        Merge.deleteWhere(spark, table, col("universeId") === 3L,
          retainVersions = 10, hooks = raceHooks(goFile, doneFile, childLog))
      }
      assert(ex.getMessage.contains("concurrent writer"))
      child.waitFor()
      assert(java.nio.file.Files.readString(doneFile) === "committed",
        s"child outcome; log:\n${scala.io.Source.fromFile(childLog).mkString}")
      // the refused delete never applied; content is layout-invariant
      val all = Merge.readTable(spark, table)
      assert(all.count() === 30L)
      assert(all.filter(col("universeId") === 3L).count() === 1L)
      // every retained version still reads
      Merge.tableVersions(spark, table).foreach { v =>
        assert(Merge.readTableAt(spark, table, v).count() === 30L)
      }
      // fragments consistent with the winner: the cluster's generation is
      // manifest-described, bloom point reads prune and serve, range
      // reads prune with zero row drift
      val report = Merge.pointProbe(spark, table, "universeId", Seq(3L))
      assert(report.prunedGens > 0 && report.unfragmentedGens === 0,
        s"winner's fragments must serve: $report")
      val total = all.inputFiles.length
      val hit = Merge.readTableWhereIn(spark, table, "universeId", Seq(3L))
      assert(hit.collect().map(_.getString(2)).toSeq === Seq("base-3"))
      assert(hit.inputFiles.length < total)
      val expected = all.filter(col("playerCount") >= 1L && col("playerCount") <= 3L)
        .selectExpr(ttCols: _*).orderBy("universeId").collect()
      val ranged = Merge.readTableWhere(spark, table, Seq(("playerCount", 1L, 3L)))
      assert(ranged.selectExpr(ttCols: _*).orderBy("universeId").collect() === expected)
    } finally child.destroyForcibly()
  }

  test("non-atomic-rename schemes commit through the locked claim (ADVICE r14 #1)") {
    // Object-store connectors (s3a/gcs/abfs) implement rename as
    // NON-atomic copy+delete with no precondition-PUT, so the bare
    // exists-then-rename was check-then-act: the loser could replace the
    // winner's committed bytes. The commit path now gates the rename to
    // schemes with an atomic no-overwrite contract (hdfs family) and
    // routes everything else through the same-process lock. Simulated
    // with a local-FS wrapper under a foreign scheme whose rename, like
    // an object store's, replaces an existing destination.
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("fs.mockstore.impl", classOf[graft.MockObjectStoreFs].getName)
    conf.setBoolean("fs.mockstore.impl.disable.cache", true)
    val dir = java.nio.file.Files.createTempDirectory("manifest-objstore")
    val hp = new org.apache.hadoop.fs.Path("mockstore://" + dir.toString)
    val hfs = hp.getFileSystem(conf)
    assert(hfs.getUri.getScheme === "mockstore")
    graft.operators.ManifestIo.commitFile(hfs, hp, "manifest-v1", "0,0\n")
    val e = intercept[graft.operators.VersionConflictException] {
      graft.operators.ManifestIo.commitFile(hfs, hp, "manifest-v1", "9,9\n")
    }
    assert(e.getMessage.contains("already committed"))
    assert(new String(java.nio.file.Files.readAllBytes(
      dir.resolve("manifest-v1")), "UTF-8") === "0,0\n",
      "the loser must not have replaced the committed bytes")
  }

  test("commit coordinator: one winner per version on a non-atomic-rename store; dead claims completed (round 16)") {
    import graft.operators.{CommitCoordinator, ManifestIo, VersionConflictException}
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("fs.mockstore.impl", classOf[graft.MockObjectStoreFs].getName)
    conf.setBoolean("fs.mockstore.impl.disable.cache", true)
    val dir = java.nio.file.Files.createTempDirectory("manifest-coord")
    val hp = new org.apache.hadoop.fs.Path("mockstore://" + dir.toString)
    val hfs = hp.getFileSystem(conf)
    // the fake atomic KV — the one linearizable primitive a real
    // deployment gets from DynamoDB/ZooKeeper; everything else (the
    // non-atomic mockstore rename) is what an object store gives you
    val kv = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val coord = new CommitCoordinator {
      def putIfAbsent(key: String, token: String): Boolean =
        kv.putIfAbsent(key, token) == null
      def get(key: String): Option[String] = Option(kv.get(key))
    }
    ManifestIo.setCommitCoordinator(coord)
    try {
      // two writers (each would previously have slipped through the
      // same-process lock only if they shared a JVM — the coordinator
      // seam arbitrates them regardless of process) race one version
      val failures = new java.util.concurrent.ConcurrentHashMap[String, Throwable]()
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val racers = Seq("a", "b").map(id => new Thread(() => {
        try { gate.await(); ManifestIo.commitFile(hfs, hp, "manifest-v7", s"$id\n") }
        catch { case t: Throwable => failures.put(id, t) }
      }))
      racers.foreach(_.start()); racers.foreach(_.join())
      assert(failures.size === 1, s"exactly one racer must lose: $failures")
      assert(failures.values.iterator.next().isInstanceOf[VersionConflictException])
      val winner = Seq("a", "b").filterNot(failures.containsKey).head
      assert(new String(java.nio.file.Files.readAllBytes(
        dir.resolve("manifest-v7")), "UTF-8") === s"$winner\n",
        "the committed manifest must hold the winner's own bytes")

      // claim-then-crash: a claimant that died between its coordinator
      // claim and its rename left temp bytes + a recorded token but no
      // final file; the NEXT writer completes the dead claimant's publish
      // and surfaces its own conflict — the version is never wedged
      val tmpName = ".tmp-manifest-v8-deadbeef"
      java.nio.file.Files.write(dir.resolve(tmpName), "dead\n".getBytes("UTF-8"))
      val key8 = hfs.makeQualified(new org.apache.hadoop.fs.Path(hp, "manifest-v8")).toString
      assert(coord.putIfAbsent(key8, tmpName), "setup: the dead claim must record")
      val e = intercept[VersionConflictException] {
        ManifestIo.commitFile(hfs, hp, "manifest-v8", "late\n")
      }
      assert(e.getMessage.contains("already committed"))
      assert(new String(java.nio.file.Files.readAllBytes(
        dir.resolve("manifest-v8")), "UTF-8") === "dead\n",
        "the later writer must complete the dead claimant's publish, not its own")
    } finally ManifestIo.clearCommitCoordinator()
    // default behavior unchanged: with no coordinator the scheme routes
    // through the same-process locked claim (the r14 test above pins it)
  }

  test("metadata race: a losing writer can never clobber the winner's committed schema (ADVICE r13 #1)") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-meta-race").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table, mkTT(0L until 60L, "base"),
      Seq.empty, "universeId", over, coal, keep, buckets = 16, retainVersions = 10)
    // writer A carries a SCHEMA-EVOLVING batch (new column) and loses the
    // round-1 race to plain writer B; the old pre-commit sidecar write
    // would have replaced B's committed schema with A's evolved one — and
    // A's conflict check would then have read back its own overwrite
    var inner: Merge.IncRoundStats = null
    val evolving = mkTT(Seq(3L), "wa").withColumn("studio", lit("acme"))
    val e = intercept[graft.operators.VersionConflictException] {
      Merge.upsertRound(spark, table, evolving, "universeId",
        over :+ "studio", coal, keep, buckets = 16, retainVersions = 10,
        hooks = Merge.IncHooks(beforeCommit = _ => if (inner == null) {
          inner = Merge.upsertRound(spark, table, mkTT(Seq(7L), "wb"),
            "universeId", over, coal, keep, buckets = 16, retainVersions = 10)
        }))
    }
    assert(e.getMessage.contains("metadata"), s"got: ${e.getMessage}")
    // the winner's version reads under the WINNER's schema — the loser's
    // evolved column is nowhere (metadata is inside the put-if-absent
    // manifest, so the loser structurally cannot have touched it)
    assert(inner.round === 1)
    assert(!Merge.readTableAt(spark, table, 1).columns.contains("studio"))
    assert(Merge.readTableAt(spark, table, 1)
      .filter(col("universeId") === 7L).select("name").head().getString(0) === "wb-7")
    // re-running the evolving round against fresh state lands cleanly
    val retried = Merge.upsertRound(spark, table, evolving, "universeId",
      over :+ "studio", coal, keep, buckets = 16, retainVersions = 10)
    assert(retried.round === 2)
    assert(Merge.readTable(spark, table).columns.contains("studio"))
  }

  test("deleteKeys: Bloom-pruned find phase, identical semantics, fragment-less fallback (round 14)") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-delkeys").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table, mkTT(0L until 480L, "base"),
      Seq(mkTT(Seq(3L, 21L), "r1")), "universeId", over, coal, keep,
      buckets = 8, retainVersions = 10)
    Merge.cluster(spark, table, "playerCount", filesPerBucket = 8,
      retainVersions = 10, bloomCols = Seq("universeId"))
    val before = Merge.readTable(spark, table).selectExpr(ttCols: _*)
      .orderBy("universeId").collect()
    val total = Merge.readTable(spark, table).inputFiles.length
    // the find phase is fragment-pruned: the probe names strictly fewer
    // files than the table holds (the ×100 del_s caveat's fix)
    val ids = Seq(3L, 350L, 999999L) // two present (distinct buckets), one absent
    val probe = Merge.pointProbe(spark, table, "universeId", ids)
    assert(probe.prunedGens > 0 && probe.relPaths.length < total,
      s"find phase must prune: ${probe.relPaths.length} of $total")
    val st = Merge.deleteKeys(spark, table, "universeId", ids, retainVersions = 10)
    assert(st.deletedRows === 2 && st.touchedBuckets === 2)
    assert(Merge.readTable(spark, table).selectExpr(ttCols: _*)
      .orderBy("universeId").collect() ===
      before.filterNot(r => ids.contains(r.getLong(0))),
      "deleteKeys == deleteWhere(IN) semantics")
    // pre-delete version still time-travels complete
    assert(Merge.readTableAt(spark, table, st.version - 1)
      .selectExpr(ttCols: _*).orderBy("universeId").collect() === before)
    // no matching keys -> no version burned
    assert(Merge.deleteKeys(spark, table, "universeId", Seq(999999L))
      .deletedRows === 0)
    assert(Merge.tableVersions(spark, table).max === st.version)

    // fragment-less table: deleteKeys falls back to the plain scan and
    // stays correct
    val table2 = s"$tmp/games2"
    Merge.upsertIncrementalRounds(spark, table2, mkTT(0L until 60L, "base"),
      Seq.empty, "universeId", over, coal, keep, buckets = 8, retainVersions = 10)
    val st2 = Merge.deleteKeys(spark, table2, "universeId", Seq(7L, 11L))
    assert(st2.deletedRows === 2)
    assert(Merge.readTable(spark, table2).count() === 58)
  }

  test("delete write skew: concurrent matching inserts conflict, never silently survive (ADVICE r13 #3)") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-skew").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table, mkTT(0L until 60L, "base"),
      Seq.empty, "universeId", over, coal, keep, buckets = 16, retainVersions = 10)
    // predicate universeId % 20 = 3 touches buckets {3, 7, 11}; the
    // concurrent writer inserts MATCHING key 63 into UNTOUCHED bucket 15
    // between the delete's predicate scan and its commit — the exact
    // write-skew window a touched-bucket-only conflict check misses
    var inner: Merge.IncRoundStats = null
    val e = intercept[graft.operators.VersionConflictException] {
      Merge.deleteWhere(spark, table, col("universeId") % 20 === 3L,
        retainVersions = 10,
        hooks = Merge.IncHooks(beforeCommit = _ => if (inner == null) {
          inner = Merge.upsertRound(spark, table, mkTT(Seq(63L), "wx"),
            "universeId", over, coal, keep, buckets = 16, retainVersions = 10)
        }))
    }
    assert(e.getMessage.contains("stale"), s"got: ${e.getMessage}")
    assert(inner.round === 1 && Merge.tableVersions(spark, table) === Seq(0, 1),
      "the winner's insert stands; the refused delete burned no version")
    // the re-run against fresh state removes EVERY matching row — 63 too
    Merge.deleteWhere(spark, table, col("universeId") % 20 === 3L,
      retainVersions = 10)
    assert(Merge.readTable(spark, table)
      .filter(col("universeId") % 20 === 3L).isEmpty)
    assert(Merge.readTable(spark, table).count() === 57,
      "60 base + 1 insert - 3 matching base keys - the matching insert")
  }

  test("takedownGraceVersions bounds takedown-to-physical latency table-wide (verdict r13 #7)") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-grace").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table, mkTT(0L until 60L, "base"),
      Seq(mkTT(Seq(3L, 21L), "r1")), "universeId", over, coal, keep,
      buckets = 16, retainVersions = 10)
    assert(Merge.tableVersions(spark, table) === Seq(0, 1))
    // grace 0: the takedown is physical IMMEDIATELY — no pre-delete
    // version survives, regardless of the caller's generous retention
    Merge.deleteWhere(spark, table, col("universeId") % 16 === 5L,
      retainVersions = 10, takedownGraceVersions = 0)
    assert(Merge.tableVersions(spark, table) === Seq(2),
      "grace 0 clamps retention to the delete version alone")
    val expired = intercept[IllegalArgumentException](
      Merge.readTableAt(spark, table, 1))
    assert(expired.getMessage.contains("expired"))
    // physical: a raw scan of the data dirs finds no deleted row
    assert(spark.read.parquet(table).filter(col("universeId") % 16 === 5L).isEmpty)
    // the policy PERSISTS in the manifest: a later writer's retention is
    // clamped too — compliance latency is configuration, not the accident
    // of whoever writes next
    Merge.upsertRound(spark, table, mkTT(Seq(8L), "r2"), "universeId",
      over, coal, keep, buckets = 16, retainVersions = 10)
    assert(Merge.tableVersions(spark, table) === Seq(3),
      "the persisted grace clamps every later writer's sweep")
  }

  test("manifest-served OPTIMIZE planning: per-bucket stats ride the bucket lines (round 16)") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-bstats").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table,
      mkTT(0L until 60L, "base").repartition(8),
      Seq(mkTT(Seq(3L, 21L), "r1")), "universeId", over, coal, keep,
      buckets = 16, retainVersions = 10)
    val mdir = java.nio.file.Paths.get(s"$table/_manifests")
    def latestManifest: java.nio.file.Path = {
      val latest = java.nio.file.Files.list(mdir).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("manifest-v"))
        .map(_.stripPrefix("manifest-v").toInt).max
      mdir.resolve(s"manifest-v$latest")
    }
    def bucketLines: Seq[Array[String]] =
      java.nio.file.Files.readAllLines(latestManifest).asScala.toSeq
        .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split(','))
    // every bucket line carries (files, bytes), and the recorded values
    // equal a real listing of the committed gen dir — ground truth
    val lines = bucketLines
    assert(lines.nonEmpty && lines.forall(_.length === 4),
      s"expected b,g,files,bytes lines, got ${lines.map(_.mkString(",")).mkString(" | ")}")
    lines.foreach { parts =>
      val dir = java.nio.file.Paths.get(s"$table/bucket=${parts(0)}/gen=${parts(1)}")
      val data = java.nio.file.Files.list(dir).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith(".")).toSeq
      assert(parts(2).toLong === data.size.toLong,
        s"file count drifted for bucket ${parts(0)}")
      assert(parts(3).toLong === data.map(java.nio.file.Files.size).sum,
        s"byte size drifted for bucket ${parts(0)}")
    }
    // OPTIMIZE planning is a manifest read: zero per-bucket listings
    val before = Merge.readTable(spark, table).selectExpr(ttCols: _*)
      .orderBy("universeId").collect()
    val st = Merge.compact(spark, table)
    assert(st.buckets > 0 && bucketLines.forall(_.length === 4),
      s"compaction must plan from and record the stats, got $st")
    assert(Merge.readTable(spark, table).selectExpr(ttCols: _*)
      .orderBy("universeId").collect() === before, "compaction changed content")
    // a manifest whose bucket lines lost their stats is refused with a
    // named error, never planned by listing the bucket dirs
    val version = Merge.tableVersions(spark, table).max
    java.nio.file.Files.write(latestManifest,
      java.nio.file.Files.readAllLines(latestManifest).asScala.map { l =>
        if (l.startsWith("#")) l else l.split(',').take(2).mkString(",")
      }.asJava)
    val refused = intercept[graft.operators.CorruptManifestException](
      Merge.compact(spark, table))
    assert(refused.getMessage.contains(s"manifest-v$version") &&
      refused.getMessage.contains(table) &&
      refused.getMessage.contains("no file count and bytes"),
      s"the refusal must name the table and version, got: ${refused.getMessage}")
    // so is a manifest without the format line every writer puts first
    java.nio.file.Files.write(latestManifest,
      java.nio.file.Files.readAllLines(latestManifest).asScala
        .filterNot(_ == "#format 2").asJava)
    val unformatted = intercept[graft.operators.CorruptManifestException](
      Merge.readTable(spark, table))
    assert(unformatted.getMessage.contains(s"manifest-v$version has no '#format 2' line"))
  }

  test("string-keyed point reads and takedowns ride the Bloom fragments (round 16)") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-strkey").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table, mkTT(0L until 120L, "base"),
      Seq(mkTT(Seq(3L, 21L), "r1")), "universeId", over, coal, keep,
      buckets = 8, retainVersions = 10)
    // the clustered rewrite sets the Bloom policy over the STRING column
    Merge.cluster(spark, table, "universeId", filesPerBucket = 3,
      retainVersions = 10, bloomCols = Seq("name"))
    val report = Merge.pointProbe(spark, table, "name", Seq("base-7"))
    assert(report.prunedGens > 0, s"the string probe must prune, got $report")
    val totalFiles = {
      val mdir = java.nio.file.Paths.get(s"$table/_manifests")
      val latest = java.nio.file.Files.list(mdir).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("manifest-v"))
        .map(_.stripPrefix("manifest-v").toInt).max
      java.nio.file.Files.readAllLines(mdir.resolve(s"manifest-v$latest")).asScala
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split(',')(2).toLong).sum
    }
    assert(report.relPaths.length < totalFiles,
      s"pruned read must open fewer than all $totalFiles files, got ${report.relPaths.length}")
    // pruning is never a correctness dependency: the Bloom-served read
    // returns exactly the plain filter's rows
    val served = Merge.readTableWhereIn(spark, table, "name", Seq("base-7"))
      .selectExpr(ttCols: _*).orderBy("universeId").collect()
    val plain = Merge.readTable(spark, table)
      .filter(col("name") === "base-7")
      .selectExpr(ttCols: _*).orderBy("universeId").collect()
    assert(served === plain && plain.nonEmpty)
    // string-keyed takedown: the find phase rides the same fragments
    val st = Merge.deleteKeys(spark, table, "name", Seq("base-7"),
      retainVersions = 1, takedownGraceVersions = 0)
    assert(st.deletedRows === 1L, s"expected one row down, got $st")
    assert(Merge.readTable(spark, table).filter(col("name") === "base-7").isEmpty)
    assert(Merge.readTable(spark, table).count() === 119L,
      "only the named row leaves the 120-row table")
  }

  test("auto-compact: files-per-bucket is a policy, decided from the committed stats (round 16)") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-autocpt").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    // bucket 0 only (ids ≡ 0 mod 4): the 4-partition merge shuffle leaves
    // its gen holding several files — the small-file shape the dial bounds
    Merge.upsertIncrementalRounds(spark, table,
      mkTT(0L until 64L, "base").repartition(8),
      Seq.empty, "universeId", over, coal, keep, buckets = 4,
      retainVersions = 10)
    def statsOfLatest(): Map[Int, Long] = {
      val mdir = java.nio.file.Paths.get(s"$table/_manifests")
      val latest = java.nio.file.Files.list(mdir).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("manifest-v"))
        .map(_.stripPrefix("manifest-v").toInt).max
      java.nio.file.Files.readAllLines(mdir.resolve(s"manifest-v$latest")).asScala
        .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split(','))
        .map(p => p(0).toInt -> p(2).toLong).toMap
    }
    // no policy: the round's write width decides files-per-bucket
    Merge.upsertRound(spark, table, mkTT(Seq(0L, 4L, 8L, 12L), "r1"),
      "universeId", over, coal, keep, buckets = 4, retainVersions = 10)
    assert(statsOfLatest().values.max > 2,
      s"precondition: a multi-file bucket, got ${statsOfLatest()}")
    val vBefore = Merge.tableVersions(spark, table).max
    // dial crossed: ONLY offenders rewritten (to 1 file), one extra
    // layout-only version
    Merge.upsertRound(spark, table, mkTT(Seq(0L, 4L, 8L, 12L), "r2"),
      "universeId", over, coal, keep, buckets = 4, retainVersions = 10,
      autoCompactAtFiles = Some(2))
    val after = statsOfLatest()
    assert(after.values.max <= 2,
      s"auto-compact must bound files per bucket at the dial, got $after")
    assert(Merge.tableVersions(spark, table).max === vBefore + 2,
      "one merge version + one layout-only auto-compact version")
    // dial NOT crossed: no layout version burned — the decision reads the
    // just-committed stats map, zero FS calls in the steady state
    val vQuiet = Merge.tableVersions(spark, table).max
    Merge.upsertRound(spark, table, mkTT(Seq(1L), "r3"),
      "universeId", over, coal, keep, buckets = 4, retainVersions = 10,
      autoCompactAtFiles = Some(100))
    assert(Merge.tableVersions(spark, table).max === vQuiet + 1,
      "under the dial, the round commits exactly its merge version")
    // the policy is a pure layout concern: contents match the unrolled merges
    val expected = Seq(mkTT(Seq(0L, 4L, 8L, 12L), "r1"),
      mkTT(Seq(0L, 4L, 8L, 12L), "r2"), mkTT(Seq(1L), "r3"))
      .foldLeft(mkTT(0L until 64L, "base"))((a, f) =>
        Merge.mergeUpsert(a, f, "universeId", over, coal, keep))
    assert(Merge.readTable(spark, table).selectExpr(ttCols: _*)
      .orderBy("universeId").collect() ===
      expected.selectExpr(ttCols: _*).orderBy("universeId").collect())
    // the DELETE writers honor the same dial: a takedown against a table
    // with wide buckets (8-way initial write) triggers the offender-only
    // compaction right after its commit
    val tableD = s"$tmp/games-del"
    Merge.upsertIncrementalRounds(spark, tableD,
      mkTT(0L until 64L, "base").repartition(8),
      Seq.empty, "universeId", over, coal, keep, buckets = 4,
      retainVersions = 10)
    def statsOf(t: String): Map[Int, Long] = {
      val mdir = java.nio.file.Paths.get(s"$t/_manifests")
      val latest = java.nio.file.Files.list(mdir).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("manifest-v"))
        .map(_.stripPrefix("manifest-v").toInt).max
      java.nio.file.Files.readAllLines(mdir.resolve(s"manifest-v$latest")).asScala
        .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split(','))
        .map(p => p(0).toInt -> p(2).toLong).toMap
    }
    assert(statsOf(tableD).values.max > 2, "precondition: wide buckets")
    Merge.deleteWhere(spark, tableD, col("universeId") === 8L,
      retainVersions = 10, autoCompactAtFiles = Some(2))
    assert(statsOf(tableD).values.max <= 2,
      s"delete-side auto-compact must bound files, got ${statsOf(tableD)}")
    assert(Merge.readTable(spark, tableD).filter(col("universeId") === 8L).isEmpty)
    assert(Merge.readTable(spark, tableD).count() === 63L)
  }

  test("compaction: fewer files, identical contents, idempotent no-op when compact") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-cpt").toString
    val table = s"$tmp/games"
    val initial = mkTT(0L until 60L, "base").repartition(8)
    val rounds = Seq(mkTT(Seq(3L, 21L), "r1"), mkTT(Seq(7L, 35L), "r2"))
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table, initial, rounds, "universeId",
      over, coal, keep, buckets = 16)
    val before = Merge.readTable(spark, table).selectExpr(ttCols: _*)
      .orderBy("universeId").collect()
    val st = Merge.compact(spark, table)
    assert(st.buckets > 0 && st.filesAfter < st.filesBefore,
      s"expected a file-count reduction, got $st")
    assert(st.filesAfter === 16L, "one file per bucket after compaction")
    // pure layout change: contents byte-identical through the reader
    assert(Merge.readTable(spark, table).selectExpr(ttCols: _*)
      .orderBy("universeId").collect() === before)
    // a second compaction is a no-op and does not burn a version
    val st2 = Merge.compact(spark, table)
    assert(st2.buckets === 0 && st2.version === st.version)
    assert(Merge.tableVersions(spark, table) === Seq(st.version))
    // and the table still accepts further incremental rounds after OPTIMIZE
    val more = mkTT(Seq(5L, 21L), "r3")
    Merge.upsertRound(spark, table, more, "universeId", over, coal, keep, buckets = 16)
    val expected = (rounds :+ more).foldLeft(initial)((a, f) =>
      Merge.mergeUpsert(a, f, "universeId", over, coal, keep))
    assert(Merge.readTable(spark, table).selectExpr(ttCols: _*)
      .orderBy("universeId").collect() ===
      expected.selectExpr(ttCols: _*).orderBy("universeId").collect())
  }

  test("compact rides OCC: a disjoint-bucket writer landing inside the commit window is benign (ADVICE r17)") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-cptocc").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    // 8-bucket table whose initial rows land only in buckets 0–3, written
    // 4-wide: those four buckets are the oversized set compact will claim
    Merge.upsertIncrementalRounds(spark, table,
      mkTT((0L until 32L).filter(_ % 8 < 4), "base").repartition(4),
      Seq.empty, "universeId", over, coal, keep, buckets = 8,
      retainVersions = 10)
    // the racing writer lands BETWEEN compact's planning read and its
    // commit (the only window a conflict can exist in — anything earlier
    // is simply part of the state compact plans over): its row goes to
    // bucket 5, disjoint from every oversized bucket, so compact must
    // merge and commit, not throw out of an already-successful caller
    var fired = false
    val st = Merge.compact(spark, table, targetFiles = 1,
      retainVersions = 10, onlyAboveFiles = Some(2),
      hooks = Merge.IncHooks(beforeCommit = _ => if (!fired) {
        fired = true
        Merge.upsertRound(spark, table, mkTT(Seq(5L), "race"), "universeId",
          over, coal, keep, buckets = 8, retainVersions = 10)
      }))
    assert(fired && st.buckets === 4,
      s"compact must still rewrite the four oversized buckets, got $st")
    // both writers' effects are in the final version: the racer's row AND
    // the bounded buckets
    val r = Merge.readTable(spark, table)
    assert(r.filter(col("name") === "race-5").count() === 1L)
    assert(r.count() === 17L)
    val mdir = java.nio.file.Paths.get(s"$table/_manifests")
    def statsOfLatest(): Map[Int, Long] = {
      val latest = java.nio.file.Files.list(mdir).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("manifest-v"))
        .map(_.stripPrefix("manifest-v").toInt).max
      java.nio.file.Files.readAllLines(mdir.resolve(s"manifest-v$latest")).asScala
        .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split(','))
        .map(p => p(0).toInt -> p(2).toLong).toMap
    }
    Seq(0, 1, 2, 3).foreach(b => assert(statsOfLatest()(b) === 1L,
      s"bucket $b compacted to one file, got ${statsOfLatest()}"))
  }

  test("auto-compact is best-effort: a racer rewriting the offender bucket cannot fail a committed round (ADVICE r17)") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-acbe").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    // 8-wide initial write: every bucket starts above the dial, so the
    // policy rewrite is guaranteed to run after the round's commit
    Merge.upsertIncrementalRounds(spark, table,
      mkTT(0L until 64L, "base").repartition(8),
      Seq.empty, "universeId", over, coal, keep, buckets = 4,
      retainVersions = 10)
    // the round's own commit is hook call #1; the auto-compact's commit is
    // hook call #2 — inject a racer that rewrites the OFFENDER bucket
    // right there, making the policy rewrite genuinely stale. The round
    // must still return success: its merge committed before the policy ran.
    var calls = 0
    val stats = Merge.upsertRound(spark, table,
      mkTT(Seq(0L, 4L, 8L, 12L), "r1"), "universeId",
      over, coal, keep, buckets = 4, retainVersions = 10,
      autoCompactAtFiles = Some(2),
      hooks = Merge.IncHooks(beforeCommit = _ => {
        calls += 1
        // id 5 → bucket 1: an OVERSIZED bucket (8-wide initial, untouched
        // by r1), so the policy rewrite's input is genuinely stale
        if (calls == 2)
          Merge.upsertRound(spark, table, mkTT(Seq(5L), "race"), "universeId",
            over, coal, keep, buckets = 4, retainVersions = 10)
      }))
    assert(calls >= 2, "the dial must have attempted the policy rewrite")
    assert(stats.round > 0, "the merge round itself committed")
    // no row lost on either side of the abandoned policy rewrite
    val r = Merge.readTable(spark, table)
    assert(r.filter(col("name") === "race-5").count() === 1L)
    assert(r.filter(col("name") === "r1-0").count() === 1L)
    assert(r.count() === 64L)
    // the next dialed round (no racer) completes the deferred compaction
    Merge.upsertRound(spark, table, mkTT(Seq(16L), "r2"), "universeId",
      over, coal, keep, buckets = 4, retainVersions = 10,
      autoCompactAtFiles = Some(2))
    val mdir = java.nio.file.Paths.get(s"$table/_manifests")
    val latest = java.nio.file.Files.list(mdir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("manifest-v"))
      .map(_.stripPrefix("manifest-v").toInt).max
    val after = java.nio.file.Files.readAllLines(
      mdir.resolve(s"manifest-v$latest")).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split(','))
      .map(p => p(0).toInt -> p(2).toLong).toMap
    assert(after.values.max <= 2,
      s"the dial re-checks at the next write and bounds the bucket, got $after")
  }

  /** Spark jobs `body` starts, each as the long call site of its stages
    * (top line: the last Spark method before user code). A barrier job in
    * its own group bounds the count: the listener bus delivers events in
    * order, so once the barrier's start arrives every job of `body` has
    * been seen. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"merge-spec-${java.util.UUID.randomUUID}"
    val barrierGroup = s"$group-barrier"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val barrierSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.add(js.stageInfos.headOption.fold("")(_.details))
          case Some(`barrierGroup`) => barrierSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "merge spec")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(barrierGroup, "barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(barrierSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  /** Jobs started while a DataFrame was being built, not run: schema
    * inference from parquet footers (or a parallel file listing). */
  private def readerJobs(jobs: Seq[String]): Seq[String] =
    jobs.filter(_.linesIterator.nextOption().exists(_.contains("DataFrameReader")))

  test("point reads answer under the committed schema after a round evolves one bucket") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val tmp = java.nio.file.Files.createTempDirectory("merge-pt-schema").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table,
      mkTT(0L until 80L, "base").withColumn("playerCount", col("playerCount").cast("int")),
      Seq.empty, "universeId", over, coal, keep, buckets = 4)
    Merge.cluster(spark, table, "playerCount", filesPerBucket = 4,
      bloomCols = Seq("universeId"))
    assert(Merge.readTable(spark, table).schema("playerCount").dataType === IntegerType)
    // one round touching bucket 0 only (key 4): it adds `score` and widens
    // playerCount to long; bucket 1 (key 5) keeps its int, score-less files
    Merge.upsertRound(spark, table, mkTT(Seq(4L), "r1").withColumn("score", lit(0.5)),
      "universeId", over :+ "score", coal, keep, buckets = 4)
    val all = Merge.readTable(spark, table)
    assert(all.schema("playerCount").dataType === LongType && all.columns.contains("score"))
    for (keys <- Seq(Seq(5L), Seq(4L), Seq(4L, 5L))) {
      assert(Merge.pointProbe(spark, table, "universeId", keys).prunedGens > 0,
        s"precondition: the read of $keys is fragment-pruned")
      val got = Merge.readTableWhereIn(spark, table, "universeId", keys)
      val want = all.filter(col("universeId").isin(keys: _*))
      assert(got.schema === want.schema, s"keys $keys")
      assert(got.collect().sortBy(_.getLong(0)).toSeq ===
        want.collect().sortBy(_.getLong(0)).toSeq, s"keys $keys")
    }
  }

  test("job shape: a pruned point read runs two jobs and an upsert round infers no schema") {
    val tmp = java.nio.file.Files.createTempDirectory("merge-jobs").toString
    val table = s"$tmp/games"
    val over = Seq("rootPlaceId", "name", "playerCount")
    val coal = Seq("description")
    val keep = Seq("gameplayDescription")
    Merge.upsertIncrementalRounds(spark, table, mkTT(0L until 80L, "base"),
      Seq.empty, "universeId", over, coal, keep, buckets = 4)
    Merge.cluster(spark, table, "playerCount", filesPerBucket = 4,
      bloomCols = Seq("universeId"))
    assert(Merge.pointProbe(spark, table, "universeId", Seq(3L)).prunedGens > 0)
    // the fragment scan and the read of the kept files — no footer inference
    val read = jobsOf {
      assert(Merge.readTableWhereIn(spark, table, "universeId", Seq(3L))
        .collect().map(_.getString(2)).toSeq === Seq("base-3"))
    }
    assert(read.length === 2, s"point read jobs:\n${read.mkString("\n--\n")}")
    // a round on a table with a sidecar policy writes fragments for its new
    // generation, reading it back under the schema it commits
    val round = jobsOf {
      Merge.upsertRound(spark, table, mkTT(Seq(3L, 6L), "r1"), "universeId",
        over, coal, keep, buckets = 4)
    }
    assert(round.nonEmpty && readerJobs(round).isEmpty,
      s"schema-inference jobs in an upsert round:\n${readerJobs(round).mkString("\n--\n")}")
  }
}

/** Test double for an object-store-like filesystem: a foreign scheme
  * (not `file`, not in ManifestIo's atomic-rename set) whose `rename`
  * replaces an existing destination — the behavior Hadoop's s3a/gcs
  * connectors exhibit (copy+delete, no precondition). */
class MockObjectStoreFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mockstore:///")
  override def getScheme: String = "mockstore"
}
