package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Merge
import graft.streaming.BucketedAppendState

/** Direct pins for the maintainers' round-12 storage layer (the
  * maintainer specs exercise it end-to-end; these isolate the commit
  * protocol itself): append semantics, replay no-op, small-table
  * versioning, retention sweep, and both crash windows. */
class BucketedAppendStateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def vecs(ids: Seq[Long]) =
    ids.map(id => (id, Seq(id.toDouble, 1.0))).toDF("vec_id", "v")
  private def cents(tag: String) =
    Seq((0, Seq(0.0, 1.0), tag)).toDF("cluster", "cv", "tag")

  test("append commits read as the union; replay is a no-op; small tables version") {
    val root = Files.createTempDirectory("bas-spec").toString
    val st = new BucketedAppendState(spark, root, buckets = 8,
      keyed = Map("vectors" -> "vec_id"), keepVersions = 8)
    st.commitFull(0L, Map("vectors" -> vecs(0L until 20L), "meta" -> cents("v0")))
    assert(st.latest === Some(0L))
    assert(st.read("vectors").count() === 20)

    val stats = st.commitAppend(1L,
      Map("vectors" -> vecs(100L until 105L), "meta" -> cents("v1"))).get
    assert(st.read("vectors").as[(Long, Seq[Double])].collect().map(_._1).toSet
      === ((0L until 20L) ++ (100L until 105L)).toSet)
    // change-sized write: a 5-row delta touches at most 5 buckets
    assert(stats.touchedBuckets <= 5 && stats.touchedBuckets > 0)
    assert(stats.writtenBytes < stats.stateBytes)
    // small table is per-version: each read surfaces its own commit
    assert(st.readAt("meta", 0L).select("tag").head().getString(0) === "v0")
    assert(st.readAt("meta", 1L).select("tag").head().getString(0) === "v1")
    // replay of a committed version: None, nothing changes
    assert(st.commitAppend(1L, Map("vectors" -> vecs(Seq(999L)))) === None)
    assert(st.latest === Some(1L))
    assert(st.read("vectors").count() === 25)
  }

  test("retention sweeps expired manifests, generations, and small dirs") {
    val root = Files.createTempDirectory("bas-ret").toString
    val st = new BucketedAppendState(spark, root, buckets = 4,
      keyed = Map("vectors" -> "vec_id"), keepVersions = 2)
    st.commitFull(0L, Map("vectors" -> vecs(0L until 10L), "meta" -> cents("v0")))
    st.commitAppend(1L, Map("vectors" -> vecs(Seq(50L)), "meta" -> cents("v1")))
    st.commitAppend(2L, Map("vectors" -> vecs(Seq(51L)), "meta" -> cents("v2")))
    assert(st.committedVersions === Seq(1L, 2L), "v0 expired under keep-2")
    val err = intercept[IllegalArgumentException](st.readAt("vectors", 0L))
    assert(err.getMessage.contains("expired"))
    // retained versions stay fully readable — including generations only
    // the old manifest referenced that the new ones carried forward
    assert(st.readAt("vectors", 1L).count() === 11)
    assert(st.readAt("vectors", 2L).count() === 12)
    assert(st.readAt("meta", 1L).select("tag").head().getString(0) === "v1")
    // small dirs are label-named (claimed write-once, round 15): the
    // sweep leaves exactly the two retained versions' dirs
    val metaDirs = new java.io.File(root).listFiles
      .map(_.getName).filter(_.startsWith("meta-v"))
    assert(metaDirs.length === 2,
      s"expired small dir swept, got ${metaDirs.mkString(",")}")
  }

  test("delta commits write ONLY the delta; collapse bounds generations per bucket") {
    val root = Files.createTempDirectory("bas-delta").toString
    val st = new BucketedAppendState(spark, root, buckets = 4,
      keyed = Map("vectors" -> "vec_id"), keepVersions = 16,
      maxGensPerBucket = 3)
    val full = st.commitFull(0L, Map("vectors" -> vecs(0L until 4000L))).get
    // a 2-row delta's write is tiny relative to what a touched-bucket
    // rewrite would be (each bucket holds ~1000 rows) — the ADVICE r12 #1
    // fix: appends land as a NEW generation, old rows are not rewritten
    val d1 = st.commitAppend(1L, Map("vectors" -> vecs(Seq(10000L, 10001L)))).get
    assert(d1.writtenBytes * 10 < full.writtenBytes,
      s"delta wrote ${d1.writtenBytes} of a ${full.writtenBytes}-byte state")
    // structural proof the old generation was untouched: the touched
    // buckets now carry TWO generations
    assert(st.liveGenCounts("vectors").values.max === 2)
    assert(st.read("vectors").count() === 4002)
    // repeated appends to the same buckets stack generations until the
    // collapse bound, never past it
    (2L to 8L).foreach(v =>
      st.commitAppend(v, Map("vectors" -> vecs(Seq(20000L + v)))))
    assert(st.read("vectors").count() === 4009)
    assert(st.liveGenCounts("vectors").values.max <= 3,
      s"collapse must bound gens/bucket: ${st.liveGenCounts("vectors")}")
  }

  test("small tables carry forward; late keyed tables commit; versionsOf is per-table") {
    val root = Files.createTempDirectory("bas-carry").toString
    val st = new BucketedAppendState(spark, root, buckets = 4,
      keyed = Map("vectors" -> "vec_id", "extra" -> "vec_id"), keepVersions = 16)
    st.commitFull(0L, Map("vectors" -> vecs(0L until 10L), "meta" -> cents("v0")))
    // delta WITHOUT meta: the small table carries forward (ADVICE r12 #2 —
    // the old manifest dropped it and readAt broke at the new version)
    st.commitAppend(1L, Map("vectors" -> vecs(Seq(50L))))
    assert(st.readAt("meta", 1L).select("tag").head().getString(0) === "v0")
    // a keyed table FIRST introduced after bootstrap is committed, not
    // silently dropped
    st.commitAppend(2L, Map("extra" -> vecs(Seq(7L))))
    assert(st.readAt("extra", 2L).count() === 1)
    assert(st.readAt("meta", 2L).select("tag").head().getString(0) === "v0")
    assert(st.readAt("vectors", 2L).count() === 11)
    // per-table versions: extra exists only from v2 on
    assert(st.versionsOf("extra") === Seq(2L))
    assert(st.versionsOf("meta") === Seq(0L, 1L, 2L))
    // an uncommitted table name errors descriptively (ADVICE r12 #3)
    val err = intercept[RuntimeException](st.readAt("ghost", 2L))
    assert(err.getMessage.contains("ghost") && err.getMessage.contains("vectors"))
  }

  test("deletes collapse only the touched buckets; commitFull replays are no-ops") {
    val root = Files.createTempDirectory("bas-del").toString
    val st = new BucketedAppendState(spark, root, buckets = 8,
      keyed = Map("vectors" -> "vec_id"), keepVersions = 16)
    st.commitFull(0L, Map("vectors" -> vecs(0L until 40L)))
    // replayed bootstrap/retrain: no-op (ADVICE r12 #4), state untouched
    assert(st.commitFull(0L, Map("vectors" -> vecs(0L until 5L))) === None)
    assert(st.read("vectors").count() === 40)
    val del = st.commitDelta(1L,
      appends = Map("vectors" -> vecs(Seq(100L))),
      deleteKeys = Map("vectors" -> Seq(3L, 17L).toDF("vec_id"))).get
    assert(del.touchedBuckets < 8, "delete must not touch every bucket")
    val ids = st.read("vectors").select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(3L) && !ids.contains(17L) && ids.contains(100L))
    assert(ids.size === 39)
    // the pre-delete version still time-travels complete
    assert(st.readAt("vectors", 0L).count() === 40)
    // replay of the delete version: no-op
    assert(st.commitDelta(1L, Map.empty,
      Map("vectors" -> Seq(5L).toDF("vec_id"))) === None)
    assert(st.read("vectors").count() === 39)
  }

  test("no resurrection: retrain and bucket-emptying deletes drop old gens (ADVICE r13 #2)") {
    // (a) commitFull retrain: a bucket that receives NO rows in the
    // retrain dataset must NOT keep its old gen list — the exact case a
    // post-heavy-deletion NSW rebuild routes through commitFull, where the
    // old per-bucket merge silently resurrected taken-down rows
    val root = Files.createTempDirectory("bas-resur").toString
    val st = new BucketedAppendState(spark, root, buckets = 8,
      keyed = Map("vectors" -> "vec_id"), keepVersions = 16)
    st.commitFull(0L, Map("vectors" -> vecs(0L until 40L)))
    st.commitFull(1L, Map("vectors" -> vecs(Seq(0L))))
    val retained = st.read("vectors").select("vec_id").collect().map(_.getLong(0))
    assert(retained.toSeq === Seq(0L),
      s"retrain must replace the WHOLE table entry; got ${retained.length} rows")

    // (b) commitDelta that empties a bucket: every row of one bucket
    // deleted — the emptied bucket must stay empty, not re-adopt its old
    // generations from the carried-forward manifest
    val root2 = Files.createTempDirectory("bas-resur2").toString
    val st2 = new BucketedAppendState(spark, root2, buckets = 8,
      keyed = Map("vectors" -> "vec_id"), keepVersions = 16)
    st2.commitFull(0L, Map("vectors" -> vecs(0L until 40L)))
    val byBucket = spark.read.parquet(s"$root2/vectors")
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).groupBy(_._2)
    val (b0, b0Rows) = byBucket.head
    val b0Ids = b0Rows.map(_._1).toSeq
    st2.commitDelta(1L, appends = Map.empty,
      deleteKeys = Map("vectors" -> b0Ids.toDF("vec_id")))
    val after = st2.read("vectors").select("vec_id").collect().map(_.getLong(0)).toSet
    assert(b0Ids.forall(id => !after.contains(id)),
      s"bucket $b0 was fully deleted but rows resurrected")
    assert(after.size === 40 - b0Ids.length)
  }

  test("vacuumLitter reclaims aged never-referenced dirs, keeps everything referenced") {
    val root = Files.createTempDirectory("bas-litter").toString
    val st = new BucketedAppendState(spark, root, buckets = 4,
      keyed = Map("vectors" -> "vec_id"), keepVersions = 8)
    st.commitFull(0L, Map("vectors" -> vecs(0L until 20L), "meta" -> cents("v0")))
    // plant litter: a gen dir and a small-table dir no manifest references
    // (a crashed-and-abandoned attempt's shape)
    vecs(Seq(777L)).withColumn("bucket", org.apache.spark.sql.functions.lit(0))
      .withColumn("gen", org.apache.spark.sql.functions.lit(999999L))
      .write.mode("append")
      .partitionBy("bucket", "gen").parquet(s"$root/vectors")
    cents("orphan").write.parquet(s"$root/meta-v99")
    // age gate: a FUTURE cutoff (negative age) makes everything "old
    // enough"; a past cutoff (huge age) reclaims nothing
    assert(st.vacuumLitter(olderThanMs = Long.MaxValue / 2) === 0,
      "young litter survives the age gate")
    val n = st.vacuumLitter(olderThanMs = -1000L)
    assert(n === 2, s"expected the 2 planted orphans reclaimed, got $n")
    assert(!new java.io.File(s"$root/meta-v99").exists)
    // referenced data intact
    assert(st.read("vectors").count() === 20)
    assert(st.read("meta").select("tag").head().getString(0) === "v0")
  }

  test("two same-version small-table racers: one winner pointing at its own bytes (round-15 #1)") {
    // The pre-round-15 shape wrote small tables mode(overwrite) at
    // $table-v$version with no claim: two same-version racers shared ONE
    // dir, so the manifest's winner could end up pointing at the LOSER's
    // bytes (whichever parquet write landed last). Labels are now drawn
    // through the same put-if-absent genmark claim as keyed generations —
    // every attempt writes its own dir, so the winner's manifest
    // structurally points at bytes the winner wrote itself.
    val root = Files.createTempDirectory("bas-race").toString
    def mk(hooks: Merge.IncHooks = Merge.IncHooks.none) = new BucketedAppendState(
      spark, root, buckets = 4, keyed = Map("vectors" -> "vec_id"),
      keepVersions = 8, hooks = hooks)
    mk().commitFull(0L, Map("vectors" -> vecs(0L until 10L), "meta" -> cents("v0")))
    // interleave: the loser has already WRITTEN its small-table bytes when
    // the winner's whole commit (write + manifest) lands inside its window
    val loser = mk(Merge.IncHooks(beforeCommit = v => if (v == 1) {
      mk().commitAppend(1L, Map("meta" -> cents("winner"))); () }))
    intercept[graft.operators.VersionConflictException](
      loser.commitAppend(1L, Map("meta" -> cents("loser"))))
    // the committed version resolves to the winner's OWN bytes
    assert(mk().readAt("meta", 1L).select("tag").head().getString(0) === "winner")
    // both attempts wrote distinct claimed dirs: v0's, the winner's, and
    // the loser's unreferenced litter
    val metaDirs = new java.io.File(root).listFiles
      .map(_.getName).filter(_.startsWith("meta-v"))
    assert(metaDirs.length === 3,
      s"expected 3 distinct claimed dirs, got ${metaDirs.mkString(",")}")
    // the loser's dir and its claim marker age out as litter; everything
    // referenced survives
    val reclaimed = mk().vacuumLitter(olderThanMs = -1000L)
    assert(reclaimed === 2, s"loser dir + marker expected, got $reclaimed")
    assert(mk().readAt("meta", 1L).select("tag").head().getString(0) === "winner")
    assert(mk().readAt("meta", 0L).select("tag").head().getString(0) === "v0")
  }

  test("two REAL JVMs race one store: child wins, parent conflicts cleanly (round 15)") {
    // the lake got its real fork this round (MergeSpec); the maintainer
    // store's claims are the same ManifestIo primitives — this pins them
    // across actual process boundaries too. The parent opens version 1,
    // is held in its beforeCommit window while a forked Spark process
    // commits version 1 (keyed rows + small table), then must lose with
    // a clean VersionConflictException; the committed version serves the
    // child's bytes, and the parent's claimed dirs are vacuumable litter.
    val root = Files.createTempDirectory("bas-2jvm").toString
    def mk(hooks: Merge.IncHooks = Merge.IncHooks.none) = new BucketedAppendState(
      spark, root, buckets = 4, keyed = Map("vectors" -> "vec_id"),
      keepVersions = 8, hooks = hooks)
    mk().commitFull(0L, Map("vectors" -> vecs(0L until 10L), "meta" -> cents("v0")))

    val goFile = java.nio.file.Paths.get(s"$root/go")
    val doneFile = java.nio.file.Paths.get(s"$root/done")
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    import scala.jdk.CollectionConverters._
    val inArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList
    val opens = inArgs.zipWithIndex.collect {
      case (a, i) if a == "--add-opens" && i + 1 < inArgs.size =>
        Seq(a, inArgs(i + 1))
    }.flatten
    val childLog = new java.io.File(s"$root/child.log")
    val child = new ProcessBuilder(
      (Seq(javaBin) ++ opens ++ Seq("-Xmx2g", "-cp", cp,
        "graft.StateRaceWriterMain", root, goFile.toString, doneFile.toString)): _*)
      .redirectErrorStream(true).redirectOutput(childLog).start()
    try {
      val parent = mk(Merge.IncHooks(beforeCommit = v => if (v == 1) {
        java.nio.file.Files.writeString(goFile, "go")
        val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
        while (!java.nio.file.Files.exists(doneFile) &&
            System.nanoTime() < deadline) Thread.sleep(50)
        assert(java.nio.file.Files.exists(doneFile),
          s"child never finished; log:\n${scala.io.Source.fromFile(childLog).mkString}")
      }))
      intercept[graft.operators.VersionConflictException](
        parent.commitAppend(1L,
          Map("vectors" -> vecs(200L until 205L), "meta" -> cents("parent"))))
      child.waitFor()
      assert(java.nio.file.Files.readString(doneFile) === "committed",
        s"child outcome; log:\n${scala.io.Source.fromFile(childLog).mkString}")
      // the committed version serves the CHILD's bytes on both tables
      assert(mk().readAt("meta", 1L).select("tag").head().getString(0) === "child")
      assert(mk().readAt("vectors", 1L).count() === 11L) // 10 base + child's 1
      // the parent's claimed dirs + markers are unreferenced litter
      assert(mk().vacuumLitter(olderThanMs = -1000L) > 0,
        "the refused parent attempt must be vacuumable litter")
      assert(mk().readAt("meta", 1L).select("tag").head().getString(0) === "child")
    } finally child.destroyForcibly()
  }

  test("crash on either side of the manifest rename recovers exactly-once") {
    val root = Files.createTempDirectory("bas-crash").toString
    val boom = new RuntimeException("crash")
    def stateWith(hooks: Merge.IncHooks) = new BucketedAppendState(spark, root,
      buckets = 4, keyed = Map("vectors" -> "vec_id"), keepVersions = 8,
      hooks = hooks)
    stateWith(Merge.IncHooks.none)
      .commitFull(0L, Map("vectors" -> vecs(0L until 10L)))

    // BEFORE the rename: gens written, nothing committed — state reads v0
    val pre = stateWith(Merge.IncHooks(beforeCommit = v => if (v == 1) throw boom))
    assert(intercept[RuntimeException](
      pre.commitAppend(1L, Map("vectors" -> vecs(Seq(50L))))) eq boom)
    assert(pre.latest === Some(0L))
    assert(pre.read("vectors").count() === 10)
    // the retry clears the uncommitted leftovers and lands cleanly
    val clean = stateWith(Merge.IncHooks.none)
    assert(clean.commitAppend(1L, Map("vectors" -> vecs(Seq(50L)))).isDefined)
    assert(clean.read("vectors").count() === 11)

    // AFTER the rename: committed, crash pre-ack — the replay is a no-op
    val post = stateWith(Merge.IncHooks(afterCommit = v => if (v == 2) throw boom))
    assert(intercept[RuntimeException](
      post.commitAppend(2L, Map("vectors" -> vecs(Seq(51L))))) eq boom)
    assert(post.latest === Some(2L))
    assert(post.commitAppend(2L, Map("vectors" -> vecs(Seq(51L)))) === None)
    assert(post.read("vectors").count() === 12)
  }

  test("bytes-measured bootstrap: wide rows get more buckets, recorded layout wins (round 16)") {
    val target = 1L << 14 // fixture-scaled per-bucket byte unit
    val n = 512L
    val narrow = (0L until n).map(id => (id, "x")).toDF("doc_id", "payload")
    // high-entropy payloads — a constant blob would dictionary-encode to
    // nothing and the probe would (correctly!) report narrow bytes
    val wide = (0L until n).map(id =>
      (id, (0 until 256).map(i =>
        java.lang.Long.toHexString((id * 256 + i + 1) * 0x9e3779b97f4a7c15L))
        .mkString("-"))).toDF("doc_id", "payload")
    val rootN = Files.createTempDirectory("bas-sized-n").toString
    val rootW = Files.createTempDirectory("bas-sized-w").toString
    val bN = BucketedAppendState.measuredBuckets(spark, rootN, narrow, n, target)
    val bW = BucketedAppendState.measuredBuckets(spark, rootW, wide, n, target)
    // same row count, ~100× the bytes: the bytes dial must see it — the row
    // dial structurally cannot (the ×100 lesson of
    // graft.tools.DeleteScale @ c6e9ec7)
    assert(bW > bN, s"wide rows must size to more buckets: narrow=$bN wide=$bW")
    assert(bN >= 16, "floor holds")
    // the probe cleans up after itself on both paths
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(rootN, ".sizing-probe")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(rootW, ".sizing-probe")))
    // an existing store's recorded layout always wins — reopen can never
    // resize a frozen on-disk hash layout, whatever the sample says
    val st = new BucketedAppendState(spark, rootW, buckets = 8,
      keyed = Map("t" -> "doc_id"))
    st.commitFull(0L, Map("t" -> wide))
    assert(BucketedAppendState.measuredBuckets(spark, rootW, wide, n, target) === 8)

    // the maintainer wiring: a store bootstrapped through the bytes dial
    // records the measured count as its frozen layout
    val dedupDir = Files.createTempDirectory("bas-sized-dedup").toString
    val docs = (0L until 64L).map(id =>
      (id, s"alpha beta gamma delta epsilon token$id", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    new graft.streaming.StreamingIncrementalDedup(spark, dedupDir, docs,
      targetBucketBytes = Some(target))
    val recorded = BucketedAppendState.recordedBuckets(spark, dedupDir)
    assert(recorded.nonEmpty && recorded.get >= 16,
      s"bytes-dial bootstrap must freeze a recorded layout, got $recorded")
  }

  test("aligned delta writes land one file per touched bucket; collapse stagger desynchronizes rewrites (round 17)") {
    val root = Files.createTempDirectory("bas-align").toString
    val st = new BucketedAppendState(spark, root, buckets = 8,
      keyed = Map("vectors" -> "vec_id"), keepVersions = 32,
      maxGensPerBucket = 2, collapseStagger = 3)
    st.commitFull(0L, Map("vectors" -> vecs(0L until 400L)))
    // ALIGNED delta (round 17 default): each touched bucket's new generation is
    // exactly ONE file, not one per shuffle task — the
    // graft.tools.StateGrowthScale @ c6e9ec7 finding (unaligned layout carried
    // ~16× the files and full reads degraded ~3× across the gen cycle)
    st.commitAppend(1L, Map("vectors" -> vecs(1000L until 1100L)))
    val bucketDirs = new java.io.File(s"$root/vectors").listFiles
      .filter(_.getName.startsWith("bucket="))
    assert(bucketDirs.nonEmpty)
    bucketDirs.foreach { b =>
      b.listFiles.filter(_.getName.startsWith("gen=")).foreach { g =>
        val files = g.listFiles.filter(f => f.getName.endsWith(".parquet"))
        assert(files.length === 1,
          s"aligned gen must be one file, ${b.getName}/${g.getName} has ${files.length}")
      }
    }
    // STAGGERED collapse: per-bucket thresholds sit in
    // [maxGens, maxGens + stagger], so under UNIFORM all-bucket appends
    // the gen lists do NOT collapse in lockstep — at least one
    // intermediate round must show buckets at different depths, and the
    // documented bound holds throughout
    var sawDesync = false
    (2L to 12L).foreach { v =>
      st.commitAppend(v, Map("vectors" -> vecs((2000L + v * 100L) until (2000L + v * 100L + 100L))))
      val counts = st.liveGenCounts("vectors").values.toSeq
      assert(counts.max <= 2 + 3,
        s"stagger bound maxGens+stagger violated: $counts")
      if (counts.distinct.size > 1) sawDesync = true
    }
    assert(sawDesync,
      "staggered thresholds must desynchronize collapses under uniform appends")
    // contents stay exact across the staggered collapses
    assert(st.read("vectors").count() === 400L + 100L * 12L)
  }
}
