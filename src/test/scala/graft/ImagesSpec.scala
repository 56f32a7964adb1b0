package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Images

object ImagesSpec {
  /** Serializable stubs (top-level: executors must not capture the suite). */
  val resolver: Seq[(Long, String)] => Seq[(Long, String, String)] =
    batch => batch.map { case (id, kind) => (id, kind, s"https://cdn/$kind/$id.png") }
  val fetcher: String => Array[Byte] = url => s"PNGBYTES:$url".getBytes("UTF-8")
}

class ImagesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("missing-image anti-join, URL resolution, and idempotent blob sink") {
    val games = Seq(1L, 2L, 3L).toDF("universeId")
    val listing = Seq((1L, "icon"), (1L, "thumbnail"), (2L, "icon")).toDF("universeId", "kind")

    val missing = Images.missingImages(games, listing)
    val missingSet = missing.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(missingSet === Set((2L, "thumbnail"), (3L, "icon"), (3L, "thumbnail")))

    val urls = Images.resolveUrls(spark, missing, ImagesSpec.resolver)
    assert(urls.count() === 3L)

    val out = Files.createTempDirectory("graft-blobs").toString
    val (w1, s1) = Images.downloadBlobs(spark, urls, out, ImagesSpec.fetcher)
    assert((w1, s1) === ((3L, 0L)))
    assert(Files.exists(Paths.get(out, "3", "icon.png")))
    assert(new String(Files.readAllBytes(Paths.get(out, "2", "thumbnail.png")), "UTF-8")
      === "PNGBYTES:https://cdn/thumbnail/2.png")

    // second run: everything exists → all skipped, nothing rewritten
    val (w2, s2) = Images.downloadBlobs(spark, urls, out, ImagesSpec.fetcher)
    assert((w2, s2) === ((0L, 3L)))
  }

  test("binaryFile blob listing closes the loop: sink output is scan input") {
    val dir = Files.createTempDirectory("graft-blobscan").toString
    // the reference's data/images/<id>/<kind>.png layout, plus noise a
    // listing must ignore
    for ((id, kind) <- Seq((10L, "icon"), (10L, "thumbnail"), (20L, "icon"))) {
      Files.createDirectories(Paths.get(dir, id.toString))
      Files.write(Paths.get(dir, id.toString, s"$kind.png"), Array[Byte](1, 2, 3))
    }
    Files.write(Paths.get(dir, "10", "notes.txt"), Array[Byte](9))
    Files.createDirectories(Paths.get(dir, "weird"))
    Files.write(Paths.get(dir, "weird", "icon.png"), Array[Byte](9))

    val listing = Images.listBlobs(spark, dir)
    val got = listing.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((10L, "icon"), (10L, "thumbnail"), (20L, "icon")))

    // the listing feeds the P8 anti-join directly
    val games = Seq(10L, 20L, 30L).toDF("universeId")
    val missing = Images.missingImages(games, listing)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(missing === Set((20L, "thumbnail"), (30L, "icon"), (30L, "thumbnail")))
  }

  test("/stats icon counters run off the real blob-store scan") {
    val dir = Files.createTempDirectory("graft-blobstats").toString
    // fixture game ids: give game 1 both blobs, game 2 an icon only
    for ((id, kind) <- Seq((1L, "icon"), (1L, "thumbnail"), (2L, "icon"))) {
      Files.createDirectories(Paths.get(dir, id.toString))
      Files.write(Paths.get(dir, id.toString, s"$kind.png"), Array[Byte](1))
    }
    val svc = graft.api.GameService.forDir(spark, SparkTestSession.Sf0001, Some(dir))
    val stats = svc.stats()
    // sf0.001 has 500 games; 499 lack icons, 498 lack nothing... compute:
    // 2 games have icons -> 498 lacking; 1 has a thumbnail -> 499 lacking
    assert(stats.contains(""""gamesLackingIcons":498"""))
    assert(stats.contains(""""gamesLackingThumbnails":499"""))
  }

  test("/stats re-lists the blob store per call and counts a repeated blob once") {
    // recursiveFileLookup finds both a/123/icon.png and b/123/icon.png
    val dir = Files.createTempDirectory("graft-blobdups").toString
    for (sub <- Seq("a", "b")) {
      Files.createDirectories(Paths.get(dir, sub, "123"))
      Files.write(Paths.get(dir, sub, "123", "icon.png"), Array[Byte](1))
    }
    assert(Images.listBlobs(spark, dir).count() === 2L)
    val svc = graft.api.GameService.forDir(spark, SparkTestSession.Sf0001, Some(dir))
    val stats = svc.stats()
    assert(stats.contains(""""totalGames":500"""), stats)
    assert(stats.contains(""""gamesLackingIcons":499"""), stats)
    assert(stats.contains(""""gamesLackingThumbnails":500"""), stats)
    // a blob written under the running service shows in the next call
    Files.write(Paths.get(dir, "a", "123", "thumbnail.png"), Array[Byte](1))
    assert(svc.stats().contains(""""gamesLackingThumbnails":499"""))
  }
}
