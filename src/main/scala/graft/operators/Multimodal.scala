package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `BINARY` columns with typed metadata, batch "decoded" inside
  * `mapPartitions`. The reference stores blobs on the filesystem
  * (data/games/images/NNN/icon.png — src/lib/commands/downloadImages.ts:
  * 49-58); at scale the blobs ride IN the table (or a binaryFile scan) so
  * decode work distributes with the data instead of hammering a shared FS.
  *
  * The decode step itself is STUBBED (deterministic fake dimensions derived
  * from the bytes — no image codec ships in this environment); everything
  * around it — binary column, schema, batch shape, partition-parallel
  * execution — is real and oracle-checked. A real deployment replaces
  * `fakeDecode` with the codec call and nothing else moves.
  */
object Multimodal {

  /** The stand-in "decoder": deterministic dimensions from the blob hash.
    * Replace with a real codec (e.g. javax.imageio / ffmpeg bindings). */
  private def fakeDecode(bytes: Array[Byte]): (Int, Int, Int) = {
    val h = StubHash.h32(bytes)
    (((h % 640) + 16).toInt, (((h / 7) % 480) + 16).toInt, ((h % 7) + 1).toInt)
  }

  private object StubHash {
    def h32(bytes: Array[Byte]): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(bytes).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
  }

  /** Binary ingest + batched stub decode: text bytes stand in for image
    * blobs; output is the typed metadata a real decode would produce. */
  def decodeStub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val blobs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
    blobs.as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // batch shape: a real codec amortizes per-batch init (decoder
        // context, GPU handle) exactly here
        it.grouped(16).flatMap { batch =>
          batch.map { case (id, bytes) =>
            val (w, h, f) = fakeDecode(bytes)
            (id, bytes.length, w, h, f)
          }
        }
      }
      .toDF("doc_id", "byte_len", "width", "height", "n_frames")
      .orderBy(col("doc_id"))
  }

  val decodeStubSql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |         octet_length(encode(text)) AS byte_len,
      |         CAST('0x' || substring(md5(text), 1, 8) AS BIGINT) AS hv
      |  FROM documents)
      |SELECT doc_id, CAST(byte_len AS INTEGER) AS byte_len,
      |  CAST((hv % 640) + 16 AS INTEGER) AS width,
      |  CAST(((hv // 7) % 480) + 16 AS INTEGER) AS height,
      |  CAST((hv % 7) + 1 AS INTEGER) AS n_frames
      |FROM h
      |ORDER BY doc_id""".stripMargin

  /** F14 — base64 data-URI composition, the vision-input encoding the
    * reference builds for LLM image input
    * (generateGameplayDescriptions.ts:81,97). */
  def dataUri(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(lit("data:image/png;base64,"),
          // Spark's base64 is the MIME variant (CRLF-wrapped every 76
          // chars); strip the wraps for a standard single-line data URI
          regexp_replace(base64(col("text").cast("binary")), "[\\r\\n]", ""))
          .as("data_uri"))
      .orderBy(col("doc_id"))

  val dataUriSql: String =
    """SELECT doc_id,
      |  'data:image/png;base64,' || to_base64(encode(text)) AS data_uri
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Frame-sample + resize plumbing for video-shaped blobs: each blob's
    * stub-decoded frame count is sampled at stride 2 (EXPLODE — one output
    * row per kept frame, so frame work distributes like any other row),
    * every kept frame gets a deterministic fingerprint (stand-in for a
    * pHash/embedding the real codec would emit), and a resize-to-224 step
    * records its scale factors. The codec is the only fake: the schema,
    * the explode shape, and the per-frame parallelism are exactly what a
    * real video pipeline runs, and the whole thing replays in DuckDB. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.OracleParity.pround
    Tables.documents(spark, dir)
      .withColumn("hv", expr("cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)"))
      .withColumn("n_frames", expr("cast(hv % 7 + 1 as int)"))
      .withColumn("width", expr("cast(hv % 640 + 16 as int)"))
      .withColumn("height", expr("cast((hv div 7) % 480 + 16 as int)"))
      .select(col("doc_id"), col("text"), col("width"), col("height"),
        explode(expr("sequence(0, n_frames - 1, 2)")).as("frame_idx"))
      .select(
        col("doc_id"),
        col("frame_idx").cast("int").as("frame_idx"),
        expr("cast(conv(substring(md5(concat(text, ':', cast(frame_idx as string))), 1, 8), 16, 10) as bigint)")
          .as("frame_fp"),
        lit(224).as("resized_w"), lit(224).as("resized_h"),
        pround(lit(224.0) / col("width"), 4).as("scale_x"),
        pround(lit(224.0) / col("height"), 4).as("scale_y"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  val frameSampleSql: String =
    """WITH h AS (
      |  SELECT doc_id, text,
      |         CAST('0x' || substring(md5(text), 1, 8) AS BIGINT) AS hv
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, text,
      |         CAST(hv % 7 + 1 AS INTEGER) AS n_frames,
      |         CAST(hv % 640 + 16 AS INTEGER) AS width,
      |         CAST((hv // 7) % 480 + 16 AS INTEGER) AS height
      |  FROM h),
      |f AS (
      |  SELECT doc_id, text, width, height,
      |         unnest(generate_series(0, n_frames - 1, 2)) AS frame_idx
      |  FROM d)
      |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
      |       CAST('0x' || substring(md5(text || ':' || CAST(frame_idx AS VARCHAR)), 1, 8) AS BIGINT) AS frame_fp,
      |       224 AS resized_w, 224 AS resized_h,
      |       floor(224.0 / width * 10000 + 0.5) / 10000.0 AS scale_x,
      |       floor(224.0 / height * 10000 + 0.5) / 10000.0 AS scale_y
      |FROM f
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** AS-OF JOIN — the temporal-alignment operator a multimodal pipeline
    * needs (pair each video frame with the latest audio chunk at or before
    * its timestamp: captioning, lip-sync, transcript alignment) and a
    * classic operator Spark has no built-in for. Implemented as
    * UNION-AND-CARRY: tag both streams, union, and run ONE window
    * partitioned by doc ordered by (ts, kind) carrying the last audio row
    * forward (`last(..., ignoreNulls)` over unbounded-preceding); frame
    * rows then read their as-of match off the carried columns. One shuffle
    * on the doc key, sort within partition, zero range explosion — the
    * shape that survives 100 TB, unlike the naive per-frame max-filter
    * (quadratic in chunks) or an unbanded range join. Ties (audio exactly
    * at frame time) match by ordering audio (kind 0) before frames
    * (kind 1); frames before any audio emit -1, exercising LEFT semantics.
    *
    * Streams are hash-derived from the fixture (frames every 40 ms; audio
    * every 37 ms plus a 0–19 ms md5 jitter, monotone since 37 > 19). The
    * oracle is DuckDB's NATIVE `ASOF LEFT JOIN` — the strongest possible
    * cross-check: a hand-built windowed plan must reproduce a purpose-built
    * engine operator row for row. */
  def asofAlign(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = Tables.documents(spark, dir)
      .withColumn("hv", expr("cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)"))
    val frames = h
      .select(col("doc_id"), explode(expr("sequence(0, cast(hv % 7 as int))")).as("idx"))
      .select(col("doc_id"), lit(1).as("kind"), col("idx"),
        (col("idx") * 40L).as("ts"))
    val audio = h
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(0, cast(hv % 5 as int) + 1)")).as("idx"))
      .select(col("doc_id"), lit(0).as("kind"), col("idx"),
        (col("idx") * 37L +
          expr("cast(conv(substring(md5(concat(cast(doc_id as string), ':', cast(idx as string))), 1, 8), 16, 10) as bigint) % 20")
        ).as("ts"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("ts"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    frames.unionByName(audio)
      .withColumn("a_idx",
        last(when(col("kind") === 0, col("idx")), ignoreNulls = true).over(w))
      .withColumn("a_ts",
        last(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("doc_id"), col("idx").cast("long").as("frame_idx"),
        col("ts").as("f_ts_ms"),
        coalesce(col("a_idx").cast("long"), lit(-1L)).as("a_idx"),
        coalesce(col("ts") - col("a_ts"), lit(-1L)).as("lag_ms"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  val asofAlignSql: String =
    """WITH h AS (
      |  SELECT doc_id, text,
      |         CAST('0x' || substring(md5(text), 1, 8) AS BIGINT) AS hv
      |  FROM documents),
      |frames AS (
      |  SELECT doc_id, unnest(generate_series(0, CAST(hv % 7 AS INTEGER))) AS idx
      |  FROM h),
      |f AS (SELECT doc_id, idx, idx * 40 AS ts FROM frames),
      |chunks AS (
      |  SELECT doc_id,
      |         unnest(generate_series(0, CAST(hv % 5 AS INTEGER) + 1)) AS idx
      |  FROM h),
      |a AS (
      |  SELECT doc_id, idx,
      |         idx * 37 + CAST('0x' || substring(
      |           md5(doc_id::VARCHAR || ':' || idx::VARCHAR), 1, 8) AS BIGINT) % 20 AS ts
      |  FROM chunks)
      |SELECT f.doc_id, CAST(f.idx AS BIGINT) AS frame_idx,
      |       CAST(f.ts AS BIGINT) AS f_ts_ms,
      |       coalesce(CAST(a.idx AS BIGINT), -1) AS a_idx,
      |       coalesce(CAST(f.ts - a.ts AS BIGINT), -1) AS lag_ms
      |FROM f ASOF LEFT JOIN a
      |  ON f.doc_id = a.doc_id AND f.ts >= a.ts
      |ORDER BY f.doc_id, frame_idx""".stripMargin

  // ------------------------------------------------ perceptual-hash dedup

  /** dHash geometry: a 6×11 stub-decoded grayscale grid gives 6 rows × 10
    * horizontal gradients = 60 signature bits — the same bit budget as
    * [[Dedup.dedupSimhash]], so the proven 15-bit × 4-chunk banding (2^15
    * buckets, occupancy corpus-hash-uniform) carries over unchanged. */
  private val PhRows = 6
  private val PhCols = 11
  private val PhBits = PhRows * (PhCols - 1) // 60
  private val PhChunkBits = 15
  private val PhChunks = 4
  private val PhHammingMax = 6

  /** MULTIMODAL NEAR-DUP (round-15; verdict r14 #2): perceptual-hash
    * (dHash — gradient-sign) banded image deduplication, closing the gap
    * the dedup family had for image/frame columns (text is hash/minhash/
    * simhash/substring; embeddings are cosine — pixels had nothing).
    *
    * The DECODE is the stub ([[decodeStub]]'s convention): a deterministic
    * 6×11 "grayscale thumbnail" derived per document — pixel i is an
    * md5-derived byte of the i-th token, padded deterministically past the
    * text — so near-identical sources produce near-identical grids, the
    * property a real thumbnail decode has and the reason dHash works. A
    * real deployment swaps the grid for the codec's downsampled luma plane
    * and nothing downstream moves. Everything AFTER the stub is the real
    * operator, identical in shape to [[Dedup.dedupSimhash]]:
    *
    *   - dHash: bit (r,c) = 1 iff px(r,c) < px(r,c+1) — 60 bits packed
    *     into one BIGINT per image;
    *   - candidates: block on 15-bit signature chunks (4 bands, equi-join
    *     on (band, chunk) — NO all-pairs anywhere, candidate volume tracks
    *     similarity mass);
    *   - verify: exact Hamming distance ≤ [[PhHammingMax]].
    *
    * Scale shape at 100 TB: one map pass per image for the hash, one shuffle on
    * the 8-byte (band, chunk) key, exact verify only on colliding pairs — the
    * same plan the text SimHash family already proved flat at ×10/×100
    * (SCALING.md graft.tools.NearDupSweep @ c6e9ec7). */
  def phashDedup(spark: SparkSession, dir: String): DataFrame =
    // persist (tracked — the dedupNgramJaccard precedent) is LOAD-BEARING
    // here, not a cache nicety: phash is an aggregate lambda over a
    // DERIVED array column (px), and Catalyst's project collapse inlines
    // px's 66-md5 transform into every one of the aggregate's 120
    // element_at sites — the un-materialized plan recomputes the grid
    // thousands of times per row (measured: 1431 s at sf0.1 vs ~10 s
    // materialized). Persisting the (doc_id, phash) frame pins the
    // signature pass to exactly one evaluation per image.
    phashPairs(
      graft.tools.CacheRegistry.persistTracked(phashFrame(spark, dir)),
      PhHammingMax)
      .orderBy(col("a_id"), col("b_id"))

  /** (doc_id, phash): the stub decode + dHash signature pass. */
  private[graft] def phashFrame(spark: SparkSession, dir: String): DataFrame = {
    val grid = Dedup.corpus(spark, dir)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      // pixels past the text are DOC-DERIVED (first token ⊕ position), not
      // a shared constant: a content-independent pad would put every short
      // doc's high-order gradient rows into the SAME signature chunks —
      // one Θ(corpus) LSH bucket, the all-pairs degeneracy the dedup
      // family forbids (Dedup.scala's header invariant). Seeding the pad
      // from the doc keeps unrelated docs in unrelated buckets while a
      // doc and its near-duplicate (same leading content) still share it.
      .withColumn("px", expr(
        s"""transform(sequence(0, ${PhRows * PhCols - 1}), i ->
           |  CASE WHEN i < size(toks)
           |       THEN cast(conv(substring(md5(element_at(toks, i + 1)), 1, 2), 16, 10) as int)
           |       ELSE cast(conv(substring(md5(concat(element_at(toks, 1), ':', cast(i as string))), 1, 2), 16, 10) as int) END)""".stripMargin))
    val hashed = grid.select(col("doc_id"), expr(
      s"""aggregate(sequence(0, ${PhBits - 1}), cast(0 as bigint), (acc, b) ->
         |  acc + CASE WHEN element_at(px, cast((b div ${PhCols - 1}) * $PhCols + (b % ${PhCols - 1}) + 1 as int))
         |                 < element_at(px, cast((b div ${PhCols - 1}) * $PhCols + (b % ${PhCols - 1}) + 2 as int))
         |             THEN shiftleft(cast(1 as bigint), b) ELSE cast(0 as bigint) END)""".stripMargin)
      .as("phash"))
    hashed
  }

  /** REAL-DECODE dHash (round-16, verdict r15 #5): the same 6×11 grid
    * and gradient-sign packing as [[phashFrame]], fed by an actual image
    * codec — `javax.imageio` (pure JVM, headless, no network) — over a
    * `binaryFile` scan of the reference's blob layout
    * (`<dir>/<universeId>/<kind>.png`, downloadImages.ts:15-58). Decode +
    * downsample run inside `mapPartitions` like [[decodeStub]] (the
    * per-batch codec-amortization point; one map pass per image, no
    * shuffle); everything downstream — banding, candidate equi-join,
    * exact-Hamming verify — is [[phashPairs]] UNCHANGED, which is what
    * keeps the hash-matched stub oracle query (`dedup_phash`) the gate
    * for the operator while a golden-signature spec pins the decode.
    *
    * The grid is a deterministic BOX AVERAGE of each cell's BT.601 luma
    * (0.299 R + 0.587 G + 0.114 B over the cell's pixel block), NOT a
    * Graphics2D scale — scaler interpolation varies across JVMs and
    * platforms, and a perceptual signature must not. Undecodable blobs
    * yield no row — a corrupt image cannot poison a band bucket. */
  def phashFrameFromImages(images: DataFrame): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    val pat = "/(\\d+)/(?:icon|thumbnail)\\.png$"
    images
      .select(regexp_extract(col("path"), pat, 1).as("id_str"), col("content"))
      .filter(col("id_str") =!= "")
      .select(col("id_str").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(16).flatMap(_.flatMap { case (id, bytes) =>
        dHashOfImage(bytes).map(id -> _)
      }))
      .toDF("doc_id", "phash")
  }

  /** Banded near-dup pairs over REAL decoded images: `dir` is a blob-store
    * root in the reference layout; the persist pins one decode per image
    * across the candidate join's two sides. */
  def phashDedupImages(spark: SparkSession, imagesDir: String,
      maxHamming: Int = PhHammingMax): DataFrame =
    phashPairs(
      graft.tools.CacheRegistry.persistTracked(phashFrameFromImages(
        spark.read.format("binaryFile")
          .option("pathGlobFilter", "*.png")
          .option("recursiveFileLookup", "true")
          .load(imagesDir))),
      maxHamming)
      .orderBy(col("a_id"), col("b_id"))

  /** The 60-bit dHash of one encoded image, None when the codec cannot
    * decode the bytes. */
  private[graft] def dHashOfImage(bytes: Array[Byte]): Option[Long] = {
    val img =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case _: java.io.IOException => None; case _: RuntimeException => None }
    img.filter(i => i.getWidth > 0 && i.getHeight > 0).map { i =>
      val px = grayGrid(i)
      var acc = 0L
      var b = 0
      while (b < PhBits) {
        val r = b / (PhCols - 1); val c = b % (PhCols - 1)
        if (px(r * PhCols + c) < px(r * PhCols + c + 1)) acc |= 1L << b
        b += 1
      }
      acc
    }
  }

  /** [[PhRows]]×[[PhCols]] box-averaged BT.601 luma grid, row-major.
    * Cell (r,c) averages the pixel block [r·h/R,(r+1)·h/R) ×
    * [c·w/C,(c+1)·w/C) — images smaller than the grid reuse pixels
    * (bounds are clamped to at least one pixel per cell). */
  private def grayGrid(img: java.awt.image.BufferedImage): Array[Double] = {
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Double](PhRows * PhCols)
    var r = 0
    while (r < PhRows) {
      val y0 = math.min(r * h / PhRows, h - 1)
      val y1 = math.max(y0 + 1, (r + 1) * h / PhRows)
      var c = 0
      while (c < PhCols) {
        val x0 = math.min(c * w / PhCols, w - 1)
        val x1 = math.max(x0 + 1, (c + 1) * w / PhCols)
        var sum = 0.0; var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += 0.299 * ((rgb >> 16) & 0xff) +
              0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
            n += 1; x += 1
          }
          y += 1
        }
        out(r * PhCols + c) = sum / n
        c += 1
      }
      r += 1
    }
    out
  }

  /** Banded signature chunks of a (doc_id, phash) frame. */
  private[graft] def phashChunks(hashed: DataFrame): DataFrame =
    hashed
      .select(col("doc_id"), col("phash"),
        explode(sequence(lit(0), lit(PhChunks - 1))).as("k"))
      .withColumn("chunk",
        expr(s"shiftright(phash, $PhChunkBits * k) & ${(1 << PhChunkBits) - 1}"))

  /** Banded candidates → exact-Hamming verify at `maxHamming`. */
  private[graft] def phashPairs(hashed: DataFrame, maxHamming: Int): DataFrame = {
    val chunks = phashChunks(hashed)
    val cand = chunks.as("x")
      .join(chunks.as("y"),
        col("x.k") === col("y.k") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        col("x.phash").as("pa"), col("y.phash").as("pb"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("pa").bitwiseXOR(col("pb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  val phashDedupSql: String =
    s"""WITH ${Dedup.corpusSql},
       |tk AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks FROM corpus),
       |pxs AS (
       |  SELECT doc_id,
       |         list_transform(generate_series(0, ${PhRows * PhCols - 1}), i ->
       |           CASE WHEN i < len(toks)
       |                THEN CAST('0x' || substring(md5(toks[i + 1]), 1, 2) AS INTEGER)
       |                ELSE CAST('0x' || substring(md5(toks[1] || ':' || CAST(i AS VARCHAR)), 1, 2) AS INTEGER) END) AS px
       |  FROM tk),
       |hashes AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN px[(b.b // ${PhCols - 1}) * $PhCols + (b.b % ${PhCols - 1}) + 1]
       |                         < px[(b.b // ${PhCols - 1}) * $PhCols + (b.b % ${PhCols - 1}) + 2]
       |                       THEN (CAST(1 AS BIGINT) << b.b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS phash
       |  FROM pxs CROSS JOIN (SELECT unnest(generate_series(0, ${PhBits - 1})) AS b) b
       |  GROUP BY doc_id),
       |chunks AS (
       |  SELECT doc_id, phash, k.k AS k,
       |         (phash >> ($PhChunkBits * k.k)) & ${(1 << PhChunkBits) - 1} AS chunk
       |  FROM hashes CROSS JOIN (SELECT unnest(generate_series(0, ${PhChunks - 1})) AS k) k),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
       |                  x.phash AS pa, y.phash AS pb
       |  FROM chunks x
       |  JOIN chunks y ON x.k = y.k AND x.chunk = y.chunk AND x.doc_id < y.doc_id)
       |SELECT a_id, b_id, CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
       |FROM cand
       |WHERE bit_count(xor(pa, pb)) <= $PhHammingMax
       |ORDER BY a_id, b_id""".stripMargin

  // ------------------------------------------- clip-level video near-dup

  /** Tokens per stub "frame": frame `f` of a clip is token window
    * [f·[[VfWindow]], (f+1)·[[VfWindow]]) — windows TILE the text
    * (`n_frames = ceil(len / window)`), so every frame's signature is
    * computed over real content only. A padded-grid variant (dHash over
    * the window extended with doc-derived pad, [[phashFrame]]'s shape)
    * was measured first and REJECTED: thin trailing windows made the pad
    * dominate the signature, and with the fixture's ~30-word vocabulary
    * any two docs sharing the pad's seed token collided at Hamming ≤ 6 —
    * 2,790 coincidental clip pairs at sf0.001 and a band bucket growing
    * Θ(corpus/vocab), the quadratic blow-up the dedup family forbids.
    * Signing only real window content keeps bucket mass = repeated
    * window content = similarity mass. */
  private val VfWindow = 16

  /** Clip-overlap fraction at or above which two clips are near-dups:
    * an exact re-encode matches every frame (frac 1.0); the planted
    * tail-edited near-dup keeps all but its last frame(s) (frac ≥ 1/2 at
    * the fixture's 1–7-frame clips); unrelated clips need half their
    * frames to collide at Hamming ≤ [[PhHammingMax]] — chance ≈ 2⁻⁴⁰
    * per frame pair. */
  private val VfFracMin = 0.5

  /** VIDEO NEAR-DUP (round-16 backlog): clip-level verdicts aggregated
    * from per-frame perceptual hashes — the frame-sampled-video analogue
    * of [[phashDedup]], closing the last multimodal dedup shape (image =
    * phash, text = minhash/simhash, embeddings = cosine; CLIPS had
    * nothing). A real pipeline decodes sampled frames ([[frameSample]]'s
    * explode shape), phashes each, and asks "do enough of clip A's
    * frames have a near-identical frame in clip B?" — offset-free SET
    * semantics (re-encodes, trims and re-intros shift frame indices, so
    * alignment must not be required), which is exactly what this
    * computes:
    *
    *   - per-frame signature: a 60-bit simhash of the frame's token
    *     window (codegen'd [[graft.functions.ArrayExpressions.simHash60]]
    *     — the [[Dedup.dedupSimhash]] kernel, per frame instead of per
    *     doc; stub decode — a real deployment swaps in a pHash of the
    *     codec's per-frame luma plane and nothing downstream moves);
    *   - frame-level candidates: the SAME 15-bit × 4-band equi-join as
    *     [[phashPairs]] — candidates are (frame, frame) pairs from
    *     bounded band buckets, NEVER clip × clip;
    *   - frame verify: exact Hamming ≤ [[PhHammingMax]];
    *   - clip aggregate: ONE `groupBy (a_id, b_id)` over verified frame
    *     pairs — matched-frame counts per side, overlap fraction
    *     `min(matched_a, matched_b) / min(n_a, n_b)`, verdict at
    *     [[VfFracMin]].
    *
    * Scale shape at 100 TB: one map pass per frame for the signature
    * (frames distribute like rows — the [[frameSample]] explode), one
    * shuffle on the 8-byte band key, exact verify only on colliding
    * frame pairs, and the clip aggregate shuffles only VERIFIED matches
    * (similarity mass, not corpus mass). The persist is load-bearing for
    * the same reason as [[phashDedup]]'s: the dHash aggregate lambda
    * inlines the grid transform per reference site un-materialized. */
  def videoDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.OracleParity.pround
    val frames = graft.tools.CacheRegistry.persistTracked(videoFrames(spark, dir))
    val counts = frames.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_frames"))
    val chunks = frames
      .select(col("doc_id"), col("frame_idx"), col("fhash"),
        explode(sequence(lit(0), lit(PhChunks - 1))).as("k"))
      .withColumn("chunk",
        expr(s"shiftright(fhash, $PhChunkBits * k) & ${(1 << PhChunkBits) - 1}"))
    val matches = chunks.as("x")
      .join(chunks.as("y"),
        col("x.k") === col("y.k") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("x.frame_idx").as("a_f"),
        col("y.doc_id").as("b_id"), col("y.frame_idx").as("b_f"),
        col("x.fhash").as("fa"), col("y.fhash").as("fb"))
      // verify before distinct — row-local filter shrinks the distinct's
      // shuffle to the verified sliver (see audioDedup's note)
      .filter(bit_count(col("fa").bitwiseXOR(col("fb"))) <= PhHammingMax)
      .distinct()
    matches
      .groupBy(col("a_id"), col("b_id"))
      .agg(countDistinct(col("a_f")).cast("int").as("ma"),
        countDistinct(col("b_f")).cast("int").as("mb"))
      // NO broadcast hint: `counts` is CORPUS-sized (one row per clip) —
      // at fixture scale AQE broadcasts it anyway, at 100 TB it must
      // shuffle-join against the similarity-mass-sized aggregate
      .join(counts.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n_frames", "n_a"), "a_id")
      .join(counts.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n_frames", "n_b"), "b_id")
      .withColumn("matched_frames", least(col("ma"), col("mb")))
      .withColumn("frac",
        pround(col("matched_frames").cast("double") /
          least(col("n_a"), col("n_b")), 4))
      .filter(col("frac") >= VfFracMin)
      .select(col("a_id"), col("b_id"), col("n_a"), col("n_b"),
        col("matched_frames"), col("frac"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** (doc_id, frame_idx, fhash): the per-frame stub decode + signature
    * pass — frame `f`'s fhash is the 60-bit simhash of its token window
    * `toks[f·W, (f+1)·W)`, computed by the codegen'd
    * [[graft.functions.ArrayExpressions.simHash60]] kernel in one pass
    * per frame (no 60-way explode, no interpreted lambda). */
  private[graft] def videoFrames(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ArrayExpressions
    Dedup.corpus(spark, dir)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(expr(
          s"sequence(0, cast(ceil(size(toks) / ${VfWindow}.0) as int) - 1)"))
          .as("frame_idx"))
      .select(col("doc_id"), col("frame_idx").cast("int").as("frame_idx"),
        ArrayExpressions.simHash60(ArrayExpressions.hashedWords60(
          expr(s"slice(toks, frame_idx * $VfWindow + 1, $VfWindow)")))
          .as("fhash"))
  }

  val videoDedupSql: String =
    s"""WITH ${Dedup.corpusSql},
       |tk AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks FROM corpus),
       |fr AS (
       |  SELECT doc_id, toks,
       |         unnest(generate_series(0, CAST(ceil(len(toks) / ${VfWindow}.0) AS INTEGER) - 1)) AS frame_idx
       |  FROM tk),
       |fw AS (
       |  SELECT doc_id, frame_idx,
       |         unnest(toks[frame_idx * $VfWindow + 1 : frame_idx * $VfWindow + $VfWindow]) AS w
       |  FROM fr),
       |th AS (
       |  SELECT doc_id, frame_idx,
       |         CAST('0x' || substring(md5(w), 1, 15) AS BIGINT) AS h FROM fw),
       |bits AS (
       |  SELECT doc_id, frame_idx, b.bit,
       |         sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, ${PhBits - 1})) AS bit) b
       |  GROUP BY doc_id, frame_idx, b.bit),
       |hashes AS (
       |  SELECT doc_id, frame_idx,
       |         CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0::BIGINT END) AS BIGINT) AS fhash
       |  FROM bits GROUP BY doc_id, frame_idx),
       |counts AS (
       |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_frames FROM hashes GROUP BY doc_id),
       |chunks AS (
       |  SELECT doc_id, frame_idx, fhash, k.k AS k,
       |         (fhash >> ($PhChunkBits * k.k)) & ${(1 << PhChunkBits) - 1} AS chunk
       |  FROM hashes CROSS JOIN (SELECT unnest(generate_series(0, ${PhChunks - 1})) AS k) k),
       |matches AS (
       |  SELECT DISTINCT x.doc_id AS a_id, x.frame_idx AS a_f,
       |                  y.doc_id AS b_id, y.frame_idx AS b_f,
       |                  x.fhash AS fa, y.fhash AS fb
       |  FROM chunks x
       |  JOIN chunks y ON x.k = y.k AND x.chunk = y.chunk AND x.doc_id < y.doc_id),
       |verified AS (
       |  SELECT a_id, a_f, b_id, b_f FROM matches
       |  WHERE bit_count(xor(fa, fb)) <= $PhHammingMax),
       |agg AS (
       |  SELECT a_id, b_id,
       |         CAST(count(DISTINCT a_f) AS INTEGER) AS ma,
       |         CAST(count(DISTINCT b_f) AS INTEGER) AS mb
       |  FROM verified GROUP BY a_id, b_id)
       |SELECT a_id, b_id, ca.n_frames AS n_a, cb.n_frames AS n_b,
       |       CAST(least(ma, mb) AS INTEGER) AS matched_frames,
       |       floor(CAST(least(ma, mb) AS DOUBLE) / least(ca.n_frames, cb.n_frames) * 10000 + 0.5) / 10000.0 AS frac
       |FROM agg
       |JOIN counts ca ON ca.doc_id = a_id
       |JOIN counts cb ON cb.doc_id = b_id
       |WHERE floor(CAST(least(ma, mb) AS DOUBLE) / least(ca.n_frames, cb.n_frames) * 10000 + 0.5) / 10000.0 >= $VfFracMin
       |ORDER BY a_id, b_id""".stripMargin

  // --------------------------------------------- audio near-dup (offset)

  /** Chromaprint-shaped subfingerprint geometry: OVERLAPPING windows of
    * [[AfWindow]] tokens at hop [[AfHop]] (hop < window — the temporal
    * redundancy an audio fingerprinter relies on: a clip cut anywhere
    * still shares most subfingerprints with its source, just at a shifted
    * index). `n_subs = max(1, floor((len − window) / hop) + 1)`. */
  private val AfWindow = 8
  private val AfHop = 4

  /** AUDIO NEAR-DUP (round 16): offset-voting alignment over overlapping
    * subfingerprints — the chromaprint/Shazam shape, and deliberately
    * DIFFERENT semantics from [[videoDedup]]'s set matching: audio
    * re-uploads are typically the same stream with material ADDED AT THE
    * EDGES (intros, prerolls, trims), so the operator must not just ask
    * "do these clips share windows?" but "do the shared windows agree on
    * ONE alignment?" — which is what distinguishes a true
    * embed/re-upload from two clips sampling the same library:
    *
    *   - subfingerprints: 60-bit simhash per overlapping token window
    *     (stub decode; a real deployment feeds filterbank-energy
    *     gradients per FFT frame into the same banding and nothing
    *     downstream moves);
    *   - candidates: the proven 15-bit × 4-band equi-join at
    *     subfingerprint level; exact-Hamming verify;
    *   - OFFSET VOTING: verified matches vote `delta = a_idx − b_idx`;
    *     one `groupBy (a, b, delta)` histogram, best delta per pair
    *     (ties → smallest), score = aligned matches / min(n_subs);
    *   - verdict at ≥ [[VfFracMin]], with `best_offset` in the output —
    *     the alignment IS the evidence (a takedown reviewer needs "your
    *     upload matches source X starting at 0:12", not just a score).
    *
    * The fixture plants a PREFIX-SHIFTED family (every 7th doc behind a 4-token
    * intro = exactly one hop) alongside the exact and tail-edit families: the
    * operator attributes every planted copy AND reports the shift (offset −1) —
    * graft.tools.VideoSweep-style evidence in graft.tools.AudioSweep @ c6e9ec7.
    *
    * Scale shape at 100 TB: identical to [[videoDedup]] through the
    * verify (map pass per window, one shuffle on the band key), then the
    * vote histogram and best-offset window both shuffle only VERIFIED
    * matches — similarity mass. No clip×clip, no alignment DP (offset
    * voting is the linear-cost alignment the quadratic
    * subsequence-alignment alternatives approximate). */
  def audioDedup(spark: SparkSession, dir: String): DataFrame =
    audioPairsFromSubs(
      graft.tools.CacheRegistry.persistTracked(audioSubs(spark, dir)))

  /** The full banding + offset-voting pipeline over ANY
    * `(doc_id, sub_idx, fp)` subfingerprint frame — shared by the stub
    * tokenizer path ([[audioSubs]], the oracle-gated `dedup_audio`) and
    * the real WAV decode ([[audioSubsFromWav]]), the same
    * stub-vs-real-decode split [[phashFrame]]/[[phashFrameFromImages]]
    * proved: the operator downstream of the signature pass is ONE code
    * path, so the hash-matched stub query stays the gate for it. Callers
    * persist `subs` — both candidate-join sides and the count aggregate
    * replay it. */
  private[graft] def audioPairsFromSubs(subs: DataFrame): DataFrame = {
    import graft.functions.OracleParity.pround
    import org.apache.spark.sql.expressions.Window
    val counts = subs.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_subs"))
    val chunks = subs
      .select(col("doc_id"), col("sub_idx"), col("fp"),
        explode(sequence(lit(0), lit(PhChunks - 1))).as("k"))
      .withColumn("chunk",
        expr(s"shiftright(fp, $PhChunkBits * k) & ${(1 << PhChunkBits) - 1}"))
    val verified = chunks.as("x")
      .join(chunks.as("y"),
        col("x.k") === col("y.k") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("x.sub_idx").as("a_s"),
        col("y.doc_id").as("b_id"), col("y.sub_idx").as("b_s"),
        col("x.fp").as("fa"), col("y.fp").as("fb"))
      // verify BEFORE distinct: the Hamming test is a codegen'd row-local
      // filter, the distinct is a shuffle — at sf0.1 the band join emits
      // 15.2M candidate rows of which only the verified sliver survives,
      // so filtering first shrinks the exchange by orders of magnitude
      .filter(bit_count(col("fa").bitwiseXOR(col("fb"))) <= PhHammingMax)
      .distinct()
    val votes = verified
      .groupBy(col("a_id"), col("b_id"), (col("a_s") - col("b_s")).as("delta"))
      .agg(count(lit(1)).cast("int").as("matched"))
    val best = votes.withColumn("rn",
      row_number().over(Window.partitionBy(col("a_id"), col("b_id"))
        .orderBy(col("matched").desc, col("delta").asc)))
      .filter(col("rn") === 1)
    best
      // counts is corpus-sized: no broadcast hint (AQE decides at SF)
      .join(counts.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n_subs", "n_a"), "a_id")
      .join(counts.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n_subs", "n_b"), "b_id")
      .withColumn("frac",
        pround(col("matched").cast("double") / least(col("n_a"), col("n_b")), 4))
      .filter(col("frac") >= VfFracMin)
      .select(col("a_id"), col("b_id"), col("n_a"), col("n_b"),
        col("delta").cast("int").as("best_offset"), col("matched"), col("frac"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** (doc_id, sub_idx, fp): the overlapping-window subfingerprint pass
    * over the audio corpus — [[Dedup.corpus]] plus a PREFIX-SHIFTED
    * planted family (every 7th doc behind a 4-token intro, one hop
    * exactly), so offset detection has ground truth. */
  /** `window`/`hop` are the candidate-mass dial (round 17 — the ×10
    * graft.tools.SfScale @ c6e9ec7 replay measured banded candidates at 21.9× for
    * a 10× corpus as the 2^15-bucket band space starts to saturate; halving the
    * subfingerprint rate cuts candidate mass ~quadratically since both join
    * sides thin). The hop=4 DEFAULT is justified by the same replay: an edit of
    * g tokens is attributable only when hop ≤ g (the planted 4-token intro
    * lands at exactly −1 hop at hop 4; at hop 8 no window of the shifted clip
    * coincides with ANY original window, the subfingerprints decorrelate, and
    * the shifted family is lost — graft.tools.AudioSweep @ c6e9ec7's hop-8 row).
    * Widen the hop only when the catalog's minimal attributable edit is
    * coarser. */
  private[graft] def audioSubs(spark: SparkSession, dir: String,
      window: Int = AfWindow, hop: Int = AfHop): DataFrame = {
    import graft.functions.ArrayExpressions
    val base = Dedup.corpus(spark, dir).select(col("doc_id"), col("text"))
    val shifted = Tables.documents(spark, dir)
      .filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 300000L).as("doc_id"),
        concat(lit("intro jingle preroll clip "), col("text")).as("text"))
    // scan-parallelism for the subfingerprint kernel (round 19 — the
    // measured winner of the Tables.loadParallel split; the 1-split
    // documents scan ran the window/simhash pass near single-threaded)
    Tables.parallelized(base.unionByName(shifted))
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(expr(
          s"sequence(0, greatest(cast(floor((size(toks) - $window) / ${hop}.0) as int), 0))"))
          .as("sub_idx"))
      .select(col("doc_id"), col("sub_idx").cast("int").as("sub_idx"),
        ArrayExpressions.simHash60(ArrayExpressions.hashedWords60(
          expr(s"slice(toks, sub_idx * $hop + 1, $window)")))
          .as("fp"))
  }

  // ------------------------------------------ audio: REAL WAV decode path

  /** Analysis-frame geometry for the real decode: 256-sample frames at
    * hop 128 — one subfingerprint per hop, so a prefix of k·128 samples
    * shifts `sub_idx` by exactly k and the offset histogram reads the
    * alignment in hops. */
  private[graft] val AfFrameLen = 256
  private[graft] val AfFrameHop = 128
  /** 61 filterbank bands → 60 gradient bits per subfingerprint. */
  private val AfWavBands = PhBits + 1

  /** REAL-DECODE audio subfingerprints (round 17, verdict r16 #3 — the
    * [[phashFrameFromImages]] precedent applied to audio): decode
    * PCM WAV via `javax.sound.sampled` (pure JVM, headless), compute
    * chromaprint-shaped band-energy GRADIENT subfingerprints, and feed
    * the UNCHANGED banding + Hamming verify + offset voting
    * ([[audioPairsFromSubs]]).
    *
    * Signature per analysis frame f (from 1): band energies E[f][b] at
    * [[AfWavBands]] log-spaced frequencies (Goertzel kernels over the
    * 256-sample frame — deterministic pure-JVM arithmetic, no FFT
    * library), then bit b = 1 iff
    * (E[f][b] − E[f][b+1]) − (E[f−1][b] − E[f−1][b+1]) > 0 — the
    * time-frequency double gradient the chromaprint classifier family
    * uses, robust to level changes (gain cancels in both differences).
    * Undecodable or non-PCM-16 blobs yield NO rows — a corrupt upload
    * cannot poison a band bucket (the [[dHashOfImage]] rule).
    *
    * VIDEO stays stub by the same boundary [[phashFrameFromImages]]
    * documents for its codec: the JVM ships an image codec (ImageIO) and
    * a PCM audio codec (javax.sound.sampled) but NO video codec, so
    * [[videoDedup]]'s decode remains the documented stub seam. */
  private[graft] def wavSamples(bytes: Array[Byte]): Option[Array[Double]] = {
    val in =
      try Option(javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes)))
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => None
        case _: java.io.IOException => None
        case _: RuntimeException => None
      }
    in.flatMap { ais =>
      try {
        val fmt = ais.getFormat
        if (fmt.getEncoding !=
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16) None
        else {
          val data = ais.readAllBytes()
          val ch = math.max(fmt.getChannels, 1)
          val be = fmt.isBigEndian
          val n = data.length / (2 * ch)
          val out = new Array[Double](n)
          var f = 0
          while (f < n) {
            var s = 0.0
            var c = 0
            while (c < ch) {
              val i = (f * ch + c) * 2
              val v =
                if (be) ((data(i) << 8) | (data(i + 1) & 0xff)).toShort
                else ((data(i + 1) << 8) | (data(i) & 0xff)).toShort
              s += v / 32768.0
              c += 1
            }
            out(f) = s / ch
            f += 1
          }
          Some(out)
        }
      } catch {
        case _: java.io.IOException => None
        case _: RuntimeException => None
      } finally ais.close()
    }
  }

  /** One 60-bit subfingerprint per analysis hop (see [[wavSamples]] doc
    * for the classifier). Deterministic: log-spaced Goertzel bins
    * k ∈ [2, 128] over each 256-sample frame, strict `> 0` gradient
    * sign. Clips shorter than two frames produce nothing. */
  private[graft] def wavSubfingerprints(samples: Array[Double]): Array[Long] = {
    if (samples.length < AfFrameLen + AfFrameHop) return Array.empty
    val nFrames = (samples.length - AfFrameLen) / AfFrameHop + 1
    if (nFrames < 2) return Array.empty
    // log-spaced analysis bins: k_b = 2 · 64^(b/(bands−1)) ∈ [2, 128]
    val bins = Array.tabulate(AfWavBands)(b =>
      2.0 * math.pow(64.0, b.toDouble / (AfWavBands - 1)))
    val coeffs = bins.map(k => 2.0 * math.cos(2.0 * math.Pi * k / AfFrameLen))
    val energies = Array.ofDim[Double](nFrames, AfWavBands)
    var f = 0
    while (f < nFrames) {
      val off = f * AfFrameHop
      var b = 0
      while (b < AfWavBands) {
        val coeff = coeffs(b)
        var s1 = 0.0
        var s2 = 0.0
        var i = 0
        while (i < AfFrameLen) {
          val s0 = samples(off + i) + coeff * s1 - s2
          s2 = s1
          s1 = s0
          i += 1
        }
        energies(f)(b) = s1 * s1 + s2 * s2 - coeff * s1 * s2
        b += 1
      }
      f += 1
    }
    Array.tabulate(nFrames - 1) { j =>
      val prev = energies(j)
      val cur = energies(j + 1)
      var acc = 0L
      var b = 0
      while (b < PhBits) {
        if ((cur(b) - cur(b + 1)) - (prev(b) - prev(b + 1)) > 0.0)
          acc |= 1L << b
        b += 1
      }
      acc
    }
  }

  /** `(doc_id, sub_idx, fp)` over a `binaryFile` scan of a WAV blob store
    * (`<dir>/<id>.wav` — the reference's blob layout with an audio
    * extension). Decode + signature run inside `mapPartitions` (the
    * [[decodeStub]] codec-amortization point); everything downstream is
    * [[audioPairsFromSubs]] UNCHANGED. */
  def audioSubsFromWav(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    val pat = "/(\\d+)\\.wav$"
    files
      .select(regexp_extract(col("path"), pat, 1).as("id_str"), col("content"))
      .filter(col("id_str") =!= "")
      .select(col("id_str").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        wavSamples(bytes).toSeq.flatMap(s =>
          wavSubfingerprints(s).iterator.zipWithIndex.map {
            case (fp, i) => (id, i, fp)
          })
      })
      .toDF("doc_id", "sub_idx", "fp")
  }

  /** Offset-voting near-dup over REAL decoded WAVs: `audioDir` is a
    * blob-store root; the persist pins one decode per clip across the
    * candidate join's two sides. Same output shape as `dedup_audio`
    * (`best_offset` in HOPS of [[AfFrameHop]] samples). */
  def audioDedupWav(spark: SparkSession, audioDir: String): DataFrame =
    audioPairsFromSubs(
      graft.tools.CacheRegistry.persistTracked(audioSubsFromWav(
        spark.read.format("binaryFile")
          .option("pathGlobFilter", "*.wav")
          .option("recursiveFileLookup", "true")
          .load(audioDir))))

  val audioDedupSql: String =
    s"""WITH ${Dedup.corpusSql},
       |acorpus AS (
       |  SELECT doc_id, text FROM corpus
       |  UNION ALL
       |  SELECT doc_id + 300000, 'intro jingle preroll clip ' || text
       |  FROM documents WHERE doc_id % 7 = 0),
       |tk AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks FROM acorpus),
       |fr AS (
       |  SELECT doc_id, toks,
       |         unnest(generate_series(0, greatest(CAST(floor((len(toks) - $AfWindow) / ${AfHop}.0) AS INTEGER), 0))) AS sub_idx
       |  FROM tk),
       |fw AS (
       |  SELECT doc_id, sub_idx,
       |         unnest(toks[sub_idx * $AfHop + 1 : sub_idx * $AfHop + $AfWindow]) AS w
       |  FROM fr),
       |th AS (
       |  SELECT doc_id, sub_idx,
       |         CAST('0x' || substring(md5(w), 1, 15) AS BIGINT) AS h FROM fw),
       |bits AS (
       |  SELECT doc_id, sub_idx, b.bit,
       |         sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, ${PhBits - 1})) AS bit) b
       |  GROUP BY doc_id, sub_idx, b.bit),
       |subs AS (
       |  SELECT doc_id, sub_idx,
       |         CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0::BIGINT END) AS BIGINT) AS fp
       |  FROM bits GROUP BY doc_id, sub_idx),
       |counts AS (
       |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_subs FROM subs GROUP BY doc_id),
       |chunks AS (
       |  SELECT doc_id, sub_idx, fp, k.k AS k,
       |         (fp >> ($PhChunkBits * k.k)) & ${(1 << PhChunkBits) - 1} AS chunk
       |  FROM subs CROSS JOIN (SELECT unnest(generate_series(0, ${PhChunks - 1})) AS k) k),
       |matches AS (
       |  SELECT DISTINCT x.doc_id AS a_id, x.sub_idx AS a_s,
       |                  y.doc_id AS b_id, y.sub_idx AS b_s,
       |                  x.fp AS fa, y.fp AS fb
       |  FROM chunks x
       |  JOIN chunks y ON x.k = y.k AND x.chunk = y.chunk AND x.doc_id < y.doc_id),
       |verified AS (
       |  SELECT a_id, a_s, b_id, b_s FROM matches
       |  WHERE bit_count(xor(fa, fb)) <= $PhHammingMax),
       |votes AS (
       |  SELECT a_id, b_id, a_s - b_s AS delta, CAST(count(*) AS INTEGER) AS matched
       |  FROM verified GROUP BY a_id, b_id, a_s - b_s),
       |best AS (
       |  SELECT a_id, b_id, delta, matched,
       |         row_number() OVER (PARTITION BY a_id, b_id
       |                            ORDER BY matched DESC, delta ASC) AS rn
       |  FROM votes)
       |SELECT a_id, b_id, ca.n_subs AS n_a, cb.n_subs AS n_b,
       |       CAST(delta AS INTEGER) AS best_offset, matched,
       |       floor(CAST(matched AS DOUBLE) / least(ca.n_subs, cb.n_subs) * 10000 + 0.5) / 10000.0 AS frac
       |FROM best
       |JOIN counts ca ON ca.doc_id = a_id
       |JOIN counts cb ON cb.doc_id = b_id
       |WHERE rn = 1
       |  AND floor(CAST(matched AS DOUBLE) / least(ca.n_subs, cb.n_subs) * 10000 + 0.5) / 10000.0 >= $VfFracMin
       |ORDER BY a_id, b_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_decode_stub" -> decodeStub,
    "mm_frame_sample" -> frameSample,
    "mm_asof_align" -> asofAlign,
    "f14_data_uri" -> dataUri,
    "dedup_phash" -> phashDedup,
    "dedup_video" -> videoDedup,
    "dedup_audio" -> audioDedup
  )

  val oracles: Map[String, String] = Map(
    "mm_decode_stub" -> decodeStubSql,
    "mm_frame_sample" -> frameSampleSql,
    "mm_asof_align" -> asofAlignSql,
    "f14_data_uri" -> dataUriSql,
    "dedup_phash" -> phashDedupSql,
    "dedup_video" -> videoDedupSql,
    "dedup_audio" -> audioDedupSql
  )
}
