package graft.multimodal

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (north-star extensions): media payloads as
  * opaque `binary` columns with typed metadata, and decode/feature/frame
  * operators. The image path is REAL: payloads are genuine grayscale PNGs
  * (rendered deterministically from doc_id, encoded with the JDK's
  * `javax.imageio` PNG codec) and the decode operators run an actual
  * `ImageIO.read`. Because the rendered pixel function is closed-form,
  * the decoded pixel statistics are DuckDB-oracle-checkable end-to-end —
  * the oracle recomputes them from the formula while Spark recovers them
  * from the PNG bytes. Payloads whose mime an installed codec MUST accept
  * (`image/…`) fail loudly on decode error — a transient codec failure
  * must never degrade into silently-wrong pixel statistics. The
  * deterministic stub is reserved for genuinely codec-less mimes
  * (e.g. video containers), and only via the explicit `video/` mime path.
  *
  * Scale notes (100 TB): `ImageIO.setUseCache(false)` keeps every
  * encode/decode in heap buffers — the default backs each image with a
  * temp FILE on disk, which at millions of images is death by fsync.
  * The media table is repartitioned to `defaultParallelism` before any
  * pixel work (the upstream parquet may be one file), and payloads stay
  * in executor memory one partition at a time; nothing is collected to
  * the driver.
  */
object Multimodal {

  /** JVM-wide, idempotent: never back ImageIO streams with temp files.
    * Referenced from every encode/decode path so it runs in each executor
    * JVM before the first image op (lazy val => exactly once per JVM). */
  private lazy val noDiskCache: Unit = javax.imageio.ImageIO.setUseCache(false)

  /** Deterministic pixel function: px(x, y) of doc `id`. */
  @inline private def pixel(id: Long, x: Int, y: Int): Int =
    ((x * 7L + y * 13L + id * 31L) % 256L).toInt

  private def renderPng(id: Long, w: Int, h: Int): Array[Byte] = {
    noDiskCache
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    // bulk row-major write — one setDataElements, not w*h setSample calls
    val bytes = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      val off = y * w
      while (x < w) { bytes(off + x) = pixel(id, x, y).toByte; x += 1 }
      y += 1
    }
    img.getRaster.setDataElements(0, 0, w, h, bytes)
    val bos = new java.io.ByteArrayOutputStream(w * h / 2 + 128)
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real decode: any format an installed ImageIO codec accepts (PNG and
    * JPEG are always bundled with the JDK). None when no codec matches. */
  private[multimodal] def decodeImage(payload: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    noDiskCache
    Option(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))).map { img =>
      val w = img.getWidth
      val h = img.getHeight
      val px = new Array[Int](w * h)
      img.getRaster.getSamples(0, 0, w, h, 0, px)
      (w, h, px)
    }
  }

  /** Decode for payloads a JDK codec must accept (`image/…` mimes): any
    * failure is a hard error, NOT a fallback — fake pixel stats are worse
    * than a loud crash (a silent stub turned a transient ImageIO failure
    * into the round-2 oracle hash mismatch). */
  private def decodeImageOrFail(id: Long, mime: String,
                                payload: Array[Byte]): (Int, Int, Array[Int]) =
    decodeImage(payload).getOrElse(
      throw new IllegalStateException(
        s"decode failed for doc $id ($mime, ${payload.length} bytes): " +
          "no installed ImageIO codec produced an image"))

  /** STUB DECODE — deterministic fake "pixel" statistics derived from the
    * payload bytes. ONLY for mimes with no installed codec (video/audio
    * containers); image/… payloads never reach this path. */
  private[multimodal] def decodeStub(payload: Array[Byte], w: Int, h: Int): Array[Int] = {
    val px = new Array[Int](w * h)
    var i = 0
    var seed = 1469598103934665603L
    while (i < payload.length) { seed = (seed ^ payload(i)) * 1099511628211L; i += 1 }
    i = 0
    while (i < px.length) {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      px(i) = ((seed >>> 33) & 0xff).toInt
      i += 1
    }
    px
  }

  /** Route by mime: real codec for image/…, stub for codec-less mimes. */
  private[multimodal] def decodeAny(id: Long, mime: String, w0: Int, h0: Int,
                                    payload: Array[Byte]): (Int, Int, Array[Int]) =
    if (mime.startsWith("image/")) decodeImageOrFail(id, mime, payload)
    else (w0, h0, decodeStub(payload, w0, h0))

  /** Rendered media tables, cached per (session, scale dir, kind): the
    * three mm queries share one render instead of re-encoding every PNG
    * 3×. Tiny relative to executor memory (payloads are ≤64×64 grayscale
    * PNGs). 8 = image + audio over the scale dirs visited per
    * application; eviction unpersists. */
  private val mediaCache = new graft.BoundedCache[DataFrame](
    max = 8, onEvict = _.unpersist(blocking = false))

  /** documents → media table: (doc_id, mime, width, height, payload) with
    * payload a real PNG encoding of the deterministic image. Repartitioned
    * to every core BEFORE the render (documents.parquet may be 1 file). */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    mediaCache.get(graft.BoundedCache.key(spark, "image", dir)) {
      import spark.implicits._
      Tables.load(spark, dir, "documents").select(col("doc_id")).as[Long]
        .repartition(spark.sparkContext.defaultParallelism)
        .mapPartitions { it =>
          it.map { id =>
            val w = (16 + id % 48).toInt
            val h = (16 + (id * 7) % 48).toInt
            (id, "image/png", w, h, renderPng(id, w, h))
          }
        }
        .toDF("doc_id", "mime", "width", "height", "payload")
        .persist()
    }

  /** Typed-metadata scan: payload size + dimensions. Oracle-checkable
    * because octet_length(text) is engine-agnostic. */
  val metadataSparkSql: String =
    """SELECT doc_id, CAST(octet_length(text) AS BIGINT) AS n_bytes,
      |       CAST(16 + doc_id % 48 AS BIGINT) AS width,
      |       CAST(16 + (doc_id * 7) % 48 AS BIGINT) AS height
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Decode + feature-extract: REAL `ImageIO.read` of the PNG payloads
    * via mapPartitions, emitting exact integer pixel statistics
    * (count/sum/sum-of-squares — no float rounding to diverge between
    * engines). Decode failures are loud (see decodeImageOrFail). */
  def decodeFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = mediaTable(spark, dir)
      .select("doc_id", "mime", "width", "height", "payload")
      .as[(Long, String, Int, Int, Array[Byte])]
    media.mapPartitions { it =>
      it.map { case (id, mime, w0, h0, payload) =>
        val (w, h, px) = decodeAny(id, mime, w0, h0, payload)
        var sum = 0L
        var sumsq = 0L
        var i = 0
        while (i < px.length) {
          sum += px(i); sumsq += px(i).toLong * px(i); i += 1
        }
        (id, w.toLong, h.toLong, px.length.toLong, sum, sumsq)
      }
    }.toDF("doc_id", "width", "height", "n_px", "px_sum", "px_sumsq")
      .orderBy("doc_id")
  }

  /** Oracle: recompute the decoded statistics from the closed-form pixel
    * function — Spark must recover the exact same integers from the PNG
    * bytes (lossless grayscale roundtrip). */
  val decodeFeaturesDuckSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |         CAST(16 + doc_id % 48 AS BIGINT) AS width,
      |         CAST(16 + (doc_id * 7) % 48 AS BIGINT) AS height
      |  FROM documents),
      |px AS (
      |  -- dims are 16..63, so a fixed 0..63 grid + filter replaces a
      |  -- lateral generate_series (not supported by DuckDB's binder)
      |  SELECT d.doc_id, d.width, d.height,
      |         (tx.x * 7 + ty.y * 13 + d.doc_id * 31) % 256 AS v
      |  FROM d,
      |       generate_series(0, 63) AS tx(x),
      |       generate_series(0, 63) AS ty(y)
      |  WHERE tx.x < d.width AND ty.y < d.height)
      |SELECT doc_id, MIN(width) AS width, MIN(height) AS height,
      |       COUNT(*) AS n_px,
      |       -- CAST: DuckDB SUM(BIGINT) yields HUGEINT, which pandas
      |       -- renders as float64 and the driver then hashes as 45.0
      |       -- vs Spark's int64 45 — identical values, different hash.
      |       CAST(SUM(v) AS BIGINT) AS px_sum,
      |       CAST(SUM(v * v) AS BIGINT) AS px_sumsq
      |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Pixels per sampled frame / keep-1-in-N stride for `mm_frame_sample`. */
  val FrameLen = 64
  val FrameStride = 4

  /** Frame sampling: treat the DECODED pixel stream as a "video" of
    * 64-pixel frames, keep every 4th frame, and fingerprint each kept
    * frame (plain + position-weighted sums) — the explode shape of a real
    * frame sampler, downstream of a real codec. Sampling the decoded
    * stream (not the compressed container bytes) is what makes the
    * operator oracle-checkable: the DuckDB oracle recomputes the
    * fingerprints from the closed-form pixel function, while Spark must
    * recover the identical integers from the actual PNG decode. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = mediaTable(spark, dir)
      .select("doc_id", "mime", "width", "height", "payload")
      .as[(Long, String, Int, Int, Array[Byte])]
    media.flatMap { case (id, mime, w0, h0, payload) =>
      val (_, _, px) = decodeAny(id, mime, w0, h0, payload)
      px.grouped(FrameLen).zipWithIndex.collect {
        case (frame, idx) if idx % FrameStride == 0 =>
          var s = 0L
          var ws = 0L
          var j = 0
          while (j < frame.length) {
            s += frame(j); ws += frame(j).toLong * (j + 1); j += 1
          }
          (id, idx.toLong, s, ws)
      }
    }.toDF("doc_id", "frame_idx", "fr_sum", "fr_wsum")
      .orderBy("doc_id", "frame_idx")
  }

  /** Oracle for frame sampling: same frames (64 px row-major, stride 4,
    * ragged tail kept), same closed-form pixels, same fingerprints. */
  val frameSampleDuckSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |         CAST(16 + doc_id % 48 AS BIGINT) AS w,
      |         CAST(16 + (doc_id * 7) % 48 AS BIGINT) AS h
      |  FROM documents),
      |px AS (
      |  -- dims are 16..63 so n_px < 4096: fixed index grid + filter
      |  SELECT d.doc_id, s.i // 64 AS frame_idx,
      |         ((s.i % d.w) * 7 + (s.i // d.w) * 13 + d.doc_id * 31) % 256 AS v,
      |         s.i % 64 + 1 AS pos
      |  FROM d, generate_series(0, 4095) AS s(i)
      |  WHERE s.i < d.w * d.h)
      |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
      |       CAST(SUM(v) AS BIGINT) AS fr_sum,
      |       CAST(SUM(v * pos) AS BIGINT) AS fr_wsum
      |FROM px WHERE frame_idx % 4 = 0
      |GROUP BY doc_id, frame_idx ORDER BY doc_id, frame_idx""".stripMargin

  /** Scene-boundary threshold for [[sceneDetect]], in ×100 integer
    * math: a cut where the mean absolute inter-frame pixel difference
    * is ≥ 40.0 (`sumAbs · 100 ≥ 4000 · complen` — both engines compare
    * integers, so no float-equality hazard at the threshold). */
  val SceneDiffThresholdQ = 4000L

  /** Shot/scene detection over the frame stream — the segmentation
    * step of a video curation pipeline (dedup/captioning work per
    * SHOT, not per frame): consecutive [[FrameLen]]-pixel frames of
    * the decoded stream compare by mean absolute difference, and a
    * difference above the threshold starts a new scene. Emits per doc
    * the frame count, scene count, the sum of cut frame indices (a
    * position-sensitive fingerprint of WHERE the cuts landed) and the
    * total integer difference mass. Spark recovers the pixels from the
    * real PNG decode; DuckDB recomputes everything from the closed-form
    * pixel function — same decode-vs-formula split as the other mm
    * anchors. Per-doc work is a single sequential pass (frames of one
    * document are inherently ordered); parallelism is across docs,
    * which is the 100 TB axis. */
  def sceneDetect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = mediaTable(spark, dir)
      .select("doc_id", "mime", "width", "height", "payload")
      .as[(Long, String, Int, Int, Array[Byte])]
    media.map { case (id, mime, w0, h0, payload) =>
      val (_, _, px) = decodeAny(id, mime, w0, h0, payload)
      val n = px.length
      val frames = (n + FrameLen - 1) / FrameLen
      var f = 1
      var nScenes = 1L
      var cutsQ = 0L
      var diffQ = 0L
      while (f < frames) {
        val start = f * FrameLen
        val len = math.min(FrameLen, n - start)
        var s = 0L
        var j = 0
        while (j < len) {
          s += math.abs(px(start + j) - px(start - FrameLen + j))
          j += 1
        }
        diffQ += s
        if (s * 100 >= SceneDiffThresholdQ * len) { nScenes += 1; cutsQ += f }
        f += 1
      }
      (id, frames.toLong, nScenes, cutsQ, diffQ)
    }.toDF("doc_id", "n_frames", "n_scenes", "cuts_q", "diff_q")
      .orderBy("doc_id")
  }

  /** Oracle: same frames, same integer threshold, pixels from the
    * closed-form generator instead of the decode. */
  val sceneDetectDuckSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |         CAST(16 + doc_id % 48 AS BIGINT) AS w,
      |         CAST(16 + (doc_id * 7) % 48 AS BIGINT) AS h
      |  FROM documents),
      |diffs AS (
      |  SELECT d.doc_id, s.i // 64 AS f,
      |         ABS(CAST(((s.i % d.w) * 7 + (s.i // d.w) * 13
      |                   + d.doc_id * 31) % 256 AS BIGINT) -
      |             CAST((((s.i - 64) % d.w) * 7 + ((s.i - 64) // d.w) * 13
      |                   + d.doc_id * 31) % 256 AS BIGINT)) AS dv
      |  FROM d, generate_series(64, 4095) AS s(i)
      |  WHERE s.i < d.w * d.h),
      |fr AS (
      |  SELECT doc_id, f, SUM(dv) AS s, COUNT(*) AS len
      |  FROM diffs GROUP BY doc_id, f),
      |fb AS (
      |  SELECT doc_id, f, s,
      |         CASE WHEN s * 100 >= 4000 * len THEN 1 ELSE 0 END AS b
      |  FROM fr)
      |SELECT d.doc_id,
      |       CAST((d.w * d.h + 63) // 64 AS BIGINT) AS n_frames,
      |       CAST(1 + COALESCE(SUM(fb.b), 0) AS BIGINT) AS n_scenes,
      |       CAST(COALESCE(SUM(CASE WHEN fb.b = 1 THEN fb.f END), 0)
      |            AS BIGINT) AS cuts_q,
      |       CAST(COALESCE(SUM(fb.s), 0) AS BIGINT) AS diff_q
      |FROM d LEFT JOIN fb ON fb.doc_id = d.doc_id
      |GROUP BY d.doc_id, d.w, d.h
      |ORDER BY d.doc_id""".stripMargin

  /** Resize: real decode, nearest-neighbor downsample to a fixed
    * thumbnail grid, emit new dims + two pixel fingerprints — the
    * batch-resize shape of a real thumbnailing pipeline. The fingerprints
    * are overflow-free integer sums (plain + position-weighted), so the
    * DuckDB oracle recomputes them from the closed-form pixel function
    * while Spark recovers them from the actual decoded PNG. */
  def resize(spark: SparkSession, dir: String,
             outW: Int = 8, outH: Int = 8): DataFrame = {
    import spark.implicits._
    val media = mediaTable(spark, dir)
      .select("doc_id", "mime", "width", "height", "payload")
      .as[(Long, String, Int, Int, Array[Byte])]
    media.mapPartitions { it =>
      it.map { case (id, mime, w0, h0, payload) =>
        val (w, h, px) = decodeAny(id, mime, w0, h0, payload)
        var sum = 0L
        var wsum = 0L
        var oy = 0
        while (oy < outH) {
          var ox = 0
          while (ox < outW) {
            val sx = ox * w / outW
            val sy = oy * h / outH
            val v = px(sy * w + sx).toLong
            sum += v
            wsum += v * (oy * outW + ox + 1)
            ox += 1
          }
          oy += 1
        }
        (id, outW.toLong, outH.toLong, sum, wsum)
      }
    }.toDF("doc_id", "out_w", "out_h", "thumb_sum", "thumb_wsum")
      .orderBy("doc_id")
  }

  /** Oracle for resize: same nearest-neighbor sample positions
    * (integer-div), same closed-form pixels, same fingerprints. */
  val resizeDuckSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |         CAST(16 + doc_id % 48 AS BIGINT) AS w,
      |         CAST(16 + (doc_id * 7) % 48 AS BIGINT) AS h
      |  FROM documents),
      |px AS (
      |  SELECT d.doc_id,
      |         ((tx.ox * d.w) // 8) * 7 + ((ty.oy * d.h) // 8) * 13
      |           + d.doc_id * 31 AS raw,
      |         ty.oy * 8 + tx.ox + 1 AS pos
      |  FROM d, generate_series(0, 7) AS tx(ox), generate_series(0, 7) AS ty(oy))
      |SELECT doc_id, CAST(8 AS BIGINT) AS out_w, CAST(8 AS BIGINT) AS out_h,
      |       CAST(SUM(raw % 256) AS BIGINT) AS thumb_sum,
      |       CAST(SUM((raw % 256) * pos) AS BIGINT) AS thumb_wsum
      |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- perceptual-hash (dHash) near-duplicate image grouping -------------

  /** dHash near-dup image dedup: decode, nearest-neighbor sample a 9×8
    * luminance grid (same integer-div positions as [[resize]]), emit one
    * bit per horizontal neighbor pair (left < right), then group images
    * by the 64-bit fingerprint — dHash IS the perceptual quantization,
    * so exact-equality grouping on it is the standard near-dup blocking
    * step (scaled variants of one image land in one bucket regardless of
    * original resolution). The hash ships as two 32-bit halves in BIGINT
    * columns: bit 63 of a single packed BIGINT would overflow to the
    * sign bit in Spark while DuckDB's SUM widens to HUGEINT — the two
    * engines would disagree on the same fingerprint.
    *
    * Scale shape (100 TB): decode + hash are map-side mapPartitions; the
    * only shuffle carries (h_hi, h_lo, doc_id) triples — 24 bytes/image
    * regardless of image size. Output keeps only buckets with >1 member
    * (the dedup candidates), aggregated as count + representative +
    * id-sum, all order-exact integers. */
  /** (doc_id, h_hi, h_lo) dHash fingerprints of every image — the
    * shared first stage of [[phashDedup]] and [[phashNear]]. */
  private def phashes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = mediaTable(spark, dir)
      .select("doc_id", "mime", "width", "height", "payload")
      .as[(Long, String, Int, Int, Array[Byte])]
    media.mapPartitions { it =>
      it.map { case (id, mime, w0, h0, payload) =>
        val (w, h, px) = decodeAny(id, mime, w0, h0, payload)
        var lo = 0L
        var hi = 0L
        var oy = 0
        while (oy < 8) {
          val sy = oy * h / 8
          var ox = 0
          while (ox < 8) {
            val a = px(sy * w + ox * w / 9)
            val b = px(sy * w + (ox + 1) * w / 9)
            if (b > a) {
              val bit = oy * 8 + ox
              if (bit < 32) lo |= 1L << bit else hi |= 1L << (bit - 32)
            }
            ox += 1
          }
          oy += 1
        }
        (id, hi, lo)
      }
    }.toDF("doc_id", "h_hi", "h_lo")
  }

  def phashDedup(spark: SparkSession, dir: String): DataFrame = {
    phashes(spark, dir).groupBy("h_hi", "h_lo")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("rep_doc"),
        sum("doc_id").as("id_sum"))
      .where(col("n_docs") > 1)
      .orderBy("h_hi", "h_lo")
  }

  /** Oracle: same 9×8 grid, same integer-div sample positions, same
    * closed-form pixels, same two-half packing — DuckDB recomputes the
    * fingerprints from the formula while Spark recovers them from the
    * decoded PNGs. */
  val phashDedupDuckSql: String =
    """WITH d AS (
      |  SELECT doc_id, CAST(16 + doc_id % 48 AS BIGINT) AS w,
      |         CAST(16 + (doc_id * 7) % 48 AS BIGINT) AS h
      |  FROM documents),
      |b AS (
      |  SELECT d.doc_id, ty.oy * 8 + tx.ox AS bit,
      |         CASE WHEN ((((tx.ox + 1) * d.w) // 9) * 7
      |                    + ((ty.oy * d.h) // 8) * 13 + d.doc_id * 31) % 256
      |                 > (((tx.ox * d.w) // 9) * 7
      |                    + ((ty.oy * d.h) // 8) * 13 + d.doc_id * 31) % 256
      |         THEN 1 ELSE 0 END AS v
      |  FROM d, generate_series(0, 7) AS tx(ox), generate_series(0, 7) AS ty(oy)),
      |hh AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN bit < 32 THEN v * (1::BIGINT << bit)
      |             ELSE 0 END) AS BIGINT) AS h_lo,
      |    CAST(SUM(CASE WHEN bit >= 32 THEN v * (1::BIGINT << (bit - 32))
      |             ELSE 0 END) AS BIGINT) AS h_hi
      |  FROM b GROUP BY doc_id)
      |SELECT h_hi, h_lo, COUNT(*) AS n_docs, MIN(doc_id) AS rep_doc,
      |       CAST(SUM(doc_id) AS BIGINT) AS id_sum
      |FROM hh GROUP BY 1, 2 HAVING COUNT(*) > 1
      |ORDER BY h_hi, h_lo""".stripMargin

  /** Hamming radius for [[phashNear]]. With 4 bands, the pigeonhole
    * principle makes band-blocking LOSSLESS exactly up to radius 3:
    * two hashes differing in ≤3 bits cannot differ in all 4 bands. */
  val NearRadius = 3

  /** Near-duplicate image PAIRS within dHash Hamming distance
    * [[NearRadius]], via 4×16-bit band blocking — the pigeonhole
    * guarantee (≤3 differing bits can touch at most 3 of the 4 bands)
    * means the banded equi-join finds EVERY qualifying pair without an
    * all-pairs comparison; the DuckDB oracle runs the brute-force
    * quadratic join, so a green row proves the blocking lossless, not
    * just plausible.
    *
    * Scale shape (100 TB): candidates come from a shuffle equi-join on
    * (band, key16) carrying 24-byte rows; the Hamming filter is pure
    * codegen (`bit_count(a^b)`, no UDF). Band buckets inherit dHash
    * skew (e.g. the all-ones band of saturated gradients) — at corpus
    * scale the hot buckets take the same salting/cap treatment as the
    * MinHash path (Dedup.MaxBucket); here the join stays exact because
    * the oracle is exact. */
  def phashNear(spark: SparkSession, dir: String): DataFrame = {
    val h = phashes(spark, dir)
    def band(i: Int, c: org.apache.spark.sql.Column) =
      struct(lit(i).as("band"), shiftright(c, 16 * (i % 2))
        .bitwiseAND(lit(0xFFFFL)).as("k"))
    val bands = h.select(col("doc_id"), col("h_hi"), col("h_lo"),
      explode(array(band(0, col("h_lo")), band(1, col("h_lo")),
        band(2, col("h_hi")), band(3, col("h_hi")))).as("bk"))
    val a = bands.select(col("bk"), col("doc_id").as("doc_a"),
      col("h_hi").as("hi_a"), col("h_lo").as("lo_a"))
    val b = bands.select(col("bk").as("bk_b"), col("doc_id").as("doc_b"),
      col("h_hi").as("hi_b"), col("h_lo").as("lo_b"))
    a.join(b, col("bk") === col("bk_b") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b"))))
          .cast("long").as("hamming"))
      .where(col("hamming") <= NearRadius)
      .distinct() // a pair can agree on several bands
      .orderBy("doc_a", "doc_b")
  }

  /** Oracle: BRUTE-FORCE all-pairs Hamming join over the closed-form
    * fingerprints — deliberately a different algorithm than Spark's
    * banded blocking, so agreement certifies losslessness. */
  val phashNearDuckSql: String =
    """WITH d AS (
      |  SELECT doc_id, CAST(16 + doc_id % 48 AS BIGINT) AS w,
      |         CAST(16 + (doc_id * 7) % 48 AS BIGINT) AS h
      |  FROM documents),
      |b AS (
      |  SELECT d.doc_id, ty.oy * 8 + tx.ox AS bit,
      |         CASE WHEN ((((tx.ox + 1) * d.w) // 9) * 7
      |                    + ((ty.oy * d.h) // 8) * 13 + d.doc_id * 31) % 256
      |                 > (((tx.ox * d.w) // 9) * 7
      |                    + ((ty.oy * d.h) // 8) * 13 + d.doc_id * 31) % 256
      |         THEN 1 ELSE 0 END AS v
      |  FROM d, generate_series(0, 7) AS tx(ox), generate_series(0, 7) AS ty(oy)),
      |hh AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN bit < 32 THEN v * (1::BIGINT << bit)
      |             ELSE 0 END) AS BIGINT) AS h_lo,
      |    CAST(SUM(CASE WHEN bit >= 32 THEN v * (1::BIGINT << (bit - 32))
      |             ELSE 0 END) AS BIGINT) AS h_hi
      |  FROM b GROUP BY doc_id)
      |SELECT * FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         CAST(bit_count(xor(a.h_hi::UBIGINT, b.h_hi::UBIGINT))
      |            + bit_count(xor(a.h_lo::UBIGINT, b.h_lo::UBIGINT))
      |            AS BIGINT) AS hamming
      |  FROM hh a JOIN hh b ON a.doc_id < b.doc_id)
      |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin

  /** Anchors kept per band bucket in [[phashNearCapped]]. */
  val AnchorK = 8

  /** PRODUCTION twin of [[phashNear]] — bounded output and bounded
    * per-bucket work on duplicate-dense corpora. The exact pair query
    * is the losslessness proof, but its output is quadratic in
    * duplicate density (real image corpora have massive exact-dup
    * clusters — logos, boilerplate thumbnails; the fixture's ~163-copy
    * clusters ran 289.6 s at sf10 materializing every pair). This twin
    * emits ONE survivorship row per document instead of pairs, and
    * compares each bucket member only against its bucket's
    * [[AnchorK]] smallest doc_ids (collected with the bounded heap
    * aggregator — map-side size-K heaps, no bucket ever collected
    * whole), so per-bucket work is |bucket|·K and output is exactly N
    * rows no matter how degenerate the clusters get.
    *
    * Semantics: doc b is flagged (keep = 0, dup_of = the smallest such
    * anchor, hamming via MIN_BY against it — the `dedup_semantic`
    * min-id dominance convention) iff some anchor with a smaller id in
    * one of b's 4 band buckets is within Hamming [[NearRadius]].
    * Exact-duplicate clusters dedup whenever the cluster's min id is
    * among the K smallest of any of the cluster's 4 shared buckets —
    * in particular always when the cluster dominates its bucket (the
    * duplicate-dense case this twin exists for); recall beyond the
    * anchors is traded away deliberately — the cap IS the production
    * contract (the Dedup.MaxBucket treatment, as an anchor bound
    * instead of dropping hot buckets, so dense exact clusters still
    * dedup rather than escaping through the drop). The
    * DuckDB oracle mirrors banding, anchor election, and survivorship
    * from the closed-form fingerprints, so a green row pins the cap
    * semantics cross-engine, not just plausibly. */
  def phashNearCapped(spark: SparkSession, dir: String): DataFrame =
    phashNearCappedFrom(phashes(spark, dir))

  /** The capped survivorship over an arbitrary (doc_id, h_hi, h_lo)
    * fingerprint frame — the uncached core, also driven by
    * `PhashCapPropsSpec` over randomized hash sets with planted
    * clusters. */
  private[graft] def phashNearCappedFrom(h: DataFrame): DataFrame = {
    def band(i: Int, c: org.apache.spark.sql.Column) =
      struct(lit(i).as("band"), shiftright(c, 16 * (i % 2))
        .bitwiseAND(lit(0xFFFFL)).as("k"))
    val bands = h.select(col("doc_id"), col("h_hi"), col("h_lo"),
      explode(array(band(0, col("h_lo")), band(1, col("h_lo")),
        band(2, col("h_hi")), band(3, col("h_hi")))).as("bk"))
    val topk = udaf(
      new graft.relational.TopK.GroupedTopK(AnchorK),
      org.apache.spark.sql.Encoders.product[
        graft.relational.TopK.TopKIn])
    // K smallest ids per bucket: top-K by (-id DESC) through the heap
    // (doc_id is exact in a Double far beyond any corpus size)
    val anchors = bands.groupBy(col("bk"))
      .agg(topk(negate(col("doc_id").cast("double")),
        col("doc_id")).as("t"))
      .select(col("bk"), explode(col("t.ids")).as("anchor_id"))
      .join(h.select(col("doc_id").as("anchor_id"),
        col("h_hi").as("hi_a"), col("h_lo").as("lo_a")), "anchor_id")
    val cand = bands
      .select(col("bk"), col("doc_id").as("doc_b"),
        col("h_hi").as("hi_b"), col("h_lo").as("lo_b"))
      .join(anchors, Seq("bk"))
      .where(col("anchor_id") < col("doc_b"))
      .select(col("doc_b"), col("anchor_id"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b"))))
          .cast("long").as("hamming"))
      .where(col("hamming") <= NearRadius)
    val d = cand.groupBy(col("doc_b"))
      .agg(min("anchor_id").as("dup_of"),
        min_by(col("hamming"), col("anchor_id")).as("hamming"))
    h.select(col("doc_id")).join(d, col("doc_id") === col("doc_b"), "left")
      .select(col("doc_id"),
        when(col("dup_of").isNull, 1L).otherwise(0L).as("keep"),
        col("dup_of"), col("hamming"))
      .orderBy("doc_id")
  }

  /** Oracle: same banding, same K-smallest anchor election, same
    * min-id survivorship — from the closed-form fingerprints. */
  val phashNearCappedDuckSql: String =
    s"""WITH d AS (
      |  SELECT doc_id, CAST(16 + doc_id % 48 AS BIGINT) AS w,
      |         CAST(16 + (doc_id * 7) % 48 AS BIGINT) AS h
      |  FROM documents),
      |b AS (
      |  SELECT d.doc_id, ty.oy * 8 + tx.ox AS bit,
      |         CASE WHEN ((((tx.ox + 1) * d.w) // 9) * 7
      |                    + ((ty.oy * d.h) // 8) * 13 + d.doc_id * 31) % 256
      |                 > (((tx.ox * d.w) // 9) * 7
      |                    + ((ty.oy * d.h) // 8) * 13 + d.doc_id * 31) % 256
      |         THEN 1 ELSE 0 END AS v
      |  FROM d, generate_series(0, 7) AS tx(ox), generate_series(0, 7) AS ty(oy)),
      |hh AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN bit < 32 THEN v * (1::BIGINT << bit)
      |             ELSE 0 END) AS BIGINT) AS h_lo,
      |    CAST(SUM(CASE WHEN bit >= 32 THEN v * (1::BIGINT << (bit - 32))
      |             ELSE 0 END) AS BIGINT) AS h_hi
      |  FROM b GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, h_hi, h_lo, bs.band,
      |         CASE bs.band WHEN 0 THEN h_lo & 65535
      |                      WHEN 1 THEN (h_lo >> 16) & 65535
      |                      WHEN 2 THEN h_hi & 65535
      |                      ELSE (h_hi >> 16) & 65535 END AS k
      |  FROM hh CROSS JOIN generate_series(0, 3) AS bs(band)),
      |anchors AS (
      |  SELECT band, k, doc_id AS anchor_id, h_hi AS hi_a, h_lo AS lo_a
      |  FROM (SELECT *, row_number() OVER (PARTITION BY band, k
      |                                     ORDER BY doc_id) AS rn
      |        FROM bands) WHERE rn <= $AnchorK),
      |cand AS (
      |  SELECT * FROM (
      |    SELECT m.doc_id AS doc_b, a.anchor_id,
      |           CAST(bit_count(xor(a.hi_a::UBIGINT, m.h_hi::UBIGINT))
      |              + bit_count(xor(a.lo_a::UBIGINT, m.h_lo::UBIGINT))
      |              AS BIGINT) AS hamming
      |    FROM bands m JOIN anchors a
      |      ON a.band = m.band AND a.k = m.k AND a.anchor_id < m.doc_id)
      |  WHERE hamming <= $NearRadius),
      |dd AS (
      |  SELECT doc_b, MIN(anchor_id) AS dup_of,
      |         MIN_BY(hamming, anchor_id) AS hamming
      |  FROM cand GROUP BY doc_b)
      |SELECT hh.doc_id,
      |       CAST(CASE WHEN dd.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT)
      |         AS keep,
      |       dd.dup_of, dd.hamming
      |FROM hh LEFT JOIN dd ON dd.doc_b = hh.doc_id
      |ORDER BY doc_id""".stripMargin

  // ---- audio: real WAV (RIFF PCM16) encode + javax.sound decode ----------

  /** Deterministic sample function: PCM16 sample i of doc `id`. */
  @inline private def sample(id: Long, i: Int): Short =
    (((id * 31L + i.toLong * 7919L) % 65536L) - 32768L).toShort

  /** Render a genuine mono PCM16 little-endian WAV container (44-byte
    * RIFF header + data chunk) — decoded back through the JDK's real
    * `javax.sound.sampled` codec, not hand-sliced offsets. */
  private def renderWav(id: Long, rate: Int, n: Int): Array[Byte] = {
    val dataLen = n * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) { buf.putShort(sample(id, i)); i += 1 }
    buf.array()
  }

  /** Direct RIFF/PCM16 parse — the hot-path decoder: a chunk walk over
    * the RIFF container (fmt validated as PCM16 mono, data sliced as
    * little-endian shorts) producing the SAME integers as the codec
    * path below, without the `javax.sound.sampled` stream stack whose
    * per-payload overhead dominated the sf10 audio rows (124 s for
    * 500k decodes; [[MultimodalSpec]] pins fast ≡ codec sample-exact,
    * and the anomaly-kernel rewrite is the precedent). Anything the
    * walk cannot validate — non-RIFF container, compressed or
    * multi-channel fmt, truncated chunks — falls back to the real
    * codec, so generality is unchanged. */
  private[multimodal] def decodeWavFast(id: Long,
      payload: Array[Byte]): (Int, Array[Short]) = {
    val bb = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourCC(off: Int): String =
      new String(payload, off, 4, "US-ASCII")
    if (payload.length < 44 || fourCC(0) != "RIFF" || fourCC(8) != "WAVE")
      return decodeWav(id, payload)
    var off = 12
    var rate = -1
    var fmtOk = false
    while (off + 8 <= payload.length) {
      val cid = fourCC(off)
      val sz = bb.getInt(off + 4)
      // overflow-safe: off + 8 + sz wraps negative for a corrupt
      // 2 GiB-ish chunk size and would pass the naive sum comparison —
      // the subtraction form can't wrap (loop guard: off+8 ≤ length)
      if (sz < 0 || sz > payload.length - off - 8)
        return decodeWav(id, payload)
      if (cid == "fmt ") {
        if (sz < 16) return decodeWav(id, payload)
        val audioFormat = bb.getShort(off + 8)
        val channels = bb.getShort(off + 10)
        rate = bb.getInt(off + 12)
        val bits = bb.getShort(off + 22)
        fmtOk = audioFormat == 1 && channels == 1 && bits == 16
        if (!fmtOk) return decodeWav(id, payload)
      } else if (cid == "data") {
        if (!fmtOk) return decodeWav(id, payload)
        val out = new Array[Short](sz / 2)
        var i = 0
        var p = off + 8
        while (i < out.length) { out(i) = bb.getShort(p); p += 2; i += 1 }
        return (rate, out)
      }
      off += 8 + sz + (sz & 1) // RIFF chunks pad to even offsets
    }
    decodeWav(id, payload)
  }

  /** Real decode via the JDK audio codec: header-validated sample rate +
    * PCM frames. Decode failures are loud for the same reason image
    * decode failures are. */
  private[multimodal] def decodeWav(id: Long, payload: Array[Byte]): (Int, Array[Short]) = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    val fmt = ais.getFormat
    if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
        fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1)
      throw new IllegalStateException(
        s"doc $id: unexpected WAV format $fmt")
    val bytes = ais.readAllBytes()
    val bb = java.nio.ByteBuffer.wrap(bytes).order(
      if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
      else java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Short](bytes.length / 2)
    var i = 0
    while (i < out.length) { out(i) = bb.getShort(); i += 1 }
    (fmt.getSampleRate.toInt, out)
  }

  /** documents → audio table: (doc_id, mime, rate, n, payload) with
    * payload a real WAV encoding of the deterministic signal. Cached and
    * pre-partitioned like the image table. */
  def audioTable(spark: SparkSession, dir: String): DataFrame =
    mediaCache.get(graft.BoundedCache.key(spark, "audio", dir)) {
      import spark.implicits._
      Tables.load(spark, dir, "documents").select(col("doc_id")).as[Long]
        .repartition(spark.sparkContext.defaultParallelism)
        .mapPartitions { it =>
          it.map { id =>
            val rate = (8000 + (id % 4) * 4000).toInt
            val n = (2000 + id % 1000).toInt
            (id, "audio/wav", rate, n, renderWav(id, rate, n))
          }
        }
        .toDF("doc_id", "mime", "rate", "n_samples", "payload")
        .persist()
    }

  /** Audio resample to a common 8 kHz — the rate-normalization pass a
    * multimodal pipeline runs before feature extraction. Real WAV decode
    * feeds a linear interpolator; because every source rate is a
    * multiple of 4 kHz, interpolation positions land on {0, 1/2}
    * fractions and the doubled sample values are EXACT integers — the
    * emitted fingerprints are integer sums, so the DuckDB oracle
    * recomputes them from the closed-form sample function with pure
    * integer arithmetic (no float drift possible on either engine). */
  def audioResample(spark: SparkSession, dir: String,
                    outRate: Int = 8000): DataFrame = {
    import spark.implicits._
    val audio = audioTable(spark, dir).select("doc_id", "payload")
      .as[(Long, Array[Byte])]
    audio.mapPartitions { it =>
      it.map { case (id, payload) =>
        val (sr, s) = decodeWavFast(id, payload)
        // the doubled-value trick below (2*v stays integral) only
        // represents fractional positions of exactly 1/2 — true for any
        // source rate that is a multiple of outRate/2 (all fixture
        // rates at the 8 kHz default). Other rate ratios would emit
        // silently wrong fingerprints, so they must fail loudly.
        require((2L * sr) % outRate == 0,
          s"audioResample supports source rates that are multiples of " +
            s"$outRate/2 Hz (got $sr Hz): fractional sample positions " +
            "other than 1/2 are not representable in the integer-exact " +
            "fingerprint")
        val nOut = ((s.length - 1).toLong * outRate / sr + 1).toInt
        var sum = 0L
        var sumsq = 0L
        var i = 0
        while (i < nOut) {
          val num = i.toLong * sr
          val i0 = (num / outRate).toInt
          val rem = num % outRate
          val s0 = s(i0).toLong
          // doubled interpolated value: 2*s0 + (s1-s0) at the half step
          val v2 = if (rem != 0L) 2 * s0 + (s(i0 + 1).toLong - s0) else 2 * s0
          sum += v2
          sumsq += v2 * v2
          i += 1
        }
        (id, sr.toLong, nOut.toLong, sum, sumsq)
      }
    }.toDF("doc_id", "rate", "n_out", "s2_sum", "s2_sumsq")
      .orderBy("doc_id")
  }

  /** Oracle for the resampler: same integer positions, same closed-form
    * samples, same doubled-value fingerprints — all integer math. */
  val audioResampleDuckSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |         2000 + doc_id % 1000 AS n,
      |         8000 + (doc_id % 4) * 4000 AS rate
      |  FROM documents),
      |o AS (SELECT doc_id, n, rate,
      |             (n - 1) * 8000 // rate + 1 AS n_out FROM d),
      |x AS (
      |  SELECT doc_id, rate, n_out,
      |    [2 * (((doc_id * 31 + ((i * rate) // 8000) * 7919) % 65536) - 32768)
      |     + CASE WHEN (i * rate) % 8000 != 0 THEN
      |         ((((doc_id * 31 + (((i * rate) // 8000) + 1) * 7919) % 65536) - 32768)
      |          - (((doc_id * 31 + ((i * rate) // 8000) * 7919) % 65536) - 32768))
      |       ELSE 0 END
      |     for i in generate_series(0, n_out - 1)] AS v2
      |  FROM o)
      |SELECT doc_id, CAST(rate AS BIGINT) AS rate,
      |       CAST(n_out AS BIGINT) AS n_out,
      |       CAST(list_sum(v2) AS BIGINT) AS s2_sum,
      |       CAST(list_sum(list_transform(v2, x -> x * x)) AS BIGINT) AS s2_sumsq
      |FROM x ORDER BY doc_id""".stripMargin

  /** Audio decode + feature-extract: real WAV decode via mapPartitions,
    * exact integer statistics (min/max/sum/sum-of-squares/zero-crossings
    * /duration) — the audio analog of decodeFeatures, DuckDB-checkable
    * from the closed-form sample function. */
  def audioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val audio = audioTable(spark, dir).select("doc_id", "payload")
      .as[(Long, Array[Byte])]
    audio.mapPartitions { it =>
      it.map { case (id, payload) =>
        val (sr, s) = decodeWavFast(id, payload)
        var mn = Long.MaxValue
        var mx = Long.MinValue
        var sum = 0L
        var sumsq = 0L
        var zc = 0L
        var i = 0
        while (i < s.length) {
          val v = s(i).toLong
          if (v < mn) mn = v
          if (v > mx) mx = v
          sum += v
          sumsq += v * v
          if (i > 0 && (v < 0) != (s(i - 1) < 0)) zc += 1
          i += 1
        }
        (id, sr.toLong, s.length.toLong, mn, mx, sum, sumsq, zc,
          s.length.toLong * 1000L / sr)
      }
    }.toDF("doc_id", "sr", "n_samples", "s_min", "s_max", "s_sum",
        "s_sumsq", "zc", "dur_ms")
      .orderBy("doc_id")
  }

  /** Energy-based voice-activity detection (VAD) — the segmentation
    * pass an audio curation pipeline runs to find speech-like regions
    * before transcription/feature extraction: the decoded signal is
    * framed (500 samples, trailing partial frame dropped), each
    * frame's mean-absolute energy thresholds into active/inactive, and
    * maximal runs of active frames become segments. Everything is
    * exact integers — frame energy is Σ|sample|, the threshold is the
    * uniform-noise expectation 16384·500 — so DuckDB replays frames
    * from the closed-form sample function and re-derives the same
    * segments via gaps-and-islands (f − row_number groups).
    *
    * Scale shape: the document is the parallel unit; per-doc state is
    * one frame-energy pass plus an O(frames) run scan inside the same
    * decode task — no shuffle after the decode, output is one row per
    * doc. */
  val VadFrame = 500
  val VadThresh: Long = 16384L * VadFrame

  def audioVad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val audio = audioTable(spark, dir).select("doc_id", "payload")
      .as[(Long, Array[Byte])]
    audio.mapPartitions { it =>
      it.map { case (id, payload) =>
        val (_, s) = decodeWavFast(id, payload)
        val nf = s.length / VadFrame
        var nActive = 0L
        var nSeg = 0L
        var maxRun = 0L
        var run = 0L
        var first = -1L
        var f = 0
        while (f < nf) {
          var e = 0L
          var i = f * VadFrame
          val end = i + VadFrame
          while (i < end) { e += math.abs(s(i).toLong); i += 1 }
          if (e > VadThresh) {
            nActive += 1
            run += 1
            if (run == 1L) nSeg += 1
            if (run > maxRun) maxRun = run
            if (first < 0L) first = f.toLong
          } else run = 0L
          f += 1
        }
        (id, nf.toLong, nActive, nSeg,
          if (nActive == 0L) None else Some(maxRun),
          if (first < 0L) None else Some(first))
      }
    }.toDF("doc_id", "n_frames", "n_active", "n_segments", "max_run",
        "first_active")
      .orderBy("doc_id")
  }

  /** Oracle: frame energies from the closed-form samples, segments via
    * the gaps-and-islands idiom (frame − row_number() is constant
    * within a run). */
  val audioVadDuckSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(2000 + doc_id % 1000 AS BIGINT) AS n
       |  FROM documents),
       |s AS (
       |  SELECT d.doc_id, d.n, g.i // $VadFrame AS f,
       |         ABS(((d.doc_id * 31 + g.i * 7919) % 65536) - 32768) AS av
       |  FROM d, generate_series(0, 2999) AS g(i)
       |  WHERE g.i < (d.n // $VadFrame) * $VadFrame),
       |fe AS (
       |  SELECT doc_id, f, SUM(av) AS e
       |  FROM s GROUP BY doc_id, f),
       |act AS (
       |  SELECT doc_id, f,
       |         f - row_number() OVER (PARTITION BY doc_id ORDER BY f)
       |           AS grp
       |  FROM fe WHERE e > $VadThresh),
       |seg AS (
       |  SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS run,
       |         MIN(f) AS f0
       |  FROM act GROUP BY doc_id, grp),
       |agg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
       |         CAST(SUM(run) AS BIGINT) AS n_active,
       |         CAST(MAX(run) AS BIGINT) AS max_run,
       |         CAST(MIN(f0) AS BIGINT) AS first_active
       |  FROM seg GROUP BY doc_id)
       |SELECT d.doc_id, CAST(d.n // $VadFrame AS BIGINT) AS n_frames,
       |       COALESCE(agg.n_active, CAST(0 AS BIGINT)) AS n_active,
       |       COALESCE(agg.n_segments, CAST(0 AS BIGINT)) AS n_segments,
       |       agg.max_run, agg.first_active
       |FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Oracle: recompute the decoded audio statistics from the closed-form
    * sample function (max n is 2999, so a fixed series + filter). */
  val audioFeaturesDuckSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |         CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) AS sr,
      |         CAST(2000 + doc_id % 1000 AS BIGINT) AS n
      |  FROM documents),
      |s AS (
      |  SELECT d.doc_id, d.sr, d.n, g.i,
      |         ((d.doc_id * 31 + g.i * 7919) % 65536) - 32768 AS v
      |  FROM d, generate_series(0, 2999) AS g(i)
      |  WHERE g.i < d.n),
      |z AS (
      |  SELECT doc_id, sr, n, v,
      |         LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
      |  FROM s)
      |SELECT doc_id, MIN(sr) AS sr, MIN(n) AS n_samples,
      |       CAST(MIN(v) AS BIGINT) AS s_min, CAST(MAX(v) AS BIGINT) AS s_max,
      |       CAST(SUM(v) AS BIGINT) AS s_sum,
      |       CAST(SUM(v * v) AS BIGINT) AS s_sumsq,
      |       CAST(SUM(CASE WHEN pv IS NOT NULL AND (v < 0) <> (pv < 0)
      |                THEN 1 ELSE 0 END) AS BIGINT) AS zc,
      |       CAST(MIN(n) * 1000 // MIN(sr) AS BIGINT) AS dur_ms
      |FROM z GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_metadata" -> Tables.sql(metadataSparkSql),
    "mm_decode_features" -> ((s, d) => decodeFeatures(s, d)),
    "mm_frame_sample" -> ((s, d) => frameSample(s, d)),
    "mm_scene_detect" -> ((s, d) => sceneDetect(s, d)),
    "mm_resize" -> ((s, d) => resize(s, d)),
    "mm_audio_features" -> ((s, d) => audioFeatures(s, d)),
    "mm_audio_resample" -> ((s, d) => audioResample(s, d)),
    "mm_audio_vad" -> ((s, d) => audioVad(s, d)),
    "mm_phash_dedup" -> ((s, d) => phashDedup(s, d)),
    "mm_phash_near" -> ((s, d) => phashNear(s, d)),
    "mm_phash_near_capped" -> ((s, d) => phashNearCapped(s, d))
  )

  val metadataDuckSql: String =
    """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |       CAST(16 + doc_id % 48 AS BIGINT) AS width,
      |       CAST(16 + (doc_id * 7) % 48 AS BIGINT) AS height
      |FROM documents ORDER BY doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "mm_metadata" -> metadataDuckSql,
    "mm_decode_features" -> decodeFeaturesDuckSql,
    "mm_scene_detect" -> sceneDetectDuckSql,
    "mm_frame_sample" -> frameSampleDuckSql,
    "mm_resize" -> resizeDuckSql,
    "mm_audio_features" -> audioFeaturesDuckSql,
    "mm_audio_resample" -> audioResampleDuckSql,
    "mm_audio_vad" -> audioVadDuckSql,
    "mm_phash_dedup" -> phashDedupDuckSql,
    "mm_phash_near" -> phashNearDuckSql,
    "mm_phash_near_capped" -> phashNearCappedDuckSql
  )
}
