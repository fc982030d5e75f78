package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One multimodal asset: opaque binary payload + typed metadata. The
  * payload is NEVER interpreted by the engine — it flows as
  * `BinaryType` through scans/shuffles; only the decode boundary (see
  * [[Multimodal.extractFeatures]]) touches bytes.
  */
case class MediaAsset(asset_id: Long, kind: String, payload: Array[Byte],
                      width: Int, height: Int, sample_rate: Int,
                      n_frames: Int, mime: String)

case class MediaFeature(asset_id: Long, kind: String, feature: Array[Float])

case class MediaHash(asset_id: Long, dhash: Long)

/** Multimodal-column operators (SURVEY.md §2c): image/audio/video as
  * opaque binary columns with typed metadata; decode / feature-extract /
  * resize / frame-sample implemented as batched partition-local
  * transforms.
  *
  * DECODE BOUNDARY: all three kinds are REAL — synthetic assets carry
  * actual PNG payloads (`javax.imageio`), actual PCM WAV payloads
  * (`javax.sound.sampled`) and actual multi-frame animated-GIF video
  * payloads (`javax.imageio` sequence writer), all in-JVM public APIs,
  * and feature extraction decodes them (grid-luminance pooling for
  * pixels — per frame for video, averaged across the frame sequence —
  * and windowed mean-amplitude pooling for samples): exactly the
  * decode→pool shape of a production featurizer. GIF stands in for
  * mp4/h264 (no such codec ships in a bare JVM) but exercises a REAL
  * multi-frame container decode loop; swapping the codec touches only
  * `decodeVideo`'s reader. `decodeStub` remains solely as the
  * corrupt-bytes degradation target.
  *
  * Scale posture: payloads never enter a shuffle wider than their
  * partition (mapPartitions only); metadata-only plans (resizePlan,
  * sampleFrames) prune the binary column at the parquet scan, so a
  * 100 TB asset table pays bytes only at the decode stage.
  */
object Multimodal {

  val Schema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("n_frames", IntegerType, nullable = true),
    StructField("mime", StringType, nullable = true)))

  /** Deterministic synthetic asset table (no media files ship with the
    * testdata). Image assets carry REAL PNG payloads: a seed-derived
    * pixel texture encoded with `javax.imageio` at the asset's
    * metadata dimensions (PNG is lossless, so decode→pool downstream is
    * exact and stable across runs). Audio/video payloads are raw
    * seed-derived bytes standing in for undecodable codec streams
    * (audio: 2048 16-bit samples).
    *
    * `withPayload = false` skips codec encoding and carries an empty
    * payload — for metadata-only consumers (resize/frame plans), which
    * on a real parquet asset table would prune the binary column at the
    * scan and never pay for bytes; generating payloads they won't read
    * would misrepresent those plans' cost.
    */
  def syntheticAssets(spark: SparkSession, n: Int,
                      withPayload: Boolean = true,
                      offset: Long = 0L): Dataset[MediaAsset] = {
    import spark.implicits._
    spark.range(n.toLong).map(i => makeAsset(i + offset, withPayload))
  }

  /** The generation contract for asset `i` — a pure function of the
    * asset id, shared by the distributed table ([[syntheticAssets]]) and
    * the sequential oracle replay ([[checksumOracleSql]]).
    */
  private[graft] def makeAsset(i: Long,
                               withPayload: Boolean = true): MediaAsset = {
    val kinds = Seq("image", "audio", "video")
    val kind = kinds((i % 3).toInt)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val seed = md.digest(s"asset-$i".getBytes("UTF-8"))
    // image/video dims stay modest (≤ 400×300) so encoding n assets is
    // a per-row cost of a few ms; video frame counts are the GIF's REAL
    // frame counts — metadata and payload agree by construction
    val (w, h) = kind match {
      case "image" => (160 + (i % 4).toInt * 40, 120 + (i % 4).toInt * 30)
      case "audio" => (0, 0)
      case _       => (160 + (i % 4).toInt * 80, 120 + (i % 4).toInt * 60)
    }
    val nFrames = if (kind == "video") 8 + (i % 4).toInt * 2 else 1
    val payload =
      if (!withPayload) Array.emptyByteArray
      else kind match {
        case "image" => encodePng(seed, w, h)
        case "audio" => encodeWav(seed, sampleRate = 16000,
          nSamples = 2048)
        case _ => encodeGif(seed, w, h, nFrames)
      }
    MediaAsset(i, kind, payload,
      width = w, height = h,
      sample_rate = if (kind == "audio") 16000 else 0,
      n_frames = nFrames,
      mime = kind match {
        case "image" => "image/png"
        case "audio" => "audio/wav"
        case _ => "image/gif"
      })
  }

  /** Deterministic RGB texture → PNG bytes. Pixel (x,y) channels are
    * pure functions of the 32-byte seed, so the encoded payload is
    * stable across runs and distinct across assets. The texture is a
    * 3:1 blend of a LOW-FREQUENCY field (bilinear over a seed-derived
    * 4×4 control grid, integer fixed-point — real images have spatial
    * structure, and a pure high-frequency stripe pattern makes every
    * perceptual-hash cell margin degenerate) with the original
    * high-frequency seed-stripe noise.
    */
  private[multimodal] def encodePng(seed: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    def ctrl(i: Int, j: Int, c: Int): Int =
      seed(((i * 5 + j * 11 + c * 7) & 0x7fffffff) % 32) & 0xff
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        def ch(c: Int): Int = {
          // 8.8 fixed-point position in the 4×4 control grid
          val fx = x * 3 * 256 / w; val fy = y * 3 * 256 / h
          val gx = fx >> 8; val tx = fx & 255
          val gy = fy >> 8; val ty = fy & 255
          val smooth = ((ctrl(gx, gy, c) * (256 - tx) + ctrl(gx + 1, gy, c) * tx) * (256 - ty) +
            (ctrl(gx, gy + 1, c) * (256 - tx) + ctrl(gx + 1, gy + 1, c) * tx) * ty) >> 16
          val noise = seed(((x * 31 + y * 17 + c * 7) & 0x7fffffff) % 32) & 0xff
          (smooth * 3 + noise) / 4
        }
        img.setRGB(x, y, (ch(0) << 16) | (ch(1) << 8) | ch(2))
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Deterministic multi-frame animation → animated GIF bytes: each
    * frame is a seed-derived grayscale texture (frame index folded into
    * the pixel function, so frames differ), written as a full-frame GIF
    * sequence with `javax.imageio`'s stock GIF writer. Grayscale keeps
    * the 256-entry GIF palette lossless, so decode→pool downstream is
    * exact and stable across runs. Like [[encodePng]], the texture is a
    * 3:1 blend with a LOW-FREQUENCY bilinear field — frame-CONSTANT (a
    * static-camera scene whose detail flickers frame to frame via the
    * f-folded noise term), the spatial structure a perceptual hash
    * holds on to across frame drops.
    */
  private[graft] def encodeGif(seed: Array[Byte], w: Int, h: Int,
                               nFrames: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    def ctrl(i: Int, j: Int): Int =
      seed(((i * 5 + j * 11 + 13) & 0x7fffffff) % 32) & 0xff
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nFrames) {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val fx = x * 3 * 256 / w; val fy = y * 3 * 256 / h
            val gx = fx >> 8; val tx = fx & 255
            val gy = fy >> 8; val ty = fy & 255
            val smooth = ((ctrl(gx, gy) * (256 - tx) + ctrl(gx + 1, gy) * tx) * (256 - ty) +
              (ctrl(gx, gy + 1) * (256 - tx) + ctrl(gx + 1, gy + 1) * tx) * ty) >> 16
            val noise = seed(((x * 31 + y * 17 + f * 13) & 0x7fffffff) % 32) & 0xff
            raster.setSample(x, y, 0, (smooth * 3 + noise) / 4)
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    out.toByteArray
  }

  /** REAL video decode + feature pooling: `javax.imageio` reads the
    * animated-GIF container frame by frame (a real multi-frame decoder
    * seek loop — the same shape an mp4 codec slots into), pooling mean
    * luminance over a ⌈√dim⌉ grid ACROSS frames with integer
    * accumulation. Undecodable bytes degrade to [[decodeStub]].
    */
  private[graft] def decodeVideo(payload: Array[Byte], dim: Int): Array[Float] = {
    val iis =
      try javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      catch { case _: java.io.IOException => null }
    if (iis == null) return decodeStub(payload, dim)
    val readers = javax.imageio.ImageIO.getImageReaders(iis)
    if (!readers.hasNext) { iis.close(); return decodeStub(payload, dim) }
    val reader = readers.next()
    try {
      reader.setInput(iis, false, true)
      val nf =
        try reader.getNumImages(true)
        catch { case _: java.io.IOException => -1 }
      if (nf <= 0) return decodeStub(payload, dim)
      val gw = math.ceil(math.sqrt(dim.toDouble)).toInt
      val gh = (dim + gw - 1) / gw
      val sums = new Array[Long](dim)
      val cnts = new Array[Long](dim)
      var f = 0
      while (f < nf) {
        val img = reader.read(f)
        var j = 0
        while (j < dim) {
          val (cx, cy) = (j % gw, j / gw)
          val x0 = cx * img.getWidth / gw
          val x1 = math.max(x0 + 1, (cx + 1) * img.getWidth / gw)
          val y0 = cy * img.getHeight / gh
          val y1 = math.max(y0 + 1, (cy + 1) * img.getHeight / gh)
          var y = y0
          while (y < math.min(y1, img.getHeight)) {
            var x = x0
            while (x < math.min(x1, img.getWidth)) {
              val rgb = img.getRGB(x, y)
              sums(j) += (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
              cnts(j) += 1; x += 1
            }
            y += 1
          }
          j += 1
        }
        f += 1
      }
      val out = new Array[Float](dim)
      var j = 0
      while (j < dim) {
        out(j) = if (cnts(j) == 0) 0f
                 else (sums(j).toDouble / cnts(j) / 127.5 - 1.0).toFloat
        j += 1
      }
      out
    } catch {
      case _: java.io.IOException => decodeStub(payload, dim)
    } finally {
      reader.dispose()
      iis.close()
    }
  }

  /** Deterministic PCM tone mix → WAV bytes (16-bit mono little-endian):
    * three sine partials whose frequencies/phases derive from the seed,
    * AMPLITUDE-MODULATED by a seed-derived low-frequency envelope (a
    * stationary tone mix has a flat loudness envelope, which makes
    * every perceptual-hash window margin degenerate — real audio has
    * dynamics), quantized to shorts — stable across runs, distinct
    * across assets.
    */
  private[multimodal] def encodeWav(seed: Array[Byte], sampleRate: Int,
                                    nSamples: Int): Array[Byte] = {
    def u(i: Int): Int = seed(i % 32) & 0xff
    val freqs = Seq(110.0 + u(0) * 8, 220.0 + u(1) * 4, 440.0 + u(2) * 2)
    val phases = Seq(u(3) / 255.0, u(4) / 255.0, u(5) / 255.0).map(_ * 2 * math.Pi)
    // envelope tuned to the clip length: 1–3 cycles across the clip so
    // the 65-window hash sees a real loudness contour
    val clipSecs = nSamples.toDouble / sampleRate
    val fm = (1.0 + u(6) / 128.0) / clipSecs
    val phm = u(7) / 255.0 * 2 * math.Pi
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val t = i.toDouble / sampleRate
      var s = 0.0
      var k = 0
      while (k < 3) { s += math.sin(2 * math.Pi * freqs(k) * t + phases(k)); k += 1 }
      val env = 0.55 + 0.45 * math.sin(2 * math.Pi * fm * t + phm)
      val q = math.max(-32768, math.min(32767, (s / 3.0 * env * 30000.0).toInt))
      pcm(2 * i) = (q & 0xff).toByte; pcm(2 * i + 1) = ((q >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate.toFloat, 16, 1,
      true, false)
    val in = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(in,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** REAL audio decode + feature pooling: `javax.sound.sampled` WAV
    * decode to PCM shorts, then mean |amplitude| over `dim` equal
    * windows, normalized to [-1, 1] — the decode→pool shape an audio
    * embedding slots into. Integer accumulation, so no float order to
    * vary. Undecodable bytes degrade to [[decodeStub]].
    */
  private[graft] def decodeAudio(payload: Array[Byte], dim: Int): Array[Float] = {
    val pcm =
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try ais.readAllBytes() finally ais.close()
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => null
        case _: java.io.IOException => null
      }
    if (pcm == null || pcm.length < 2) return decodeStub(payload, dim)
    val n = pcm.length / 2
    val out = new Array[Float](dim)
    var j = 0
    while (j < dim) {
      val s0 = j * n / dim
      val s1 = math.max(s0 + 1, (j + 1) * n / dim)
      var sum = 0L; var i = s0
      while (i < math.min(s1, n)) {
        // 16-bit little-endian mono, as written by the WAV container
        val v = ((pcm(2 * i + 1) << 8) | (pcm(2 * i) & 0xff)).toShort
        sum += math.abs(v.toLong); i += 1
      }
      val cnt = math.min(s1, n) - s0
      out(j) = if (cnt <= 0) 0f
               else math.min(1.0, sum.toDouble / cnt / 16384.0 - 1.0).toFloat
      j += 1
    }
    out
  }

  /** REAL image decode + feature pooling: `javax.imageio` PNG decode
    * (lossless — bit-exact pixels), then mean luminance over a
    * ⌈√dim⌉-wide grid of cells, normalized to [-1, 1] — the classic
    * decode→pool featurizer shape a CNN embedding slots into. Undecodable
    * bytes fall back to [[decodeStub]] so a corrupt row degrades instead
    * of killing the partition (the dead-letter philosophy of the log
    * parsers, applied to media).
    */
  private[graft] def decodeImage(payload: Array[Byte], dim: Int): Array[Float] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: java.io.IOException => null }
    if (img == null || img.getWidth == 0 || img.getHeight == 0)
      return decodeStub(payload, dim)
    val gw = math.ceil(math.sqrt(dim.toDouble)).toInt
    val gh = (dim + gw - 1) / gw
    val out = new Array[Float](dim)
    var j = 0
    while (j < dim) {
      val (cx, cy) = (j % gw, j / gw)
      val x0 = cx * img.getWidth / gw; val x1 = math.max(x0 + 1, (cx + 1) * img.getWidth / gw)
      val y0 = cy * img.getHeight / gh; val y1 = math.max(y0 + 1, (cy + 1) * img.getHeight / gh)
      var sum = 0L; var n = 0
      var y = y0
      while (y < math.min(y1, img.getHeight)) {
        var x = x0
        while (x < math.min(x1, img.getWidth)) {
          val rgb = img.getRGB(x, y)
          // integer ITU-R 601 luma — no float accumulation order to vary
          sum += (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
          n += 1; x += 1
        }
        y += 1
      }
      out(j) = if (n == 0) 0f else (sum.toDouble / n / 127.5 - 1.0).toFloat
      j += 1
    }
    out
  }

  /** Deterministic fallback decoder for CORRUPT/undecodable bytes only
    * (every kind now has a real codec path: PNG, WAV, animated GIF).
    * Output: `dim` floats in [-1, 1], a pure function of the payload
    * bytes — a corrupt row degrades to a stable fake feature instead of
    * killing the partition (the dead-letter philosophy of the log
    * parsers, applied to media).
    */
  private[graft] def decodeStub(payload: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
    var j = 0
    while (j < dim) {
      h = h * 6364136223846793005L + 1442695040888963407L
      out(j) = ((h >>> 11).toDouble / (1L << 53).toDouble).toFloat * 2f - 1f
      j += 1
    }
    out
  }

  /** Feature extraction over the binary column, batched per partition
    * (the JVM analog of `mapInPandas`: decode amortized over 128-row
    * groups, never row-at-a-time through a boxed UDF, payload bytes
    * never shuffled).
    */
  def extractFeatures(assets: Dataset[MediaAsset],
                      dim: Int = 64): Dataset[MediaFeature] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.grouped(128).flatMap { batch =>
        // batch boundary = where a real impl would hand an Arrow batch
        // to the codec/model runtime
        batch.iterator.map { a =>
          MediaFeature(a.asset_id, a.kind, decodeFeature(a, dim))
        }
      }
    }
  }

  /** Per-kind decode dispatch, shared by the distributed path
    * ([[extractFeatures]]) and the sequential oracle replay.
    */
  private[graft] def decodeFeature(a: MediaAsset, dim: Int): Array[Float] =
    a.kind match {
      case "image" => decodeImage(a.payload, dim)
      case "audio" => decodeAudio(a.payload, dim)
      case _ => decodeVideo(a.payload, dim)
    }

  /** 64-bit perceptual difference hash (dHash) of an image payload: PNG
    * decode, integer-luma means over a 9×8 cell grid, bit (x,y) set iff
    * cell (x,y) is brighter than its right neighbor (8 comparisons per
    * row × 8 rows = 64 bits). The sign-of-adjacent-difference encoding
    * makes the hash invariant to re-encoding (PNG is lossless) and to
    * uniform brightness/contrast changes (differences scale, signs
    * survive), which is exactly what a near-dup sweep over a scraped
    * image corpus must catch. Cell comparison is exact-integer
    * (cross-multiplied sums — cells have unequal pixel counts, and a
    * float mean would put platform rounding into a 64-bit identity).
    * Undecodable bytes degrade to a payload-derived stub hash, the
    * dead-letter philosophy of the decoders above.
    */
  private[graft] def dHash64(payload: Array[Byte]): Long = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: java.io.IOException => null }
    if (img == null || img.getWidth < 10 || img.getHeight < 9)
      return stubHash(payload)
    val gw = 9; val gh = 8
    val sums = new Array[Long](gw * gh)
    val cnts = new Array[Long](gw * gh)
    var y = 0
    while (y < img.getHeight) {
      val cy = y * gh / img.getHeight
      var x = 0
      while (x < img.getWidth) {
        val cx = x * gw / img.getWidth
        val rgb = img.getRGB(x, y)
        sums(cy * gw + cx) +=
          (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
        cnts(cy * gw + cx) += 1
        x += 1
      }
      y += 1
    }
    var bits = 0L
    var cy = 0
    while (cy < gh) {
      var cx = 0
      while (cx < gw - 1) {
        val l = cy * gw + cx
        // mean(l) > mean(l+1) without division: exact-integer cross-mul
        if (sums(l) * cnts(l + 1) > sums(l + 1) * cnts(l))
          bits |= 1L << (cy * 8 + cx)
        cx += 1
      }
      cy += 1
    }
    bits
  }

  /** Stable 64-bit fallback hash of undecodable payload bytes (same
    * degradation contract as [[decodeStub]]).
    */
  private def stubHash(payload: Array[Byte]): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
    h * 6364136223846793005L + 1442695040888963407L
  }

  /** Perceptual hashes for the image assets of a media table, batched
    * per partition like [[extractFeatures]] (payload bytes never enter
    * a shuffle; the output is 16 bytes per image regardless of payload
    * size — the reduction that makes media near-dup tractable at
    * 100 TB: hash once, then all pairing runs on the hashes).
    */
  def dHashes(assets: Dataset[MediaAsset]): Dataset[MediaHash] = {
    import assets.sparkSession.implicits._
    // per-element hashing has no per-batch setup (unlike
    // extractFeatures), so no grouped() re-batching — it would only
    // buffer up to batchSize payloads per task for zero benefit
    assets.filter(_.kind == "image").mapPartitions { it =>
      it.map(a => MediaHash(a.asset_id, dHash64(a.payload)))
    }
  }

  /** Id offset where the near-dup gate plants clones — far above any
    * base asset id the gate generates (asserted in [[makeCloneAsset]]).
    */
  private[graft] val CloneOffset = 1000000L

  /** Clone contract for the media near-dup gate — a pure function of
    * the source asset id, shared by the distributed table
    * ([[cloneAssets]]) and the sequential oracle replay
    * ([[nearDupOracleSql]]). Even source images are DOWNSCALED to half
    * resolution (exact-integer 2×2 box average — the re-encoded
    * thumbnail duplicate every scraped image corpus is full of; dHash's
    * grid pooling is resolution-invariant, so distance stays within a
    * few interpolation-margin bits); odd ones are darkened ~10% per
    * channel (integer ×9/10 rounding — the brightness shift the
    * sign-of-difference encoding is designed to survive).
    */
  private[graft] def makeCloneAsset(i: Long): MediaAsset = {
    require(i % 3 == 0, s"clones are planted on image assets, got id $i")
    require(i < CloneOffset, s"asset id $i collides with the clone id range")
    val a = makeAsset(i)
    val src = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(a.payload))
    val darken = i % 2 != 0
    val (ow, oh) =
      if (darken) (src.getWidth, src.getHeight)
      else (src.getWidth / 2, src.getHeight / 2)
    val out = new java.awt.image.BufferedImage(
      ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        val rgb =
          if (darken) {
            val c = src.getRGB(x, y)
            def d(sh: Int): Int = ((((c >> sh) & 0xff) * 9 + 5) / 10)
            (d(16) << 16) | (d(8) << 8) | d(0)
          } else {
            // 2×2 box average, exact integer (round half up)
            var r = 0; var g = 0; var b = 0
            var dy = 0
            while (dy < 2) {
              var dx = 0
              while (dx < 2) {
                val c = src.getRGB(2 * x + dx, 2 * y + dy)
                r += (c >> 16) & 0xff; g += (c >> 8) & 0xff; b += c & 0xff
                dx += 1
              }
              dy += 1
            }
            (((r + 2) / 4) << 16) | (((g + 2) / 4) << 8) | ((b + 2) / 4)
          }
        out.setRGB(x, y, rgb)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    a.copy(asset_id = i + CloneOffset, payload = bos.toByteArray,
      width = ow, height = oh)
  }

  /** The distributed clone table: one near-dup clone per image asset of
    * the `n`-row synthetic table.
    */
  def cloneAssets(spark: SparkSession, n: Int): Dataset[MediaAsset] = {
    import spark.implicits._
    spark.range(n.toLong).filter((i: java.lang.Long) => i % 3 == 0)
      .map((i: java.lang.Long) => makeCloneAsset(i.longValue))
  }

  /** DuckDB oracle for the near-dup gate: replay the asset + clone
    * contracts sequentially, dHash each image, and emit ALL pairs at
    * hamming distance ≤ `maxDist` as a literal VALUES table. The
    * sequential side is brute-force all-pairs, the distributed side is
    * the banded hamming join (`Dedup.hammingPairs`) — by pigeonhole the
    * banding is lossless at distance ≤ bands-1, so the gate proves the
    * blocking drops nothing, not just that the pipeline runs.
    */
  def nearDupOracleSql(n: Int, maxDist: Int): String = {
    val hashes = ((0L until n.toLong).filter(_ % 3 == 0).map { i =>
      i -> dHash64(makeAsset(i).payload)
    } ++ (0L until n.toLong).filter(_ % 3 == 0).map { i =>
      (i + CloneOffset) -> dHash64(makeCloneAsset(i).payload)
    }).sortBy(_._1)
    val rows = for {
      (ia, ha) <- hashes
      (ib, hb) <- hashes
      if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb)
      if d <= maxDist
    } yield s"($ia, $ib, $d)"
    require(rows.nonEmpty, "near-dup oracle found no pairs — bad plant")
    s"""SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       |  CAST(dist AS BIGINT) AS dist
       |FROM (VALUES ${rows.mkString(",\n  ")}) AS t(id_a, id_b, dist)
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB oracle for the mm07 media-registry screen: replay the
    * asset, clone and fresh-asset contracts sequentially, dHash each
    * image, and compute each batch asset's BRUTE-FORCE best registry
    * match (min hamming dist, ties to the lowest registry id — the
    * screen's own TopKAgg order) as a literal VALUES table. The
    * distributed side blocks on the persisted (band, bv) layout; by
    * pigeonhole the blocking is lossless at dist ≤ maxDist, so a
    * row-for-row hash match proves the REGISTRY screen drops nothing
    * vs exact all-pairs — dd20's invariant, hamming edition.
    */
  def mediaRegistryOracleSql(n: Int, freshN: Int, freshOffset: Long,
                             maxDist: Int): String = {
    require(freshOffset >= n && freshOffset + freshN <= CloneOffset,
      s"fresh id range [$freshOffset, ${freshOffset + freshN}) collides " +
        s"with base [0, $n) or clones [$CloneOffset, …)")
    val reg = (0L until n.toLong).filter(_ % 3 == 0)
      .map(i => i -> dHash64(makeAsset(i).payload))
    val batch =
      (0L until n.toLong).filter(_ % 3 == 0)
        .map(i => (i + CloneOffset) -> dHash64(makeCloneAsset(i).payload)) ++
        (freshOffset until freshOffset + freshN).filter(_ % 3 == 0)
          .map(i => i -> dHash64(makeAsset(i).payload))
    val rows = batch.sortBy(_._1).map { case (bid, bh) =>
      val cands = reg
        .map { case (rid, rh) => (java.lang.Long.bitCount(bh ^ rh), rid) }
        .filter(_._1 <= maxDist)
      if (cands.isEmpty)
        s"($bid, 1, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))"
      else { val (d, rid) = cands.min; s"($bid, 0, $rid, $d)" }
    }
    require(rows.exists(_.contains(", 0, ")) && rows.exists(_.contains(", 1, ")),
      "mm07 oracle degenerate — need both flagged clones and kept fresh assets")
    s"""SELECT CAST(asset_id AS BIGINT) AS asset_id,
       |  CAST(keep AS BIGINT) AS keep,
       |  CAST(dup_of AS BIGINT) AS dup_of, CAST(dist AS BIGINT) AS dist
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS t(asset_id, keep, dup_of, dist)
       |ORDER BY asset_id""".stripMargin
  }

  /** mm08's oracle: [[mediaRegistryOracleSql]] with the registry
    * RESTRICTED to deletion survivors (image ids with
    * `id % delMod != 0` removed by the RTBF pass) — the same clone
    * batch then screens against the smaller hash set, so a clone
    * whose source was deleted must now KEEP (unless another surviving
    * hash happens to sit within `maxDist` — the brute force decides,
    * not the plant), while survivors' clones still flag. The
    * degenerate-guard demands all three outcomes: a clone freed by
    * the deletion, a clone still flagged, and a kept fresh asset —
    * otherwise the gate would pass without exercising the deletion.
    */
  def mediaRegistryDeleteOracleSql(n: Int, freshN: Int, freshOffset: Long,
                                   maxDist: Int, delMod: Long): String = {
    require(freshOffset >= n && freshOffset + freshN <= CloneOffset,
      s"fresh id range [$freshOffset, ${freshOffset + freshN}) collides " +
        s"with base [0, $n) or clones [$CloneOffset, …)")
    val reg = (0L until n.toLong)
      .filter(i => i % 3 == 0 && i % delMod != 0)
      .map(i => i -> dHash64(makeAsset(i).payload))
    val batch =
      (0L until n.toLong).filter(_ % 3 == 0)
        .map(i => (i + CloneOffset) -> dHash64(makeCloneAsset(i).payload)) ++
        (freshOffset until freshOffset + freshN).filter(_ % 3 == 0)
          .map(i => i -> dHash64(makeAsset(i).payload))
    val rows = batch.sortBy(_._1).map { case (bid, bh) =>
      val cands = reg
        .map { case (rid, rh) => (java.lang.Long.bitCount(bh ^ rh), rid) }
        .filter(_._1 <= maxDist)
      if (cands.isEmpty)
        s"($bid, 1, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))"
      else { val (d, rid) = cands.min; s"($bid, 0, $rid, $d)" }
    }
    val freedClone = batch.exists { case (bid, bh) =>
      bid >= CloneOffset && (bid - CloneOffset) % delMod == 0 &&
        !reg.exists { case (_, rh) =>
          java.lang.Long.bitCount(bh ^ rh) <= maxDist }
    }
    require(freedClone && rows.exists(_.contains(", 0, ")) &&
      rows.exists(r => !r.contains(", 0, ")),
      "mm08 oracle degenerate — need a deletion-freed clone, a still-" +
        "flagged clone, and a kept asset")
    s"""SELECT CAST(asset_id AS BIGINT) AS asset_id,
       |  CAST(keep AS BIGINT) AS keep,
       |  CAST(dup_of AS BIGINT) AS dup_of, CAST(dist AS BIGINT) AS dist
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS t(asset_id, keep, dup_of, dist)
       |ORDER BY asset_id""".stripMargin
  }

  /** 64-bit perceptual difference hash of an audio payload — the audio
    * analog of [[dHash64]]: WAV decode to PCM, mean |amplitude| over 65
    * equal windows (the loudness envelope), bit i set iff window i is
    * louder than window i+1. Exact-integer cross-multiplied comparison;
    * invariant to uniform volume scaling and robust to requantization
    * (the transcode artifacts an audio near-dup sweep must catch).
    * Undecodable bytes degrade to the payload stub hash.
    */
  private[graft] def audioHash64(payload: Array[Byte]): Long = {
    val pcm =
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try ais.readAllBytes() finally ais.close()
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => null
        case _: java.io.IOException => null
      }
    if (pcm == null || pcm.length < 130) return stubHash(payload)
    val n = pcm.length / 2
    val w = 65
    val sums = new Array[Long](w)
    val cnts = new Array[Long](w)
    var j = 0
    while (j < w) {
      val s0 = j * n / w
      val s1 = math.max(s0 + 1, (j + 1) * n / w)
      var i = s0
      while (i < math.min(s1, n)) {
        val v = ((pcm(2 * i + 1) << 8) | (pcm(2 * i) & 0xff)).toShort
        sums(j) += math.abs(v.toLong); i += 1
      }
      cnts(j) = math.min(s1, n) - s0
      j += 1
    }
    var bits = 0L
    j = 0
    while (j < 64) {
      if (sums(j) * cnts(j + 1) > sums(j + 1) * cnts(j)) bits |= 1L << j
      j += 1
    }
    bits
  }

  /** Perceptual hashes for the audio assets — see [[dHashes]]. */
  def audioHashes(assets: Dataset[MediaAsset]): Dataset[MediaHash] = {
    import assets.sparkSession.implicits._
    assets.filter(_.kind == "audio").mapPartitions { it =>
      it.map(a => MediaHash(a.asset_id, audioHash64(a.payload)))
    }
  }

  /** Clone contract for the audio near-dup gate — pure function of the
    * source id, shared by [[audioCloneAssets]] and
    * [[audioNearDupOracleSql]]. Even source ids are volume-scaled ×0.9
    * (integer truncation toward zero — the envelope signs survive a
    * uniform gain change by construction); odd ids are requantized to
    * 8-bit depth (the lossy-transcode artifact: ±128 quantization
    * noise per sample, far under the envelope margins).
    */
  private[graft] def makeAudioCloneAsset(i: Long): MediaAsset = {
    require(i % 3 == 1, s"audio clones are planted on audio assets, got id $i")
    require(i < CloneOffset, s"asset id $i collides with the clone id range")
    val a = makeAsset(i)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(a.payload))
    val fmt = ais.getFormat
    val pcm = try ais.readAllBytes() finally ais.close()
    val n = pcm.length / 2
    var idx = 0
    while (idx < n) {
      val v = ((pcm(2 * idx + 1) << 8) | (pcm(2 * idx) & 0xff)).toShort
      val q =
        if (i % 2 == 0) (v * 9) / 10
        else (v >> 8) << 8
      pcm(2 * idx) = (q & 0xff).toByte
      pcm(2 * idx + 1) = ((q >> 8) & 0xff).toByte
      idx += 1
    }
    val in = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(in,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    a.copy(asset_id = i + CloneOffset, payload = out.toByteArray)
  }

  /** The distributed audio-clone table — see [[cloneAssets]]. */
  def audioCloneAssets(spark: SparkSession, n: Int): Dataset[MediaAsset] = {
    import spark.implicits._
    spark.range(n.toLong).filter((i: java.lang.Long) => i % 3 == 1)
      .map((i: java.lang.Long) => makeAudioCloneAsset(i.longValue))
  }

  /** DuckDB oracle for the audio near-dup gate — sequential replay +
    * brute-force all-pairs, same contract as [[nearDupOracleSql]].
    */
  def audioNearDupOracleSql(n: Int, maxDist: Int): String = {
    val hashes = ((0L until n.toLong).filter(_ % 3 == 1).map { i =>
      i -> audioHash64(makeAsset(i).payload)
    } ++ (0L until n.toLong).filter(_ % 3 == 1).map { i =>
      (i + CloneOffset) -> audioHash64(makeAudioCloneAsset(i).payload)
    }).sortBy(_._1)
    val rows = for {
      (ia, ha) <- hashes
      (ib, hb) <- hashes
      if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb)
      if d <= maxDist
    } yield s"($ia, $ib, $d)"
    require(rows.nonEmpty, "audio near-dup oracle found no pairs — bad plant")
    s"""SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       |  CAST(dist AS BIGINT) AS dist
       |FROM (VALUES ${rows.mkString(",\n  ")}) AS t(id_a, id_b, dist)
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** 64-bit perceptual difference hash of a video payload: the
    * multi-frame container decodes frame by frame (same reader loop as
    * [[decodeVideo]]), integer luma accumulates onto ONE 9×8 grid
    * ACROSS frames (the time-average scene), then the 64 adjacent-cell
    * sign bits of [[dHash64]]. Averaging over frames makes the hash
    * robust to frame drops/trims and per-frame noise — the re-encode
    * artifacts a video near-dup sweep must catch — while the exact
    * cross-multiplied comparison keeps it deterministic. Undecodable
    * bytes degrade to the payload stub hash.
    */
  private[graft] def videoHash64(payload: Array[Byte]): Long = {
    val iis =
      try javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      catch { case _: java.io.IOException => null }
    if (iis == null) return stubHash(payload)
    val readers = javax.imageio.ImageIO.getImageReaders(iis)
    if (!readers.hasNext) { iis.close(); return stubHash(payload) }
    val reader = readers.next()
    try {
      reader.setInput(iis, false, true)
      val nf =
        try reader.getNumImages(true)
        catch { case _: java.io.IOException => -1 }
      if (nf <= 0) return stubHash(payload)
      val gw = 9; val gh = 8
      val sums = new Array[Long](gw * gh)
      val cnts = new Array[Long](gw * gh)
      var f = 0
      while (f < nf) {
        val img = reader.read(f)
        if (img.getWidth < 10 || img.getHeight < 9) return stubHash(payload)
        var y = 0
        while (y < img.getHeight) {
          val cy = y * gh / img.getHeight
          var x = 0
          while (x < img.getWidth) {
            val cx = x * gw / img.getWidth
            val rgb = img.getRGB(x, y)
            sums(cy * gw + cx) +=
              (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                (rgb & 0xff) * 114) / 1000
            cnts(cy * gw + cx) += 1
            x += 1
          }
          y += 1
        }
        f += 1
      }
      var bits = 0L
      var cy = 0
      while (cy < gh) {
        var cx = 0
        while (cx < gw - 1) {
          val l = cy * gw + cx
          if (sums(l) * cnts(l + 1) > sums(l + 1) * cnts(l))
            bits |= 1L << (cy * 8 + cx)
          cx += 1
        }
        cy += 1
      }
      bits
    } catch {
      case _: java.io.IOException => stubHash(payload)
    } finally {
      reader.dispose()
      iis.close()
    }
  }

  /** Perceptual hashes for the video assets — see [[dHashes]]. */
  def videoHashes(assets: Dataset[MediaAsset]): Dataset[MediaHash] = {
    import assets.sparkSession.implicits._
    assets.filter(_.kind == "video").mapPartitions { it =>
      it.map(a => MediaHash(a.asset_id, videoHash64(a.payload)))
    }
  }

  /** Clone contract for the video near-dup gate — pure function of the
    * source id, shared by [[videoCloneAssets]] and
    * [[videoNearDupOracleSql]]. Even source ids are TRIMMED (last frame
    * dropped and re-encoded — the time-average hash must survive a
    * frame drop); odd ids are darkened ~10% per pixel (uniform gain,
    * the sign-of-difference encoding survives by construction).
    */
  private[graft] def makeVideoCloneAsset(i: Long): MediaAsset = {
    require(i % 3 == 2, s"video clones are planted on video assets, got id $i")
    require(i < CloneOffset, s"asset id $i collides with the clone id range")
    val a = makeAsset(i)
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(a.payload))
    val reader = javax.imageio.ImageIO.getImageReaders(iis).next()
    val trim = i % 2 == 0
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      reader.setInput(iis, false, true)
      val nf = reader.getNumImages(true)
      val keep = if (trim) nf - 1 else nf
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < keep) {
        val src = reader.read(f)
        val img = new java.awt.image.BufferedImage(
          src.getWidth, src.getHeight,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < src.getHeight) {
          var x = 0
          while (x < src.getWidth) {
            // grayscale source: any channel is the luma
            val v = src.getRGB(x, y) & 0xff
            raster.setSample(x, y, 0, if (trim) v else (v * 9 + 5) / 10)
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
      reader.dispose()
      iis.close()
    }
    a.copy(asset_id = i + CloneOffset, payload = out.toByteArray,
      n_frames = if (trim) a.n_frames - 1 else a.n_frames)
  }

  /** The distributed video-clone table — see [[cloneAssets]]. */
  def videoCloneAssets(spark: SparkSession, n: Int): Dataset[MediaAsset] = {
    import spark.implicits._
    spark.range(n.toLong).filter((i: java.lang.Long) => i % 3 == 2)
      .map((i: java.lang.Long) => makeVideoCloneAsset(i.longValue))
  }

  /** DuckDB oracle for the video near-dup gate — sequential replay +
    * brute-force all-pairs, same contract as [[nearDupOracleSql]].
    */
  def videoNearDupOracleSql(n: Int, maxDist: Int): String = {
    val hashes = ((0L until n.toLong).filter(_ % 3 == 2).map { i =>
      i -> videoHash64(makeAsset(i).payload)
    } ++ (0L until n.toLong).filter(_ % 3 == 2).map { i =>
      (i + CloneOffset) -> videoHash64(makeVideoCloneAsset(i).payload)
    }).sortBy(_._1)
    val rows = for {
      (ia, ha) <- hashes
      (ib, hb) <- hashes
      if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb)
      if d <= maxDist
    } yield s"($ia, $ib, $d)"
    require(rows.nonEmpty, "video near-dup oracle found no pairs — bad plant")
    s"""SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       |  CAST(dist AS BIGINT) AS dist
       |FROM (VALUES ${rows.mkString(",\n  ")}) AS t(id_a, id_b, dist)
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Order-stable integer checksum of a feature vector: each component
    * quantized to 1e-6 (the decoders emit values in [-1, 1], so the
    * quantized longs are exact), folded positionally. Lets a decoded
    * feature hash-match a precomputed literal without float formatting
    * ambiguity across engines.
    */
  def featureChecksum(feat: Array[Float]): Long = {
    var h = 1469598103934665603L
    var j = 0
    while (j < feat.length) {
      h = h * 1099511628211L ^ math.rint(feat(j).toDouble * 1e6).toLong
      j += 1
    }
    h
  }

  /** DuckDB oracle for the decode path: replay the generation contract
    * SEQUENTIALLY (no Spark — `makeAsset` + `decodeFeature` per id, one
    * driver-side loop at oracle-construction time) and emit the expected
    * `(asset_id, kind, feature_checksum)` rows as a literal VALUES
    * table. The gate then proves the DISTRIBUTED decode — partitioned
    * scan, batched mapPartitions, shuffle-free payload flow — reproduces
    * the contract bit-for-bit: a partitioning bug, a batch-boundary bug,
    * or a nondeterministic decode all flip the hash. (The mm02 pattern,
    * extended to outputs SQL cannot recompute.)
    */
  def checksumOracleSql(n: Int, dim: Int): String = {
    val rows = (0L until n.toLong).map { i =>
      val a = makeAsset(i)
      s"(${a.asset_id}, '${a.kind}', ${featureChecksum(decodeFeature(a, dim))})"
    }
    s"""SELECT CAST(asset_id AS BIGINT) AS asset_id, kind,
       |  CAST(feature_checksum AS BIGINT) AS feature_checksum
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS t(asset_id, kind, feature_checksum)
       |ORDER BY asset_id""".stripMargin
  }

  /** Metadata-only resize plan: target dims preserving aspect ratio,
    * capped at `maxSide`. Pure column arithmetic — the binary column is
    * pruned from the scan entirely (check ReadSchema in .explain).
    */
  def resizePlan(assets: DataFrame, maxSide: Int): DataFrame = {
    val scale = least(
      lit(maxSide).cast(DoubleType) / col("width"),
      lit(maxSide).cast(DoubleType) / col("height"),
      lit(1.0))
    assets
      .filter(col("kind") =!= "audio")
      .select(col("asset_id"), col("kind"), col("width"), col("height"),
        floor(col("width") * scale).cast(IntegerType).as("target_width"),
        floor(col("height") * scale).cast(IntegerType).as("target_height"))
  }

  /** Deterministic frame sampling for video assets: every `stride`-th
    * frame index up to `maxFrames` — one output row per sampled frame
    * (metadata only; a decoder would seek these indices).
    */
  def sampleFrames(assets: DataFrame, stride: Int, maxFrames: Int): DataFrame =
    assets
      .filter(col("kind") === "video")
      .select(col("asset_id"), col("n_frames"),
        explode(sequence(lit(0), least(col("n_frames") - 1,
          lit((maxFrames - 1) * stride)), lit(stride))).as("frame_idx"))

  /** Container-header probe over the raw binary column: magic bytes,
    * dimensions and sample rate decoded straight from the PNG / GIF /
    * WAV container headers with pure Catalyst byte arithmetic
    * (`substring`+`hex`+`conv` — no codec, no UDF, fully codegen'd;
    * PNG IHDR dims are big-endian u32 at offsets 16/20, the GIF
    * logical-screen descriptor is little-endian u16 at 6/8, the RIFF
    * fmt chunk's sample rate is little-endian u32 at 24).
    *
    * This is the validation/triage pass a binary-column pipeline runs
    * BEFORE paying for a decode — and it gives the multimodal surface
    * an oracle angle that is not a replay of the decode contract: the
    * oracle recomputes expected dims/rate from the generation contract
    * while Spark reads them out of the actual encoded bytes, so a
    * header corruption in the encoders breaks the gate even though no
    * SQL engine can decode the pixels.
    */
  def headerProbe(assets: DataFrame): DataFrame = {
    def byteAt(pos: Int): Column =
      conv(hex(substring(col("payload"), pos, 1)), 16, 10).cast(LongType)
    def be32(pos: Int): Column =
      conv(hex(substring(col("payload"), pos, 4)), 16, 10).cast(LongType)
    def le16(pos: Int): Column = byteAt(pos) + byteAt(pos + 1) * 256L
    def le32(pos: Int): Column =
      byteAt(pos) + byteAt(pos + 1) * 256L +
        byteAt(pos + 2) * 65536L + byteAt(pos + 3) * 16777216L
    val kind = col("kind")
    val magicOk =
      when(kind === "image",
        hex(substring(col("payload"), 1, 8)) === "89504E470D0A1A0A")
        .when(kind === "video",
          substring(col("payload"), 1, 3).cast(StringType) === "GIF")
        .otherwise(
          substring(col("payload"), 1, 4).cast(StringType) === "RIFF" &&
            substring(col("payload"), 9, 4).cast(StringType) === "WAVE")
    assets.select(
      col("asset_id"), kind,
      when(kind === "image", be32(17))
        .when(kind === "video", le16(7)).otherwise(0L).as("hdr_width"),
      when(kind === "image", be32(21))
        .when(kind === "video", le16(9)).otherwise(0L).as("hdr_height"),
      when(kind === "audio", le32(25)).otherwise(0L).as("hdr_rate"),
      magicOk.cast(LongType).as("magic_ok"))
  }
}
