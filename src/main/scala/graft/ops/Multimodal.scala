package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.sound.sampled.AudioSystem
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract / resize /
  * frame-sample stages.
  *
  * Codec status:
  *  - **image: REAL** — `javax.imageio` (PNG/JPEG/BMP/GIF ship with the
  *    JDK): true width/height, an 8-bin luminance histogram feature, and a
  *    real Graphics2D resize + PNG re-encode.
  *  - **audio: REAL** for WAV/AIFF/AU — `javax.sound.sampled` parses the
  *    header (true sample rate and frame count) AND the 16-bit PCM sample
  *    stream: integer-exact peak / RMS features (`audioPcmFeatures`).
  *  - **video: REAL for MJPEG-in-AVI** — a pure-JDK RIFF container walk
  *    (`aviMjpegFrames`) plus ImageIO per frame: true frame count, first-
  *    frame dims/feature, and real frame-byte sampling
  *    (`sampleFrameBytes`). Other codecs (H.264 etc.) degrade — a
  *    production deployment drops an FFmpeg-backed decoder into
  *    `decodeBytes`'s video arm without touching the pipeline shape.
  *  - payloads the codec cannot parse (corrupt, or synthetic test bytes)
  *    degrade to a deterministic descriptor derived from the byte length —
  *    decode never throws, so one bad file cannot fail a 100 TB job; the
  *    `decoded` flag marks rows for quarantine instead.
  *
  * Scale notes: media rows are wide (MBs); the operators below avoid
  * shuffling payload bytes — metadata is computed in a narrow map and
  * payloads are dropped as early as possible (`select` pruning reaches the
  * parquet scan, so a metadata-only query never reads the bytes).
  */
object Multimodal {

  /** Typed metadata envelope for a media payload. */
  case class MediaMeta(
      media_id: Long,
      kind: String,          // image | audio | video
      byte_len: Long,
      content_md5: String)

  /** Decoded-media descriptor. `decoded` = true when a real codec parsed
    * the payload; false = the deterministic degraded-mode descriptor.
    */
  case class DecodedMedia(
      media_id: Long,
      kind: String,
      width: Int,
      height: Int,
      sample_rate: Int,
      n_frames: Int,
      feature: Array[Float],
      decoded: Boolean)

  /** Attach a media envelope to a DataFrame with a binary `payload` column:
    * validates presence, derives byte length + digest. Pure column ops.
    */
  def withMediaMeta(df: DataFrame, idCol: String, payloadCol: String, kind: org.apache.spark.sql.Column): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      kind.as("kind"),
      octet_length(col(payloadCol)).cast("long").as("byte_len"),
      md5(col(payloadCol)).as("content_md5"),
      col(payloadCol).as("payload"))

  /** Real image decode: JDK ImageIO. None when the bytes are not a
    * supported image format.
    */
  private def decodeImage(id: Long, bytes: Array[Byte]): Option[DecodedMedia] =
    try Option(ImageIO.read(new ByteArrayInputStream(bytes))).map { img =>
      // 8-bin luminance histogram, normalized — deterministic per image
      val feature = new Array[Float](8)
      val (w, h) = (img.getWidth, img.getHeight)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
          feature(lum >> 5) += 1f
          x += 1
        }
        y += 1
      }
      val n = (w * h).toFloat
      var i = 0
      while (i < 8) { feature(i) /= n; i += 1 }
      DecodedMedia(id, "image", w, h, 0, 1, feature, decoded = true)
    } catch { case NonFatal(_) => None }

  /** Minimal RIFF/AVI walk: returns the MJPEG frame payloads — the
    * '..dc'/'..db' chunks inside the 'movi' LIST — of an AVI container.
    * Pure JDK byte scanning (RIFF is fourcc + little-endian size + data,
    * padded to even); unknown chunks/LISTs (hdrl, idx1, …) are skipped
    * structurally. None when the bytes are not RIFF/AVI.
    */
  def aviMjpegFrames(bytes: Array[Byte]): Option[Vector[Array[Byte]]] = {
    def fourcc(off: Int): String =
      new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    def u32(off: Int): Long =
      (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    if (bytes.length < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ") None
    else try {
      val frames = Vector.newBuilder[Array[Byte]]
      // All offset arithmetic stays in Long: a crafted u32 size near 2^32
      // must not wrap to a negative Int (the wrap once allowed a
      // non-advancing offset → infinite loop, or a backward walk →
      // negative array indices). Offsets are clamped to `to`, the cursor
      // must strictly advance every iteration, and LIST recursion is
      // depth-bounded (real AVIs nest RIFF→LIST(hdrl/movi)→LIST(rec );
      // anything deeper than 16 is a crafted payload, not a container).
      def walk(from: Int, to: Int, inMovi: Boolean, depth: Int): Unit = {
        if (depth > 16) return
        var off = from
        var corrupt = false
        while (!corrupt && off + 8 <= to) {
          val id = fourcc(off)
          val size = u32(off + 4) // 0..2^32-1, never negative
          val dataStart = off.toLong + 8
          val dataEnd = math.min(dataStart + size, to.toLong)
          if (id == "LIST" && size >= 4 && dataStart + 4 <= to) {
            walk((dataStart + 4).toInt, dataEnd.toInt,
              inMovi || fourcc(dataStart.toInt) == "movi", depth + 1)
          } else if (inMovi && size > 0 && dataStart + size <= to &&
              (id.endsWith("dc") || id.endsWith("db"))) {
            // only fully-present chunks: a size claim past the buffer end
            // is a truncated/crafted tail, not a decodable frame
            frames += java.util.Arrays.copyOfRange(
              bytes, dataStart.toInt, dataEnd.toInt)
          }
          val next = dataStart + size + (size & 1) // chunks pad to even
          if (next <= off || next > to) corrupt = true // truncated/crafted
          else off = next.toInt
        }
      }
      walk(12, math.min(bytes.length.toLong, 8 + u32(4)).toInt,
        inMovi = false, depth = 0)
      val fs = frames.result()
      if (fs.isEmpty) None else Some(fs)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Assemble an MJPEG AVI from pre-encoded JPEG frames — the video
    * fixture generator (minimal but structurally correct RIFF: an avih
    * header LIST the parser must skip, then the movi LIST). The video
    * analog of [[testPatternPng]]/[[squareWav]].
    */
  def buildMjpegAvi(frames: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      out.write(id.getBytes("US-ASCII")); out.write(le32(data.length))
      out.write(data); if (data.length % 2 == 1) out.write(0)
      out.toByteArray
    }
    def list(listType: String, content: Array[Byte]): Array[Byte] =
      chunk("LIST", listType.getBytes("US-ASCII") ++ content)
    val hdrl = list("hdrl", chunk("avih", new Array[Byte](56)))
    val movi = list("movi", frames.flatMap(f => chunk("00dc", f)).toArray)
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    bos.write("RIFF".getBytes("US-ASCII")); bos.write(le32(body.length))
    bos.write(body)
    bos.toByteArray
  }

  /** Real video decode: MJPEG-in-AVI via the RIFF walk + ImageIO on the
    * first frame (dims + luminance feature). None when not AVI/MJPEG.
    */
  private def decodeVideo(id: Long, bytes: Array[Byte]): Option[DecodedMedia] =
    aviMjpegFrames(bytes).flatMap { frames =>
      decodeImage(id, frames.head).map(first =>
        first.copy(kind = "video", n_frames = frames.size))
    }

  /** Real frame sampling over MJPEG AVI payloads: every `stride`-th
    * frame's actual JPEG bytes, (media_id, frame_idx, frame). Payloads
    * that are not MJPEG AVIs are absent ([[sampleFrames]] remains the
    * metadata-only plan over decode output). Narrow map.
    */
  def sampleFrameBytes(spark: SparkSession, media: DataFrame, stride: Int): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        aviMjpegFrames(bytes).toSeq.flatMap(fs =>
          fs.indices.by(stride).map(i => (id, i, fs(i))))
      }).toDF("media_id", "frame_idx", "frame")
  }

  /** Real audio header decode: WAV/AIFF/AU via javax.sound. */
  private def decodeAudio(id: Long, bytes: Array[Byte]): Option[DecodedMedia] =
    try {
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        val frames = math.max(ais.getFrameLength, 0L).toInt
        Some(DecodedMedia(id, "audio", 0, 0, fmt.getSampleRate.toInt, frames,
          Array.empty[Float], decoded = true))
      } finally ais.close()
    } catch { case NonFatal(_) => None }

  /** Degraded mode: deterministic descriptor from the byte length (same
    * formula for every engine — the l15 oracle recomputes it in SQL).
    */
  private def fallback(id: Long, kind: String, bytes: Array[Byte]): DecodedMedia = {
    val n = bytes.length
    val feature = new Array[Float](8)
    var i = 0
    while (i < n) { feature(i % 8) += (bytes(i) & 0xff) / 255.0f; i += 1 }
    DecodedMedia(
      media_id = id,
      kind = kind,
      width = if (kind == "image" || kind == "video") 64 + (n % 640) else 0,
      height = if (kind == "image" || kind == "video") 64 + (n % 480) else 0,
      sample_rate = if (kind == "audio") 16000 else 0,
      n_frames = if (kind == "video") 1 + (n % 30) else if (kind == "image") 1 else 0,
      feature = feature,
      decoded = false)
  }

  /** Decode one payload: real codec per kind, degraded-mode descriptor when
    * the codec cannot parse the bytes. Never throws.
    */
  def decodeBytes(id: Long, kind: String, bytes: Array[Byte]): DecodedMedia =
    (kind match {
      case "image" => decodeImage(id, bytes)
      case "audio" => decodeAudio(id, bytes)
      case "video" => decodeVideo(id, bytes) // REAL for MJPEG-in-AVI
      case _ => None
    }).getOrElse(fallback(id, kind, bytes))

  /** Real image resize: Graphics2D bilinear scale + PNG re-encode. None when
    * the payload is not a decodable image.
    */
  def resizeImageBytes(bytes: Array[Byte], w: Int, h: Int): Option[Array[Byte]] =
    try Option(ImageIO.read(new ByteArrayInputStream(bytes))).map { img =>
      val out = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
      } finally g.dispose()
      val bos = new ByteArrayOutputStream()
      ImageIO.write(out, "png", bos)
      bos.toByteArray
    } catch { case NonFatal(_) => None }

  /** Distributed decode: `mapPartitions` over (media_id, kind, payload) so
    * per-batch codec setup (decoder init, model load) amortizes once per
    * partition — the Scala analog of `mapInPandas` batching. ImageIO's
    * scanner setup is the per-partition cost here.
    */
  def decode(spark: SparkSession, media: DataFrame): Dataset[DecodedMedia] = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        ImageIO.setUseCache(false) // per-partition codec init: no temp-file cache
        it.map { case (id, kind, bytes) => decodeBytes(id, kind, bytes) }
      }
  }

  /** Distributed resize: re-encode every decodable image payload to w×h PNG;
    * non-image/corrupt payloads pass through unchanged (degraded mode, same
    * policy as decode).
    */
  def resize(spark: SparkSession, media: DataFrame, w: Int, h: Int): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          resizeImageBytes(bytes, w, h) match {
            case Some(b) => (id, b, true)
            case None => (id, bytes, false)
          }
        }
      }.toDF("media_id", "payload", "resized")
  }

  /** 64-bit average-hash (aHash) of an image: 8×8 box-average luminance
    * grid, bit i set when cell i's mean exceeds the global mean. Pure
    * integer pixel math over the real ImageIO decode — deterministic on
    * any JVM (no resampling filter involved, unlike getScaledInstance).
    * None when the bytes are not a decodable image.
    */
  def aHash64(bytes: Array[Byte]): Option[Long] =
    try Option(ImageIO.read(new ByteArrayInputStream(bytes))).flatMap { img =>
      val (w, h) = (img.getWidth, img.getHeight)
      if (w < 8 || h < 8) None
      else {
        val sums = new Array[Long](64)
        val counts = new Array[Long](64)
        var y = 0
        while (y < h) {
          val cy = y * 8 / h
          var x = 0
          while (x < w) {
            val cx = x * 8 / w
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
            sums(cy * 8 + cx) += lum
            counts(cy * 8 + cx) += 1
            x += 1
          }
          y += 1
        }
        // compare cell means to the global mean in exact cross-multiplied
        // integer form: no float division anywhere
        var totalSum = 0L; var totalCnt = 0L
        var i = 0
        while (i < 64) { totalSum += sums(i); totalCnt += counts(i); i += 1 }
        var hash = 0L
        i = 0
        while (i < 64) {
          if (sums(i) * totalCnt > totalSum * counts(i)) hash |= (1L << i)
          i += 1
        }
        Some(hash)
      }
    } catch { case NonFatal(_) => None }

  /** Integer-exact PCM features from a real audio decode: peak absolute
    * sample and RMS (floor of the exact integer sqrt of mean square) over
    * all channels of 16-bit PCM. Deterministic pure-integer math — the
    * sum of squares is exact in a Long up to ~2^33 samples (59 h at
    * 16-bit/44.1 kHz stereo). None when the bytes are not decodable audio
    * or not 16-bit PCM.
    */
  def audioPcmFeatures(bytes: Array[Byte]): Option[(Int, Long, Int, Long)] =
    try {
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        // bit depth alone is not enough: 16-bit UNSIGNED (or compressed
        // AIFC) bytes decoded as signed PCM yield plausible-looking garbage
        if (fmt.getSampleSizeInBits != 16 ||
            fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) None
        else {
          val big = fmt.isBigEndian
          val buf = new Array[Byte](8192)
          var peak = 0L
          var sumSq = 0L
          var n = 0L
          var carry = -1 // odd trailing byte across reads
          var read = ais.read(buf)
          while (read > 0) {
            var i = 0
            if (carry >= 0 && read > 0) {
              val s = if (big) (carry << 8) | (buf(0) & 0xff)
                      else ((buf(0) & 0xff) << 8) | carry
              val v = s.toShort.toLong
              peak = math.max(peak, math.abs(v)); sumSq += v * v; n += 1
              i = 1; carry = -1
            }
            while (i + 1 < read) {
              val s = if (big) ((buf(i) & 0xff) << 8) | (buf(i + 1) & 0xff)
                      else ((buf(i + 1) & 0xff) << 8) | (buf(i) & 0xff)
              val v = s.toShort.toLong
              peak = math.max(peak, math.abs(v)); sumSq += v * v; n += 1
              i += 2
            }
            if (i < read) carry = buf(i) & 0xff
            read = ais.read(buf)
          }
          if (n == 0) None
          else {
            val meanSq = sumSq / n
            // floor integer sqrt — exact, no floating point
            var r = math.max(0L, math.sqrt(meanSq.toDouble).toLong - 2)
            while ((r + 1) * (r + 1) <= meanSq) r += 1
            Some((fmt.getSampleRate.toInt, n, peak.toInt, r))
          }
        }
      } finally ais.close()
    } catch { case NonFatal(_) => None }

  /** Distributed audio feature extraction: (media_id, payload) →
    * (media_id, sample_rate, n_samples, peak_abs, rms) for every decodable
    * 16-bit PCM payload; undecodable payloads are absent. Narrow map —
    * payload bytes never shuffle.
    */
  def audioFeatureFrame(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        audioPcmFeatures(bytes).map { case (sr, n, peak, rms) =>
          (id, sr, n, peak, rms) }
      }).toDF("media_id", "sample_rate", "n_samples", "peak_abs", "rms")
  }

  /** Deterministic 16-bit mono little-endian WAV with real PCM content — a
    * square wave of amplitude `amp` (+amp/−amp alternating), so peak and
    * RMS are exactly `amp`. The audio fixture for the driver-gated l72
    * query and the specs (the WAV analog of [[testPatternPng]]).
    */
  def squareWav(sampleRate: Float, nFrames: Int, amp: Short): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
    val data = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) {
      val v: Short = if (i % 2 == 0) amp else (-amp).toShort
      data(2 * i) = (v & 0xff).toByte
      data(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new ByteArrayInputStream(data), fmt, nFrames.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Deterministic 64×64 synthetic picture (integer-mixed pixel function
    * of `seed`; `flipCorner` overwrites an n×n corner block white) — the
    * REAL-PNG fixture for the driver-gated image near-dup query and the
    * specs: same seed ⇒ byte-identical PNG on any JVM (PNG encoding of
    * TYPE_INT_RGB is deterministic), so gate row counts are stable.
    */
  def testPatternPng(seed: Int, flipCorner: Int = 0): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    // cell-quantized binary pattern: each 8×8 cell is solid black or
    // white from a hash of (seed, cell) — cell means are saturated (0 or
    // 255), far from the ~127 global mean, so the aHash is a robust
    // 64-bit code: different seeds are ~32 bits apart, and a corner flip
    // moves exactly the covered cells (no borderline bits)
    var y = 0
    while (y < 64) {
      var x = 0
      while (x < 64) {
        val cell = (y / 8) * 8 + (x / 8)
        var v = (seed * 83492791L) ^ (cell * 73856093L)
        v *= 2654435761L; v ^= v >>> 23; v *= 0x2127599bf4325c37L; v ^= v >>> 47
        img.setRGB(x, y, if ((v & 1L) == 1L) 0xffffff else 0x000000)
        x += 1
      }
      y += 1
    }
    var fy = 0
    while (fy < flipCorner) {
      var fx = 0
      while (fx < flipCorner) { img.setRGB(fx, fy, 0xffffff); fx += 1 }
      fy += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Distributed perceptual hashing: (media_id, payload) → (id, ahash) for
    * every decodable image; undecodable payloads are absent (quarantine
    * them via `decode`'s `decoded` flag, not here). Narrow map — payload
    * bytes never shuffle.
    */
  def imageAHash(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) => aHash64(bytes).map(hh => (id, hh)) }
      }.toDF("id", "ahash")
  }

  /** Near-duplicate image pairs within a hamming radius of the 64-bit
    * aHash — crops/re-encodes/minor edits of the same picture. Exact
    * pigeonhole blocking ([[Dedup.hammingPairs]]): shuffle volume is
    * corpus × (radius+1) block keys, never n². `maxBucket` is mandatory
    * (see [[Dedup.hammingPairs]]) — an uncapped block self-join over a
    * near-duplicate-heavy image corpus is quadratic in the worst block.
    */
  def imageNearDupPairs(hashed: DataFrame, maxHamming: Int,
      maxBucket: Int): DataFrame =
    Dedup.hammingPairs(hashed, "ahash", bits = 64, maxHamming, maxBucket)

  /** Frame sampling plan for video payloads: every `stride`-th frame index.
    * Metadata-only (no byte shuffling); the decode of selected frames would
    * ride on `decode` above.
    */
  def sampleFrames(decoded: DataFrame, stride: Int): DataFrame =
    decoded.filter(col("kind") === "video")
      .select(col("media_id"),
        explode(when(col("n_frames") > 0, sequence(lit(0), col("n_frames") - 1, lit(stride)))
          .otherwise(array().cast("array<int>"))).as("frame_idx"))
}
