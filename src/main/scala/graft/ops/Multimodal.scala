package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: images/audio/video ride through the
  * pipeline as opaque `binary` columns with typed metadata, processed by
  * per-partition batch transforms.
  *
  * ALL THREE modalities decode for REAL with zero external codec
  * libraries. IMAGE: `decodeImage` uses the JDK's `javax.imageio`
  * readers (BMP/PNG/JPEG/GIF) for genuine width/height plus a
  * mean-channel feature, with `encodeBmp` building deterministic real
  * BMPs as the test/oracle source. AUDIO: `decodeWav` runs the JDK's
  * `javax.sound.sampled.AudioSystem` reader (WAV/AIFF/AU) for genuine
  * format metadata plus signal RMS, with `encodeWav` as the
  * deterministic source. VIDEO: `decodeAvi` parses the RIFF/AVI
  * container (header metadata cross-checked against the stream) and
  * decodes EVERY frame through the same `javax.imageio` path by
  * wrapping each uncompressed DIB frame as a BMP — genuine per-frame
  * pixel decode, with `encodeAvi` as the deterministic source (an
  * MJPEG AVI would ride the identical path: '00dc' JPEG chunks feed
  * ImageIO directly).
  *
  * Scale notes: payloads stay columnar until the decode stage; the decode
  * is embarrassingly parallel per partition with no shuffle;
  * `spark.sql.files.maxPartitionBytes` bounds per-task memory when the
  * source is `binaryFile`; per-image feature cost is bounded by the
  * sampling grid regardless of resolution, per-video cost by frames ×
  * that grid.
  */
object Multimodal {

  /** In-memory ImageIO input over a byte payload. `ImageIO.read(an
    * InputStream)` consults the GLOBAL `ImageIO.getUseCache()` flag —
    * true by default — and spools the whole stream into a disk temp
    * file (`FileCacheImageInputStream`) before the reader touches it:
    * one file create+write+delete PER DECODED IMAGE, i.e. per FRAME on
    * the video path (r15, found root-causing q127's 2-6 s swing — the
    * decode is pure CPU but its wall time tracked /tmp load, not
    * compute). Handing ImageIO a `MemoryCacheImageInputStream` directly
    * bypasses the file cache with no global state and byte-identical
    * decode output. */
  private def imageInput(bytes: Array[Byte]) =
    new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))

  /** Typed record entering the decode stage. */
  case class MediaRow(media_id: Long, payload: Array[Byte])

  // ---- real image path (javax.imageio) --------------------------------

  /** Decoded-image record: genuine dimensions + a 4-dim feature
    * (mean R/G/B over a bounded sample grid, byte count). width/height
    * are -1 when the payload is not a decodable image (T8-style error
    * containment: bad media never fails the task). */
  case class ImageFeatures(media_id: Long, n_bytes: Long, width: Int,
                           height: Int, feature: Array[Double])

  /** Minimal 24-bit uncompressed BMP writer — a deterministic REAL image
    * (decodable by any BMP reader) built from (width, height, seed).
    * Used as the synthetic image source for tests and q25: file size is
    * the closed-form 54 + rowSize·height with rowSize = ⌈3·w/4⌉·4, so a
    * SQL oracle can predict n_bytes exactly. */
  def encodeBmp(width: Int, height: Int, seed: Long): Array[Byte] = {
    val rowSize = (3 * width + 3) / 4 * 4
    val dataSize = rowSize * height
    val fileSize = 54 + dataSize
    val b = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(fileSize)
      .putInt(0).putInt(54) // reserved, pixel-data offset
    b.putInt(40).putInt(width).putInt(height) // BITMAPINFOHEADER
      .putShort(1).putShort(24) // planes, bpp
      .putInt(0).putInt(dataSize) // BI_RGB, data size
      .putInt(2835).putInt(2835).putInt(0).putInt(0) // 72 dpi, palette
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val v = seed + 31L * x + 17L * y
        b.put((v * 7 & 0xFF).toByte)
        b.put((v * 13 & 0xFF).toByte)
        b.put((v * 29 & 0xFF).toByte)
        x += 1
      }
      var p = 3 * width
      while (p < rowSize) { b.put(0.toByte); p += 1 }
      y += 1
    }
    b.array()
  }

  /** REAL image decode via the JDK's ImageIO readers (BMP/PNG/JPEG/GIF):
    * genuine dimensions and mean-RGB over a ≤64×64 sample grid (cost is
    * O(1) per image regardless of resolution). None for undecodable
    * bytes. */
  def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Array[Double])] =
    try {
      val img = javax.imageio.ImageIO.read(imageInput(bytes))
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val sx = math.max(1, w / 64); val sy = math.max(1, h / 64)
        var sr = 0L; var sg = 0L; var sb = 0L; var n = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
            n += 1; x += sx
          }
          y += sy
        }
        Some((w, h, Array(sr.toDouble / n / 255.0, sg.toDouble / n / 255.0,
          sb.toDouble / n / 255.0, bytes.length.toDouble)))
      }
    } catch { case _: Exception => None }

  /** Partition-batched REAL decode stage (same execution shape as
    * [[extractFeatures]]); undecodable payloads yield (-1, -1, empty)
    * instead of failing the task. */
  def extractImageFeatures(media: Dataset[MediaRow]): Dataset[ImageFeatures] = {
    implicit val enc = Encoders.product[ImageFeatures]
    media.mapPartitions { rows =>
      rows.map { r =>
        decodeImage(r.payload) match {
          case Some((w, h, f)) =>
            ImageFeatures(r.media_id, r.payload.length.toLong, w, h, f)
          case None =>
            ImageFeatures(r.media_id, r.payload.length.toLong, -1, -1,
              Array.empty)
        }
      }
    }
  }

  /** End-to-end REAL image pipeline: synthesize a deterministic BMP per
    * id (width = 1 + id mod 64, height = 1 + id mod 48, seed = id),
    * decode it back with ImageIO, emit features. The encode and decode
    * both run inside the same mapPartitions batch — at 100 TB this is
    * the shape of read-binary → decode → featurize with no shuffle. */
  def imagePipeline(df: DataFrame, id: String): DataFrame = {
    implicit val rowEnc = Encoders.product[MediaRow]
    implicit val longEnc = Encoders.scalaLong
    val media = df.select(col(id).cast("long")).as[Long]
      .mapPartitions(_.map(i =>
        MediaRow(i, encodeBmp(1 + (i % 64).toInt, 1 + (i % 48).toInt, i))))
    extractImageFeatures(media).toDF()
  }

  /** 64-bit DIFFERENCE HASH (dHash) of an image: average-pool the
    * decoded pixels to a 9×8 luminance grid, set bit (row·8+col) iff
    * the right neighbor is strictly brighter. The classic perceptual
    * fingerprint for image near-dup detection — stable under resize
    * and uniform brightness shifts (it encodes gradient SIGNS, not
    * values). Integer arithmetic throughout (ITU-R 601 luma in
    * thousandths), so the hash is a pure function of the pixel grid.
    * None for undecodable bytes (T8 error containment). */
  def dHash64(bytes: Array[Byte]): Option[Long] = try {
    val img = javax.imageio.ImageIO.read(imageInput(bytes))
    if (img == null) None
    else {
      val w = img.getWidth; val h = img.getHeight
      val grid = Array.ofDim[Long](8, 9)
      var gy = 0
      while (gy < 8) {
        var gx = 0
        while (gx < 9) {
          val x0 = gx * w / 9; val x1 = math.max(x0 + 1, (gx + 1) * w / 9)
          val y0 = gy * h / 8; val y1 = math.max(y0 + 1, (gy + 1) * h / 8)
          var s = 0L; var n = 0L
          var y = y0
          while (y < math.min(y1, h)) {
            var x = x0
            while (x < math.min(x1, w)) {
              val p = img.getRGB(x, y)
              s += 299L * ((p >> 16) & 0xFF) + 587L * ((p >> 8) & 0xFF) +
                114L * (p & 0xFF)
              n += 1; x += 1
            }
            y += 1
          }
          // degenerate tiny images: clamp the sample point into range
          if (n == 0) {
            val p = img.getRGB(math.min(x0, w - 1), math.min(y0, h - 1))
            s = 299L * ((p >> 16) & 0xFF) + 587L * ((p >> 8) & 0xFF) +
              114L * (p & 0xFF)
            n = 1
          }
          grid(gy)(gx) = s / n
          gx += 1
        }
        gy += 1
      }
      var hash = 0L
      var i = 0
      while (i < 64) {
        val r = i / 8; val c = i % 8
        if (grid(r)(c + 1) > grid(r)(c)) hash |= (1L << i)
        i += 1
      }
      Some(hash)
    }
  } catch { case _: Exception => None }

  /** Image NEAR-DUP detection by banded dHash: hash every payload
    * (mapPartitions decode stage, no shuffle), block candidates on
    * 16-bit hash bands, verify with exact Hamming distance.
    *
    * Recall contract (pigeonhole): two images at Hamming distance
    * d < 4 ALWAYS share one of the 4 bands — exact recall for
    * `maxHamming` ≤ 3; larger thresholds trade recall like MinHash
    * banding. Scale: candidates come from key-equality joins on
    * (band, value) with E[bucket] set by the hash distribution — the
    * same blocking-join shape as the text dedup family; no pairwise
    * scan, nothing data-sized broadcast. Returns (id_a, id_b, hamming)
    * with id_a < id_b. */
  def imageNearDup(media: Dataset[MediaRow],
                   maxHamming: Int = 3): DataFrame = {
    implicit val enc = Encoders.product[ImageHash]
    val hashes = media.mapPartitions(_.flatMap(r =>
      dHash64(r.payload).map(h => ImageHash(r.media_id, h)))).toDF()
    val bands = hashes.select(col("media_id"), col("hash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("hash"), 16 * b)
              .bitwiseAND(lit(0xFFFFL)).as("v"))): _*)).as("bv"))
      .select(col("media_id"), col("hash"),
        col("bv.band").as("band"), col("bv.v").as("v"))
    val cand = bands.as("l")
      .join(bands.as("r"),
        col("l.band") === col("r.band") && col("l.v") === col("r.v") &&
          col("l.media_id") < col("r.media_id"))
      .select(col("l.media_id").as("id_a"), col("r.media_id").as("id_b"),
        col("l.hash").as("ha"), col("r.hash").as("hb"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int"))
  }

  /** (id, dHash) row for the near-dup blocking stage. */
  case class ImageHash(media_id: Long, hash: Long)

  // ---- real audio path (javax.sound.sampled) --------------------------

  /** Decoded-audio record: format metadata from the decoder + signal
    * RMS. sample_rate = -1 flags an undecodable payload (T8-style error
    * containment, as with images). */
  case class AudioFeatures(media_id: Long, n_bytes: Long, sample_rate: Int,
                           channels: Int, n_frames: Long, rms: Double)

  /** Minimal PCM16 mono WAV writer — deterministic REAL audio (any RIFF
    * reader decodes it). Samples alternate +amp/−amp every frame (a
    * Nyquist-frequency square wave), so for an even frame count the RMS
    * is EXACTLY amp (sum of squares = n·amp², and IEEE sqrt of the
    * perfect square is exact) — a closed form a SQL oracle can predict,
    * like encodeBmp's file size. File size = 44 + 2·nFrames. */
  def encodeWav(nFrames: Int, sampleRate: Int, amp: Short): Array[Byte] = {
    val dataSize = 2 * nFrames
    val b = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2) // byte rate = rate·2
      .putShort(2).putShort(16) // block align, bits/sample
    b.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < nFrames) {
      b.putShort(if (i % 2 == 0) amp else (-amp).toShort)
      i += 1
    }
    b.array()
  }

  /** REAL audio decode via the JDK's `javax.sound.sampled`: the format
    * metadata comes from the AudioSystem reader (not hand-parsed), and
    * RMS is computed over the decoded PCM16 stream honoring the
    * format's endianness. None for undecodable bytes. */
  def decodeWav(bytes: Array[Byte]): Option[(Int, Int, Long, Double)] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        val frames = in.getFrameLength
        val data = in.readAllBytes()
        val big = fmt.isBigEndian
        var i = 0; var sumSq = 0.0; var n = 0L
        while (i + 1 < data.length) {
          val s =
            if (big) ((data(i) << 8) | (data(i + 1) & 0xFF)).toShort
            else ((data(i + 1) << 8) | (data(i) & 0xFF)).toShort
          sumSq += s.toDouble * s
          n += 1; i += 2
        }
        Some((fmt.getSampleRate.toInt, fmt.getChannels, frames,
          if (n == 0) 0.0 else math.sqrt(sumSq / n)))
      } finally in.close()
    } catch { case _: Exception => None }

  /** Partition-batched REAL audio decode stage (same execution shape as
    * the image path); undecodable payloads yield (-1, -1, -1, 0.0). */
  def extractAudioFeatures(media: Dataset[MediaRow]): Dataset[AudioFeatures] = {
    implicit val enc = Encoders.product[AudioFeatures]
    media.mapPartitions { rows =>
      rows.map { r =>
        decodeWav(r.payload) match {
          case Some((rate, ch, frames, rms)) =>
            AudioFeatures(r.media_id, r.payload.length.toLong, rate, ch,
              frames, rms)
          case None =>
            AudioFeatures(r.media_id, r.payload.length.toLong, -1, -1, -1L,
              0.0)
        }
      }
    }
  }

  /** End-to-end REAL audio pipeline: synthesize a deterministic WAV per
    * id (frames = 100 + (id mod 50)·2 — always even, rate = 8000 +
    * (id mod 4)·4000, amp = 500 + id mod 1000), decode it back through
    * AudioSystem, emit features. Encode+decode run inside one
    * mapPartitions batch — no shuffle. */
  def audioPipeline(df: DataFrame, id: String): DataFrame = {
    implicit val rowEnc = Encoders.product[MediaRow]
    implicit val longEnc = Encoders.scalaLong
    val media = df.select(col(id).cast("long")).as[Long]
      .mapPartitions(_.map(i => MediaRow(i,
        encodeWav(100 + (i % 50).toInt * 2, 8000 + (i % 4).toInt * 4000,
          (500 + i % 1000).toShort))))
    extractAudioFeatures(media).toDF()
  }

  // ---- real video path (RIFF/AVI container + per-frame imageio) -------

  /** Decoded-video record: container metadata + per-frame decode. width
    * = -1 flags an undecodable payload; `n_frames` counts frames that
    * actually DECODED (cross-checked against the header's totalFrames by
    * the spec); `feature` is the mean R/G/B over all frames' sample
    * grids — the video-level embedding stand-in. */
  case class VideoFeatures(media_id: Long, n_bytes: Long, width: Int,
                           height: Int, n_frames: Long,
                           feature: Array[Double])

  /** Minimal uncompressed-DIB AVI writer ('vids'/'DIB ' stream, one
    * '00db' chunk per 24-bit bottom-up BGR frame — the same pixel layout
    * as [[encodeBmp]], frame f seeded with seed+1000·f so frames
    * differ). File size is closed-form:
    * 224 + nFrames·(8 + rowSize·height), rowSize = ⌈3w/4⌉·4 — so a SQL
    * oracle can predict n_bytes exactly, like encodeBmp/encodeWav. */
  def encodeAvi(width: Int, height: Int, nFrames: Int,
                seed: Long): Array[Byte] = {
    val rowSize = (3 * width + 3) / 4 * 4
    val frameData = rowSize * height
    val moviSize = 4 + nFrames * (8 + frameData)
    val fileSize = 224 + nFrames * (8 + frameData)
    val b = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(s: String): Unit = b.put(s.getBytes("US-ASCII"))
    fourcc("RIFF"); b.putInt(fileSize - 8); fourcc("AVI ")
    fourcc("LIST"); b.putInt(192); fourcc("hdrl") // 4 + 64 + 124
    fourcc("avih"); b.putInt(56)
    b.putInt(40000)            // microSecPerFrame (25 fps)
      .putInt(0).putInt(0)     // maxBytesPerSec, padding
      .putInt(0)               // flags
      .putInt(nFrames)         // totalFrames
      .putInt(0).putInt(1)     // initialFrames, streams
      .putInt(frameData)       // suggestedBufferSize
      .putInt(width).putInt(height)
      .putInt(0).putInt(0).putInt(0).putInt(0) // reserved
    fourcc("LIST"); b.putInt(116); fourcc("strl") // 4 + 64 + 48
    fourcc("strh"); b.putInt(56)
    fourcc("vids"); fourcc("DIB ")
    b.putInt(0).putInt(0).putInt(0) // flags, prio+lang, initialFrames
      .putInt(1).putInt(25)    // scale, rate (25 fps)
      .putInt(0).putInt(nFrames) // start, length
      .putInt(frameData).putInt(-1).putInt(0) // bufSize, quality, sampleSize
      .putShort(0).putShort(0).putShort(width.toShort).putShort(height.toShort)
    fourcc("strf"); b.putInt(40)
    b.putInt(40).putInt(width).putInt(height) // BITMAPINFOHEADER
      .putShort(1).putShort(24)
      .putInt(0).putInt(frameData)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    fourcc("LIST"); b.putInt(moviSize); fourcc("movi")
    var f = 0
    while (f < nFrames) {
      fourcc("00db"); b.putInt(frameData)
      val s = seed + 1000L * f
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val v = s + 31L * x + 17L * y
          b.put((v * 7 & 0xFF).toByte)
          b.put((v * 13 & 0xFF).toByte)
          b.put((v * 29 & 0xFF).toByte)
          x += 1
        }
        var p = 3 * width
        while (p < rowSize) { b.put(0.toByte); p += 1 }
        y += 1
      }
      f += 1
    }
    b.array()
  }

  /** REAL video decode: walk the RIFF chunk tree for the 'avih' header
    * (width/height/totalFrames) and the 'movi' payload, then decode
    * EVERY '00db' frame through [[decodeImage]] by prepending a 54-byte
    * BMP header to the raw DIB data — each frame goes through the same
    * genuine ImageIO reader as still images ('00dc' compressed frames,
    * e.g. MJPEG's JPEGs, are handed to ImageIO as-is). Returns (width,
    * height, decodedFrames, mean RGB over frames); None for undecodable
    * bytes. */
  def decodeAvi(bytes: Array[Byte]): Option[(Int, Int, Long, Array[Double])] =
    try {
      val b = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourcc(): String = {
        val a = new Array[Byte](4); b.get(a); new String(a, "US-ASCII")
      }
      if (fourcc() != "RIFF") return None
      b.getInt // riff size
      if (fourcc() != "AVI ") return None
      var width = 0; var height = 0
      var frames = List.empty[Array[Byte]]
      // iterative chunk walk over a work list of [start, end) regions
      var regions = List((b.position(), bytes.length))
      while (regions.nonEmpty) {
        val (start, end) = regions.head
        regions = regions.tail
        b.position(start)
        while (b.position() + 8 <= end) {
          val id = fourcc()
          val size = b.getInt
          val body = b.position()
          id match {
            case "LIST" =>
              fourcc() // list type; descend into its children
              regions = (b.position(), body + size) :: regions
            case "avih" =>
              b.getInt; b.getInt; b.getInt; b.getInt; b.getInt
              b.getInt; b.getInt; b.getInt
              width = b.getInt; height = b.getInt
            case "00db" | "00dc" =>
              val data = new Array[Byte](size)
              b.position(body); b.get(data)
              frames = data :: frames
            case _ => // strh/strf/junk: skip
          }
          b.position(body + size + (size & 1)) // chunks are word-aligned
        }
      }
      if (width <= 0 || height <= 0) return None
      val rowSize = (3 * width + 3) / 4 * 4
      val decoded = frames.reverse.flatMap { data =>
        // '00db' raw DIB → prepend a BMP header; '00dc' (JPEG etc.) is
        // already a self-contained image stream for ImageIO
        val candidate =
          if (data.length == rowSize * height) {
            val h = java.nio.ByteBuffer.allocate(54 + data.length)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            h.put('B'.toByte).put('M'.toByte).putInt(54 + data.length)
              .putInt(0).putInt(54)
              .putInt(40).putInt(width).putInt(height)
              .putShort(1).putShort(24)
              .putInt(0).putInt(data.length)
              .putInt(2835).putInt(2835).putInt(0).putInt(0)
            h.put(data).array()
          } else data
        decodeImage(candidate)
      }
      if (decoded.isEmpty) None
      else {
        val feat = Array.tabulate(3)(c =>
          decoded.map(_._3(c)).sum / decoded.size)
        Some((width, height, decoded.size.toLong, feat))
      }
    } catch { case _: Exception => None }

  /** Partition-batched REAL video decode stage (same execution shape as
    * the image/audio paths); undecodable payloads yield
    * (-1, -1, -1, empty). */
  def extractVideoFeatures(media: Dataset[MediaRow]): Dataset[VideoFeatures] = {
    implicit val enc = Encoders.product[VideoFeatures]
    media.mapPartitions { rows =>
      rows.map { r =>
        decodeAvi(r.payload) match {
          case Some((w, h, nf, f)) =>
            VideoFeatures(r.media_id, r.payload.length.toLong, w, h, nf, f)
          case None =>
            VideoFeatures(r.media_id, r.payload.length.toLong, -1, -1, -1L,
              Array.empty)
        }
      }
    }
  }

  /** End-to-end REAL video pipeline: synthesize a deterministic AVI per
    * id (width = 1 + id mod 32, height = 1 + id mod 24, frames = 2 +
    * id mod 6, seed = id), decode every frame back through ImageIO,
    * emit features. Encode+decode run inside one mapPartitions batch —
    * no shuffle, the binaryFile→decode→featurize shape. */
  def videoPipeline(df: DataFrame, id: String): DataFrame = {
    implicit val rowEnc = Encoders.product[MediaRow]
    implicit val longEnc = Encoders.scalaLong
    val media = df.select(col(id).cast("long")).as[Long]
      .mapPartitions(_.map(i => MediaRow(i,
        encodeAvi(1 + (i % 32).toInt, 1 + (i % 24).toInt,
          2 + (i % 6).toInt, i))))
    extractVideoFeatures(media).toDF()
  }
}
