package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing (north star:
  * BASELINE.json:6).
  *
  * Media are carried as opaque `binary` columns plus typed metadata
  * structs. Decoding status (round 13): RAW bitmaps, PNG, BMP, and
  * JPEG all decode for REAL — PNG/BMP in exact pure-JVM code
  * ([[ImageCodec]]: PNG's deflate is `java.util.zip`, the
  * filter/chunk/padding math is exact integer code here), JPEG via
  * the JDK's OWN `javax.imageio` baseline codec (public Java SE
  * API; the earlier rounds' environment-blocked premise was wrong —
  * probed working headless in this container). All feed
  * [[resizeRaw]]/[[extractFeaturesRaw]]'s exact pixel kernels.
  * JPEG's decode is deterministic per JVM but not bit-specified
  * across decoder implementations, so jpeg stays unit/prop tier
  * while png/bmp/raw are exact. Every Spark-side concern the
  * operator has at 100 TB is real and tested: schema, per-partition
  * batch iteration (one decoder instantiation per partition, the
  * same shape a Pandas-UDF/mapInPandas pipeline has), null/corrupt-
  * input handling, and partition-count preservation.
  *
  * Header format for the fake codec (12 bytes, big-endian):
  * magic "GFTI" | uint16 width | uint16 height | uint8 channels |
  * uint8 format tag | 2 reserved. Anything shorter/wrong-magic decodes
  * to null metadata (the quarantine path).
  */
object Multimodal {

  case class MediaMeta(width: Int, height: Int, channels: Int, format: String)

  /** Metadata decoder: the GFTI container header, plus REAL header
    * parses for all three codecs ([[ImageCodec]], round 13) — PNG
    * (signature + IHDR), BMP (BITMAPINFOHEADER), and JPEG (SOF
    * dimensions via the JDK's own ImageIO reader). Anything
    * unrecognized/truncated decodes to null metadata (the quarantine
    * path).
    */
  def decodeMeta(bytes: Array[Byte]): Option[MediaMeta] = {
    if (bytes == null) return None
    if (ImageCodec.isPng(bytes))
      return ImageCodec.pngMeta(bytes).map { case (w, h, c) => MediaMeta(w, h, c, "png") }
    if (ImageCodec.isBmp(bytes))
      return ImageCodec.bmpMeta(bytes).map { case (w, h, c) => MediaMeta(w, h, c, "bmp") }
    if (ImageCodec.isJpeg(bytes))
      return ImageCodec.jpegMeta(bytes).map { case (w, h, c) => MediaMeta(w, h, c, "jpeg") }
    if (GifCodec.isGif(bytes))
      return GifCodec.gifMeta(bytes).map { case (w, h, _) => MediaMeta(w, h, 3, "gif") }
    if (AudioCodec.isWav(bytes))
      return AudioCodec.wavMeta(bytes).map { case (_, nCh, _, nFrames) =>
        // audio in the image-meta shape: width = frames, height = 1,
        // channels = channel count — the degenerate-raster convention
        MediaMeta(nFrames.min(Int.MaxValue).toInt, 1, nCh, "wav") }
    if (bytes.length < 12) return None
    if (!(bytes(0) == 'G' && bytes(1) == 'F' && bytes(2) == 'T' && bytes(3) == 'I')) return None
    val w = ((bytes(4) & 0xff) << 8) | (bytes(5) & 0xff)
    val h = ((bytes(6) & 0xff) << 8) | (bytes(7) & 0xff)
    val c = bytes(8) & 0xff
    val fmt = (bytes(9) & 0xff) match {
      case 0 => "raw"; case 1 => "jpeg-like"; case 2 => "png-like"; case _ => "unknown"
    }
    Some(MediaMeta(w, h, c, fmt))
  }

  /** Decode any supported container to the row-major w·h·c raw body
    * the pixel kernels consume: GFTI `raw` (length-validated), PNG,
    * BMP (both exact pure-JVM decoders), JPEG (the JDK's own ImageIO
    * codec — deterministic per JVM but not bit-specified across
    * decoder implementations, so jpeg media stay in the unit/prop
    * tier). None for GFTI compressed tags and corrupt input.
    */
  def decodeToRaw(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
    if (bytes == null) return None
    if (ImageCodec.isPng(bytes)) return ImageCodec.decodePng(bytes)
    if (ImageCodec.isBmp(bytes)) return ImageCodec.decodeBmp(bytes)
    if (ImageCodec.isJpeg(bytes)) return ImageCodec.decodeJpeg(bytes)
    if (GifCodec.isGif(bytes)) // a still consumer sees frame 1
      return GifCodec.decodeGif(bytes, maxFrames = 1)
        .flatMap { case (w, h, fs) => fs.headOption.map(f => (w, h, 3, f)) }
    decodeMeta(bytes) match {
      case Some(m) if m.format == "raw" && m.width > 0 && m.height > 0 &&
          bytes.length - 12 == m.width * m.height * m.channels =>
        Some((m.width, m.height, m.channels, bytes.drop(12)))
      case _ => None
    }
  }

  /** Encode a header for tests / synthetic fixtures. */
  def encodeHeader(w: Int, h: Int, c: Int, fmtTag: Int, payload: Array[Byte]): Array[Byte] = {
    val hdr = Array[Byte]('G', 'F', 'T', 'I',
      ((w >> 8) & 0xff).toByte, (w & 0xff).toByte,
      ((h >> 8) & 0xff).toByte, (h & 0xff).toByte,
      c.toByte, fmtTag.toByte, 0, 0)
    hdr ++ payload
  }

  /** Attach decoded metadata to an (id, bytes) relation. Runs the
    * decoder per partition over an iterator — the decoder is
    * instantiated once per partition, never per row, and never leaves
    * the executor (no collect).
    */
  def withDecodedMeta(media: Dataset[(Long, Array[Byte])]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition decoder setup would happen here (stub: none)
      it.map { case (id, bytes) =>
        val m = decodeMeta(bytes)
        (id, bytes, m.map(_.width), m.map(_.height), m.map(_.channels), m.map(_.format))
      }
    }.toDF("media_id", "bytes", "width", "height", "channels", "format")
  }

  /** "Resize" stub: emits the target dims + a payload slice whose size
    * is proportional to the pixel ratio — the data-movement shape of a
    * real resize (output smaller than input, computed per row in the
    * executor).
    */
  def resizeStub(media: Dataset[(Long, Array[Byte])], targetW: Int, targetH: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { case (id, bytes) =>
        decodeMeta(bytes) match {
          case Some(m) if m.width > 0 && m.height > 0 =>
            val ratio = math.min(1.0,
              (targetW.toLong * targetH).toDouble / (m.width.toLong * m.height))
            val body = bytes.drop(12)
            val keep = math.max(1, (body.length * ratio).toInt)
            (id, encodeHeader(targetW, targetH, m.channels, 0, body.take(keep)), true)
          case _ => (id, null: Array[Byte], false)
        }
      }
    }.toDF("media_id", "resized", "ok")
  }

  /** Feature-extract stub: media bytes → unit-norm `Array[Float]`
    * embedding, the bridge from multimodal columns into the engine's
    * similarity/ANN operators (the output column is shape-compatible
    * with `embeddings.embedding`). The "model" is a deterministic
    * per-dimension byte fold — a real deployment swaps the fold for a
    * batched model call; everything around it (per-partition model
    * instantiation point, iterator batching, corrupt-input null path,
    * executor-side-only computation) is the real shape.
    */
  def extractFeaturesStub(media: Dataset[(Long, Array[Byte])], dim: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition model load would happen here (stub: none)
      it.map { case (id, bytes) =>
        decodeMeta(bytes) match {
          case Some(_) =>
            val body = bytes.drop(12)
            val raw = Array.tabulate(dim) { i =>
              var acc = 1125899906842597L * (i + 1)
              var j = 0
              while (j < body.length) { acc = acc * 31 + body(j); j += 1 }
              (acc % 1000) / 1000.0f
            }
            val n = math.sqrt(raw.foldLeft(0.0)((s, x) => s + x.toDouble * x))
            (id, if (n == 0.0) raw else raw.map(x => (x / n).toFloat), true)
          case None => (id, null: Array[Float], false)
        }
      }
    }.toDF("media_id", "embedding", "ok")
  }

  /** REAL box-downsample resize (round 12 fifth session for `raw`
    * bitmaps; round 13 extends it to PNG and BMP via the pure-JVM
    * [[ImageCodec]] — the compressed-codec carry shrinks to jpeg):
    * each output pixel is the floor-mean of its covering source
    * block (the PIL BOX / OpenCV INTER_AREA kernel), blocks
    * [x·W div tW, (x+1)·W div tW) × same for rows — integer
    * boundaries, exact floor-division means, deterministic
    * bit-for-bit. Payloads whose length disagrees with the header,
    * corrupt/truncated streams, and jpeg tags take the quarantine
    * path.
    *
    * Same executor-side per-partition shape as the stubs; at 100 TB
    * the only data movement is the shrunken payload.
    */
  def resizeRaw(media: Dataset[(Long, Array[Byte])], targetW: Int, targetH: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { case (id, bytes) =>
        decodeToRaw(bytes) match {
          case Some((w, h, c, body)) if w > 0 && h > 0 =>
            val out = new Array[Byte](targetW * targetH * c)
            var y = 0
            while (y < targetH) {
              val sy0 = y * h / targetH
              val sy1 = math.max(sy0 + 1, (y + 1) * h / targetH)
              var x = 0
              while (x < targetW) {
                val sx0 = x * w / targetW
                val sx1 = math.max(sx0 + 1, (x + 1) * w / targetW)
                var ch = 0
                while (ch < c) {
                  var sum = 0L
                  var cnt = 0L
                  var sy = sy0
                  while (sy < sy1) {
                    var sx = sx0
                    while (sx < sx1) {
                      sum += body((sy * w + sx) * c + ch) & 0xff
                      cnt += 1
                      sx += 1
                    }
                    sy += 1
                  }
                  out((y * targetW + x) * c + ch) = (sum / cnt).toByte
                  ch += 1
                }
                x += 1
              }
              y += 1
            }
            (id, encodeHeader(targetW, targetH, c, 0, out), true)
          case _ => (id, null: Array[Byte], false)
        }
      }
    }.toDF("media_id", "resized", "ok")
  }

  /** REAL feature extraction for raw/PNG/BMP media (the [[decodeToRaw]]
    * family): per-channel means plus a 4×4 grid of block luminance
    * means (each cell the exact floor-mean of its pixel block via
    * [[resizeRaw]]'s kernel), scaled to [0, 1] and unit-normalized —
    * shape-compatible with `embeddings.embedding`, so decoded media
    * flow straight into the cosine/ANN/centroid operators.
    * Deterministic integer pixel math; the one float step
    * (normalization) is fixed-order IEEE.
    */
  def extractFeaturesRaw(media: Dataset[(Long, Array[Byte])]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { case (id, bytes) =>
        featuresOf(bytes) match {
          case Some(f) => (id, f, true)
          case None => (id, null: Array[Float], false)
        }
      }
    }.toDF("media_id", "embedding", "ok")
  }

  /** The row-local feature kernel behind [[extractFeaturesRaw]] —
    * decode ([[decodeToRaw]]) then c channel means + the 4×4
    * luminance grid, unit-normalized. Exposed so registry keys can
    * run the codec path without re-stating the pixel math.
    */
  private[graft] def featuresOf(bytes: Array[Byte]): Option[Array[Float]] =
    decodeToRaw(bytes) match {
      case Some((w, h, c, body)) if w >= 4 && h >= 4 =>
        val chMean = Array.tabulate(c) { ch =>
          var s = 0L; var i = ch
          while (i < body.length) { s += body(i) & 0xff; i += c }
          (s / (w.toLong * h)).toFloat / 255.0f
        }
        val grid = new Array[Float](16)
        var gy = 0
        while (gy < 4) {
          val sy0 = gy * h / 4; val sy1 = math.max(sy0 + 1, (gy + 1) * h / 4)
          var gx = 0
          while (gx < 4) {
            val sx0 = gx * w / 4; val sx1 = math.max(sx0 + 1, (gx + 1) * w / 4)
            var sum = 0L; var cnt = 0L
            var sy = sy0
            while (sy < sy1) {
              var sx = sx0
              while (sx < sx1) {
                var ch = 0
                val base = (sy * w + sx) * c
                while (ch < c) { sum += body(base + ch) & 0xff; ch += 1 }
                cnt += c
                sx += 1
              }
              sy += 1
            }
            grid(gy * 4 + gx) = (sum / cnt).toFloat / 255.0f
            gx += 1
          }
          gy += 1
        }
        val raw = chMean ++ grid
        val n = math.sqrt(raw.foldLeft(0.0)((s, x) => s + x.toDouble * x))
        Some(if (n == 0.0) raw else raw.map(x => (x / n).toFloat))
      case _ => None
    }

  /** Media bytes → the `(vec_id, v)` relation the vector indexes
    * consume (round 13 — the "find media like this one" bridge):
    * decode + feature-extract each payload and keep the decodable
    * rows. Feeds [[IvfIndex.buildIndex]]/[[IvfIndex.probe]] directly
    * (cell-partitioned persisted ANN over media features) or any of
    * the cosine/LSH operators. Spec: an end-to-end planted-motif
    * retrieval over PNG/BMP/JPEG corpora (MultimodalCodecSpec).
    */
  def mediaFeatureRows(media: Dataset[(Long, Array[Byte])]): DataFrame =
    extractFeaturesRaw(media)
      .filter(col("ok"))
      .select(col("media_id").as("vec_id"),
        col("embedding").cast("array<double>").as("v"))

  /** Frame-sample stub for video-like payloads: every `stride`-th
    * fixed-size chunk of the payload becomes a "frame" row (generator
    * shape: one input row → N output rows, flatMap not collect).
    */
  def sampleFrames(media: Dataset[(Long, Array[Byte])], frameSize: Int, stride: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { case (id, bytes) =>
      if (decodeMeta(bytes).isEmpty) Iterator.empty
      else bytes.drop(12).grouped(frameSize).zipWithIndex
        .filter(_._2 % stride == 0)
        .map { case (chunk, idx) => (id, idx, chunk) }
    }.toDF("media_id", "frame_idx", "frame_bytes")
  }

  /** REAL frame sampling over multi-frame containers (round 14 —
    * [[GifCodec]] makes the plumbing above genuine): every `every`-th
    * composited frame of each GIF, capped at `maxSampled` rows per
    * media, each emitted as a GFTI raw container so the sampled
    * frames flow straight into [[resizeRaw]]/[[extractFeaturesRaw]]/
    * the ANN family like any other still. Decode stops at the last
    * sampled frame (LZW forces prefix decode, but frames past the
    * cap are never paid for). Corrupt/unsupported payloads emit a
    * single quarantine row (ok = false) — the per-row contract every
    * media operator here shares.
    *
    * Generator shape: one input row → ≤ maxSampled output rows via
    * flatMap — executor-local, no collect, and the canvas
    * compositing state lives only inside one row's decode.
    */
  def sampleGifFrames(media: Dataset[(Long, Array[Byte])], every: Int = 1,
      maxSampled: Int = Int.MaxValue): DataFrame = {
    require(every >= 1 && maxSampled >= 1, s"every=$every maxSampled=$maxSampled")
    import media.sparkSession.implicits._
    // The stride lives INSIDE the decoder (round 15, the r14 ADVICE
    // item): skipped frames are composited but never copied out, so
    // per-row memory is the ≤ maxSampled retained canvases — not the
    // every×maxSampled the retain-then-filter form held. Retained
    // frame j is composited index j·every by the decoder's contract.
    media.flatMap { case (id, bytes) =>
      GifCodec.decodeGif(bytes, maxFrames = maxSampled, keepEvery = every) match {
        case Some((w, h, frames)) =>
          frames.zipWithIndex.map { case (f, j) =>
            (id, j * every, encodeHeader(w, h, 3, 0, f), true)
          }
        case None => Seq((id, -1, null: Array[Byte], false))
      }
    }.toDF("media_id", "frame_idx", "frame", "ok")
  }
}
