package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * BINARY columns with typed metadata, processed in partition-sized
  * batches. Every codec path here is REAL — the JDK ships PNG and JPEG
  * (javax.imageio, headless-safe), and the RIFF containers (WAVE,
  * MJPEG AVI) are simple enough to emit and parse spec-correct bytes by
  * hand. Because the synthetic pixel/sample values are pure doc-id
  * arithmetic, a DuckDB oracle replays the GENERATOR and a hash match
  * proves the byte-level encode→decode round trip through the real
  * codec; lossy paths (JPEG) gate on an error band instead.
  *
  * Scale notes: payloads stay columnar-compressed at rest and are never
  * collected; every decoder runs inside mapPartitions so per-context
  * init (ImageIO writer/reader lookup — cached per thread below)
  * amortizes across a partition — the Scala analogue of Python's
  * `mapInPandas` batch UDF.
  */
object Multimodal {

  /** Synthesis ids drive INTEGER parameter arithmetic (dims, rates,
    * pixel bases), so the id column must be integral: a non-integral
    * column would cast to NULL and die as an encoder NPE mid-job —
    * reject it at call time instead (the labelPropagation rule). */
  private def requireIntegralId(df: DataFrame, idCol: String, fn: String): Unit = {
    val t = df.schema(idCol).dataType
    require(Seq[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
        .contains(t),
      s"$fn needs an integral id column (synthesis parameters are integer arithmetic on it), got ${t.sql}")
  }


  /** A media row: opaque payload + source metadata. */
  final case class MediaRow(media_id: Long, payload: Array[Byte], format: String)

  /** Decoded visual features. Integral fields are Long so downstream
    * outputs hash against BIGINT oracle columns. byte_len is the REAL
    * container size — codec-dependent (the JDK encoder picks it), so
    * oracle-checked projections leave it out; it stays for size-cap
    * filters and the specs. */
  final case class MediaFeatures(media_id: Long, byte_len: Long, format: String,
                                 width: Long, height: Long, n_frames: Long)

  /** REAL visual feature extraction — dims/frame counts read from the
    * actual container bytes, dispatched on magic numbers (the input's
    * `format` label is untrusted): PNG → IHDR, MJPEG AVI → avih. Rows
    * that are neither (audio, garbage) are DROPPED — audio features are
    * [[audioDsp]]'s job. One decoder context per partition, amortized
    * across the batch (the mapInPandas-equivalent shape). */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val b = r.payload
        // isPng already requires b.length > 33, which covers the 24-byte
        // IHDR read below — no separate length conjunct
        if (isPng(b)) {
          val bb = java.nio.ByteBuffer.wrap(b, 16, 8) // IHDR w/h, BE
          Some(MediaFeatures(r.media_id, b.length.toLong, "png",
            bb.getInt.toLong, bb.getInt.toLong, 1L))
        } else if (isAvi(b)) {
          aviMainHeader(b).map { case (frames, w, h, _) =>
            MediaFeatures(r.media_id, b.length.toLong, "avi", w, h, frames)
          }
        } else None
      }
    }
  }

  /** Frame sampling plumbing: one row per sampled frame index (every
    * `everyN`-th frame, always including frame 0). Runs BEFORE decode so
    * a downstream per-frame decoder touches only the sampled subset —
    * the batch shape a video pipeline needs at scale. */
  def sampleFrames(features: DataFrame, everyN: Int): DataFrame = {
    require(everyN >= 1, s"everyN must be >= 1, got $everyN") // decodeVideoFrames' contract
    features.select(
      col("media_id"), col("n_frames"),
      // zero-frame rows (parseVideoHeaders' degrade header, or a real
      // dwTotalFrames=0 AVI) emit nothing instead of crashing
      // sequence() with an illegal 0..-1 boundary
      explode(when(col("n_frames") > 0,
        sequence(lit(0L), col("n_frames") - 1, lit(everyN.toLong)))).as("frame_idx"))
  }

  /** Resize planning (pure column math, no decode): target box fit with
    * aspect preserved; emits the scale factor the real resizer would use. */
  def resizePlan(features: DataFrame, maxDim: Int): DataFrame = {
    val scale = least(
      lit(maxDim.toDouble) / col("width"),
      lit(maxDim.toDouble) / col("height"),
      lit(1.0))
    features.select(
      col("media_id"), col("width"), col("height"),
      scale.as("scale"),
      floor(col("width") * scale).cast("long").as("resized_w"),
      floor(col("height") * scale).cast("long").as("resized_h"))
  }

  /** Column-level metadata pass (no decode): cheap filters a curation
    * pipeline runs BEFORE paying for decode — size caps, format routing,
    * content hashing for exact dedup of payloads. */
  def payloadMeta(df: DataFrame, idCol: String, binCol: String): DataFrame =
    df.select(
      col(idCol),
      length(col(binCol)).cast("long").as("byte_len"),
      sha2(col(binCol), 256).as("payload_sha256"),
      (ceil(length(col(binCol)) / 256.0)).cast("long").as("n_chunks"))

  // ---- REAL container formats (no external libraries) ------------------
  //
  // The pixel/FFT-class codecs above stay stubbed (no media libs ship
  // here), but container-level work needs no library at all: the JDK
  // encodes/decodes PNG (javax.imageio, headless-safe), and RIFF/WAVE
  // is simple enough to emit spec-correct bytes by hand. These three
  // operators work on REAL files: synthesizeMedia builds genuine PNGs
  // (JDK encoder, CRCs and zlib streams included) and WAVs (hand-emitted
  // RIFF/fmt/data chunks), parseHeaders reads actual IHDR / fmt-chunk
  // bytes the way any spec-conforming reader would, and decodePixels
  // runs the real JDK PNG decode. Because the synthetic pixel values are
  // pure doc-id arithmetic, a DuckDB oracle replays the GENERATOR and a
  // hash match proves the encode→decode round trip through the real
  // codec (q_media_headers, q_media_decode).

  /** Parsed container header; fields inapplicable to a format are None. */
  final case class MediaHeader(media_id: Long, format: String,
                               width: Option[Long], height: Option[Long],
                               bit_depth: Option[Long], color_type: Option[Long],
                               channels: Option[Long], sample_rate: Option[Long],
                               n_samples: Option[Long], duration_ms: Option[Long])

  /** Real decoded-pixel summary (JDK PNG decode): per-channel sums are
    * exact integers, so they hash-verify against a generator replay. */
  final case class MediaPixels(media_id: Long, width: Long, height: Long,
                               sum_r: Long, sum_g: Long, sum_b: Long)

  /** Deterministic REAL media corpus from an id column: even ids become
    * genuine PNGs (JDK encoder; w = 16 + id%48, h = 16 + (7·id)%32,
    * pixel channels are (base + a·x + b·y) mod 256 with bases id%256,
    * (2·id)%256, (3·id)%256), odd ids become spec-correct PCM16 WAVs
    * (channels = 1 + (id div 2)%2, rate = 8000 + 1000·(id%8),
    * n_samples = 500 + id%1000). Every parameter is integer arithmetic
    * on the id, so an oracle replays the ground truth without decoding. */
  def synthesizeMedia(df: DataFrame, idCol: String): Dataset[MediaRow] = {
    requireIntegralId(df, idCol, "synthesizeMedia")
    val spark = df.sparkSession
    import spark.implicits._
    graft.Tables.fanOut(df.select(col(idCol).cast("long"))).as[Long].mapPartitions { ids =>
      ids.map { id =>
        if (id % 2 == 0) MediaRow(id, synthPng(id), "png")
        else MediaRow(id, synthWav(id), "wav")
      }
    }
  }

  // ImageIO.write/read scan the plugin registry on EVERY call — at one
  // call per image (or per video frame) that lookup dominates the tiny-
  // raster encodes here. Writers/readers are not thread-safe but are
  // reusable, so cache one per (thread, format); object fields are
  // per-executor statics, never serialized into closures.
  private val writerTL: ThreadLocal[java.util.HashMap[String, javax.imageio.ImageWriter]] =
    ThreadLocal.withInitial(() => new java.util.HashMap[String, javax.imageio.ImageWriter]())
  private val readerTL: ThreadLocal[java.util.HashMap[String, javax.imageio.ImageReader]] =
    ThreadLocal.withInitial(() => new java.util.HashMap[String, javax.imageio.ImageReader]())

  private def encodeImage(img: java.awt.image.BufferedImage, format: String): Array[Byte] = {
    val cache = writerTL.get()
    var w = cache.get(format)
    if (w == null) {
      w = javax.imageio.ImageIO.getImageWritersByFormatName(format).next()
      cache.put(format, w)
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    w.setOutput(ios)
    w.write(img) // default params — byte-identical to ImageIO.write
    ios.close()
    bos.toByteArray
  }

  private def decodeImage(b: Array[Byte], off: Int, len: Int,
                          format: String): java.awt.image.BufferedImage = {
    val cache = readerTL.get()
    var r = cache.get(format)
    if (r == null) {
      r = javax.imageio.ImageIO.getImageReadersByFormatName(format).next()
      cache.put(format, r)
    }
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(b, off, len))
    r.setInput(iis)
    val img = r.read(0)
    iis.close()
    img
  }

  /** Fill a TYPE_INT_RGB image through its backing int buffer — one
    * array store per pixel instead of a setRGB call. */
  private def fillRgb(w: Int, h: Int)(px: (Int, Int) => Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val data = img.getRaster.getDataBuffer.asInstanceOf[java.awt.image.DataBufferInt].getData
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { data(y * w + x) = px(x, y); x += 1 }
      y += 1
    }
    img
  }

  private def synthPng(id: Long): Array[Byte] = {
    val w = (16 + id % 48).toInt; val h = (16 + (id * 7) % 32).toInt
    val br = (id % 256).toInt; val bg = ((2 * id) % 256).toInt; val bb = ((3 * id) % 256).toInt
    val img = fillRgb(w, h) { (x, y) =>
      val r = (br + 3 * x + 5 * y) % 256
      val g = (bg + 2 * x + y) % 256
      val b = (bb + x + 7 * y) % 256
      (r << 16) | (g << 8) | b
    }
    encodeImage(img, "png")
  }

  private def synthWav(id: Long): Array[Byte] = {
    val channels = (1 + (id / 2) % 2).toInt
    val rate = (8000 + 1000 * (id % 8)).toInt
    val nSamples = (500 + id % 1000).toInt
    val dataLen = nSamples * channels * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort) // PCM
      .putShort(channels.toShort).putInt(rate)
      .putInt(rate * channels * 2) // byte rate
      .putShort((channels * 2).toShort) // block align
      .putShort(16.toShort) // bits per sample
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < nSamples * channels) {
      bb.putShort((((id + 11 * i) % 2001) - 1000).toShort)
      i += 1
    }
    bb.array()
  }

  /** Deterministic REAL JPEG corpus from an id column (JDK encoder —
    * javax.imageio ships a headless JPEG codec, same as PNG). Dims reuse
    * the PNG arithmetic (w = 16 + id%48, h = 16 + 7·id%32); pixels are
    * NON-WRAPPING linear ramps (base div 2 + small·x + small·y, max 235)
    * because JPEG is lossy and sawtooth wrap-arounds would ring — smooth
    * planes keep the decode within a tight, spec-pinned error band.
    * Every parameter is id arithmetic, so the oracle replays the header
    * ground truth without decoding. */
  def synthesizeJpeg(df: DataFrame, idCol: String): Dataset[MediaRow] = {
    requireIntegralId(df, idCol, "synthesizeJpeg")
    val spark = df.sparkSession
    import spark.implicits._
    graft.Tables.fanOut(df.select(col(idCol).cast("long"))).as[Long].mapPartitions { ids =>
      ids.map { id => MediaRow(id, synthJpeg(id), "jpeg") }
    }
  }

  /** Expected (pre-encode) channel value at (x, y) for [[synthJpeg]] —
    * shared by the encoder and the fidelity check so the ground truth
    * has exactly one definition. */
  private[graft] def jpegSrc(id: Long, c: Int, x: Int, y: Int): Int = c match {
    // base div 2 ≤ 127; with x ≤ 62, y ≤ 46 each ramp tops out ≤ 251.
    case 0 => ((id % 256) / 2 + x + y).toInt
    case 1 => (((2 * id) % 256) / 2 + 2 * x).toInt
    case _ => (((3 * id) % 256) / 2 + 2 * y).toInt
  }

  private def synthJpeg(id: Long): Array[Byte] = {
    val w = (16 + id % 48).toInt; val h = (16 + (id * 7) % 32).toInt
    // delegate: still-JPEG synthesis and video-frame encoding must stay
    // byte-identical (one ramp-fill definition), or the two fidelity
    // gates silently diverge
    encodeJpegFrame(id, w, h)
  }

  /** Real JPEG decode + fidelity gate: decodes with the JDK codec,
    * compares against the [[jpegSrc]] ground truth, and emits the exact
    * integer total absolute error beside a pass/fail gate at `maxMeanErr`
    * mean-abs-error per channel-sample. The gate (not the codec-dependent
    * error value) is the oracle-portable column: a broken decode path
    * flips it and the hash mismatch goes red. */
  final case class JpegFidelity(media_id: Long, width: Long, height: Long,
                                total_abs_err: Long, fidelity_ok: Boolean)

  def decodeJpegFidelity(media: Dataset[MediaRow], maxMeanErr: Double): Dataset[JpegFidelity] = {
    import media.sparkSession.implicits._
    media.filter((r: MediaRow) => r.format == "jpeg").mapPartitions { rows =>
      rows.map { r =>
        val img = decodeImage(r.payload, 0, r.payload.length, "jpeg")
        val w = img.getWidth; val h = img.getHeight
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        var err = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = px(y * w + x)
            err += math.abs(((p >> 16) & 0xff) - jpegSrc(r.media_id, 0, x, y)).toLong +
                   math.abs(((p >> 8) & 0xff)  - jpegSrc(r.media_id, 1, x, y)).toLong +
                   math.abs((p & 0xff)         - jpegSrc(r.media_id, 2, x, y)).toLong
            x += 1
          }
          y += 1
        }
        JpegFidelity(r.media_id, w.toLong, h.toLong, err,
          err <= maxMeanErr * (3.0 * w * h))
      }
    }
  }

  /** DSP features over the really-decoded PCM16 stream: zero crossings
    * (sign flip between consecutive interleaved samples, 0 counted as
    * non-negative), exact integer energy (sum of squares — BIGINT-safe:
    * |s| ≤ 2^15 so n·2^30 stays far under 2^63), and RMS. The single
    * float op is sqrt(sum_sq / n): IEEE-754 requires sqrt and division
    * correctly rounded, so unlike ln() the value is bit-portable and the
    * oracle replays it exactly. */
  final case class AudioDsp(media_id: Long, n_samples: Long, zero_crossings: Long,
                            sum_sq: Long, rms: Double)

  def audioDsp(media: Dataset[MediaRow]): Dataset[AudioDsp] = {
    import media.sparkSession.implicits._
    media.filter((r: MediaRow) => r.format == "wav").mapPartitions { rows =>
      rows.map { r =>
        val b = r.payload
        var pos = 12
        var dataOff = -1; var dataLen = -1
        while (pos + 8 <= b.length) {
          val ck = new String(b, pos, 4, "US-ASCII")
          val sz = java.nio.ByteBuffer.wrap(b, pos + 4, 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
          // sz < 0 walks backward forever; sz > b.length overflows
          // `8 + sz` to a negative Int — both terminate the scan
          if (sz < 0 || sz > b.length) pos = b.length
          else {
            // clamp to the actual bytes present (truncated data chunk)
            if (ck == "data") { dataOff = pos + 8; dataLen = math.min(sz, b.length - dataOff) }
            pos += 8 + sz + (sz & 1)
          }
        }
        require(dataOff >= 0, s"no data chunk: media_id=${r.media_id}")
        val sb = java.nio.ByteBuffer.wrap(b, dataOff, dataLen)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val total = dataLen / 2
        var sumSq = 0L; var zc = 0L
        var prevNeg = false
        var i = 0
        while (i < total) {
          val s = sb.getShort.toLong
          sumSq += s * s
          val neg = s < 0
          if (i > 0 && neg != prevNeg) zc += 1
          prevNeg = neg
          i += 1
        }
        // an empty data chunk would make rms = sqrt(0/0) = NaN, which
        // silently poisons downstream float aggregations — emit 0.0
        AudioDsp(r.media_id, total.toLong, zc, sumSq,
          if (total == 0) 0.0 else math.sqrt(sumSq.toDouble / total))
      }
    }
  }

  /** 64-bit perceptual dHash over REALLY-decoded pixels, split into two
    * 32-bit halves (bit 63 would overflow checked BIGINT shifts on the
    * oracle side, and the halves are what a banded near-dup join buckets
    * on anyway). Geometry: a 9×8 grayscale grid sampled off the decoded
    * raster by integer nearest-neighbor (src = grid·dim div gridDim),
    * gray = r+g+b (no division — comparisons only), bit k = y·8+x set
    * when grid(x+1,y) > grid(x,y). Everything is integer arithmetic on
    * exactly-decoded PNG pixels, so the oracle replays the generator —
    * the hash match proves decode + downsample + gradient sign. */
  final case class PerceptualHash(media_id: Long, dhash_lo: Long, dhash_hi: Long)

  def perceptualHash(media: Dataset[MediaRow]): Dataset[PerceptualHash] = {
    import media.sparkSession.implicits._
    media.filter((r: MediaRow) => r.format == "png").mapPartitions { rows =>
      rows.map { r =>
        val img = decodeImage(r.payload, 0, r.payload.length, "png")
        val w = img.getWidth; val h = img.getHeight
        val grid = new Array[Int](72) // 9 wide × 8 tall
        var gy = 0
        while (gy < 8) {
          var gx = 0
          while (gx < 9) {
            val p = img.getRGB(gx * w / 9, gy * h / 8)
            grid(gy * 9 + gx) = ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
            gx += 1
          }
          gy += 1
        }
        var lo = 0L; var hi = 0L
        var k = 0
        while (k < 64) {
          val y = k / 8; val x = k % 8
          if (grid(y * 9 + x + 1) > grid(y * 9 + x)) {
            if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
          }
          k += 1
        }
        PerceptualHash(r.media_id, lo, hi)
      }
    }
  }

  /** REAL format transcode — the conversion stage of a media curation
    * pipeline: decode the PNG with one real codec, re-encode JPEG with
    * another, re-decode, and gate the end-to-end error against the
    * ORIGINAL pixels. Emits the transcoded byte size beside the exact
    * source size so the compression win is visible; the gate and the
    * dims are the oracle-portable columns (PNG pixels are exactly the
    * generator, so the oracle needs no codec). */
  final case class Transcode(media_id: Long, width: Long, height: Long,
                             src_bytes: Long, jpeg_bytes: Long,
                             total_abs_err: Long, fidelity_ok: Boolean)

  def transcodePngToJpeg(media: Dataset[MediaRow], maxMeanErr: Double): Dataset[Transcode] = {
    import media.sparkSession.implicits._
    media.filter((r: MediaRow) => r.format == "png").mapPartitions { rows =>
      rows.map { r =>
        val img = decodeImage(r.payload, 0, r.payload.length, "png")
        val w = img.getWidth; val h = img.getHeight
        // one color-model conversion serves both the JPEG-source
        // normalization and the error comparison below (getRGB is a
        // full-raster conversion — doing it twice doubled the per-image
        // cost on the common non-TYPE_INT_RGB decode path)
        val src = img.getRGB(0, 0, w, h, null, 0, w)
        // JPEG writers reject non-opaque/indexed sources; normalize to RGB
        val rgb =
          if (img.getType == java.awt.image.BufferedImage.TYPE_INT_RGB) img
          else fillRgb(w, h)((x, y) => src(y * w + x) & 0xffffff)
        val jpeg = encodeImage(rgb, "jpeg")
        val back = decodeImage(jpeg, 0, jpeg.length, "jpeg")
        val out = back.getRGB(0, 0, w, h, null, 0, w)
        var err = 0L
        var i = 0
        while (i < src.length) {
          val a = src(i); val b = out(i)
          err += math.abs(((a >> 16) & 0xff) - ((b >> 16) & 0xff)).toLong +
                 math.abs(((a >> 8) & 0xff)  - ((b >> 8) & 0xff)).toLong +
                 math.abs((a & 0xff)         - (b & 0xff)).toLong
          i += 1
        }
        Transcode(r.media_id, w.toLong, h.toLong,
          r.payload.length.toLong, jpeg.length.toLong, err,
          err <= maxMeanErr * (3.0 * w * h))
      }
    }
  }

  // ---- REAL video: hand-emitted MJPEG AVI (RIFF container + JDK JPEG) --
  //
  // AVI is RIFF — the same chunk grammar as WAVE — and an MJPEG stream
  // is one complete JPEG per '00dc' chunk, so a spec-correct video file
  // needs no library the JDK doesn't already ship. This lifts the last
  // honestly-stubbed modality: the container walk, the per-frame codec,
  // and frame sampling (skipping chunk bytes WITHOUT decoding them) are
  // all real.

  /** Per-frame ground truth for [[synthesizeVideo]]: frame f of video
    * `id` uses the [[jpegSrc]] ramps at shifted id (id + 131·f) — pure
    * integer arithmetic, so the oracle replays headers and the fidelity
    * gate without touching a codec. */
  private[graft] def videoFrameId(id: Long, f: Int): Long = id + 131L * f

  /** Deterministic REAL MJPEG AVI corpus: n_frames = 3 + id%6, frame
    * dims reuse the JPEG arithmetic, fps fixed at 10. The RIFF tree
    * (hdrl: avih + strl(strh/strf); movi: one '00dc' JPEG per frame) is
    * emitted by hand, every frame through the JDK JPEG encoder. */
  def synthesizeVideo(df: DataFrame, idCol: String): Dataset[MediaRow] = {
    requireIntegralId(df, idCol, "synthesizeVideo")
    val spark = df.sparkSession
    import spark.implicits._
    graft.Tables.fanOut(df.select(col(idCol).cast("long"))).as[Long].mapPartitions { ids =>
      ids.map { id => MediaRow(id, synthAvi(id), "avi") }
    }
  }

  private def encodeJpegFrame(id: Long, w: Int, h: Int): Array[Byte] =
    encodeImage(fillRgb(w, h) { (x, y) =>
      (jpegSrc(id, 0, x, y) << 16) | (jpegSrc(id, 1, x, y) << 8) | jpegSrc(id, 2, x, y)
    }, "jpeg")

  private def synthAvi(id: Long): Array[Byte] = {
    val w = (16 + id % 48).toInt; val h = (16 + (id * 7) % 32).toInt
    val nFrames = (3 + id % 6).toInt
    val frames = (0 until nFrames).map(f => encodeJpegFrame(videoFrameId(id, f), w, h))
    val moviBody = frames.map(fb => 8 + fb.length + (fb.length & 1)).sum + 4
    val hdrlBody = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40))
    val riffBody = 4 + (8 + hdrlBody) + (8 + moviBody)
    val bb = java.nio.ByteBuffer.allocate(8 + riffBody)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
    fourcc("RIFF"); bb.putInt(riffBody); fourcc("AVI ")
    fourcc("LIST"); bb.putInt(hdrlBody); fourcc("hdrl")
    fourcc("avih"); bb.putInt(56)
    bb.putInt(100000)          // dwMicroSecPerFrame (10 fps)
      .putInt(0).putInt(0).putInt(0)
      .putInt(nFrames)         // dwTotalFrames
      .putInt(0).putInt(1)     // dwStreams = 1
      .putInt(0)
      .putInt(w).putInt(h)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    fourcc("LIST"); bb.putInt(4 + (8 + 56) + (8 + 40)); fourcc("strl")
    fourcc("strh"); bb.putInt(56)
    fourcc("vids"); fourcc("MJPG")
    bb.putInt(0).putInt(0).putInt(0)
      .putInt(1).putInt(10)    // dwScale / dwRate = 10 fps
      .putInt(0).putInt(nFrames)
      .putInt(0).putInt(-1).putInt(0)
      .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort)
    fourcc("strf"); bb.putInt(40)
    bb.putInt(40)              // biSize
      .putInt(w).putInt(h)
      .putShort(1).putShort(24)
    fourcc("MJPG")             // biCompression
    bb.putInt(w * h * 3).putInt(0).putInt(0).putInt(0).putInt(0)
    fourcc("LIST"); bb.putInt(moviBody); fourcc("movi")
    frames.foreach { fb =>
      fourcc("00dc"); bb.putInt(fb.length); bb.put(fb)
      if ((fb.length & 1) == 1) bb.put(0.toByte) // word alignment
    }
    bb.array()
  }

  private def isAvi(b: Array[Byte]): Boolean =
    b.length > 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' '

  /** Parsed video header off the real avih bytes. */
  final case class VideoHeader(media_id: Long, n_frames: Long, width: Long,
                               height: Long, fps: Long)

  /** REAL AVI header parse: walks the RIFF tree to the avih chunk and
    * reads total frames / dims / frame interval. Garbage degrades to a
    * zero-frame header, never throws. */
  def parseVideoHeaders(media: Dataset[MediaRow]): Dataset[VideoHeader] = {
    import media.sparkSession.implicits._
    media.filter((r: MediaRow) => isAviRow(r)).mapPartitions { rows =>
      rows.map { r =>
        aviMainHeader(r.payload) match {
          case Some((total, w, h, fps)) => VideoHeader(r.media_id, total, w, h, fps)
          case None => VideoHeader(r.media_id, 0L, 0L, 0L, 0L)
        }
      }
    }
  }

  /** Walk the RIFF tree to the avih main header: (totalFrames, w, h,
    * fps). None when the tree has no well-formed avih — garbage
    * degrades, never throws or hangs (negative sizes terminate). Shared
    * by [[parseVideoHeaders]] and [[extractFeatures]]. */
  private def aviMainHeader(b: Array[Byte]): Option[(Long, Long, Long, Long)] = {
    var pos = 12
    var out: Option[(Long, Long, Long, Long)] = None
    while (out.isEmpty && pos + 8 <= b.length) {
      val ck = new String(b, pos, 4, "US-ASCII")
      val sz = java.nio.ByteBuffer.wrap(b, pos + 4, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      if (sz < 0 || sz > b.length) { // backward walk / Int-overflow sizes terminate
        pos = b.length
      } else if (ck == "LIST" && pos + 12 <= b.length &&
          new String(b, pos + 8, 4, "US-ASCII") == "hdrl") {
        pos += 12 // descend into the list
      } else if (ck == "avih" && sz >= 40 && pos + 48 <= b.length) {
        val f = java.nio.ByteBuffer.wrap(b, pos + 8, 40)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val usPerFrame = f.getInt.toLong
        f.getInt; f.getInt; f.getInt
        val total = f.getInt.toLong
        f.getInt; f.getInt; f.getInt
        val w = f.getInt.toLong; val h = f.getInt.toLong
        out = Some((total, w, h, if (usPerFrame > 0) 1000000L / usPerFrame else 0L))
      } else {
        pos += 8 + sz + (sz & 1)
      }
    }
    out
  }

  private def isAviRow(r: MediaRow): Boolean = isAvi(r.payload)

  /** Sampled-frame decode summary: frames actually decoded vs skipped,
    * and the fidelity gate over the DECODED subset. */
  final case class VideoDecode(media_id: Long, n_frames: Long, n_decoded: Long,
                               width: Long, height: Long, total_abs_err: Long,
                               fidelity_ok: Boolean)

  /** REAL sampled-frame video decode: walks the movi list, decodes every
    * `everyN`-th '00dc' JPEG with the JDK codec (frames not sampled are
    * SKIPPED at the byte level — the chunk size advances the cursor, no
    * decode cost), and gates mean abs error per channel-sample against
    * the [[videoFrameId]] ground truth. The gate column is the oracle-
    * portable output; the raw error stays for the spec. */
  def decodeVideoFrames(media: Dataset[MediaRow], everyN: Int,
                        maxMeanErr: Double): Dataset[VideoDecode] = {
    require(everyN >= 1, s"frame stride must be positive: $everyN")
    import media.sparkSession.implicits._
    media.filter((r: MediaRow) => isAviRow(r)).mapPartitions { rows =>
      rows.map { r =>
        val b = r.payload
        var pos = 12
        var frameIdx = 0
        var decoded = 0L
        var err = 0L
        var w = 0L; var h = 0L
        while (pos + 8 <= b.length) {
          val ck = new String(b, pos, 4, "US-ASCII")
          val sz = java.nio.ByteBuffer.wrap(b, pos + 4, 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
          if (sz < 0 || sz > b.length) { // backward walk / Int-overflow sizes terminate
            pos = b.length
          } else if (ck == "LIST" && pos + 12 <= b.length &&
              new String(b, pos + 8, 4, "US-ASCII") == "movi") {
            pos += 12
          } else if (ck == "00dc") {
            if (frameIdx % everyN == 0) {
              val img = decodeImage(b, pos + 8, sz, "jpeg")
              val wi = img.getWidth; val hi = img.getHeight
              w = wi.toLong; h = hi.toLong
              val px = img.getRGB(0, 0, wi, hi, null, 0, wi)
              val fid = videoFrameId(r.media_id, frameIdx)
              var y = 0
              while (y < hi) {
                var x = 0
                while (x < wi) {
                  val p = px(y * wi + x)
                  err += math.abs(((p >> 16) & 0xff) - jpegSrc(fid, 0, x, y)).toLong +
                         math.abs(((p >> 8) & 0xff)  - jpegSrc(fid, 1, x, y)).toLong +
                         math.abs((p & 0xff)         - jpegSrc(fid, 2, x, y)).toLong
                  x += 1
                }
                y += 1
              }
              decoded += 1
            }
            frameIdx += 1
            pos += 8 + sz + (sz & 1)
          } else {
            pos += 8 + sz + (sz & 1)
          }
        }
        VideoDecode(r.media_id, frameIdx.toLong, decoded, w, h, err,
          decoded > 0 && err <= maxMeanErr * (3.0 * w * h * decoded))
      }
    }
  }

  private def isPng(b: Array[Byte]): Boolean =
    b.length > 33 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
      b(3) == 'G' && b(4) == 0x0d && b(5) == 0x0a && b(6) == 0x1a && b(7) == 0x0a

  private def isJpeg(b: Array[Byte]): Boolean =
    b.length > 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8

  private def isWav(b: Array[Byte]): Boolean =
    b.length > 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  /** REAL header parsing, straight off the payload bytes: PNG IHDR
    * (big-endian, first chunk after the 8-byte signature) and RIFF/WAVE
    * chunk walk (little-endian; reads `fmt ` fields, sizes `data`,
    * derives n_samples and an integer-exact duration_ms = n_samples·1000
    * div rate). Unrecognized/truncated payloads degrade to format
    * "unknown" with all-None fields — a curation gate filters them
    * instead of failing the job. Per-row projection, no shuffle. */
  def parseHeaders(media: Dataset[MediaRow]): Dataset[MediaHeader] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val b = r.payload
        if (isPng(b)) {
          val bb = java.nio.ByteBuffer.wrap(b, 8, 25) // BE by default
          val len = bb.getInt
          val typ = new String(Array(bb.get, bb.get, bb.get, bb.get).map(_.toChar))
          if (len == 13 && typ == "IHDR") {
            val w = bb.getInt.toLong; val h = bb.getInt.toLong
            val depth = (bb.get & 0xff).toLong; val ct = (bb.get & 0xff).toLong
            MediaHeader(r.media_id, "png", Some(w), Some(h), Some(depth), Some(ct),
              None, None, None, None)
          } else unknown(r.media_id)
        } else if (isJpeg(b)) {
          // Marker walk to the frame header (SOF0/1/2): FF xx, 2-byte
          // big-endian segment length (incl. itself); standalone markers
          // (RST0-7, TEM) carry no length. SOF payload = precision(1),
          // height(2), width(2), n_components(1).
          var pos = 2
          var out: MediaHeader = null
          while (out == null && pos + 4 <= b.length && (b(pos) & 0xff) == 0xff) {
            val m = b(pos + 1) & 0xff
            if (m == 0xc0 || m == 0xc1 || m == 0xc2) {
              if (pos + 10 <= b.length) {
                val prec = (b(pos + 4) & 0xff).toLong
                val h = (((b(pos + 5) & 0xff) << 8) | (b(pos + 6) & 0xff)).toLong
                val w = (((b(pos + 7) & 0xff) << 8) | (b(pos + 8) & 0xff)).toLong
                val ncomp = (b(pos + 9) & 0xff).toLong
                out = MediaHeader(r.media_id, "jpeg", Some(w), Some(h), Some(prec),
                  None, Some(ncomp), None, None, None)
              } else out = unknown(r.media_id)
            } else if (m == 0xd9 || m == 0xda) {
              out = unknown(r.media_id) // hit EOI/SOS without a frame header
            } else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
              pos += 2
            } else if (m == 0xff) {
              pos += 1 // spec-legal 0xFF fill byte before a marker, not a segment
            } else {
              pos += 2 + (((b(pos + 2) & 0xff) << 8) | (b(pos + 3) & 0xff))
            }
          }
          if (out != null) out else unknown(r.media_id)
        } else if (isWav(b)) {
          var pos = 12
          var channels, rate, bits = -1L
          var dataLen = -1L
          while (pos + 8 <= b.length) {
            val ck = new String(b, pos, 4, "US-ASCII")
            val sz = java.nio.ByteBuffer.wrap(b, pos + 4, 4)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
            // sz < 0 would walk backward forever; sz > b.length (an
            // adversarial 2^31-ish size) would overflow `8 + sz` to a
            // negative Int and crash the String read — both terminate
            if (sz < 0 || sz > b.length) pos = b.length
            else {
              // bounds-checked: a WAV truncated right after the fmt
              // chunk header must degrade, not throw on the wrap
              if (ck == "fmt " && sz >= 16 && pos + 24 <= b.length) {
                val f = java.nio.ByteBuffer.wrap(b, pos + 8, 16)
                  .order(java.nio.ByteOrder.LITTLE_ENDIAN)
                f.getShort // audio format tag
                channels = f.getShort.toLong
                rate = f.getInt.toLong
                f.getInt; f.getShort // byte rate, block align
                bits = f.getShort.toLong
              } else if (ck == "data") dataLen = sz.toLong
              pos += 8 + sz + (sz & 1) // chunks are word-aligned
            }
          }
          // bits >= 8: a sub-byte declared depth would make the divisor
          // 0 (ArithmeticException), and PCM semantics need whole bytes
          if (channels > 0 && rate > 0 && bits >= 8 && dataLen >= 0) {
            val n = dataLen / (channels * bits / 8)
            MediaHeader(r.media_id, "wav", None, None, None, None,
              Some(channels), Some(rate), Some(n), Some(n * 1000L / rate))
          } else unknown(r.media_id)
        } else unknown(r.media_id)
      }
    }
  }

  /** REAL resize on really-decoded pixels: nearest-neighbor with pure
    * integer index math (src = (dst·srcDim) div dstDim — no float
    * kernel, so the result is bit-reproducible and oracle-replayable),
    * summarized as exact per-channel sums of the RESIZED raster. This is
    * the executable counterpart of [[resizePlan]]'s column math: decode
    * → transform → feature, all real, all verifiable. */
  def resizePixels(media: Dataset[MediaRow], dstW: Int, dstH: Int): Dataset[MediaPixels] = {
    import media.sparkSession.implicits._
    require(dstW >= 1 && dstH >= 1, s"target box must be positive: ${dstW}x$dstH")
    media.filter((r: MediaRow) => r.format == "png").mapPartitions { rows =>
      rows.map { r =>
        val img = decodeImage(r.payload, 0, r.payload.length, "png")
        val w = img.getWidth; val h = img.getHeight
        var sr = 0L; var sg = 0L; var sb = 0L
        var y = 0
        while (y < dstH) {
          val sy = y * h / dstH
          var x = 0
          while (x < dstW) {
            val p = img.getRGB(x * w / dstW, sy)
            sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
            x += 1
          }
          y += 1
        }
        MediaPixels(r.media_id, dstW.toLong, dstH.toLong, sr, sg, sb)
      }
    }
  }

  /** Real decoded-audio summary: exact integer sample sum + peak. */
  final case class MediaAudio(media_id: Long, channels: Long, sample_rate: Long,
                              n_samples: Long, sum_samples: Long, peak_abs: Long)

  /** REAL PCM16 decode over the WAV subset: walks the RIFF chunks like
    * [[parseHeaders]], then reads every little-endian int16 in the
    * `data` chunk — exact integer sum and peak amplitude, the audio
    * analogue of [[decodePixels]] (and like it, generator-replayable:
    * q_media_audio's oracle recomputes the synthetic samples
    * arithmetically, so the hash match proves the byte-level decode). */
  def decodeAudio(media: Dataset[MediaRow]): Dataset[MediaAudio] = {
    import media.sparkSession.implicits._
    media.filter((r: MediaRow) => r.format == "wav").mapPartitions { rows =>
      rows.map { r =>
        val b = r.payload
        var pos = 12
        var channels, rate, bits = -1L
        var dataOff = -1; var dataLen = -1
        while (pos + 8 <= b.length) {
          val ck = new String(b, pos, 4, "US-ASCII")
          val sz = java.nio.ByteBuffer.wrap(b, pos + 4, 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
          // sz < 0 walks backward forever; sz > b.length overflows
          // `8 + sz` to a negative Int — both terminate the scan
          if (sz < 0 || sz > b.length) pos = b.length
          else {
            if (ck == "fmt " && sz >= 16 && pos + 24 <= b.length) {
              val f = java.nio.ByteBuffer.wrap(b, pos + 8, 16)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              f.getShort
              channels = f.getShort.toLong
              rate = f.getInt.toLong
              f.getInt; f.getShort
              bits = f.getShort.toLong
            } else if (ck == "data") { dataOff = pos + 8; dataLen = math.min(sz, b.length - (pos + 8)) }
            pos += 8 + sz + (sz & 1)
          }
        }
        require(channels > 0 && rate > 0 && bits == 16 && dataOff >= 0,
          s"not a PCM16 WAV: media_id=${r.media_id}")
        val sb = java.nio.ByteBuffer.wrap(b, dataOff, dataLen)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var sum = 0L; var peak = 0L
        var i = 0; val total = dataLen / 2
        while (i < total) {
          val s = sb.getShort.toLong
          sum += s
          val a = math.abs(s)
          if (a > peak) peak = a
          i += 1
        }
        MediaAudio(r.media_id, channels, rate, total / channels, sum, peak)
      }
    }
  }

  private def unknown(id: Long): MediaHeader =
    MediaHeader(id, "unknown", None, None, None, None, None, None, None, None)

  /** REAL pixel decode (JDK PNG reader) over the PNG subset: exact
    * per-channel integer sums per image. The decoder context is per
    * partition; payloads never leave the executor. Non-PNG rows are
    * filtered out BEFORE decode (format routing off [[parseHeaders]] /
    * the synthesis tag, the payloadMeta discipline). */
  def decodePixels(media: Dataset[MediaRow]): Dataset[MediaPixels] = {
    import media.sparkSession.implicits._
    media.filter((r: MediaRow) => r.format == "png").mapPartitions { rows =>
      rows.map { r =>
        val img = decodeImage(r.payload, 0, r.payload.length, "png")
        val w = img.getWidth; val h = img.getHeight
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        var sr = 0L; var sg = 0L; var sb = 0L
        var i = 0
        while (i < px.length) {
          val p = px(i)
          sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
          i += 1
        }
        MediaPixels(r.media_id, w.toLong, h.toLong, sr, sg, sb)
      }
    }
  }
}
