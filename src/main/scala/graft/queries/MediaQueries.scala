package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.operators.Multimodal

/** Multimodal plumbing demo over synthetic payloads (the testdata has no
  * real media table, so document text bytes stand in as the opaque
  * BINARY column — the plan shapes are what's being exercised).
  */
object MediaQueries {

  /** The synthetic raster of media `doc_id` (Multimodal's generators):
    * 16 + id % 48 pixels wide, 16 + 7·id % 32 high. */
  private val ImgW = "CAST(16 + doc_id % 48 AS BIGINT)"
  private val ImgH = "CAST(16 + (doc_id * 7) % 32 AS BIGINT)"
  private val ImgDims = s"$ImgW AS width, $ImgH AS height"

  /** The PNG subset's rasters, `m(media_id, w, h)`. */
  private val PngDimsCte =
    sql"""m AS (
      |  SELECT doc_id AS media_id, $ImgW AS w, $ImgH AS h
      |  FROM documents WHERE doc_id % 2 = 0)"""

  /** REAL visual features replayed in DuckDB: even ids are genuine JDK
    * PNGs, odd ids MJPEG AVIs — the generators' dims/frame counts are
    * id arithmetic, and extractFeatures reads them back from the ACTUAL
    * container bytes (IHDR / avih), so the hash match proves the real
    * write→parse round trip. byte_len is excluded: the JDK encoders
    * pick it, so it isn't generator-replayable. */
  private val FeaturesCte =
    sql"""SELECT doc_id AS media_id, 'png' AS format,
      |       $ImgDims,
      |       CAST(1 AS BIGINT) AS n_frames
      |FROM documents WHERE doc_id % 2 = 0
      |UNION ALL
      |SELECT doc_id AS media_id, 'avi' AS format,
      |       $ImgDims,
      |       CAST(3 + doc_id % 6 AS BIGINT) AS n_frames
      |FROM documents WHERE doc_id % 2 = 1"""

  /** dHash oracle: PNG generator replayed through the 9×8 NN grid —
    * gv is the grayscale grid row-major (i = gy·9 + gx), bit k compares
    * grid[y·9+x+1] vs grid[y·9+x] (1-based list indexing). */
  private val PhashCte =
    sql"""$PngDimsCte,
      |g AS (
      |  SELECT media_id,
      |    [ (media_id % 256 + 3 * (((i % 9) * w) // 9) + 5 * (((i // 9) * h) // 8)) % 256
      |    + ((2 * media_id) % 256 + 2 * (((i % 9) * w) // 9) + (((i // 9) * h) // 8)) % 256
      |    + ((3 * media_id) % 256 + (((i % 9) * w) // 9) + 7 * (((i // 9) * h) // 8)) % 256
      |      for i in generate_series(0, 71) ] AS gv
      |  FROM m),
      |ph AS (
      |  SELECT media_id,
      |    CAST(list_sum([ CASE WHEN gv[(k // 8) * 9 + (k % 8) + 2] > gv[(k // 8) * 9 + (k % 8) + 1] THEN 1::BIGINT << k ELSE 0 END
      |      for k in generate_series(0, 31) ]) AS BIGINT) AS dhash_lo,
      |    CAST(list_sum([ CASE WHEN gv[((k + 32) // 8) * 9 + ((k + 32) % 8) + 2] > gv[((k + 32) // 8) * 9 + ((k + 32) % 8) + 1] THEN 1::BIGINT << (k) ELSE 0 END
      |      for k in generate_series(0, 31) ]) AS BIGINT) AS dhash_hi
      |  FROM g)"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // Pre-decode metadata pass: size / content-hash / chunking, the
    // cheap columnar stage a pipeline runs before paying for decode.
    "q_media_meta" -> QueryDef(
      (s, dir) => Multimodal.payloadMeta(
        Tables.documents(s, dir).select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
        "doc_id", "payload"),
      sql"""SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |       sha256(text) AS payload_sha256,
        |       CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_chunks
        |FROM documents"""),

    // REAL batched visual decode via mapPartitions (graduated from the
    // r1-era md5 stub in r10): dims and frame counts come off the
    // actual PNG IHDR / AVI avih bytes, dispatched on container magic.
    // byte_len is projected out — the JDK encoder picks it, so it
    // isn't generator-replayable (it still feeds size-cap filters via
    // the operator API).
    "q_media_features" -> QueryDef(
      (s, dir) => features(s, dir)
        .select(col("media_id"), col("format"), col("width"), col("height"), col("n_frames")),
      sql"""WITH h AS ($FeaturesCte)
        |SELECT media_id, format, width, height, n_frames FROM h"""),

    // Frame-sampling plumbing over the REALLY-decoded features: one row
    // per sampled frame index, generated BEFORE any per-frame decode so
    // the expensive stage touches only the sample (q_media_video is the
    // stage that then decodes a stride; stride 2 here matches it).
    "q_media_frames" -> QueryDef(
      (s, dir) => Multimodal.sampleFrames(features(s, dir), everyN = 2),
      sql"""WITH h AS ($FeaturesCte)
        |SELECT media_id, n_frames,
        |       CAST(unnest(generate_series(0, n_frames - 1, 2)) AS BIGINT) AS frame_idx
        |FROM h"""),

    // Resize planning (pure column math on REALLY-decoded dims): box-fit
    // scale factors the real resizer would apply. maxDim 24 sits inside
    // the generator's 16..63 dim range so both branches (downscale and
    // already-fits) are exercised; the one float op chain (divide, min,
    // multiply, floor) is identical IEEE arithmetic on both engines.
    "q_media_resize" -> QueryDef(
      (s, dir) => Multimodal.resizePlan(features(s, dir), maxDim = 24),
      sql"""WITH h AS ($FeaturesCte),
        |sc AS (SELECT media_id, width, height,
        |              least(CAST(24 AS DOUBLE) / width, CAST(24 AS DOUBLE) / height, CAST(1 AS DOUBLE)) AS scale
        |       FROM h)
        |SELECT media_id, width, height, scale,
        |       CAST(floor(width * scale) AS BIGINT) AS resized_w,
        |       CAST(floor(height * scale) AS BIGINT) AS resized_h
        |FROM sc"""),

    // REAL container parsing end to end: even ids synthesize genuine
    // PNGs (JDK encoder — CRCs, zlib, the works), odd ids spec-correct
    // PCM16 WAVs; parseHeaders reads the actual IHDR / fmt-chunk BYTES.
    // Every synthesis parameter is id arithmetic, so the oracle replays
    // the ground truth and the hash match proves the real write→parse
    // round trip (no stub anywhere on this path).
    "q_media_headers" -> QueryDef(
      (s, dir) => Multimodal.parseHeaders(
          Multimodal.synthesizeMedia(Tables.documents(s, dir), "doc_id"))
        .toDF(),
      sql"""SELECT doc_id AS media_id,
        |       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS format,
        |       CASE WHEN doc_id % 2 = 0 THEN $ImgW END AS width,
        |       CASE WHEN doc_id % 2 = 0 THEN $ImgH END AS height,
        |       CASE WHEN doc_id % 2 = 0 THEN CAST(8 AS BIGINT) END AS bit_depth,
        |       CASE WHEN doc_id % 2 = 0 THEN CAST(2 AS BIGINT) END AS color_type,
        |       CASE WHEN doc_id % 2 = 1 THEN CAST(1 + (doc_id // 2) % 2 AS BIGINT) END AS channels,
        |       CASE WHEN doc_id % 2 = 1 THEN CAST(8000 + 1000 * (doc_id % 8) AS BIGINT) END AS sample_rate,
        |       CASE WHEN doc_id % 2 = 1 THEN CAST(500 + doc_id % 1000 AS BIGINT) END AS n_samples,
        |       CASE WHEN doc_id % 2 = 1 THEN CAST((500 + doc_id % 1000) * 1000 // (8000 + 1000 * (doc_id % 8)) AS BIGINT) END AS duration_ms
        |FROM documents"""),

    // REAL pixel decode (JDK PNG reader) over the PNG subset: exact
    // per-channel sums. The oracle never decodes — it replays the pixel
    // GENERATOR arithmetically, so the hash match proves encode→decode
    // losslessness through the real codec.
    "q_media_decode" -> QueryDef(
      (s, dir) => Multimodal.decodePixels(
          Multimodal.synthesizeMedia(Tables.documents(s, dir), "doc_id"))
        .toDF(),
      sql"""WITH $PngDimsCte
        |SELECT media_id, w AS width, h AS height,
        |  CAST(list_sum([ (media_id % 256 + 3 * (i % w) + 5 * (i // w)) % 256 for i in generate_series(0, w * h - 1) ]) AS BIGINT) AS sum_r,
        |  CAST(list_sum([ ((2 * media_id) % 256 + 2 * (i % w) + (i // w)) % 256 for i in generate_series(0, w * h - 1) ]) AS BIGINT) AS sum_g,
        |  CAST(list_sum([ ((3 * media_id) % 256 + (i % w) + 7 * (i // w)) % 256 for i in generate_series(0, w * h - 1) ]) AS BIGINT) AS sum_b
        |FROM m"""),

    // REAL resize on really-decoded pixels: integer nearest-neighbor
    // (src = dst·srcDim div dstDim) to a 16×16 thumbnail, summarized as
    // exact channel sums of the RESIZED raster. Oracle replays the
    // generator at the mapped source indices — decode + transform both
    // proven real by the hash match.
    "q_media_resize_px" -> QueryDef(
      (s, dir) => Multimodal.resizePixels(
          Multimodal.synthesizeMedia(Tables.documents(s, dir), "doc_id"),
          dstW = 16, dstH = 16)
        .toDF(),
      sql"""WITH $PngDimsCte
        |SELECT media_id, CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
        |  CAST(list_sum([ (media_id % 256 + 3 * (((i % 16) * w) // 16) + 5 * (((i // 16) * h) // 16)) % 256 for i in generate_series(0, 255) ]) AS BIGINT) AS sum_r,
        |  CAST(list_sum([ ((2 * media_id) % 256 + 2 * (((i % 16) * w) // 16) + (((i // 16) * h) // 16)) % 256 for i in generate_series(0, 255) ]) AS BIGINT) AS sum_g,
        |  CAST(list_sum([ ((3 * media_id) % 256 + (((i % 16) * w) // 16) + 7 * (((i // 16) * h) // 16)) % 256 for i in generate_series(0, 255) ]) AS BIGINT) AS sum_b
        |FROM m"""),

    // REAL PCM16 audio decode over the WAV subset: every little-endian
    // int16 of the data chunk read and folded into an exact sum + peak.
    // Oracle replays the synthetic sample generator — the audio
    // analogue of q_media_decode's pixel proof.
    "q_media_audio" -> QueryDef(
      (s, dir) => Multimodal.decodeAudio(
          Multimodal.synthesizeMedia(Tables.documents(s, dir), "doc_id"))
        .toDF(),
      sql"""WITH w AS (
        |  SELECT doc_id AS media_id,
        |         CAST(1 + (doc_id // 2) % 2 AS BIGINT) AS channels,
        |         CAST(8000 + 1000 * (doc_id % 8) AS BIGINT) AS sample_rate,
        |         CAST(500 + doc_id % 1000 AS BIGINT) AS n_samples
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT media_id, channels, sample_rate, n_samples,
        |  CAST(list_sum([ (media_id + 11 * i) % 2001 - 1000 for i in generate_series(0, n_samples * channels - 1) ]) AS BIGINT) AS sum_samples,
        |  CAST(list_max([ abs((media_id + 11 * i) % 2001 - 1000) for i in generate_series(0, n_samples * channels - 1) ]) AS BIGINT) AS peak_abs
        |FROM w"""),

    // REAL JPEG container parsing: synthesizeJpeg writes genuine JPEGs
    // through the JDK's headless codec (every id), parseHeaders walks
    // the actual marker stream to SOF0 and reads precision / dims /
    // component count off the frame header bytes. Synthesis parameters
    // are id arithmetic, so the oracle replays the ground truth — the
    // hash match proves the real encode→marker-walk round trip.
    "q_media_jpeg_headers" -> QueryDef(
      (s, dir) => Multimodal.parseHeaders(
          Multimodal.synthesizeJpeg(Tables.documents(s, dir), "doc_id"))
        .toDF(),
      sql"""SELECT doc_id AS media_id, 'jpeg' AS format,
        |       $ImgDims,
        |       CAST(8 AS BIGINT) AS bit_depth,
        |       CAST(NULL AS BIGINT) AS color_type,
        |       CAST(3 AS BIGINT) AS channels,
        |       CAST(NULL AS BIGINT) AS sample_rate,
        |       CAST(NULL AS BIGINT) AS n_samples,
        |       CAST(NULL AS BIGINT) AS duration_ms
        |FROM documents"""),

    // REAL JPEG decode behind a fidelity gate: JPEG is lossy, so the
    // decoded raster can't replay arithmetically like PNG — instead the
    // engine decodes with the real codec, measures exact total abs error
    // against the generator ground truth, and emits pass/fail at MAE ≤ 4
    // per channel-sample (the synthetic ramps are smooth planes; spec-
    // measured MAE is far below the gate). The gate column IS oracle-
    // checked: a broken decode flips it and the hash goes red. The
    // codec-dependent error value itself stays in the operator API for
    // MultimodalSpec, out of the hashed projection.
    // JDK-COUPLING: the oracle asserts `true AS fidelity_ok`, so the
    // gate is tied to the current JDK's JPEG codec error profile (also
    // q_media_video / q_media_transcode below). A JDK upgrade with a
    // different encoder could flip engine-side gates with no code
    // change; MultimodalSpec's measured-MAE-margin assertions are the
    // early-warning signal (bands of 4/16 MAE leave wide headroom).
    "q_media_jpeg" -> QueryDef(
      (s, dir) => Multimodal.decodeJpegFidelity(
          Multimodal.synthesizeJpeg(Tables.documents(s, dir), "doc_id"),
          maxMeanErr = 4.0)
        .toDF().select(col("media_id"), col("width"), col("height"), col("fidelity_ok")),
      sql"""SELECT doc_id AS media_id,
        |       $ImgDims,
        |       true AS fidelity_ok
        |FROM documents"""),

    // DSP features over the really-decoded PCM16 stream: zero-crossing
    // count and exact integer energy, plus RMS — the one float op is
    // sqrt(sum_sq / n), which IEEE 754 requires correctly rounded (unlike
    // ln()), so even the float column hash-verifies. Oracle replays the
    // sample generator.
    "q_media_audio_dsp" -> QueryDef(
      (s, dir) => Multimodal.audioDsp(
          Multimodal.synthesizeMedia(Tables.documents(s, dir), "doc_id"))
        .toDF(),
      sql"""WITH w AS (
        |  SELECT doc_id AS media_id,
        |         CAST((500 + doc_id % 1000) * (1 + (doc_id // 2) % 2) AS BIGINT) AS n
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT media_id, n AS n_samples,
        |  CAST(list_sum([ CASE WHEN ((media_id + 11 * i) % 2001 - 1000 < 0) <> ((media_id + 11 * (i - 1)) % 2001 - 1000 < 0) THEN 1 ELSE 0 END for i in generate_series(1, n - 1) ]) AS BIGINT) AS zero_crossings,
        |  CAST(list_sum([ ((media_id + 11 * i) % 2001 - 1000) * ((media_id + 11 * i) % 2001 - 1000) for i in generate_series(0, n - 1) ]) AS BIGINT) AS sum_sq,
        |  sqrt(CAST(list_sum([ ((media_id + 11 * i) % 2001 - 1000) * ((media_id + 11 * i) % 2001 - 1000) for i in generate_series(0, n - 1) ]) AS DOUBLE) / n) AS rms
        |FROM w"""),

    // REAL video container parsing: synthesizeVideo hand-emits
    // spec-correct MJPEG AVIs (RIFF hdrl/movi tree, one JDK-encoded JPEG
    // per '00dc' chunk); parseVideoHeaders walks the actual RIFF bytes
    // to avih. Synthesis parameters are id arithmetic → full oracle
    // replay of the write→parse round trip.
    "q_media_video_headers" -> QueryDef(
      (s, dir) => Multimodal.parseVideoHeaders(
          Multimodal.synthesizeVideo(Tables.documents(s, dir), "doc_id"))
        .toDF(),
      sql"""SELECT doc_id AS media_id,
        |       CAST(3 + doc_id % 6 AS BIGINT) AS n_frames,
        |       $ImgDims,
        |       CAST(10 AS BIGINT) AS fps
        |FROM documents"""),

    // REAL sampled-frame video decode: every 2nd '00dc' frame goes
    // through the JDK JPEG decoder (skipped frames advance the cursor at
    // the byte level — zero decode cost, the real point of frame
    // sampling); mean abs error vs the per-frame generator gates
    // fidelity. Frame counts, sampled counts, dims, and the gate all
    // replay arithmetically.
    "q_media_video" -> QueryDef(
      (s, dir) => Multimodal.decodeVideoFrames(
          Multimodal.synthesizeVideo(Tables.documents(s, dir), "doc_id"),
          everyN = 2, maxMeanErr = 4.0)
        .toDF().select(col("media_id"), col("n_frames"), col("n_decoded"),
          col("width"), col("height"), col("fidelity_ok")),
      sql"""SELECT doc_id AS media_id,
        |       CAST(3 + doc_id % 6 AS BIGINT) AS n_frames,
        |       CAST((3 + doc_id % 6 + 1) // 2 AS BIGINT) AS n_decoded,
        |       $ImgDims,
        |       true AS fidelity_ok
        |FROM documents"""),

    // Perceptual dHash off really-decoded PNG pixels: 9×8 NN grayscale
    // grid, gradient-sign bits, two 32-bit halves. The oracle replays
    // the generator through the SAME grid geometry — the hash match
    // covers decode, downsample, and gradient in one go.
    "q_media_phash" -> QueryDef(
      (s, dir) => Multimodal.perceptualHash(
          Multimodal.synthesizeMedia(Tables.documents(s, dir), "doc_id"))
        .toDF(),
      sql"""WITH $PhashCte
        |SELECT media_id, dhash_lo, dhash_hi FROM ph"""),

    // Exact perceptual-duplicate groups: images whose dHash collides
    // entirely — one keyed agg on the hash halves (never an image-pair
    // join), the scalable shape for exact near-dup collapse; canonical =
    // lowest media_id, the dedup-clusters convention.
    "q_media_phash_dup" -> QueryDef(
      (s, dir) => {
        val ph = Multimodal.perceptualHash(
          Multimodal.synthesizeMedia(Tables.documents(s, dir), "doc_id")).toDF()
        ph.groupBy(col("dhash_lo"), col("dhash_hi"))
          .agg(count(lit(1)).as("n_images"), min(col("media_id")).as("canonical_id"))
          .filter(col("n_images") > 1)
      },
      sql"""WITH $PhashCte
        |SELECT dhash_lo, dhash_hi, CAST(count(*) AS BIGINT) AS n_images,
        |       CAST(min(media_id) AS BIGINT) AS canonical_id
        |FROM ph GROUP BY 1, 2 HAVING count(*) > 1"""),

    // REAL format transcode (PNG → JPEG through both JDK codecs, then
    // re-decoded): the conversion stage of a media pipeline. The
    // end-to-end error vs the ORIGINAL pixels is gated at MAE ≤ 16 per
    // channel-sample (sawtooth source ramps ring under JPEG — wider
    // band than the smooth-ramp q_media_jpeg, spec-measured under it);
    // byte sizes stay codec-dependent and spec-side.
    "q_media_transcode" -> QueryDef(
      (s, dir) => Multimodal.transcodePngToJpeg(
          Multimodal.synthesizeMedia(Tables.documents(s, dir), "doc_id"),
          maxMeanErr = 16.0)
        .toDF().select(col("media_id"), col("width"), col("height"), col("fidelity_ok")),
      sql"""SELECT doc_id AS media_id,
        |       $ImgDims,
        |       true AS fidelity_ok
        |FROM documents WHERE doc_id % 2 = 0""")
  )


  /** The real visual corpus: even ids genuine JDK PNGs, odd ids MJPEG
    * AVIs, run through the real header decode. */
  private def features(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = Tables.documents(s, dir)
    val media = Multimodal
      .synthesizeMedia(docs.filter(col("doc_id") % 2 === 0), "doc_id")
      .union(Multimodal.synthesizeVideo(docs.filter(col("doc_id") % 2 === 1), "doc_id"))
    Multimodal.extractFeatures(media).toDF()
  }
}
