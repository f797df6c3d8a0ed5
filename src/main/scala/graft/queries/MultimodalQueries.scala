package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Helpers._

/** Image, audio and video codecs: `operators.Multimodal`. */
object MultimodalQueries {

  val all: Seq[Query] = Seq(

    // §2#40 multimodal binary columns: text bytes → REAL grayscale PNG
    // (javax.imageio) → batched mapPartitions decode → metadata; the
    // oracle predicts dims because the codec is lossless.
    Query("q33_multimodal", (s, dir) => {
      operators.Multimodal.decodeImageFeatures(
          operators.Multimodal.withImagePayload(t(s, dir, "documents").df))
        .select("doc_id", "n_bytes", "width", "height")
    },
      """SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         CAST(octet_length(encode(text)) % 320 + 1 AS INT) AS width,
         CAST(octet_length(encode(text)) % 240 + 1 AS INT) AS height
         FROM documents"""),

    // §2#40b REAL WAV audio modality: text bytes as 8-bit PCM samples in
    // a WAV container (javax.sound.sampled), batched decode back to
    // sample count / rate / duration / RMS — all oracle-predicted from
    // the text because PCM is lossless.
    Query("q50_audio", (s, dir) =>
      operators.Multimodal.decodeAudioFeatures(
        operators.Multimodal.withAudioPayload(t(s, dir, "documents").df)),
      """SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_samples,
         CAST(8000 AS INT) AS sample_rate,
         octet_length(encode(text)) / 8000.0 AS duration_s,
         CASE WHEN octet_length(encode(text)) = 0 THEN 0.0
              ELSE sqrt(CAST(list_sum(
                     [(ord(substr(text, i, 1)) - 128) * (ord(substr(text, i, 1)) - 128)
                      for i in generate_series(1, length(text))]) AS DOUBLE)
                   / octet_length(encode(text))) END AS rms
         FROM documents"""),

    // §2#40c video-container modality: index header over REAL PNG
    // frames; every 2nd frame is sought via the index and decoded
    // (unsampled frames are never parsed) — demux, stride sampling,
    // and per-frame codec work are genuine, and the oracle predicts
    // frame counts, dims, and pixel statistics from the text.
    Query("q54_video", (s, dir) =>
      operators.Multimodal.decodeVideoFeatures(
        operators.Multimodal.withVideoPayload(t(s, dir, "documents").df)),
      // frame layout mirror of Multimodal.encodeVideo/decodeVideo
      // (stride 2): nf = min(n/64+1, 8) frames, last takes the
      // remainder; dims flen%320+1 × flen%240+1; pixels tile the slice
      // bytes, so pixel sums are cycles·sliceSum + prefixSum(rem)
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
         fr AS (
           SELECT doc_id, text, n, least(n // 64 + 1, 8) AS nf,
             unnest(generate_series(0, least(n // 64 + 1, 8) - 1)) AS f
           FROM d),
         fx AS (
           SELECT doc_id, text, nf, f,
             CASE WHEN f < nf - 1 THEN 64 ELSE n - 64 * (nf - 1) END AS flen
           FROM fr WHERE f % 2 = 0),
         px AS (
           SELECT doc_id, nf,
             CASE WHEN flen = 0 THEN CAST(1 AS BIGINT)
                  ELSE CAST((flen % 320 + 1) * (flen % 240 + 1) AS BIGINT) END AS pix,
             CASE WHEN flen = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(((flen % 320 + 1) * (flen % 240 + 1)) // flen AS BIGINT)
                       * list_sum([ord(substr(text, 64 * f + j, 1))
                                   for j in generate_series(1, flen)])
                       + COALESCE(list_sum([ord(substr(text, 64 * f + j, 1))
                                   for j in generate_series(1,
                                     ((flen % 320 + 1) * (flen % 240 + 1)) % flen)]), 0)
             END AS psum
           FROM fx)
         SELECT doc_id, CAST(MAX(nf) AS INT) AS n_frames,
           CAST(COUNT(*) AS INT) AS n_sampled,
           CAST(SUM(pix) AS BIGINT) AS sampled_pixels,
           CASE WHEN SUM(pix) = 0 THEN 0.0
                ELSE CAST(SUM(psum) AS DOUBLE) / CAST(SUM(pix) AS DOUBLE) END AS mean_sampled
         FROM px GROUP BY doc_id"""),

    // §2#40b image block-mean signature: real ImageIO decode → 4×4
    // aHash-style perceptual key, bit decisions integer-exact so the
    // oracle rebuilds every signature from the deterministic payload
    // bytes; dup-group sizes ride a signature-keyed window (8-byte
    // rows — pixels never shuffle).
    Query("q127_image_sig", (s, dir) => {
      val sigs = operators.Multimodal.imageSignatures(
        operators.Multimodal.withImagePayload(t(s, dir, "documents").df))
      sigs.withColumn("n_same_sig", count(lit(1)).over(Window.partitionBy("sig")))
    },
      // pixels of the deterministic grayscale payload are the tiled text
      // bytes (Multimodal.encodePng), so the block-mean signature is
      // rebuilt from hex(encode(text)); the bit gate is the same integer
      // cross-multiplication the Scala decoder computes
      """WITH d AS (
           SELECT doc_id, octet_length(encode(text)) AS n, hex(encode(text)) AS hx
           FROM documents),
         dims AS (
           SELECT doc_id, n, hx,
             CAST(n % 320 + 1 AS BIGINT) AS w, CAST(n % 240 + 1 AS BIGINT) AS h
           FROM d),
         px AS (
           SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS p
           FROM dims),
         pv AS (
           SELECT px.doc_id, px.p,
             ((px.p // px.w) * 4 // px.h) * 4 + ((px.p % px.w) * 4 // px.w) AS blk,
             CASE WHEN dims.n = 0 THEN 0
                  ELSE ('0x' || substr(dims.hx, CAST(2 * (px.p % dims.n) + 1 AS INT), 2))::BIGINT
             END AS v
           FROM px JOIN dims USING (doc_id)),
         blocks AS (SELECT doc_id, blk, SUM(v) AS bsum, COUNT(*) AS bn FROM pv GROUP BY 1, 2),
         tot AS (SELECT doc_id, SUM(v) AS gsum, COUNT(*) AS npix FROM pv GROUP BY 1),
         sg AS (
           SELECT b.doc_id,
             CAST(SUM(CASE WHEN b.bsum * t.npix > t.gsum * b.bn
                           THEN (1::BIGINT << b.blk) ELSE 0 END) AS BIGINT) AS sig
           FROM blocks b JOIN tot t USING (doc_id) GROUP BY 1)
         SELECT sg.doc_id,
           CAST(dims.w AS INT) AS width, CAST(dims.h AS INT) AS height, sg.sig,
           COUNT(*) OVER (PARTITION BY sg.sig) AS n_same_sig
         FROM sg JOIN dims USING (doc_id)"""),

    // §2#40c audio perceptual signature: real WAV decode → 16-block
    // energy signature (integer-exact bit gates), dup groups counted
    // over the 8-byte keys — waveforms never shuffle.
    Query("q134_audio_sig", (s, dir) => {
      val sigs = operators.Multimodal.audioSignatures(
        operators.Multimodal.withAudioPayload(t(s, dir, "documents").df))
      sigs.withColumn("n_same_sig", count(lit(1)).over(Window.partitionBy("sig")))
    },
      // block-energy signature rebuilt from the ASCII payload bytes: the
      // same p·blocks/n block membership and bss·n > gss·bn integer gate
      // as Multimodal.audioSignatures; empty docs sign 0
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
         pos AS (
           SELECT doc_id, text, n, unnest(generate_series(1, n)) AS j
           FROM d WHERE n > 0),
         amp AS (
           SELECT doc_id, n, ((j - 1) * 16) // n AS b,
             ord(substr(text, j, 1)) - 128 AS a
           FROM pos),
         bs AS (
           SELECT doc_id, n, b, SUM(CAST(a AS BIGINT) * a) AS ss, COUNT(*) AS bn
           FROM amp GROUP BY 1, 2, 3),
         g AS (SELECT doc_id, SUM(ss) AS gss FROM bs GROUP BY 1),
         sigs AS (
           SELECT bs.doc_id, CAST(MAX(bs.n) AS BIGINT) AS n_samples,
             CAST(SUM(CASE WHEN ss * bs.n > gss * bn THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sig
           FROM bs JOIN g ON bs.doc_id = g.doc_id GROUP BY 1
           UNION ALL
           SELECT doc_id, 0::BIGINT, 0::BIGINT FROM d WHERE n = 0)
         SELECT doc_id, n_samples, sig,
           COUNT(*) OVER (PARTITION BY sig) AS n_same_sig
         FROM sigs"""),

    // §2#40d scene-change detection: every frame of the video container
    // decoded, a cut whenever consecutive frames' mean luminance
    // differs by more than 8 gray levels (rational threshold,
    // cross-multiplied longs) — per-frame rows never leave the map.
    Query("q135_scene_cuts", (s, dir) =>
      operators.Multimodal.videoSceneCuts(
        operators.Multimodal.withVideoPayload(t(s, dir, "documents").df)),
      // per-frame pixel sums from the q54 tiling formula over ALL frames,
      // cut iff |Δ mean| > 8 via the cross-multiplied integer gate
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
         fr AS (
           SELECT doc_id, text, n, least(n // 64 + 1, 8) AS nf,
             unnest(generate_series(0, least(n // 64 + 1, 8) - 1)) AS f
           FROM d),
         fx AS (
           SELECT doc_id, text, nf, f,
             CASE WHEN f < nf - 1 THEN 64 ELSE n - 64 * (nf - 1) END AS flen
           FROM fr),
         px AS (
           SELECT doc_id, nf, f,
             CASE WHEN flen = 0 THEN CAST(1 AS BIGINT)
                  ELSE CAST((flen % 320 + 1) * (flen % 240 + 1) AS BIGINT) END AS pix,
             CASE WHEN flen = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(((flen % 320 + 1) * (flen % 240 + 1)) // flen AS BIGINT)
                       * list_sum([ord(substr(text, 64 * f + j, 1))
                                   for j in generate_series(1, flen)])
                       + COALESCE(list_sum([ord(substr(text, 64 * f + j, 1))
                                   for j in generate_series(1,
                                     ((flen % 320 + 1) * (flen % 240 + 1)) % flen)]), 0)
             END AS psum
           FROM fx),
         lg AS (
           SELECT doc_id, nf, f, pix, psum,
             LAG(pix) OVER w AS ppix, LAG(psum) OVER w AS ppsum
           FROM px WINDOW w AS (PARTITION BY doc_id ORDER BY f)),
         cuts AS (
           SELECT doc_id, nf, f,
             CASE WHEN ppix IS NOT NULL
                   AND abs(psum * ppix - ppsum * pix) > 8 * pix * ppix
               THEN 1 ELSE 0 END AS cut
           FROM lg)
         SELECT doc_id, CAST(MAX(nf) AS INT) AS n_frames,
           CAST(SUM(cut) AS INT) AS n_cuts,
           CAST(MIN(CASE WHEN cut = 1 THEN f END) AS INT) AS first_cut
         FROM cuts GROUP BY doc_id"""),

    // §2#40e decode-free PNG header metadata: signature + IHDR
    // width/height/depth/color via pure Column byte arithmetic — the
    // prune-before-decode pass; no ImageIO anywhere in this plan.
    Query("q168_png_meta", (s, dir) =>
      operators.Multimodal.pngHeaderMeta(
        operators.Multimodal.withImagePayload(t(s, dir, "documents").df)),
      """SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         true AS is_png,
         CAST(octet_length(encode(text)) % 320 + 1 AS INT) AS width,
         CAST(octet_length(encode(text)) % 240 + 1 AS INT) AS height,
         CAST(8 AS INT) AS bit_depth,
         CAST(0 AS INT) AS color_type
         FROM documents"""),

    // §2#40f decode-free WAV header metadata: RIFF/WAVE signature +
    // fmt-chunk channels/rate/bits + data size via little-endian
    // Column byte assembly — no AudioSystem in this plan.
    Query("q172_wav_meta", (s, dir) =>
      operators.Multimodal.wavHeaderMeta(
        operators.Multimodal.withAudioPayload(t(s, dir, "documents").df)),
      """SELECT doc_id,
         true AS is_wav,
         CAST(1 AS INT) AS n_channels,
         CAST(8000 AS INT) AS sample_rate,
         CAST(8 AS INT) AS bits_per_sample,
         CAST(octet_length(encode(text)) AS BIGINT) AS data_bytes
         FROM documents"""),

    // §2#40g decode-free GIF header metadata: GIF signature + LE
    // logical-screen dims off real encoder output, pure Columns.
    Query("q188_gif_meta", (s, dir) =>
      operators.Multimodal.gifHeaderMeta(
        operators.Multimodal.withGifPayload(t(s, dir, "documents").df)),
      """SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         true AS is_gif,
         CAST(octet_length(encode(text)) % 320 + 1 AS INT) AS width,
         CAST(octet_length(encode(text)) % 240 + 1 AS INT) AS height
         FROM documents"""),

    // §2#40b JPEG header metadata: REAL ImageIO baseline JFIF bytes,
    // then a decode-free SEGMENT WALK (variable-length APP0/DQT/DHT
    // run) to the SOF frame — pure Column arithmetic, no codec on the
    // read path.
    Query("q214_jpeg_meta", (s, dir) =>
      operators.Multimodal.jpegHeaderMeta(
        operators.Multimodal.withJpegPayload(t(s, dir, "documents").df)),
      """SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         true AS is_jpeg,
         CAST(octet_length(encode(text)) % 240 + 1 AS INT) AS height,
         CAST(octet_length(encode(text)) % 320 + 1 AS INT) AS width
         FROM documents""")
  )
}
