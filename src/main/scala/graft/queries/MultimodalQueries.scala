package graft
package queries

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

import QueryFixtures._

/** Multimodal queries: image, video-frame and audio round trips over
  * the documents rendered as media.
  */
object MultimodalQueries {
  /** Oracle of `mm_frames`, `mm_video_frames`. */
  private val FramesSql =
      """WITH n AS (SELECT doc_id, LEAST(GREATEST(octet_length(encode(text)), 1), 4096) AS nb FROM documents),
         fr AS (SELECT doc_id, CAST(CEIL(nb / 256.0) AS INT) AS nf FROM n)
         SELECT doc_id AS asset_id, CAST(UNNEST(range(0, nf, 2)) AS INT) AS frame_idx,
                16 AS width, 16 AS height
         FROM fr"""

  val specs: Seq[QuerySpec] = Seq(
    // C12: multimodal binary-column pipeline — PNG-encode each payload
    // (real ImageIO write) then decode it back (real ImageIO read):
    // format/width/height are true codec outputs, not stub values
    QuerySpec("mm_pipeline", { (s, dir) =>
      val assets = Multimodal.asAssets(Tables.documents(s, dir), "doc_id", "text", "source")
      Multimodal
        .decodeImages(Multimodal.toPngAssets(assets))
        .select(col("asset_id"), col("format"), col("width"), col("height"), col("n_bytes"))
    }, NoOracle("JVM ImageIO codec bytes (encoder output is implementation-defined)")),
    // C12c (resize): decode → deterministic integer box-filter resize →
    // PNG re-encode → decode again — a double real-codec round trip.
    // Output dims are a pure function of payload length, so they
    // hash-verify; pixel content is spec-checked (MultimodalSpec).
    QuerySpec("mm_resize", { (s, dir) =>
      val assets = Multimodal.asAssets(Tables.documents(s, dir), "doc_id", "text", "source")
      Multimodal
        .decodeImages(Multimodal.resizeImages(Multimodal.toPngAssets(assets)))
        .select(col("asset_id"), col("format"), col("width"), col("height"))
    }, Oracle(
      """WITH n AS (SELECT doc_id, LEAST(GREATEST(octet_length(encode(text)), 1), 4096) AS nb FROM documents),
         d AS (SELECT doc_id, CAST(CEIL(nb / 32.0) AS INT) AS h0 FROM n),
         f AS (SELECT doc_id, h0, GREATEST(2, CAST(CEIL(h0 / 16.0) AS INT)) AS fac FROM d)
         SELECT doc_id AS asset_id, 'png' AS format,
                CAST(CEIL(32.0 / fac) AS INT) AS width,
                CAST(CEIL(CAST(h0 AS DOUBLE) / fac) AS INT) AS height
         FROM f""")),
    // C12d (frame-sample): payload → REAL multi-page TIFF → every-2nd
    // frame decoded (ImageReader.getNumImages walks the directory) —
    // the video frame-sampling verb on the one multi-frame container
    // the JDK can truly decode. Sampled frame indices/dims are a pure
    // function of payload length → hash-verified; per-frame mean luma
    // is spec-checked.
    QuerySpec("mm_frames", { (s, dir) =>
      val assets = Multimodal.asAssets(Tables.documents(s, dir), "doc_id", "text", "source")
      Multimodal
        .sampleFrames(Multimodal.toTiffAssets(assets))
        .select(col("asset_id"), col("frame_idx"), col("width"), col("height"))
    }, Oracle(FramesSql)),
    // C12g (video): payload → REAL MJPEG AVI (RIFF container written
    // chunk by chunk, baseline-JPEG frames) → RIFF walk to LIST('movi')
    // → every-2nd frame chunk JPEG-decoded. Same frame-count formula as
    // mm_frames, so sampled indices/dims hash-verify; decoded per-frame
    // mean luma is spec-checked (JPEG is lossy — no SQL form).
    QuerySpec("mm_video_frames", { (s, dir) =>
      val assets = Multimodal.asAssets(Tables.documents(s, dir), "doc_id", "text", "source")
      Multimodal
        .sampleVideoFrames(Multimodal.toAviAssets(assets))
        .select(col("asset_id"), col("frame_idx"), col("width"), col("height"))
    }, Oracle(FramesSql)),
    // C12e: perceptual image hash (pHash/DCT) + exact banded near-dup
    // pairs — LAION-style image dedup on the real PNG assets (hash is
    // a DCT of decoded pixels: no SQL form → rows-only, spec-verified)
    QuerySpec("mm_phash", { (s, dir) =>
      val assets = Multimodal.asAssets(Tables.documents(s, dir), "doc_id", "text", "source")
      Multimodal
        .phashPairs(Multimodal.perceptualHash(Multimodal.toPngAssets(assets)))
        .orderBy(col("asset_a"), col("asset_b"))
    }, NoOracle("JVM codec decode + DCT floats (implementation-defined)")),
    // C12f: audio fingerprinting (Haitsma-Kalker band-energy scheme)
    // over the real WAV assets — 256-sample frames so the short doc
    // payloads yield frames (rows-only: FFT has no SQL form)
    QuerySpec("mm_audio_fp", { (s, dir) =>
      val assets = Multimodal.asAssets(Tables.documents(s, dir), "doc_id", "text", "source")
      Multimodal
        .audioFingerprints(Multimodal.toWavAssets(assets), frameSize = 256)
        .orderBy(col("asset_id"), col("frame_idx"))
    }, NoOracle("JVM codec decode + FFT floats (implementation-defined)")),
    // C12 (audio): real WAV codec round trip via javax.sound.sampled —
    // PCM-16 encode → container write → header parse → frame read. The
    // decoded header fields are a pure function of payload byte length,
    // so they hash-verify against SQL; RMS/amp-hist from the actual PCM
    // frames are spec-checked (MultimodalSpec).
    QuerySpec("mm_audio", { (s, dir) =>
      val assets = Multimodal.asAssets(Tables.documents(s, dir), "doc_id", "text", "source")
      Multimodal
        .decodeAudio(Multimodal.toWavAssets(assets))
        .select(
          col("asset_id"),
          col("encoding"),
          col("sample_rate"),
          col("channels"),
          col("sample_bits"),
          col("n_frames"),
          col("duration_s"),
        )
    }, Oracle(
      // the WAV round trip preserves exactly the header fields a decoder
      // recovers: frames = capped UTF-8 byte count of the payload
      """SELECT doc_id AS asset_id, 'PCM_SIGNED' AS encoding, 8000 AS sample_rate,
                1 AS channels, 16 AS sample_bits,
                CAST(LEAST(GREATEST(octet_length(encode(text)), 1), 16384) AS BIGINT) AS n_frames,
                round(CAST(LEAST(GREATEST(octet_length(encode(text)), 1), 16384) AS DOUBLE) / 8000.0, 6) AS duration_s
         FROM documents""")),
    // C12h (companded audio): PCM WAV → µ-law transcode through the
    // JDK's own codec (format code 7) → decode. Header fields are a
    // pure function of payload length → hash-verified; the companded
    // amplitude features are spec-checked (MultimodalSpec).
    QuerySpec("mm_audio_ulaw", { (s, dir) =>
      val assets = Multimodal.asAssets(Tables.documents(s, dir), "doc_id", "text", "source")
      Multimodal
        .decodeAudio(Multimodal.transcodeWav(Multimodal.toWavAssets(assets), "ulaw"))
        .select(
          col("asset_id"),
          col("encoding"),
          col("sample_rate"),
          col("channels"),
          col("sample_bits"),
          col("n_frames"),
          col("duration_s"),
        )
    }, Oracle(
      """SELECT doc_id AS asset_id, 'ULAW' AS encoding, 8000 AS sample_rate,
                1 AS channels, 8 AS sample_bits,
                CAST(LEAST(GREATEST(octet_length(encode(text)), 1), 16384) AS BIGINT) AS n_frames,
                round(CAST(LEAST(GREATEST(octet_length(encode(text)), 1), 16384) AS DOUBLE) / 8000.0, 6) AS duration_s
         FROM documents""")),
  )
}
