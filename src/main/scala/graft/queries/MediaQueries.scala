package graft.queries

import graft.operators._

/** Binary media columns: decode, container metadata and corrupt-input quarantine. */
object MediaQueries {

  val specs: Seq[QuerySpec] = Seq(
    // -- corrupt-input quarantine profile: lenient CSV / JSONL / video
    // container ingest over a deterministic corrupt fixture corpus; the
    // quarantine counts are closed-form constants stated as a literal oracle
    // (q80/q81 technique) — malformed inputs are counted, never dropped --
    QuerySpec("q86_quarantine_profile", (s, _) => Quality.quarantineProfile(s), Sql("""
SELECT * FROM (VALUES
  ('csv',   CAST(5 AS BIGINT), CAST(2 AS BIGINT)),
  ('jsonl', CAST(4 AS BIGINT), CAST(3 AS BIGINT)),
  ('video', CAST(2 AS BIGINT), CAST(2 AS BIGINT))
) AS t(source, n_clean, n_quarantined) ORDER BY source""")),

    // -- multimodal binary-column pipeline (north-star extension; decode stubbed) --
    QuerySpec("q40_media_profile", (s, dir) =>
      Multimodal.mediaProfile(s, dir).drop("avg_frame_mean"),
      Sql("""
WITH m AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
  FROM documents
)
SELECT media_type,
       count(*) AS n_media,
       CAST(sum(byte_len) AS BIGINT) AS total_bytes,
       round(avg(64 + byte_len % 512), 4) + 0 AS avg_width,
       round(avg(64 + (byte_len * 7) % 512), 4) + 0 AS avg_height,
       CAST(sum(CASE WHEN media_type = 'video' THEN 1 + byte_len % 8 ELSE 1 END) AS BIGINT) AS total_frames
FROM m GROUP BY media_type ORDER BY media_type""")),

    // -- REAL decode: javax.imageio + javax.sound over deterministic PNG/WAV
    //    fixtures whose features are closed-form constants; the oracle states
    //    those constants as literals, hash-verifying the true decode path --
    QuerySpec("q80_real_decode", (s, _) => Multimodal.realDecodeProfile(s),
      // closed-form expected features of the deterministic media fixtures:
      // solid-color PNGs decode to exact (r+g+b)/3 mean luminance; the PCM
      // payloads (±0.5 alternating mono, constant 0.25 stereo) have exact
      // binary-double RMS. The Spark side runs the REAL decoders; matching
      // these literals verifies them end-to-end.
      Sql("""
SELECT item, metric, CAST(value AS DOUBLE) AS value FROM (VALUES
  ('dc_stereo.wav', 'duration_sec', 0.5),
  ('dc_stereo.wav', 'n_channels', 2.0),
  ('dc_stereo.wav', 'n_frames', 2000.0),
  ('dc_stereo.wav', 'rms', 0.25),
  ('dc_stereo.wav', 'sample_rate', 4000.0),
  ('img_a.png', 'height', 10.0),
  ('img_a.png', 'mean_luma', 60.0),
  ('img_a.png', 'width', 20.0),
  ('img_b.png', 'height', 5.0),
  ('img_b.png', 'mean_luma', 255.0),
  ('img_b.png', 'width', 7.0),
  ('img_c.png', 'height', 16.0),
  ('img_c.png', 'mean_luma', 24.0),
  ('img_c.png', 'width', 16.0),
  ('sq_mono.wav', 'duration_sec', 1.0),
  ('sq_mono.wav', 'n_channels', 1.0),
  ('sq_mono.wav', 'n_frames', 8000.0),
  ('sq_mono.wav', 'rms', 0.5),
  ('sq_mono.wav', 'sample_rate', 8000.0)
) AS t(item, metric, value)
ORDER BY item, metric""")),

    // -- REAL video container metadata: RIFF/AVI + MP4 byte parsing over
    //    deterministic fixtures; closed-form literal oracle like q80 --
    QuerySpec("q81_video_meta", (s, _) => Multimodal.videoMetaProfile(s),
      // closed-form expected container metadata of the deterministic video
      // fixtures: AVI 320×240 at 25 fps × 250 frames = 10.0 s; MP4 640×360
      // with duration 1200 at timescale 600 = 2.0 s, 300 frames from stts
      Sql("""
SELECT item, metric, CAST(value AS DOUBLE) AS value FROM (VALUES
  ('vid_a.avi', 'duration_sec', 10.0),
  ('vid_a.avi', 'height', 240.0),
  ('vid_a.avi', 'n_frames', 250.0),
  ('vid_a.avi', 'width', 320.0),
  ('vid_b.mp4', 'duration_sec', 2.0),
  ('vid_b.mp4', 'height', 360.0),
  ('vid_b.mp4', 'n_frames', 300.0),
  ('vid_b.mp4', 'width', 640.0)
) AS t(item, metric, value)
ORDER BY item, metric""")),
    // REAL MJPEG-in-AVI frame decode (movi chunk walk + javax.imageio per
    // frame) over deterministic fixtures whose per-frame means are exact by
    // the jpegFrame build-time contract — retires the stubbed video-decode
    // path for the one codec family the JDK can genuinely decode
    QuerySpec("q124_video_frames", (s, _) => Multimodal.videoFrameProfile(s),
      // per-frame ground truth: uniform-gray MJPEG frames decode to exactly
      // their gray level (all AC coefficients zero; DC reconstruction verified
      // at fixture build), so every row is a literal
      Sql("""
SELECT item, CAST(frame_idx AS BIGINT) AS frame_idx, CAST(width AS BIGINT) AS width,
       CAST(height AS BIGINT) AS height, CAST(mean_luma AS DOUBLE) AS mean_luma
FROM (VALUES
  ('clip_a.avi', 0, 48, 32, 128.0),
  ('clip_a.avi', 1, 48, 32, 160.0),
  ('clip_a.avi', 2, 48, 32, 192.0),
  ('clip_b.avi', 0, 64, 48, 192.0),
  ('clip_b.avi', 1, 64, 48, 64.0)
) AS t(item, frame_idx, width, height, mean_luma)
ORDER BY item, frame_idx""")),
    // AUDIO SPECTRAL ANALYSIS: Goertzel single-bin DFT (O(N) per probe
    // tone, O(1) state — the tone-detection shape) over pure-tone WAV
    // fixtures aligned on integer DFT bins; closed-form literal oracle,
    // q80's technique. Decode + recurrence run partition-local (mapPartitions)
    QuerySpec("q137_spectral", (s, _) => Multimodal.spectralProfile(s),
      // closed-form Goertzel amplitudes of the bin-aligned pure-tone
      // fixtures (int16 quantization error ≤3e-5 vanishes at 4 decimals)
      Sql("""
SELECT item, CAST(freq_hz AS BIGINT) AS freq_hz, CAST(amp AS DOUBLE) AS amp,
       CAST(is_dominant AS BIGINT) AS is_dominant
FROM (VALUES
  ('sin_a.wav',  440, 0.5,  1), ('sin_a.wav', 1000, 0.0,  0), ('sin_a.wav', 2000, 0.0, 0),
  ('sin_b.wav',  440, 0.5,  1), ('sin_b.wav', 1000, 0.25, 0), ('sin_b.wav', 2000, 0.0, 0),
  ('sin_c.wav',  440, 0.0,  0), ('sin_c.wav', 1000, 0.0,  0), ('sin_c.wav', 2000, 0.8, 1)
) AS t(item, freq_hz, amp, is_dominant)
ORDER BY item, freq_hz"""))
  )
}
