package graft
package entry

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Media keys: image, audio (WAV, MP3, ADTS) and video (H.264, fMP4)
  * parsing, features and profiles over the synthesized media tables.
  */
object MediaKeys {
  import Key.key

  /** The media_video_samples oracle, parameterized by an extra document
    * filter so the corrupt-channel profile twin can exclude the planted
    * truncations — ONE body, two keys, no drift.
    */
  private def videoSamplesSql(extraFilter: String): String =
    (s"""WITH vdocs AS (SELECT * FROM documents $extraFilter),
        |p AS (
        |  SELECT doc_id AS media_id,
        |    CAST(600 * (1 + doc_id % 2) AS INTEGER) AS mts,
        |    CAST(24 + doc_id % 120 AS BIGINT) AS ns,
        |    CAST(4 + doc_id % 4 AS BIGINT) AS k,
        |    CAST(320 + (doc_id % 8) * 160 AS INTEGER) AS w,
        |    CAST(180 + (doc_id % 8) * 90 AS INTEGER) AS h
        |  FROM vdocs),
        |sz AS (
        |  SELECT s.media_id,
        |    sum(200 + ((s.media_id + s.i) % 50) * 10) AS total_bytes,
        |    max(200 + ((s.media_id + s.i) % 50) * 10) AS max_bytes
        |  FROM (SELECT media_id, unnest(generate_series(0, ns - 1)) AS i
        |        FROM p) s
        |  GROUP BY s.media_id),
        |v AS (
        |  SELECT p.media_id, 1 AS track_idx, p.mts AS media_timescale,
        |    p.ns AS sample_count, sz.total_bytes, sz.max_bytes,
        |    (p.ns // 2) * 100 + (p.ns - p.ns // 2) * 150 AS duration_ticks,
        |    ((p.ns + p.k - 1) // p.k) AS keyframe_count,
        |    ((p.ns + 7) // 8) AS chunk_count,
        |    p.w, p.h
        |  FROM p JOIN sz ON p.media_id = sz.media_id),
        |a AS (
        |  SELECT doc_id AS media_id, 2 AS track_idx, 8000 AS media_timescale,
        |    CAST(50 + doc_id % 100 AS BIGINT) AS sample_count,
        |    CAST(50 + doc_id % 100 AS BIGINT) * 64 AS total_bytes,
        |    CAST(64 AS BIGINT) AS max_bytes,
        |    CAST(50 + doc_id % 100 AS BIGINT) * 160 AS duration_ticks,
        |    CAST(50 + doc_id % 100 AS BIGINT) AS keyframe_count,
        |    ((CAST(50 + doc_id % 100 AS BIGINT) + 15) // 16) AS chunk_count,
        |    CAST(0 AS INTEGER) AS w, CAST(0 AS INTEGER) AS h
        |  FROM vdocs WHERE doc_id % 5 = 0),
        |u AS (SELECT * FROM v UNION ALL SELECT * FROM a)
        |SELECT media_id, CAST(track_idx AS INTEGER) AS track_idx,
        |  CAST(media_timescale AS INTEGER) AS media_timescale,
        |  CAST(sample_count AS BIGINT) AS sample_count,
        |  CAST(total_bytes AS BIGINT) AS total_sample_bytes,
        |  CAST(max_bytes AS BIGINT) AS max_sample_bytes,
        |  CAST(duration_ticks AS BIGINT) AS duration_ticks,
        |  CAST(duration_ticks * 1000 // media_timescale AS BIGINT)
        |    AS duration_ms,
        |  CAST(total_bytes * 8 * media_timescale // duration_ticks AS BIGINT)
        |    AS bitrate_bps,
        |  CAST(keyframe_count AS BIGINT) AS keyframe_count,
        |  CAST(sample_count // keyframe_count AS BIGINT) AS keyframe_interval,
        |  CAST(chunk_count AS BIGINT) AS chunk_count,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height
        |FROM u
        |ORDER BY media_id, track_idx""").stripMargin

  /** The single-track fragment columns of the fMP4 fixture's closed
    * forms — sample count `n`, duration `dur` and `bytes` per fragment `f`
    * (even fragments sum per-sample trun fields, odd ones take the trex
    * defaults) — shared by media_video_fragments and its muxed twin. */
  private lazy val fmp4VideoFragmentCols: String =
    """SELECT doc_id, f,
      |    4 + (doc_id + f) % 5 AS n,
      |    CASE WHEN f % 2 = 0 THEN list_sum(list_transform(
      |        generate_series(0, CAST(3 + (doc_id + f) % 5 AS INT)),
      |        i -> 400 + (doc_id + 7 * f + i) % 100))
      |      ELSE (4 + (doc_id + f) % 5) * (512 + doc_id % 128)
      |    END AS dur,
      |    CASE WHEN f % 2 = 0 THEN list_sum(list_transform(
      |        generate_series(0, CAST(3 + (doc_id + f) % 5 AS INT)),
      |        i -> 100 + (doc_id + 13 * f + i) % 200))
      |      ELSE (4 + (doc_id + f) % 5) * (256 + doc_id % 64)
      |    END AS bytes""".stripMargin

  /** The tone fixture's closed-form sawtooth PCM word per (doc_id,
    * channel, sample index 0..`last`) over `dims(doc_id, channels)`. */
  private def toneSamples(last: String): String =
    s"""smp AS (
       |  SELECT c.doc_id, c.ch, s.i,
       |    ((c.doc_id + s.i * (17 + 2 * (c.doc_id % 500)) + 7919 * c.ch)
       |      % 65536) - 32768 AS v
       |  FROM (SELECT doc_id, unnest(generate_series(0, channels - 1)) AS ch
       |        FROM dims) c
       |  JOIN (SELECT doc_id, unnest(generate_series(0, $last)) AS i
       |        FROM dims) s ON c.doc_id = s.doc_id)""".stripMargin

  val keys: Seq[Key] = Seq(
    // multimodal: binary payloads + native-function features (oracle-checked)
    key("media_stats")((s, d) =>
      Multimodal.binaryStats(Multimodal.synthesizeMediaTable(Tables.documents(s, d))))
      .oracle("""SELECT doc_id AS media_id, 'text/plain' AS media_type,
        |  octet_length(text::BLOB)::BIGINT AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents
        |ORDER BY media_id""".stripMargin),
    // multimodal: REAL header parsing — the image fixture table carries
    // genuine PNG/JPEG/GIF byte streams whose header-encoded dimensions
    // derive from doc_id, so the decoder must actually parse the bytes
    // while the oracle states the expected output in closed form. md5 and
    // the stub embedding (Spark-side only) are dropped from the checked
    // face: PNG's IHDR CRC32 is not restatable in DuckDB SQL.
    key("media_features")((s, d) =>
      Multimodal.extractFeatures(
        s, Multimodal.synthesizeImageTable(s, Tables.documents(s, d)),
        Multimodal.HeaderDecoder)
        .drop("embedding", "content_md5")
        .orderBy(col("media_id")))
      // Spark parses real PNG/JPEG/GIF header bytes; the oracle states the
      // expected dimensions in closed form (the synth formula) plus the
      // fixed per-format byte counts of the minimal valid streams:
      // PNG 8-sig + 25 IHDR + 12 IEND = 45; JPEG SOI+APP0+COM+SOF0+EOI = 50;
      // GIF89a header + LSD + trailer = 14
      .oracle("""SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image/png'
        |                  WHEN 1 THEN 'image/jpeg'
        |                  ELSE 'image/gif' END AS media_type,
        |  CASE doc_id % 3 WHEN 0 THEN 45 WHEN 1 THEN 50 ELSE 14 END::BIGINT AS n_bytes,
        |  CAST(16 + doc_id % 2048 AS INTEGER) AS width,
        |  CAST(16 + (doc_id * 7) % 2048 AS INTEGER) AS height
        |FROM documents
        |ORDER BY media_id""".stripMargin),
    // audio twin of media_features: real RIFF/WAVE header parsing over
    // WAV fixtures whose fields derive from doc_id (closed-form oracle)
    key("media_audio")((s, d) =>
      Multimodal.extractAudioFeatures(
        s, Multimodal.synthesizeAudioTable(s, Tables.documents(s, d))))
      .oracle("""SELECT doc_id AS media_id,
        |  CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |  CAST(8000 * (1 + doc_id % 4) AS INTEGER) AS sample_rate,
        |  CAST(16 AS INTEGER) AS bits_per_sample,
        |  CAST(100 + doc_id % 1000 AS BIGINT) AS n_samples,
        |  CAST((100 + doc_id % 1000) * 1000 // (8000 * (1 + doc_id % 4)) AS BIGINT)
        |    AS duration_ms
        |FROM documents
        |ORDER BY media_id""".stripMargin),
    // REAL sample-level audio decode (r8): the tone fixtures carry actual
    // 16-bit PCM words from a closed-form sawtooth; Spark reads every
    // sample for per-channel peak / energy / zero-crossing statistics,
    // the oracle evaluates the same formulas per generated sample index
    key("media_audio_samples")((s, d) =>
      Multimodal.extractAudioSampleStats(
        s, Multimodal.synthesizeToneAudioTable(s, Tables.documents(s, d))))
      // sample-level audio statistics: the tone is a closed-form modular
      // sawtooth, so every PCM word the Spark decoder reads is stated by
      // the oracle per (channel, sample-index); RMS uses floor(sqrt(·)·1000)
      // with the identical double expression on both engines
      .oracle(s"""WITH dims AS (
        |  SELECT doc_id, CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |         CAST(100 + doc_id % 1000 AS INTEGER) AS n
        |  FROM documents),
        |${toneSamples("n - 1")},
        |agg AS (
        |  SELECT doc_id, ch,
        |    count(*) AS n_samples,
        |    max(abs(v)) AS peak,
        |    sum(v * v) AS sum_sq,
        |    sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS zero_crossings
        |  FROM (SELECT doc_id, ch, v,
        |          lag(v) OVER (PARTITION BY doc_id, ch ORDER BY i) AS pv
        |        FROM smp)
        |  GROUP BY doc_id, ch)
        |SELECT doc_id AS media_id, CAST(ch AS INTEGER) AS channel,
        |  CAST(n_samples AS BIGINT) AS n_samples,
        |  CAST(peak AS INTEGER) AS peak,
        |  CAST(sum_sq AS BIGINT) AS sum_sq,
        |  CAST(floor(sqrt(sum_sq / n_samples) * 1000) AS BIGINT) AS rms_milli,
        |  CAST(zero_crossings AS BIGINT) AS zero_crossings
        |FROM agg
        |ORDER BY media_id, channel""".stripMargin),
    // sequency-domain audio analysis: Walsh–Hadamard coefficients over
    // the first 64 decoded PCM frames — the ±1 basis keeps the whole
    // spectrum-shape computation exact integers, so unlike an FFT face
    // it is oracle-checkable; dominant_k = largest |W_k|, ties smaller k
    key("media_audio_walsh")((s, d) =>
      Multimodal.extractAudioWalsh(
        s, Multimodal.synthesizeToneAudioTable(s, Tables.documents(s, d))))
      // Walsh coefficients restated from the closed-form sawtooth over the
      // first 64 sample indexes — sign from popcount parity of (i AND k),
      // every clip has >= 100 samples so no short-block quarantine fires
      .oracle(s"""WITH dims AS (
        |  SELECT doc_id, CAST(1 + doc_id % 2 AS INTEGER) AS channels
        |  FROM documents),
        |${toneSamples("63")},
        |agg AS (
        |  SELECT doc_id, ch,
        |    CAST(sum(v) AS BIGINT) AS w_dc,
        |    CAST(sum(CASE WHEN bit_count(i & 1) % 2 = 0 THEN v ELSE -v END) AS BIGINT) AS w1,
        |    CAST(sum(CASE WHEN bit_count(i & 2) % 2 = 0 THEN v ELSE -v END) AS BIGINT) AS w2,
        |    CAST(sum(CASE WHEN bit_count(i & 4) % 2 = 0 THEN v ELSE -v END) AS BIGINT) AS w4
        |  FROM smp GROUP BY doc_id, ch)
        |SELECT doc_id AS media_id, CAST(ch AS INTEGER) AS channel,
        |  w_dc, w1, w2, w4,
        |  CAST(CASE WHEN abs(w1) >= abs(w2) AND abs(w1) >= abs(w4) THEN 1
        |       WHEN abs(w2) >= abs(w4) THEN 2 ELSE 4 END AS BIGINT) AS dominant_k
        |FROM agg
        |ORDER BY media_id, channel""".stripMargin),
    // windowed twin (r12): the 64-frame Walsh window hopped across the
    // WHOLE clip, per-bin |coefficient| sum + max across windows — the
    // full-clip sequency-energy profile (music/speech/silence signal),
    // still exact integers end to end
    key("media_audio_walsh_windows")((s, d) =>
      Multimodal.extractAudioWalshWindows(
        s, Multimodal.synthesizeToneAudioTable(s, Tables.documents(s, d))))
      // the windowed twin: same closed-form samples, per-window Walsh
      // sums grouped at (doc, ch, window), then |coef| sum/max per bin
      .oracle("""WITH dims AS (
        |  SELECT doc_id, CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |    (100 + doc_id % 1000) // 64 AS n_windows
        |  FROM documents),
        |ctab AS (SELECT doc_id, unnest(generate_series(0, channels - 1)) AS ch
        |         FROM dims),
        |wtab AS (SELECT doc_id, unnest(generate_series(0, n_windows - 1)) AS w
        |         FROM dims),
        |itab AS (SELECT unnest(generate_series(0, 63)) AS i),
        |smp AS (
        |  SELECT c.doc_id, c.ch, wt.w, it.i,
        |    ((c.doc_id + (wt.w * 64 + it.i) * (17 + 2 * (c.doc_id % 500))
        |      + 7919 * c.ch) % 65536) - 32768 AS v
        |  FROM ctab c
        |  JOIN wtab wt ON wt.doc_id = c.doc_id
        |  CROSS JOIN itab it),
        |wagg AS (
        |  SELECT doc_id, ch, w,
        |    sum(v) AS a_dc,
        |    sum(CASE WHEN bit_count(i & 1) % 2 = 0 THEN v ELSE -v END) AS a1,
        |    sum(CASE WHEN bit_count(i & 2) % 2 = 0 THEN v ELSE -v END) AS a2,
        |    sum(CASE WHEN bit_count(i & 4) % 2 = 0 THEN v ELSE -v END) AS a4
        |  FROM smp GROUP BY doc_id, ch, w)
        |SELECT doc_id AS media_id, CAST(ch AS INTEGER) AS channel,
        |  CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(sum(abs(a_dc)) AS BIGINT) AS e_dc_sum,
        |  CAST(max(abs(a_dc)) AS BIGINT) AS e_dc_max,
        |  CAST(sum(abs(a1)) AS BIGINT) AS e1_sum,
        |  CAST(max(abs(a1)) AS BIGINT) AS e1_max,
        |  CAST(sum(abs(a2)) AS BIGINT) AS e2_sum,
        |  CAST(max(abs(a2)) AS BIGINT) AS e2_max,
        |  CAST(sum(abs(a4)) AS BIGINT) AS e4_sum,
        |  CAST(max(abs(a4)) AS BIGINT) AS e4_max
        |FROM wagg
        |GROUP BY doc_id, ch
        |ORDER BY media_id, channel""".stripMargin),
    // MP3 (MPEG-1 Layer III) framing: 4-byte headers walked frame by
    // frame — bitrate/sample-rate/channel-mode/padding and the derived
    // frame length off REAL byte streams (every 13th truncated)
    key("media_audio_mp3")((s, d) =>
      graft.operators.Mp3.extractMp3Info(
        s, graft.operators.Mp3.synthesizeMp3Table(s, Tables.documents(s, d))))
      // MP3 replay: the fixture's closed forms — 3 + id%5 frames, Table
      // B.2 bitrate at 1 + id%14, MPEG-1 sample rate at id%3, per-frame
      // padding (id+f)%2, mono iff mode 3; frame bytes by the Layer III
      // formula (integer division in both engines)
      .oracle("""SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
        |  CAST([32,40,48,56,64,80,96,112,128,160,192,224,256,320]
        |       [CAST(doc_id % 14 AS INT) + 1] AS BIGINT) AS bitrate_kbps,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |       ELSE 32000 END AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END AS BIGINT)
        |    AS channels,
        |  CAST((doc_id + f) % 2 AS BIGINT) AS padded,
        |  CAST((144000 * [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
        |          [CAST(doc_id % 14 AS INT) + 1])
        |       // (CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |           ELSE 32000 END)
        |       + (doc_id + f) % 2 AS BIGINT) AS frame_bytes
        |FROM (SELECT doc_id, unnest(range(0, 3 + doc_id % 5)) AS f
        |      FROM documents WHERE doc_id % 13 <> 0)
        |ORDER BY media_id, frame_idx""".stripMargin),
    // what crawls ACTUALLY carry (r14): ID3v2-tagged, Xing/Info-VBR,
    // MPEG-1/2/2.5 streams — per-stream rollup over a fixture that
    // plants all three populations (r13 quarantined every one of them)
    key("media_audio_mp3_vbr")((s, d) =>
      graft.operators.Mp3.extractMp3StreamStats(
        s, graft.operators.Mp3.synthesizeMp3VbrTable(s, Tables.documents(s, d))))
      // real-crawl MP3 replay: version 10/20/25 by id%3 with the matching
      // 13818-3 bitrate table and halved/quartered rates, granule constant
      // 144000 vs 72000, ID3v2 size 30 + id%50 when id%7 < 3, Xing/Info
      // VBR fields when id%5 < 3 (the info frame rides bitrate index
      // max(1+id%14, 4) so its header always fits), physical frames =
      // music + Xing, padding summed per music frame
      .oracle("""WITH p AS (
        |  SELECT doc_id,
        |    CAST([10, 20, 25][CAST(doc_id % 3 AS INT) + 1] AS BIGINT)
        |      AS version_x10,
        |    CASE doc_id % 3
        |      WHEN 0 THEN [44100, 48000, 32000]
        |        [CAST((doc_id // 3) % 3 AS INT) + 1]
        |      WHEN 1 THEN [22050, 24000, 16000]
        |        [CAST((doc_id // 3) % 3 AS INT) + 1]
        |      ELSE [11025, 12000, 8000]
        |        [CAST((doc_id // 3) % 3 AS INT) + 1]
        |    END AS sr,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
        |        [CAST(doc_id % 14 AS INT) + 1]
        |      ELSE [8,16,24,32,40,48,56,64,80,96,112,128,144,160]
        |        [CAST(doc_id % 14 AS INT) + 1]
        |    END AS br,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
        |        [CAST(greatest(doc_id % 14 + 1, 4) AS INT)]
        |      ELSE [8,16,24,32,40,48,56,64,80,96,112,128,144,160]
        |        [CAST(greatest(doc_id % 14 + 1, 4) AS INT)]
        |    END AS brx,
        |    CASE WHEN (doc_id // 2) % 4 = 3 THEN 1 ELSE 2 END AS channels,
        |    3 + doc_id % 5 AS n_music,
        |    CASE WHEN doc_id % 5 < 3 THEN 1 ELSE 0 END AS has_vbr
        |  FROM documents WHERE doc_id % 13 <> 0),
        |q AS (
        |  SELECT doc_id, version_x10, sr, channels, n_music, has_vbr,
        |    (CASE WHEN version_x10 = 10 THEN 144000 ELSE 72000 END)
        |      * br // sr AS base,
        |    (CASE WHEN version_x10 = 10 THEN 144000 ELSE 72000 END)
        |      * brx // sr AS base_x,
        |    list_sum(list_transform(
        |      generate_series(0, CAST(n_music - 1 AS INT)),
        |      f -> (doc_id + f) % 2)) AS pad_sum
        |  FROM p)
        |SELECT doc_id AS media_id, version_x10,
        |  CAST(n_music + has_vbr AS BIGINT) AS n_frames,
        |  CAST(n_music * base + pad_sum + has_vbr * base_x AS BIGINT)
        |    AS total_bytes,
        |  CAST(sr AS BIGINT) AS sample_rate,
        |  CAST(channels AS BIGINT) AS channels,
        |  CAST(CASE WHEN doc_id % 7 < 3 THEN 30 + doc_id % 50 ELSE 0 END
        |    AS BIGINT) AS id3_bytes,
        |  CAST(has_vbr AS BIGINT) AS vbr_flag,
        |  CAST(CASE WHEN has_vbr = 1 THEN 100 + doc_id % 900 ELSE 0 END
        |    AS BIGINT) AS vbr_frames,
        |  CAST(CASE WHEN has_vbr = 1 THEN 10000 + doc_id % 90000 ELSE 0 END
        |    AS BIGINT) AS vbr_bytes
        |FROM q
        |ORDER BY media_id""".stripMargin),
    // the full ISO layer matrix + Fraunhofer VBRI (r15): Layer I's
    // 384-sample frames in 4-byte slots, Layer II's 1152 samples at
    // every version, the layer-specific bitrate tables (MPEG-2 Layers
    // II/III share theirs), and the VBRI header at its fixed 32-byte
    // offset on the MPEG-1 Layer III slice
    key("media_audio_mp3_layers")((s, d) =>
      graft.operators.Mp3.extractMp3LayerStats(
        s, graft.operators.Mp3.synthesizeMp3LayersTable(s, Tables.documents(s, d))))
      // layer-matrix replay: the per-(version, layer) bitrate tables,
      // Layer I's slot arithmetic ((12000·br//sr + pad)·4), Layer II's
      // universal 144000 constant, Layer III's version-halved one, and
      // the VBRI fields on the MPEG-1 Layer III slice (vbr_kind 2)
      .oracle("""WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 3 AS BIGINT) AS layer,
        |    CAST([10, 20, 25][CAST((doc_id // 3) % 3 AS INT) + 1] AS BIGINT)
        |      AS version_x10,
        |    CASE (doc_id // 3) % 3
        |      WHEN 0 THEN [44100, 48000, 32000]
        |        [CAST((doc_id // 9) % 3 AS INT) + 1]
        |      WHEN 1 THEN [22050, 24000, 16000]
        |        [CAST((doc_id // 9) % 3 AS INT) + 1]
        |      ELSE [11025, 12000, 8000]
        |        [CAST((doc_id // 9) % 3 AS INT) + 1]
        |    END AS sr,
        |    CASE
        |      WHEN (doc_id // 3) % 3 = 0 AND doc_id % 3 = 0 THEN
        |        [32,64,96,128,160,192,224,256,288,320,352,384,416,448]
        |          [CAST(doc_id % 14 AS INT) + 1]
        |      WHEN (doc_id // 3) % 3 = 0 AND doc_id % 3 = 1 THEN
        |        [32,48,56,64,80,96,112,128,160,192,224,256,320,384]
        |          [CAST(doc_id % 14 AS INT) + 1]
        |      WHEN (doc_id // 3) % 3 = 0 THEN
        |        [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
        |          [CAST(doc_id % 14 AS INT) + 1]
        |      WHEN doc_id % 3 = 0 THEN
        |        [32,48,56,64,80,96,112,128,144,160,176,192,224,256]
        |          [CAST(doc_id % 14 AS INT) + 1]
        |      ELSE
        |        [8,16,24,32,40,48,56,64,80,96,112,128,144,160]
        |          [CAST(doc_id % 14 AS INT) + 1]
        |    END AS br,
        |    [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
        |      [CAST(greatest(doc_id % 14 + 1, 4) AS INT)] AS brx,
        |    CASE WHEN (doc_id // 2) % 4 = 3 THEN 1 ELSE 2 END AS channels,
        |    3 + doc_id % 5 AS n_music,
        |    CASE WHEN doc_id % 3 = 2 AND (doc_id // 3) % 3 = 0
        |         AND doc_id % 5 < 2 THEN 1 ELSE 0 END AS has_vbri
        |  FROM documents WHERE doc_id % 13 <> 0),
        |q AS (
        |  SELECT doc_id, layer, version_x10, sr, channels, n_music, has_vbri,
        |    CASE layer
        |      WHEN 1 THEN (12000 * br // sr) * 4
        |      WHEN 2 THEN 144000 * br // sr
        |      ELSE (CASE WHEN version_x10 = 10 THEN 144000 ELSE 72000 END)
        |        * br // sr
        |    END AS base,
        |    CASE WHEN layer = 1 THEN 4 ELSE 1 END AS slot,
        |    144000 * brx // sr AS base_x,
        |    list_sum(list_transform(
        |      generate_series(0, CAST(n_music - 1 AS INT)),
        |      f -> (doc_id + f) % 2)) AS pad_sum
        |  FROM p)
        |SELECT doc_id AS media_id, layer, version_x10,
        |  CAST(n_music + has_vbri AS BIGINT) AS n_frames,
        |  CAST(n_music * base + pad_sum * slot + has_vbri * base_x
        |    AS BIGINT) AS total_bytes,
        |  CAST(sr AS BIGINT) AS sample_rate,
        |  CAST(channels AS BIGINT) AS channels,
        |  CAST(2 * has_vbri AS BIGINT) AS vbr_kind,
        |  CAST(CASE WHEN has_vbri = 1 THEN 200 + doc_id % 800 ELSE 0 END
        |    AS BIGINT) AS vbr_frames,
        |  CAST(CASE WHEN has_vbri = 1 THEN 20000 + doc_id % 80000 ELSE 0 END
        |    AS BIGINT) AS vbr_bytes
        |FROM q
        |ORDER BY media_id""".stripMargin),
    // fragmented MP4 (DASH/HLS captures): moof/traf/tfhd/tfdt/trun walk
    // with the trex default cascade — per-fragment sample counts, byte
    // and duration totals, decode-time baselines off REAL fragmented
    // byte streams (every 13th planted-truncated → quarantined)
    key("media_video_fragments")((s, d) =>
      graft.operators.Fmp4.extractFragments(
        s, graft.operators.Fmp4.synthesizeFmp4Table(s, Tables.documents(s, d))))
      // fMP4 replay: closed forms of the fixture's GOP rules — 2 + id%4
      // fragments; even fragments carry per-sample trun sizes/durations
      // (list sums), odd fragments inherit the trex defaults; decode-time
      // baselines are the running duration sum over earlier fragments
      .oracle(s"""WITH fr AS (
        |  $fmp4VideoFragmentCols
        |  FROM (SELECT doc_id, unnest(range(0, 2 + doc_id % 4)) AS f
        |        FROM documents WHERE doc_id % 13 <> 0))
        |SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frag_idx,
        |  CAST(f + 1 AS BIGINT) AS sequence,
        |  CAST(1 AS BIGINT) AS track_id,
        |  CAST(coalesce(sum(dur) OVER (PARTITION BY doc_id ORDER BY f
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS base_decode_time,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(bytes AS BIGINT) AS total_bytes,
        |  CAST(dur AS BIGINT) AS duration_ticks,
        |  CAST(f % 2 AS BIGINT) AS uses_defaults
        |FROM fr
        |ORDER BY media_id, frag_idx""".stripMargin),
    // muxed DASH twin (r14): every moof interleaves a video traf and an
    // audio traf — one row per (fragment, track), each traf honoring
    // its OWN tfhd→trex default cascade and per-track decode-time
    // baseline (r13 quarantined multi-traf; this round decodes it)
    key("media_video_fragment_tracks")((s, d) =>
      graft.operators.Fmp4.extractFragments(
        s, graft.operators.Fmp4.synthesizeFmp4MuxTable(s, Tables.documents(s, d))))
      // muxed fMP4 replay: the two-track fixture's closed forms — track 1
      // repeats the single-track rules; track 2 (audio) never carries
      // per-sample trun fields, inheriting trex defaults (1024 ticks,
      // 64+id%32 bytes) on even fragments and tfhd overrides (960 ticks,
      // 48+id%16 bytes) on odd; per-track running decode-time baselines
      .oracle(s"""WITH fr AS MATERIALIZED (
        |  $fmp4VideoFragmentCols,
        |    6 + (doc_id + 2 * f) % 7 AS n2,
        |    (6 + (doc_id + 2 * f) % 7) *
        |      (CASE WHEN f % 2 = 0 THEN 1024 ELSE 960 END) AS dur2,
        |    (6 + (doc_id + 2 * f) % 7) *
        |      (CASE WHEN f % 2 = 0 THEN 64 + doc_id % 32
        |            ELSE 48 + doc_id % 16 END) AS bytes2
        |  FROM (SELECT doc_id, unnest(range(0, 2 + doc_id % 4)) AS f
        |        FROM documents WHERE doc_id % 13 <> 0)),
        |tr AS (
        |  SELECT doc_id, f, 1 AS track_id, n AS n_samples,
        |    bytes AS total_bytes, dur AS duration_ticks,
        |    coalesce(sum(dur) OVER (PARTITION BY doc_id ORDER BY f
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS base_decode_time,
        |    f % 2 AS uses_defaults
        |  FROM fr
        |  UNION ALL
        |  SELECT doc_id, f, 2, n2, bytes2, dur2,
        |    coalesce(sum(dur2) OVER (PARTITION BY doc_id ORDER BY f
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0),
        |    1
        |  FROM fr)
        |SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frag_idx,
        |  CAST(f + 1 AS BIGINT) AS sequence,
        |  CAST(track_id AS BIGINT) AS track_id,
        |  CAST(base_decode_time AS BIGINT) AS base_decode_time,
        |  CAST(n_samples AS BIGINT) AS n_samples,
        |  CAST(total_bytes AS BIGINT) AS total_bytes,
        |  CAST(duration_ticks AS BIGINT) AS duration_ticks,
        |  CAST(uses_defaults AS BIGINT) AS uses_defaults
        |FROM tr
        |ORDER BY media_id, frag_idx, track_id""".stripMargin),
    // compressed-audio framing: ADTS (raw .aac) 7-byte fixed headers
    // walked frame by frame — object type, sample rate, channel config,
    // frame sizes off REAL ADTS byte streams (every 13th planted-
    // truncated → quarantined); closed-form oracle like the H.264 strata
    key("media_audio_adts")((s, d) =>
      graft.operators.Adts.extractAdtsInfo(
        s, graft.operators.Adts.synthesizeAdtsTable(s, Tables.documents(s, d))))
      // ADTS replay: the fixture's closed forms — 2 + id%5 frames, aot and
      // channels 1 + id%3, sample rate from the Table 1.18 list at id%13,
      // frame bytes 7 + (10 + (id + 7f)%50); every 13th doc is planted-
      // truncated and the quarantine excludes it entirely
      .oracle("""SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
        |  CAST(1 + doc_id % 3 AS BIGINT) AS aot,
        |  CAST([96000,88200,64000,48000,44100,32000,24000,22050,16000,
        |        12000,11025,8000,7350][CAST(doc_id % 13 AS INTEGER) + 1]
        |    AS BIGINT) AS sample_rate,
        |  CAST(1 + doc_id % 3 AS BIGINT) AS channels,
        |  CAST(17 + (doc_id + 7 * f) % 50 AS BIGINT) AS frame_bytes
        |FROM (SELECT doc_id, unnest(range(0, 2 + doc_id % 5)) AS f
        |      FROM documents WHERE doc_id % 13 <> 0)
        |ORDER BY media_id, frame_idx""".stripMargin),
    // per-stream rollup: frame/byte totals + exact integer-microsecond
    // duration (1024 PCM samples per AAC frame)
    key("media_audio_adts_stats")((s, d) =>
      graft.operators.Adts.adtsStreamStats(
        s, graft.operators.Adts.synthesizeAdtsTable(s, Tables.documents(s, d))))
      .oracle("""WITH fr AS (
        |  SELECT doc_id AS media_id, f,
        |    CAST(1 + doc_id % 3 AS BIGINT) AS aot,
        |    CAST([96000,88200,64000,48000,44100,32000,24000,22050,16000,
        |          12000,11025,8000,7350][CAST(doc_id % 13 AS INTEGER) + 1]
        |      AS BIGINT) AS sample_rate,
        |    CAST(1 + doc_id % 3 AS BIGINT) AS channels,
        |    CAST(17 + (doc_id + 7 * f) % 50 AS BIGINT) AS frame_bytes
        |  FROM (SELECT doc_id, unnest(range(0, 2 + doc_id % 5)) AS f
        |        FROM documents WHERE doc_id % 13 <> 0))
        |SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(frame_bytes) AS BIGINT) AS total_bytes,
        |  CAST(min(aot) AS BIGINT) AS aot,
        |  CAST(min(sample_rate) AS BIGINT) AS sample_rate,
        |  CAST(min(channels) AS BIGINT) AS channels,
        |  CAST((1024000000 * count(*)) // min(sample_rate) AS BIGINT)
        |    AS duration_micros
        |FROM fr GROUP BY media_id
        |ORDER BY media_id""".stripMargin),
    // video twin: real MP4 box walk (ftyp → moov → mvhd) over fixtures
    // whose timescale/duration derive from doc_id (closed-form oracle)
    key("media_video")((s, d) =>
      Multimodal.extractVideoFeatures(
        s, Multimodal.synthesizeVideoTable(s, Tables.documents(s, d))))
      .oracle("""SELECT doc_id AS media_id,
        |  CAST(1000 * (1 + doc_id % 3) AS INTEGER) AS timescale,
        |  CAST(1000 + doc_id % 60000 AS INTEGER) AS duration_ticks,
        |  CAST((1000 + doc_id % 60000) * 1000 // (1000 * (1 + doc_id % 3)) AS BIGINT)
        |    AS duration_ms
        |FROM documents
        |ORDER BY media_id""".stripMargin),
    // REAL ISO BMFF sample-table decode (r11): stts/stss/stsz/stco walked
    // per track; sample counts, byte totals, duration, mean bitrate,
    // codec-level decode: profile/level/resolution parsed from the REAL
    // Exp-Golomb SPS bitstream inside avcC (incl. emulation-prevention
    // unescaping and the 4:2:0 crop arithmetic); every 13th payload
    // truncated -> quarantine by absence
    key("media_video_codec")((s, d) =>
      graft.operators.H264.extractCodecInfo(
        s, graft.operators.H264.synthesizeAvcTable(s, Tables.documents(s, d))))
      // closed forms of H264.specFor's id rule: width/height carry the
      // 4:2:0 crop subtraction (2 px per chroma-unit offset)
      .oracle("""SELECT doc_id AS media_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 66 ELSE 77 END AS BIGINT) AS profile_idc,
        |  CAST(30 + doc_id % 21 AS BIGINT) AS level_idc,
        |  CAST((20 + doc_id % 60) * 16 - 2 * (doc_id % 2) AS BIGINT) AS coded_width,
        |  CAST((12 + doc_id % 34) * 16 - 2 * ((doc_id // 2) % 2) AS BIGINT) AS coded_height
        |FROM documents
        |WHERE doc_id % 13 <> 0
        |ORDER BY media_id""".stripMargin),
    // PPS decode (r12): picture-level coding tools parsed from the REAL
    // §7.3.2.2 bitstream in avcC's PPS array — entropy mode (CABAC vs
    // CAVLC ~ decode-compute class), FMO slice-group count, default
    // ref-list sizes, weighted prediction, init QP (negative se(v)
    // codes exercised), deblocking/intra/redundancy flags; same
    // truncation quarantine channel as the SPS face
    key("media_video_pps")((s, d) =>
      graft.operators.H264.extractPpsInfo(
        s, graft.operators.H264.synthesizeAvcTable(s, Tables.documents(s, d))))
      // closed forms of H264.ppsSpecFor's id rule (booleans as 0/1;
      // init_qp = 26 + ((id % 21) - 10) = 16 + id % 21)
      .oracle("""SELECT doc_id AS media_id,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS entropy_cabac,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 1 END AS BIGINT) AS num_slice_groups,
        |  CAST(1 + doc_id % 4 AS BIGINT) AS num_ref_idx_l0,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS num_ref_idx_l1,
        |  CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS weighted_pred,
        |  CAST(doc_id % 3 AS BIGINT) AS weighted_bipred_idc,
        |  CAST(16 + doc_id % 21 AS BIGINT) AS init_qp,
        |  CAST((doc_id % 5) - 2 AS BIGINT) AS chroma_qp_offset,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS deblocking_control,
        |  CAST(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS BIGINT) AS constrained_intra_pred,
        |  CAST(CASE WHEN doc_id % 9 = 0 THEN 1 ELSE 0 END AS BIGINT) AS redundant_pic_cnt
        |FROM documents
        |WHERE doc_id % 13 <> 0
        |ORDER BY media_id""".stripMargin),
    // SEI decode (r12): the §7.3.2.3 message chain read from the first
    // length-prefixed stream sample in mdat — recovery-point random-
    // access signals + encoder-fingerprint UUIDs (the ff-escaped
    // type/size walk, payload-level Exp-Golomb, typed NULLs for
    // fields outside a message's type)
    key("media_video_sei")((s, d) =>
      graft.operators.H264.extractSeiInfo(
        s, graft.operators.H264.synthesizeAvcTable(s, Tables.documents(s, d))))
      // closed forms of H264.seiSpecFor: recovery payload size from the
      // ue(v) code length (cnt+1's bit length band), uuid hex from the
      // (id+i) % 256 byte rule
      .oracle("""WITH rp AS (
        |  SELECT doc_id, 0 AS msg_idx, 6 AS sei_type,
        |    (CASE WHEN (doc_id % 30) + 1 >= 16 THEN 9
        |          WHEN (doc_id % 30) + 1 >= 8 THEN 7
        |          WHEN (doc_id % 30) + 1 >= 4 THEN 5
        |          WHEN (doc_id % 30) + 1 >= 2 THEN 3 ELSE 1 END + 12) // 8
        |      AS payload_size,
        |    CAST(NULL AS VARCHAR) AS uuid_hex,
        |    CAST(doc_id % 30 AS BIGINT) AS recovery_frame_cnt,
        |    CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS exact_match,
        |    CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS broken_link
        |  FROM documents WHERE doc_id % 13 <> 0),
        |ud AS (
        |  SELECT doc_id, 1 AS msg_idx, 5 AS sei_type, 21 AS payload_size,
        |    list_aggregate(list_transform(range(0, 16),
        |      i -> printf('%02x', (doc_id + i) % 256)), 'string_agg', '') AS uuid_hex,
        |    CAST(NULL AS BIGINT) AS recovery_frame_cnt,
        |    CAST(NULL AS BIGINT) AS exact_match,
        |    CAST(NULL AS BIGINT) AS broken_link
        |  FROM documents WHERE doc_id % 13 <> 0 AND doc_id % 3 = 0)
        |SELECT doc_id AS media_id, CAST(msg_idx AS BIGINT) AS msg_idx,
        |  CAST(sei_type AS BIGINT) AS sei_type,
        |  CAST(payload_size AS BIGINT) AS payload_size, uuid_hex,
        |  recovery_frame_cnt, exact_match, broken_link
        |FROM (SELECT * FROM rp UNION ALL SELECT * FROM ud)
        |ORDER BY media_id, msg_idx""".stripMargin),
    // slice-header decode (r13): §7.3.3 leading fields off every slice
    // NAL in the mdat stream, parsed under the SAME payload's SPS bit
    // widths — the real I/P/B GOP cadence (slice_type per Table 7-6,
    // frame_num, poc_lsb, idr_pic_id) that media_video_samples could
    // only approximate from stss keyframe flags; same truncation
    // quarantine channel
    key("media_video_slices")((s, d) =>
      graft.operators.H264.extractSliceInfo(
        s, graft.operators.H264.synthesizeAvcTable(s, Tables.documents(s, d))))
      // closed forms of H264.sliceSpecsFor's GOP rule: 3 + id%4 slices,
      // slice 0 an IDR I (type 7, idr_pic_id = id%8), then B on
      // (id+j)%3=0, in-stream I on (id+j)%5=0, P otherwise
      .oracle("""SELECT doc_id AS media_id, CAST(j AS BIGINT) AS slice_idx,
        |  CAST(CASE WHEN j = 0 THEN 5 ELSE 1 END AS BIGINT) AS nal_type,
        |  CAST(0 AS BIGINT) AS first_mb,
        |  CAST(CASE WHEN j = 0 THEN 7
        |            WHEN (doc_id + j) % 3 = 0 THEN 1
        |            WHEN (doc_id + j) % 5 = 0 THEN 2
        |            ELSE 0 END AS BIGINT) AS slice_type,
        |  CAST(CASE WHEN j = 0 THEN 0 ELSE j % 16 END AS BIGINT) AS frame_num,
        |  CAST(CASE WHEN j = 0 THEN 0 ELSE (2 * j) % 16 END AS BIGINT) AS poc_lsb,
        |  CAST(CASE WHEN j = 0 THEN doc_id % 8 ELSE NULL END AS BIGINT) AS idr_pic_id
        |FROM (SELECT doc_id, unnest(range(0, 3 + doc_id % 4)) AS j
        |      FROM documents WHERE doc_id % 13 <> 0)
        |ORDER BY media_id, slice_idx""".stripMargin),
    // keyframe density and chunking are exact integers the oracle states
    // in closed form (every fifth doc carries a second track exercising
    // uniform-stsz / single-run-stts / absent-stss)
    key("media_video_samples")((s, d) =>
      Multimodal.extractVideoSampleStats(
        s, Multimodal.synthesizeVideoSampleTable(s, Tables.documents(s, d))))
      .oracle(videoSamplesSql("")),
    // corpus-level video curation profile over the sample-table decode:
    // tracks bucket by decoded display height (sd/ed/hd; width 0 =
    // no-display), per-bucket byte volume + bitrate/keyframe stats;
    // planted truncation at doc_id % 11 == 0 exercises the corrupt
    // quarantine channel for real — one map-only pass + one aggregate
    key("media_video_profile")((s, d) =>
      Multimodal.videoSampleProfile(
        s, Multimodal.synthesizeVideoSampleTable(s, Tables.documents(s, d),
          corruptEvery = Some(11))))
      // the profile twin: the SAME samples body (planted corruptions
      // excluded) bucketed and aggregated; the corrupt bucket counts the
      // excluded payloads directly
      .oracle((s"""WITH samples AS (${videoSamplesSql("WHERE doc_id % 11 != 0")}),
        |tracks AS (
        |  SELECT CASE WHEN width = 0 THEN 'no-display'
        |              WHEN height < 480 THEN 'sd'
        |              WHEN height < 720 THEN 'ed' ELSE 'hd' END AS bucket,
        |         1 AS parsed, total_sample_bytes AS bytes,
        |         bitrate_bps AS bitrate, keyframe_interval AS kf
        |  FROM samples
        |  UNION ALL
        |  SELECT 'corrupt', 0, 0, 0, 0 FROM documents WHERE doc_id % 11 = 0)
        |SELECT bucket,
        |  CAST(count(*) AS BIGINT) AS n_tracks,
        |  CAST(sum(CASE WHEN parsed = 1 THEN bytes ELSE 0 END) AS BIGINT)
        |    AS total_sample_bytes,
        |  CAST(min(CASE WHEN parsed = 1 THEN bitrate END) AS BIGINT)
        |    AS bitrate_min_bps,
        |  CAST(max(CASE WHEN parsed = 1 THEN bitrate END) AS BIGINT)
        |    AS bitrate_max_bps,
        |  CASE WHEN sum(parsed) = 0 THEN NULL
        |       ELSE CAST(1000 * sum(CASE WHEN parsed = 1 THEN bitrate ELSE 0
        |                 END) // sum(parsed) AS BIGINT) END
        |    AS avg_bitrate_milli,
        |  CAST(min(CASE WHEN parsed = 1 THEN kf END) AS BIGINT)
        |    AS kf_interval_min,
        |  CAST(max(CASE WHEN parsed = 1 THEN kf END) AS BIGINT)
        |    AS kf_interval_max
        |FROM tracks GROUP BY bucket
        |ORDER BY bucket""").stripMargin),
    // aspect-preserving resize metadata over the parsed dimensions
    key("media_resize")((s, d) =>
      Multimodal.resizeMeta(
        Multimodal.extractFeatures(
          s, Multimodal.synthesizeImageTable(s, Tables.documents(s, d)),
          Multimodal.HeaderDecoder),
        maxSide = 256)
        .orderBy(col("media_id")))
      .oracle("""WITH dims AS (
        |  SELECT doc_id AS media_id,
        |    CAST(16 + doc_id % 2048 AS INTEGER) AS w,
        |    CAST(16 + (doc_id * 7) % 2048 AS INTEGER) AS h
        |  FROM documents),
        |s AS (
        |  SELECT media_id, w, h,
        |    least(256.0 / greatest(w, h), 1.0) AS scale
        |  FROM dims)
        |SELECT media_id,
        |  CAST(greatest(floor(w * scale), 1) AS INTEGER) AS resized_w,
        |  CAST(greatest(floor(h * scale), 1) AS INTEGER) AS resized_h
        |FROM s
        |ORDER BY media_id""".stripMargin),
    // REAL pixel decode (inflate IDAT → unfilter → accumulate): the
    // fixture PNGs carry genuine deflated pixel data whose values derive
    // from doc_id in closed form, so the oracle states per-channel
    // sums/extrema arithmetically while Spark must actually decompress
    key("media_pixel_stats")((s, d) =>
      Multimodal.extractPixelStats(
        s, Multimodal.synthesizePixelImageTable(s, Tables.documents(s, d))))
      // Pixel statistics of the synthesized RGBA PNGs: r varies along x,
      // g along y, b along x (see Multimodal.buildPngPixels) — so channel
      // sums over the image factor into per-axis sums × the other side,
      // means are exact rationals, and the Rec.601 luminance mean is an
      // integer DIV of exact sums. Spark must inflate + unfilter real
      // deflate streams to reproduce these numbers.
      .oracle("""WITH dims AS (
        |  SELECT doc_id, CAST(16 + doc_id % 48 AS INTEGER) AS w,
        |         CAST(16 + (doc_id * 7) % 48 AS INTEGER) AS h
        |  FROM documents),
        |xs AS (
        |  SELECT doc_id,
        |    sum((doc_id + x) % 256) AS rx_sum,
        |    min((doc_id + x) % 256) AS rx_min,
        |    max((doc_id + x) % 256) AS rx_max,
        |    sum((5 * doc_id + 31 + x) % 256) AS bx_sum,
        |    min((5 * doc_id + 31 + x) % 256) AS bx_min,
        |    max((5 * doc_id + 31 + x) % 256) AS bx_max
        |  FROM (SELECT doc_id, unnest(generate_series(0, w - 1)) AS x FROM dims)
        |  GROUP BY doc_id),
        |ys AS (
        |  SELECT doc_id,
        |    sum((3 * doc_id + 17 + y) % 256) AS gy_sum,
        |    min((3 * doc_id + 17 + y) % 256) AS gy_min,
        |    max((3 * doc_id + 17 + y) % 256) AS gy_max
        |  FROM (SELECT doc_id, unnest(generate_series(0, h - 1)) AS y FROM dims)
        |  GROUP BY doc_id)
        |SELECT d.doc_id AS media_id, d.w AS width, d.h AS height,
        |  CAST(d.w AS BIGINT) * d.h AS n_pixels,
        |  round((d.h * xs.rx_sum) / (CAST(d.w AS BIGINT) * d.h), 6) AS r_mean,
        |  round((d.w * ys.gy_sum) / (CAST(d.w AS BIGINT) * d.h), 6) AS g_mean,
        |  round((d.h * xs.bx_sum) / (CAST(d.w AS BIGINT) * d.h), 6) AS b_mean,
        |  CAST((299 * d.h * xs.rx_sum + 587 * d.w * ys.gy_sum + 114 * d.h * xs.bx_sum)
        |    // (CAST(d.w AS BIGINT) * d.h) AS BIGINT) AS lum_milli,
        |  CAST(xs.rx_min AS INTEGER) AS r_min, CAST(xs.rx_max AS INTEGER) AS r_max,
        |  CAST(ys.gy_min AS INTEGER) AS g_min, CAST(ys.gy_max AS INTEGER) AS g_max,
        |  CAST(xs.bx_min AS INTEGER) AS b_min, CAST(xs.bx_max AS INTEGER) AS b_max,
        |  CAST(255 AS INTEGER) AS a_min, CAST(255 AS INTEGER) AS a_max
        |FROM dims d
        |JOIN xs ON d.doc_id = xs.doc_id
        |JOIN ys ON d.doc_id = ys.doc_id
        |ORDER BY media_id""".stripMargin),
    // corpus-level media profile over a fixture with planted corruption
    // (doc_id % 17 truncated to 5 bytes): the parsers' quarantine channel
    // becomes the corrupt count, per-format dimension stats + aspect
    // outliers are closed-form for the oracle
    key("media_profile")((s, d) =>
      Multimodal.mediaProfile(
        s, Multimodal.synthesizeMixedImageTable(s, Tables.documents(s, d))))
      // Per-format profile of the mixed fixture: Spark counts what its
      // parsers actually parsed; the oracle restates the planted populations
      // (corrupt = doc_id % 17 = 0, dims from the synth formulas)
      .oracle("""WITH m AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image/png'
        |                    WHEN 1 THEN 'image/jpeg'
        |                    ELSE 'image/gif' END AS media_type,
        |    doc_id % 17 = 0 AS corrupt,
        |    CAST(16 + doc_id % 2048 AS INTEGER) AS w,
        |    CAST(16 + (doc_id * 7) % 2048 AS INTEGER) AS h
        |  FROM documents)
        |SELECT media_type,
        |  count(*)::BIGINT AS n_media,
        |  sum(CASE WHEN corrupt THEN 0 ELSE 1 END)::BIGINT AS n_parsed,
        |  sum(CASE WHEN corrupt THEN 1 ELSE 0 END)::BIGINT AS n_corrupt,
        |  min(CASE WHEN NOT corrupt THEN w END) AS w_min,
        |  max(CASE WHEN NOT corrupt THEN w END) AS w_max,
        |  min(CASE WHEN NOT corrupt THEN h END) AS h_min,
        |  max(CASE WHEN NOT corrupt THEN h END) AS h_max,
        |  CAST(1000 * sum(CASE WHEN NOT corrupt THEN w ELSE 0 END)
        |    // sum(CASE WHEN corrupt THEN 0 ELSE 1 END) AS BIGINT) AS avg_w_milli,
        |  CAST(1000 * sum(CASE WHEN NOT corrupt THEN h ELSE 0 END)
        |    // sum(CASE WHEN corrupt THEN 0 ELSE 1 END) AS BIGINT) AS avg_h_milli,
        |  sum(CASE WHEN NOT corrupt AND greatest(w, h) >= 3 * least(w, h)
        |      THEN 1 ELSE 0 END)::BIGINT AS n_aspect_outliers
        |FROM m GROUP BY media_type
        |ORDER BY media_type""".stripMargin),
    // time-based-media curation profile (r8): WAV/MP4 mixed fixture with
    // planted 5-byte truncation at doc_id % 13; real header parses give
    // exact integer durations, the corrupt channel, and ≥30 s outliers
    key("media_av_profile")((s, d) =>
      Multimodal.avMediaProfile(
        s, Multimodal.synthesizeMixedAvTable(s, Tables.documents(s, d))))
      // time-based-media profile: the oracle restates the planted
      // populations (corrupt = doc_id % 13 = 0) and the closed-form
      // durations (WAV frames/rate, MP4 ticks·1000 // timescale)
      .oracle("""WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'audio/wav'
        |         ELSE 'video/mp4' END AS media_type,
        |    CASE WHEN doc_id % 13 = 0 THEN 0 ELSE 1 END AS parsed,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN ((100 + doc_id % 1000) * 1000) // (8000 * (1 + doc_id % 4))
        |      ELSE ((1000 + doc_id % 60000) * 1000) // (1000 * (1 + doc_id % 3))
        |    END AS dur
        |  FROM documents)
        |SELECT media_type,
        |  count(*) AS n_media,
        |  CAST(sum(parsed) AS BIGINT) AS n_parsed,
        |  CAST(count(*) - sum(parsed) AS BIGINT) AS n_corrupt,
        |  CAST(min(CASE WHEN parsed = 1 THEN dur END) AS BIGINT) AS dur_min_ms,
        |  CAST(max(CASE WHEN parsed = 1 THEN dur END) AS BIGINT) AS dur_max_ms,
        |  CAST(1000 * sum(CASE WHEN parsed = 1 THEN dur ELSE 0 END)
        |    // sum(parsed) AS BIGINT) AS avg_dur_milli,
        |  CAST(sum(CASE WHEN parsed = 1 AND dur >= 30000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_long_outliers
        |FROM base
        |GROUP BY media_type
        |ORDER BY media_type""".stripMargin),
    // REAL GIF pixel decode (LZW decompression + palette lookup): the
    // fixture GIFs carry genuine LZW-compressed index streams whose
    // palette and indices derive from doc_id in closed form
    key("media_gif_pixel_stats")((s, d) =>
      Multimodal.extractGifPixelStats(
        s, Multimodal.synthesizePixelGifTable(s, Tables.documents(s, d))))
      // GIF pixel statistics: index (x+y)%8 selects a palette entry whose
      // channels are linear in doc_id and the index — the oracle evaluates
      // the formulas per pixel (x × y cross join) while Spark must LZW-
      // decompress real sub-block streams and look the palette up
      .oracle("""WITH dims AS (
        |  SELECT doc_id, CAST(16 + doc_id % 48 AS INTEGER) AS w,
        |         CAST(16 + (doc_id * 7) % 48 AS INTEGER) AS h
        |  FROM documents),
        |px AS (
        |  SELECT a.doc_id, (a.x + b.y) % 8 AS c
        |  FROM (SELECT doc_id, unnest(generate_series(0, w - 1)) AS x FROM dims) a
        |  JOIN (SELECT doc_id, unnest(generate_series(0, h - 1)) AS y FROM dims) b
        |    ON a.doc_id = b.doc_id),
        |agg AS (
        |  SELECT doc_id,
        |    count(*) AS n_pixels,
        |    sum((doc_id + 29 * c) % 256) AS r_sum,
        |    min((doc_id + 29 * c) % 256) AS r_min,
        |    max((doc_id + 29 * c) % 256) AS r_max,
        |    sum((3 * doc_id + 17 + 41 * c) % 256) AS g_sum,
        |    min((3 * doc_id + 17 + 41 * c) % 256) AS g_min,
        |    max((3 * doc_id + 17 + 41 * c) % 256) AS g_max,
        |    sum((5 * doc_id + 31 + 53 * c) % 256) AS b_sum,
        |    min((5 * doc_id + 31 + 53 * c) % 256) AS b_min,
        |    max((5 * doc_id + 31 + 53 * c) % 256) AS b_max
        |  FROM px GROUP BY doc_id)
        |SELECT d.doc_id AS media_id, d.w AS width, d.h AS height,
        |  CAST(a.n_pixels AS BIGINT) AS n_pixels,
        |  round(a.r_sum / a.n_pixels, 6) AS r_mean,
        |  round(a.g_sum / a.n_pixels, 6) AS g_mean,
        |  round(a.b_sum / a.n_pixels, 6) AS b_mean,
        |  CAST((299 * a.r_sum + 587 * a.g_sum + 114 * a.b_sum)
        |    // a.n_pixels AS BIGINT) AS lum_milli,
        |  CAST(a.r_min AS INTEGER) AS r_min, CAST(a.r_max AS INTEGER) AS r_max,
        |  CAST(a.g_min AS INTEGER) AS g_min, CAST(a.g_max AS INTEGER) AS g_max,
        |  CAST(a.b_min AS INTEGER) AS b_min, CAST(a.b_max AS INTEGER) AS b_max,
        |  CAST(255 AS INTEGER) AS a_min, CAST(255 AS INTEGER) AS a_max
        |FROM dims d JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY media_id""".stripMargin),
    // REAL baseline JPEG pixel decode (Huffman + dequant + IDCT + YCbCr,
    // ITU-T T.81 from scratch): the fixture JPEGs carry genuine
    // entropy-coded scans of constant 8x8 blocks — DC-only with q(DC)=8,
    // so reconstruction is exact and the oracle states the decoded RGB
    // statistics from the block formulas + the floor(x+0.5) JFIF
    // conversion (identical double expressions both engines)
    key("media_jpeg_pixel_stats")((s, d) =>
      Multimodal.extractJpegPixelStats(
        s, Multimodal.synthesizePixelJpegTable(s, Tables.documents(s, d))))
      // JPEG pixel statistics: every 8x8 block of the fixture is constant
      // (DC-only, q(DC)=8 → exact reconstruction), so the decoded RGB of
      // block (bx,by) is the floor(x+0.5)-rounded JFIF conversion of the
      // closed-form YCbCr constants — the oracle evaluates per BLOCK
      // (bx × by cross join) and weights by the 64 pixels each block
      // contributes, while Spark must Huffman-decode real scan data and
      // run the IDCT. The conversion expressions are written with the
      // SAME literals and association as the Scala decoder, so both
      // engines compute identical IEEE doubles before the floor.
      .oracle("""WITH dims AS (
        |  SELECT doc_id, CAST(2 + doc_id % 6 AS INTEGER) AS bw,
        |         CAST(2 + (doc_id * 5) % 6 AS INTEGER) AS bh
        |  FROM documents),
        |blk AS (
        |  SELECT a.doc_id,
        |    (a.doc_id + 7 * a.bx + 13 * b.by) % 256 AS y,
        |    (3 * a.doc_id + 17 + 29 * a.bx) % 256 AS cb,
        |    (5 * a.doc_id + 31 + 37 * b.by) % 256 AS cr
        |  FROM (SELECT doc_id, unnest(generate_series(0, bw - 1)) AS bx FROM dims) a
        |  JOIN (SELECT doc_id, unnest(generate_series(0, bh - 1)) AS by FROM dims) b
        |    ON a.doc_id = b.doc_id),
        |px AS (
        |  SELECT doc_id,
        |    GREATEST(0, LEAST(255, CAST(floor(y + 1.402 * (cr - 128) + 0.5) AS BIGINT))) AS r,
        |    GREATEST(0, LEAST(255, CAST(floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5) AS BIGINT))) AS g,
        |    GREATEST(0, LEAST(255, CAST(floor(y + 1.772 * (cb - 128) + 0.5) AS BIGINT))) AS b
        |  FROM blk),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_blocks,
        |    sum(r) AS r_bsum, min(r) AS r_min, max(r) AS r_max,
        |    sum(g) AS g_bsum, min(g) AS g_min, max(g) AS g_max,
        |    sum(b) AS b_bsum, min(b) AS b_min, max(b) AS b_max
        |  FROM px GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CAST(8 * d.bw AS INTEGER) AS width, CAST(8 * d.bh AS INTEGER) AS height,
        |  CAST(64 * a.n_blocks AS BIGINT) AS n_pixels,
        |  round((64 * a.r_bsum) / (64 * a.n_blocks), 6) AS r_mean,
        |  round((64 * a.g_bsum) / (64 * a.n_blocks), 6) AS g_mean,
        |  round((64 * a.b_bsum) / (64 * a.n_blocks), 6) AS b_mean,
        |  CAST((299 * 64 * a.r_bsum + 587 * 64 * a.g_bsum + 114 * 64 * a.b_bsum)
        |    // (64 * a.n_blocks) AS BIGINT) AS lum_milli,
        |  CAST(a.r_min AS INTEGER) AS r_min, CAST(a.r_max AS INTEGER) AS r_max,
        |  CAST(a.g_min AS INTEGER) AS g_min, CAST(a.g_max AS INTEGER) AS g_max,
        |  CAST(a.b_min AS INTEGER) AS b_min, CAST(a.b_max AS INTEGER) AS b_max,
        |  CAST(255 AS INTEGER) AS a_min, CAST(255 AS INTEGER) AS a_max
        |FROM dims d JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY media_id""".stripMargin),
    // video-style frame sampling over binary payloads (oracle via the
    // ASCII text twin of the synthesized binary)
    key("media_frame_sample")((s, d) =>
      Multimodal.frameSample(
        Multimodal.synthesizeMediaTable(Tables.documents(s, d)),
        frameBytes = 256, every = 2)
        .withColumn("frame_idx", col("frame_idx").cast("long")))
      .oracle("""WITH idx AS (
        |  SELECT doc_id, text,
        |         unnest(generate_series(0, greatest((length(text) - 1) // 256, 0))) AS i
        |  FROM documents)
        |SELECT doc_id AS media_id, i AS frame_idx,
        |       length(substr(text, (i * 256 + 1)::INT, 256))::BIGINT AS frame_bytes,
        |       md5(substr(text, (i * 256 + 1)::INT, 256)) AS frame_md5
        |FROM idx
        |WHERE i % 2 = 0 AND length(substr(text, (i * 256 + 1)::INT, 256)) > 0
        |ORDER BY media_id, frame_idx""".stripMargin),
  )
}
