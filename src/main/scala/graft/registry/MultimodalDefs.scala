package graft.registry

import graft.query.{Multimodal}

/** The multimodal family, 14 queries: `multimodal_`. */
object MultimodalDefs {

  val defs: Seq[QueryDef] = Seq(
    // image-modality near-dup: REAL javax.imageio decode → integer dHash
    // replays the synthesized gradient raster arithmetically (no image
    // bytes): pixels → pooled cells → cross-multiplied dHash bits; a
    // decoder regression on the Spark side hash-mismatches
    QueryDef("multimodal_phash_dedup", Multimodal.multimodalPhashDedup(_, _), Some(
      """WITH ids AS (
        |  SELECT doc_id AS src, doc_id AS id, 0 AS bright FROM documents
        |  UNION ALL
        |  SELECT doc_id, doc_id + 1000000, 1 FROM documents WHERE doc_id < 10
        |), params AS (
        |  SELECT id, bright,
        |    16 + CAST('0x' || substr(md5(src || ':gw'), 1, 15) AS BIGINT)
        |      % 17 AS w,
        |    16 + CAST('0x' || substr(md5(src || ':gh'), 1, 15) AS BIGINT)
        |      % 9 AS h,
        |    CAST('0x' || substr(md5(src || ':gr'), 1, 15) AS BIGINT)
        |      % 224 AS br,
        |    CAST('0x' || substr(md5(src || ':gg'), 1, 15) AS BIGINT)
        |      % 224 AS bg,
        |    CAST('0x' || substr(md5(src || ':gb'), 1, 15) AS BIGINT)
        |      % 224 AS bb,
        |    CAST('0x' || substr(md5(src || ':kxr'), 1, 15) AS BIGINT)
        |      % 8 AS kxr,
        |    CAST('0x' || substr(md5(src || ':kxg'), 1, 15) AS BIGINT)
        |      % 8 AS kxg,
        |    CAST('0x' || substr(md5(src || ':kxb'), 1, 15) AS BIGINT)
        |      % 8 AS kxb,
        |    CAST('0x' || substr(md5(src || ':kyr'), 1, 15) AS BIGINT)
        |      % 8 AS kyr,
        |    CAST('0x' || substr(md5(src || ':kyg'), 1, 15) AS BIGINT)
        |      % 8 AS kyg,
        |    CAST('0x' || substr(md5(src || ':kyb'), 1, 15) AS BIGINT)
        |      % 8 AS kyb,
        |    CAST('0x' || substr(md5(src || ':kxxr'), 1, 15) AS BIGINT)
        |      % 8 AS kxxr,
        |    CAST('0x' || substr(md5(src || ':kxxg'), 1, 15) AS BIGINT)
        |      % 8 AS kxxg,
        |    CAST('0x' || substr(md5(src || ':kxxb'), 1, 15) AS BIGINT)
        |      % 8 AS kxxb,
        |    CAST('0x' || substr(md5(src || ':kxyr'), 1, 15) AS BIGINT)
        |      % 8 AS kxyr,
        |    CAST('0x' || substr(md5(src || ':kxyg'), 1, 15) AS BIGINT)
        |      % 8 AS kxyg,
        |    CAST('0x' || substr(md5(src || ':kxyb'), 1, 15) AS BIGINT)
        |      % 8 AS kxyb,
        |    CAST('0x' || substr(md5(src || ':kyyr'), 1, 15) AS BIGINT)
        |      % 8 AS kyyr,
        |    CAST('0x' || substr(md5(src || ':kyyg'), 1, 15) AS BIGINT)
        |      % 8 AS kyyg,
        |    CAST('0x' || substr(md5(src || ':kyyb'), 1, 15) AS BIGINT)
        |      % 8 AS kyyb
        |  FROM ids
        |), px AS (
        |  SELECT p.id, gx.x, gy.y,
        |    2126 * (16 + (p.br + gx.x * gx.x * p.kxxr + gx.x * gy.y * p.kxyr
        |      + gy.y * gy.y * p.kyyr + gx.x * p.kxr + gy.y * p.kyr) % 224
        |      + p.bright)
        |    + 7152 * (16 + (p.bg + gx.x * gx.x * p.kxxg + gx.x * gy.y * p.kxyg
        |      + gy.y * gy.y * p.kyyg + gx.x * p.kxg + gy.y * p.kyg) % 224
        |      + p.bright)
        |    + 722 * (16 + (p.bb + gx.x * gx.x * p.kxxb + gx.x * gy.y * p.kxyb
        |      + gy.y * gy.y * p.kyyb + gx.x * p.kxb + gy.y * p.kyb) % 224
        |      + p.bright) AS lum,
        |    gx.x * 9 // p.w AS ci, gy.y * 8 // p.h AS cj
        |  FROM params p,
        |    LATERAL (SELECT unnest(generate_series(0, p.w - 1)) AS x) gx,
        |    LATERAL (SELECT unnest(generate_series(0, p.h - 1)) AS y) gy
        |), cells AS (
        |  SELECT id, ci, cj, CAST(sum(lum) AS BIGINT) AS s, count(*) AS c
        |  FROM px GROUP BY 1, 2, 3
        |), bits AS (
        |  SELECT a.id, a.ci AS i, a.cj AS j,
        |    CASE WHEN b.s * a.c > a.s * b.c THEN '1' ELSE '0' END AS bit
        |  FROM cells a JOIN cells b ON b.id = a.id AND b.ci = a.ci + 1
        |    AND b.cj = a.cj
        |  WHERE a.ci < 8
        |), ph AS (
        |  SELECT id, string_agg(bit, '' ORDER BY i, j) AS phash
        |  FROM bits GROUP BY id
        |)
        |SELECT phash, count(*) AS n_docs, min(id) AS keeper_doc,
        |  max(id) AS max_doc, count(*) - 1 AS n_dropped
        |FROM ph GROUP BY phash HAVING count(*) >= 2
        |ORDER BY phash""".stripMargin)),
    // north-star: multimodal plumbing
    QueryDef("multimodal_summary", Multimodal.multimodalSummary _, Some(
      """SELECT doc_id,
        |  CAST(strlen(text) AS INT) AS payload_bytes,
        |  CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':w'), 1, 15)
        |    AS BIGINT) % 1024 + 256 AS INT) AS width,
        |  CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':h'), 1, 15)
        |    AS BIGINT) % 768 + 256 AS INT) AS height,
        |  CAST(CAST('0x' || substr(md5(text || ':0'), 1, 15) AS BIGINT)
        |    % 1000000 AS DOUBLE) / 1000000.0 AS f0,
        |  CAST(CAST('0x' || substr(md5(text || ':1'), 1, 15) AS BIGINT)
        |    % 1000000 AS DOUBLE) / 1000000.0 AS f1
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("multimodal_batch_decode", Multimodal.multimodalBatchDecode _, Some(
      """SELECT doc_id,
        |  CAST(strlen(text) AS INT) AS payload_bytes,
        |  CAST(CAST(CAST('0x' || substr(md5(text || ':0'), 1, 15) AS BIGINT)
        |    % 1000000 AS DOUBLE) / 1000000.0 AS REAL) AS f0,
        |  CAST(CAST(CAST('0x' || substr(md5(text || ':3'), 1, 15) AS BIGINT)
        |    % 1000000 AS DOUBLE) / 1000000.0 AS REAL) AS f3
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // real javax.imageio bytes->pixels decode; oracle replays the
    // expected integer pixel sums arithmetically
    QueryDef("multimodal_image_decode", Multimodal.multimodalImageDecode(_, _), Some(
      """WITH p AS (
        |  SELECT doc_id,
        |    4 + CAST('0x' || substr(md5(doc_id || ':iw'), 1, 15) AS BIGINT)
        |      % 13 AS w,
        |    4 + CAST('0x' || substr(md5(doc_id || ':ih'), 1, 15) AS BIGINT)
        |      % 9 AS h,
        |    CAST('0x' || substr(md5(doc_id || ':r'), 1, 15) AS BIGINT)
        |      % 256 AS r0,
        |    CAST('0x' || substr(md5(doc_id || ':g'), 1, 15) AS BIGINT)
        |      % 256 AS g0,
        |    CAST('0x' || substr(md5(doc_id || ':b'), 1, 15) AS BIGINT)
        |      % 256 AS b0,
        |    CAST('0x' || substr(md5(doc_id || ':wr'), 1, 15) AS BIGINT)
        |      % 256 AS wr,
        |    CAST('0x' || substr(md5(doc_id || ':wg'), 1, 15) AS BIGINT)
        |      % 256 AS wg,
        |    CAST('0x' || substr(md5(doc_id || ':wb'), 1, 15) AS BIGINT)
        |      % 256 AS wb
        |  FROM documents)
        |SELECT doc_id, CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height,
        |  CAST(r0 * (w * h - 1) + wr AS BIGINT) AS sum_r,
        |  CAST(g0 * (w * h - 1) + wg AS BIGINT) AS sum_g,
        |  CAST(b0 * (w * h - 1) + wb AS BIGINT) AS sum_b
        |FROM p ORDER BY doc_id""".stripMargin)),
    // per-channel min/max/mean off the same real raster walk
    // extrema/mean of the base+watermark fixtures: min/max closed-form,
    // mean = one exact division of the integer sum by w*h
    QueryDef("multimodal_image_channel_stats", Multimodal.multimodalImageChannelStats(_, _), Some(
      """WITH p AS (
        |  SELECT doc_id,
        |    4 + CAST('0x' || substr(md5(doc_id || ':iw'), 1, 15) AS BIGINT)
        |      % 13 AS w,
        |    4 + CAST('0x' || substr(md5(doc_id || ':ih'), 1, 15) AS BIGINT)
        |      % 9 AS h,
        |    CAST('0x' || substr(md5(doc_id || ':r'), 1, 15) AS BIGINT)
        |      % 256 AS r0,
        |    CAST('0x' || substr(md5(doc_id || ':g'), 1, 15) AS BIGINT)
        |      % 256 AS g0,
        |    CAST('0x' || substr(md5(doc_id || ':b'), 1, 15) AS BIGINT)
        |      % 256 AS b0,
        |    CAST('0x' || substr(md5(doc_id || ':wr'), 1, 15) AS BIGINT)
        |      % 256 AS wr,
        |    CAST('0x' || substr(md5(doc_id || ':wg'), 1, 15) AS BIGINT)
        |      % 256 AS wg,
        |    CAST('0x' || substr(md5(doc_id || ':wb'), 1, 15) AS BIGINT)
        |      % 256 AS wb
        |  FROM documents)
        |SELECT doc_id, CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height,
        |  CAST(least(r0, wr) AS INTEGER) AS min_r,
        |  CAST(greatest(r0, wr) AS INTEGER) AS max_r,
        |  CAST(least(g0, wg) AS INTEGER) AS min_g,
        |  CAST(greatest(g0, wg) AS INTEGER) AS max_g,
        |  CAST(least(b0, wb) AS INTEGER) AS min_b,
        |  CAST(greatest(b0, wb) AS INTEGER) AS max_b,
        |  CAST(CAST(r0 * (w * h - 1) + wr AS DOUBLE)
        |    / CAST(w * h AS DOUBLE) AS REAL) AS mean_r,
        |  CAST(CAST(g0 * (w * h - 1) + wg AS DOUBLE)
        |    / CAST(w * h AS DOUBLE) AS REAL) AS mean_g,
        |  CAST(CAST(b0 * (w * h - 1) + wb AS DOUBLE)
        |    / CAST(w * h AS DOUBLE) AS REAL) AS mean_b
        |FROM p ORDER BY doc_id""".stripMargin)),
    QueryDef("multimodal_frame_sample", Multimodal.multimodalFrameSample _, Some(
      """WITH m AS (
        |  SELECT doc_id, text,
        |    CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |        || ':fps'), 1, 15) AS BIGINT) % 2 = 0
        |      THEN CAST(24 AS BIGINT) ELSE CAST(30 AS BIGINT) END AS fps,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':dur'),
        |      1, 15) AS BIGINT) % 30 + 5 AS duration_s
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, text, fps * duration_s AS n_frames,
        |    greatest(CAST(1 AS BIGINT),
        |      (fps * duration_s + 7) // 8) AS stride
        |  FROM m
        |), sel AS (
        |  SELECT doc_id, text, n_frames,
        |    unnest(generate_series(CAST(0 AS BIGINT), n_frames - 1,
        |      stride)) AS frame_idx
        |  FROM f
        |)
        |SELECT doc_id, n_frames, frame_idx,
        |  CAST('0x' || substr(md5(text || ':f'
        |    || CAST(frame_idx AS VARCHAR)), 1, 15) AS BIGINT) % 1000000
        |    AS frame_fp
        |FROM sel ORDER BY doc_id, frame_idx""".stripMargin)),
    // metadata-arithmetic resize plan over the md5-stub dimensions
    QueryDef("multimodal_resize_plan", Multimodal.multimodalResizePlan(_, _), Some(
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':w'),
        |      1, 15) AS BIGINT) % 1024 + 256 AS INT) AS width,
        |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':h'),
        |      1, 15) AS BIGINT) % 768 + 256 AS INT) AS height
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, width, height,
        |    least(least(512.0 / CAST(width AS DOUBLE),
        |      512.0 / CAST(height AS DOUBLE)), 1.0) AS scale
        |  FROM m
        |)
        |SELECT doc_id, width, height,
        |  CAST(floor(CAST(width AS DOUBLE) * scale) AS INT) AS out_w,
        |  CAST(floor(CAST(height AS DOUBLE) * scale) AS INT) AS out_h,
        |  CAST(width AS BIGINT) * CAST(height AS BIGINT) AS in_pixels,
        |  CAST(floor(CAST(width AS DOUBLE) * scale) AS BIGINT)
        |    * CAST(floor(CAST(height AS DOUBLE) * scale) AS BIGINT)
        |    AS out_pixels
        |FROM s ORDER BY doc_id""".stripMargin)),
    // round 15: REAL nearest-neighbor resample over the decoded raster
    QueryDef("multimodal_image_resize", Multimodal.multimodalImageResize(_, _), Some(
      """WITH p AS (
        |  SELECT doc_id,
        |    4 + CAST('0x' || substr(md5(doc_id || ':iw'), 1, 15) AS BIGINT)
        |      % 13 AS w,
        |    4 + CAST('0x' || substr(md5(doc_id || ':ih'), 1, 15) AS BIGINT)
        |      % 9 AS h,
        |    CAST('0x' || substr(md5(doc_id || ':r'), 1, 15) AS BIGINT)
        |      % 256 AS r0,
        |    CAST('0x' || substr(md5(doc_id || ':g'), 1, 15) AS BIGINT)
        |      % 256 AS g0,
        |    CAST('0x' || substr(md5(doc_id || ':b'), 1, 15) AS BIGINT)
        |      % 256 AS b0,
        |    CAST('0x' || substr(md5(doc_id || ':wr'), 1, 15) AS BIGINT)
        |      % 256 AS wr,
        |    CAST('0x' || substr(md5(doc_id || ':wg'), 1, 15) AS BIGINT)
        |      % 256 AS wg,
        |    CAST('0x' || substr(md5(doc_id || ':wb'), 1, 15) AS BIGINT)
        |      % 256 AS wb
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, w, h, r0, g0, b0, wr, wg, wb,
        |    greatest(1, CAST(floor(w * least(1.0,
        |      least(8.0 / w, 8.0 / h))) AS BIGINT)) AS ow,
        |    greatest(1, CAST(floor(h * least(1.0,
        |      least(8.0 / w, 8.0 / h))) AS BIGINT)) AS oh
        |  FROM p
        |)
        |SELECT doc_id, CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height,
        |  CAST(ow AS INTEGER) AS out_w, CAST(oh AS INTEGER) AS out_h,
        |  CAST(r0 * (ow * oh - 1) + wr AS BIGINT) AS sum_r,
        |  CAST(g0 * (ow * oh - 1) + wg AS BIGINT) AS sum_g,
        |  CAST(b0 * (ow * oh - 1) + wb AS BIGINT) AS sum_b
        |FROM d ORDER BY doc_id""".stripMargin)),
    QueryDef("multimodal_audio_windows", Multimodal.multimodalAudioWindows(_, _), Some(
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':dur'),
        |      1, 15) AS BIGINT) % 30000 + 1000 AS duration_ms
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, duration_ms,
        |    duration_ms * 16000 // 1000 AS n_samples
        |  FROM m
        |), f AS (
        |  SELECT doc_id, duration_ms, n_samples,
        |    CASE WHEN n_samples >= 400
        |      THEN (n_samples - 400) // 160 + 1 ELSE 0 END AS n_frames
        |  FROM s
        |)
        |SELECT doc_id, duration_ms, n_samples, n_frames,
        |  n_samples - CASE WHEN n_frames > 0
        |    THEN (n_frames - 1) * 160 + 400 ELSE 0 END AS tail_samples
        |FROM f ORDER BY doc_id""".stripMargin)),
    QueryDef("multimodal_embed_knn", Multimodal.multimodalEmbedKnn(_, _), Some(
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(CAST('0x' || substr(md5(text || ':0'), 1, 15) AS BIGINT)
        |      % 1000000 AS DOUBLE) / 1000000.0 AS f0,
        |    CAST(CAST('0x' || substr(md5(text || ':1'), 1, 15) AS BIGINT)
        |      % 1000000 AS DOUBLE) / 1000000.0 AS f1,
        |    CAST(CAST('0x' || substr(md5(text || ':2'), 1, 15) AS BIGINT)
        |      % 1000000 AS DOUBLE) / 1000000.0 AS f2,
        |    CAST(CAST('0x' || substr(md5(text || ':3'), 1, 15) AS BIGINT)
        |      % 1000000 AS DOUBLE) / 1000000.0 AS f3
        |  FROM documents
        |), q AS (
        |  SELECT f0 AS q0, f1 AS q1, f2 AS q2, f3 AS q3
        |  FROM f WHERE doc_id = 0
        |)
        |SELECT doc_id,
        |  f0 * q0 + f1 * q1 + f2 * q2 + f3 * q3 AS sim
        |FROM f, q WHERE doc_id <> 0
        |ORDER BY sim DESC, doc_id LIMIT 10""".stripMargin)),
    // shot segmentation over sampled frames (video-curation shape)
    QueryDef("multimodal_scene_cuts", Multimodal.multimodalSceneCuts(_, _), Some(
      """WITH m AS (
        |  SELECT doc_id, text,
        |    CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |        || ':fps'), 1, 15) AS BIGINT) % 2 = 0
        |      THEN CAST(24 AS BIGINT) ELSE CAST(30 AS BIGINT) END AS fps,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':dur'),
        |      1, 15) AS BIGINT) % 30 + 5 AS duration_s
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, text, fps * duration_s AS n_frames,
        |    greatest(CAST(1 AS BIGINT),
        |      (fps * duration_s + 7) // 8) AS stride
        |  FROM m
        |), sel AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(CAST(0 AS BIGINT), n_frames - 1,
        |      stride)) AS frame_idx
        |  FROM f
        |), fp AS (
        |  SELECT doc_id, frame_idx,
        |    CAST('0x' || substr(md5(text || ':f'
        |      || CAST(frame_idx AS VARCHAR)), 1, 15) AS BIGINT) % 1000000
        |      AS frame_fp
        |  FROM sel
        |), d AS (
        |  SELECT doc_id, frame_idx,
        |    abs(frame_fp - lag(frame_fp) OVER (PARTITION BY doc_id
        |      ORDER BY frame_idx)) AS delta
        |  FROM fp
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sampled,
        |  CAST(sum(CASE WHEN delta > 400000 THEN 1 ELSE 0 END) + 1
        |    AS BIGINT) AS n_scenes,
        |  max(CASE WHEN delta > 400000 THEN frame_idx END)
        |    AS last_cut_frame
        |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // round 14: real RIFF/PCM bytes→samples audio decode (whole-clip
    // stats + per-STFT-frame features over the decoded array)
    // the WAV ramp (base b, step s, n samples) decoded by the REAL
    // RIFF/PCM parser; the oracle replays Σamp, Σamp², the single
    // rising zero crossing, and min/max in closed form — integer
    // arithmetic only, so a parser regression hash-mismatches
    QueryDef("multimodal_audio_decode", Multimodal.multimodalAudioDecode(_, _), Some(
      """WITH p AS (
        |  SELECT doc_id,
        |    400 + CAST('0x' || substr(md5(doc_id || ':ns'), 1, 15)
        |      AS BIGINT) % 2001 AS n,
        |    CAST('0x' || substr(md5(doc_id || ':ab'), 1, 15) AS BIGINT)
        |      % 24001 - 12000 AS b,
        |    CAST('0x' || substr(md5(doc_id || ':as'), 1, 15) AS BIGINT)
        |      % 8 + 1 AS s
        |  FROM documents)
        |SELECT doc_id, CAST(16000 AS INTEGER) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(n * b + s * ((n * (n - 1)) // 2) AS BIGINT) AS sum_amp,
        |  CAST(n * b * b + 2 * b * s * ((n * (n - 1)) // 2)
        |    + s * s * (((n - 1) * n * (2 * n - 1)) // 6) AS BIGINT)
        |    AS energy,
        |  CAST(CASE WHEN b < 0 AND b + (n - 1) * s >= 0 THEN 1 ELSE 0
        |    END AS BIGINT) AS zero_cross,
        |  CAST(b AS BIGINT) AS min_amp,
        |  CAST(b + (n - 1) * s AS BIGINT) AS max_amp
        |FROM p ORDER BY doc_id""".stripMargin)),
    // frame f covers samples [160f, 160f+400): Σ and Σ² over that index
    // interval in closed form, the crossing as an interval test on
    // i₀ = ⌈−b/s⌉; every doc has ≥ 1 frame (n ≥ 400 by synthesis)
    QueryDef("multimodal_audio_frames", Multimodal.multimodalAudioFrames(_, _), Some(
      """WITH p AS (
        |  SELECT doc_id,
        |    400 + CAST('0x' || substr(md5(doc_id || ':ns'), 1, 15)
        |      AS BIGINT) % 2001 AS n,
        |    CAST('0x' || substr(md5(doc_id || ':ab'), 1, 15) AS BIGINT)
        |      % 24001 - 12000 AS b,
        |    CAST('0x' || substr(md5(doc_id || ':as'), 1, 15) AS BIGINT)
        |      % 8 + 1 AS s
        |  FROM documents
        |), fr AS (
        |  SELECT doc_id, n, b, s, ff.f AS f, ff.f * 160 AS a,
        |    ff.f * 160 + 399 AS b2
        |  FROM p, LATERAL (SELECT unnest(generate_series(0,
        |    (n - 400) // 160)) AS f) ff
        |), g AS (
        |  SELECT doc_id, f, b, s, a,
        |    (a + b2) * 200 AS s1,
        |    (b2 * (b2 + 1) * (2 * b2 + 1)) // 6
        |      - ((a - 1) * a * (2 * a - 1)) // 6 AS s2
        |  FROM fr)
        |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
        |  CAST(400 * b + s * s1 AS BIGINT) AS frame_sum,
        |  CAST(400 * b * b + 2 * b * s * s1 + s * s * s2 AS BIGINT)
        |    AS frame_energy,
        |  CAST(CASE WHEN b < 0
        |      AND ((-b) + s - 1) // s BETWEEN a + 1 AND a + 399
        |    THEN 1 ELSE 0 END AS BIGINT) AS frame_zc
        |FROM g ORDER BY doc_id, frame_idx""".stripMargin)),
    // round 14: energy-threshold VAD segments over the decoded frames
    // frames replayed closed-form (the audio_frames oracle), active
    // threshold win·T² = 400·6000², islands via frame − row_number
    QueryDef("multimodal_audio_vad", Multimodal.multimodalAudioVad(_, _), Some(
      """WITH p AS (
        |  SELECT doc_id,
        |    400 + CAST('0x' || substr(md5(doc_id || ':ns'), 1, 15)
        |      AS BIGINT) % 2001 AS n,
        |    CAST('0x' || substr(md5(doc_id || ':ab'), 1, 15) AS BIGINT)
        |      % 24001 - 12000 AS b,
        |    CAST('0x' || substr(md5(doc_id || ':as'), 1, 15) AS BIGINT)
        |      % 8 + 1 AS s
        |  FROM documents
        |), fr AS (
        |  SELECT doc_id, n, b, s, ff.f AS f, ff.f * 160 AS a,
        |    ff.f * 160 + 399 AS b2
        |  FROM p, LATERAL (SELECT unnest(generate_series(0,
        |    (n - 400) // 160)) AS f) ff
        |), g AS (
        |  SELECT doc_id, f,
        |    400 * b * b + 2 * b * s * ((a + b2) * 200)
        |      + s * s * ((b2 * (b2 + 1) * (2 * b2 + 1)) // 6
        |        - ((a - 1) * a * (2 * a - 1)) // 6) AS fe
        |  FROM fr
        |), act AS (
        |  SELECT doc_id, f, fe,
        |    f - (row_number() OVER (PARTITION BY doc_id ORDER BY f) - 1)
        |      AS isl
        |  FROM g WHERE fe > 14400000000
        |)
        |SELECT doc_id, CAST(min(f) AS INT) AS seg_start,
        |  CAST(max(f) AS INT) AS seg_end,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(fe) AS BIGINT) AS seg_energy
        |FROM act GROUP BY doc_id, isl
        |ORDER BY doc_id, seg_start""".stripMargin)),
  )
}
