package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Multimodal

/** Multimodal-column family: binary payload + typed metadata plumbing.
  * mm_binary_meta is oracle-checked (pure byte arithmetic); the stubbed
  * decode features are rows-only (the stub is engine-side by design). */
object MultimodalQueries extends QueryFamily {

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "mm_binary_meta" -> ((s, d) =>
      Multimodal.syntheticMedia(Tables.documents(s, d))
        .select(col("doc_id"), col("mime"),
          octet_length(col("bytes")).as("n_bytes"))
        .orderBy(col("doc_id"))),

    "mm_mime_stats" -> ((s, d) =>
      Multimodal.syntheticMedia(Tables.documents(s, d))
        .groupBy(col("mime"))
        .agg(count(lit(1)).as("n_docs"),
          sum(octet_length(col("bytes")).cast("long")).as("total_bytes"))
        .orderBy(col("mime"))),

    "mm_features_stub" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.syntheticMedia(Tables.documents(s, d)))
        .toDF()
        // entropy crosses transcendental log (libm-specific last bit):
        // round to 6dp for the cross-engine hash; + 0.0 canonicalizes a
        // -0.0 fold result so both engines print the same zero
        .select(col("doc_id"), col("mime"), col("n_bytes"), col("byte_sum"),
          col("n_distinct_bytes"), col("mean_byte"),
          (round(col("entropy"), 6) + lit(0.0)).as("entropy_r6"),
          col("n_frames"))
        .orderBy(col("doc_id"))),

    // frame-sample access pattern: k evenly-spaced frame offsets per
    // payload, 64-byte frames, at most 8 per doc — a narrow generate
    "mm_frame_sample" -> ((s, d) =>
      Multimodal.frameSample(
        Multimodal.syntheticMedia(Tables.documents(s, d)), 64, 8)
        .orderBy(col("doc_id"), col("frame_id"))),

    // REAL codec roundtrip — no stub: text bytes → grayscale raster →
    // actual PNG (ImageIO encode) → ImageIO.read decode → stats read
    // sample-by-sample from the DECODED raster. The oracle recomputes
    // the expected stats from the deterministic synthesis rule alone, so
    // a hash match proves the engine's decode really ran and the PNG
    // roundtrip is lossless. Narrow two-pass mapPartitions plumbing —
    // the shape a fetched-payload corpus would use unchanged.
    "mm_decode" -> ((s, d) =>
      Multimodal.decodeImageStats(
        Multimodal.encodeImages(Tables.documents(s, d)))
        .toDF()
        .orderBy(col("doc_id"))),

    // luminance-histogram exposure audit off the REAL decoded raster
    // (Multimodal.decodeHistogram): 16-bin histogram, bins hit, mode
    // bin, uniformity χ² numerator — all exact integers, zero-count
    // bins included, the flat/clipped/low-contrast QC screen.
    "mm_histogram" -> ((s, d) =>
      Multimodal.decodeHistogram(
        Multimodal.encodeImages(Tables.documents(s, d)))
        .toDF()
        .orderBy(col("doc_id"))),

    // REAL decode + area-average resize to a fixed 4x4 thumbnail
    // (Multimodal.resizeGrid): floor-partition boxes, exact integer
    // mean micros per cell — the standardize-before-embedding step,
    // oracled by replaying the synthesis rule + the same partition.
    "mm_resize" -> ((s, d) =>
      Multimodal.resizeGrid(
        Multimodal.encodeImages(Tables.documents(s, d)))
        .toDF()
        .orderBy(col("doc_id"), col("cell"))),

    // REAL audio codec roundtrip — the second modality off the stub:
    // text bytes → 8-bit PCM samples → actual RIFF/WAVE (AudioSystem
    // encode) → header parse + frame decode → stats from the DECODED
    // stream. Oracle recomputes from the synthesis rule; equality
    // proves the WAV parse ran and the PCM roundtrip is lossless.
    "mm_audio_decode" -> ((s, d) =>
      Multimodal.decodeAudioStats(
        Multimodal.encodeAudio(Tables.documents(s, d)))
        .toDF()
        .orderBy(col("doc_id"))),

    // REAL multi-frame container roundtrip — the video shape: payload
    // bytes → up to 8 4×4 frames → actual MULTI-PAGE TIFF (ImageIO
    // sequence write) → container-directory walk + ordered per-frame
    // decode → stats from the DECODED rasters, incl. first/last frame
    // sums proving frame ORDER survived. Oracle recomputes from the
    // synthesis rule; only compressed-codec decode stays stubbed.
    // 1-in-4 deterministic doc sample (bench-budget bound — the TIFF
    // encode/decode is the registry's most expensive per-row work, and a
    // quarter of the corpus exercises every payload-length class of the
    // geometry rule identically; the oracle filters the same docs)
    "mm_video_decode" -> ((s, d) =>
      Multimodal.decodeVideoStats(
        Multimodal.encodeVideo(
          Tables.documents(s, d).filter(col("doc_id") % 4 === 0)))
        .toDF()
        .orderBy(col("doc_id"))),

    // REAL lossy-codec roundtrip — JPEG, the one compressed codec in the
    // JDK: raster → actual JPEG encode (explicit quality) → ImageIO.read
    // ×2. Lossy pixels can't hash-match an oracle, so the projection
    // keeps only what lossy compression preserves exactly: dimensions
    // (read from the DECODED image — matching the geometry rule proves a
    // real JPEG parse) and the re-decode determinism flag. The pixel
    // error bound is asserted with a stated tolerance in MultimodalSpec.
    "mm_jpeg_decode" -> ((s, d) =>
      Multimodal.jpegRoundtrip(Tables.documents(s, d))
        .toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_pixels"),
          col("redecode_identical"))
        .orderBy(col("doc_id"))),

    // content-hash dedup over the BINARY payload — the first pass of any
    // multimodal ingest (byte-identical re-crawls/re-uploads) and the
    // binary mirror of dd_exact_stats: hash the blob (the fixed-width
    // hash shuffles, the payload bytes never do), report per-mime blob /
    // unique / duplicate counts and the worst repeat. The fixture has no
    // byte-identical payloads, so the dup columns measure an honest 0 —
    // the blob and unique counts keep the check non-vacuous (a corrupted
    // hash column would desync n_unique immediately).
    "mm_content_dedup" -> ((s, d) =>
      Multimodal.syntheticMedia(Tables.documents(s, d))
        .select(col("doc_id"), col("mime"), md5(col("bytes")).as("content_hash"))
        .groupBy(col("mime"), col("content_hash"))
        .agg(count(lit(1)).as("n_copies"))
        .groupBy(col("mime"))
        .agg(sum(col("n_copies")).as("n_blobs"),
          count(lit(1)).as("n_unique"),
          sum(col("n_copies") - 1).as("n_dup_blobs"),
          max(col("n_copies")).as("max_copies"))
        .orderBy(col("mime"))),

    // perceptual near-dup over REAL decoded rasters: dHash (8×8 grid,
    // 56 row-difference bits) computed from the ImageIO-decoded PNG,
    // then Hamming-banded pair generation (4×14-bit pigeonhole — recall
    // 1.0 for distance ≤ 3) with exact bit_count verification. The
    // oracle replays the synthesis rule + the same grid arithmetic from
    // the raw bytes, so a hash match proves the engine's hash came off a
    // real decode. Bridges the multimodal family into the dedup family.
    "mm_phash_dup" -> ((s, d) =>
      Multimodal.phashDupPairs(Tables.documents(s, d))
        .orderBy(col("doc_a"), col("doc_b"))),

    // perceptual near-dup on the AUDIO modality: 56-bit energy-envelope
    // hash (Haitsma–Kalker family, integer-exact core) computed from the
    // REAL AudioSystem-decoded PCM stream, same 4×14 pigeonhole banding
    // + exact verify as mm_phash_dup. Oracle replays the synthesis rule
    // + identical frame partition from raw bytes — a hash match proves
    // the engine's fingerprint came off a real WAV parse.
    "mm_ahash_dup" -> ((s, d) =>
      Multimodal.ahashDupPairs(Tables.documents(s, d))
        .orderBy(col("doc_a"), col("doc_b"))),

    // shot-boundary detection over the REAL decoded frame sequence:
    // inter-frame absolute pixel deltas, cuts above threshold —
    // order-sensitive proof of the container decode (a frame swap moves
    // deltas even when total sums survive).
    // same 1-in-4 sample as mm_video_decode (same fixture-cost bound)
    "mm_scene_cuts" -> ((s, d) =>
      Multimodal.sceneCuts(
        Multimodal.encodeVideo(
          Tables.documents(s, d).filter(col("doc_id") % 4 === 0)))
        .toDF()
        .orderBy(col("doc_id"))),

    // time-domain audio feature battery (ZCR / energy / octave-lag
    // autocorrelation / argmax period) off the REAL decoded PCM stream —
    // integer-exact, so the oracle replay from the synthesis rule is a
    // roundtrip proof; the pitch-detector comparison row of the classic
    // speech/music discriminators.
    "mm_audio_features" -> ((s, d) =>
      Multimodal.audioFeatures(
        Multimodal.encodeAudio(Tables.documents(s, d)))
        .toDF()
        .orderBy(col("doc_id"))),

    // silence-run VAD-lite over the REAL decoded PCM: |sample| < 16
    // runs, reported at >= 4 samples; the islands replay in the oracle
    // is order-sensitive, a second structural proof of the decode
    "mm_audio_silence" -> ((s, d) =>
      Multimodal.audioSilence(
        Multimodal.encodeAudio(Tables.documents(s, d)))
        .toDF()
        .orderBy(col("doc_id"))),

    // single-bin DFT (Goertzel) tone power at 1 kHz/2 kHz off the REAL
    // decoded PCM — the embedded-DSP primitive; the π/4 bin's 2cos(ω)
    // coefficient is sqrt(2.0) (IEEE-correctly-rounded, engine-equal)
    // and the π/2 bin's is exactly 0, so both recursions are fixed IEEE
    // sequences the oracle replays with the [x, 0] list-state fold.
    "mm_goertzel" -> ((s, d) =>
      Multimodal.goertzel(
        Multimodal.encodeAudio(Tables.documents(s, d)))
        .toDF()
        .orderBy(col("doc_id"))),

    // sub-image (crop) duplicate detection — the tile-level dedup pass
    // whole-image hashes (mm_phash_dup) miss: each image's REAL decoded
    // raster splits into the fixed 2×2 quadrant boxes keyed by the exact
    // MD5 of the tile pixel stream; a REAL top-left-quadrant crop of
    // every image (getSubimage → PNG re-encode → decode) probes that
    // index by signature+dims equi-join. Every doc must rediscover its
    // own source at tile 0 (two lossless codec roundtrips proven by the
    // exact key); cross-doc rows appear iff quadrant pixels coincide.
    // Exact content keys need no verify pass — this is the exact-dedup
    // shuffle shape at any scale. 1-in-2 deterministic doc sample
    // (bench-budget bound; every geometry class survives).
    "mm_tile_dedup" -> ((s, d) => {
      // cached (round 17): the encoded-PNG frame feeds BOTH the tile
      // index and the crop probe — uncached, each branch re-synthesizes
      // and re-encodes every image (the dominant per-row cost)
      val full = graft.operators.CacheScope.track(Multimodal.encodeImages(
        Tables.documents(s, d).filter(col("doc_id") % 2 === 0)))
      val index = Multimodal.tileSignatures(full).toDF()
        .select(col("doc_id").as("full_doc"), col("tile"),
          col("tile_w"), col("tile_h"), col("sig"))
      val probes = Multimodal.wholeSignature(Multimodal.cropTopLeft(full))
        .toDF()
        .select(col("doc_id").as("crop_doc"), col("tile_w"),
          col("tile_h"), col("sig"))
      probes.join(index, Seq("sig", "tile_w", "tile_h"))
        .select(col("crop_doc"), col("full_doc"), col("tile"),
          col("tile_w"), col("tile_h"))
        .orderBy(col("crop_doc"), col("full_doc"), col("tile"))
    }),
  )

  private val mimeSql =
    "(['image/png','audio/wav','video/mp4'])[CAST(doc_id % 3 + 1 AS INT)]"

  val oracles: ListMap[String, String] = ListMap(
    "mm_binary_meta" ->
      s"""SELECT doc_id, $mimeSql AS mime, octet_length(encode(text)) AS n_bytes FROM documents ORDER BY doc_id""",
    "mm_mime_stats" ->
      s"""SELECT mime, COUNT(*) AS n_docs, CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes FROM (SELECT $mimeSql AS mime, text FROM documents) t GROUP BY mime ORDER BY mime""",
    // the stub decoder's byte statistics replicated at the BYTE level —
    // hex(encode(text)) split into hex pairs — so the oracle matches the
    // engine's UTF-8-byte histogram even if a document carries non-ASCII
    // text (no unicode(char)==byte assumption); the sequential
    // `entropy -= term` loop equals -(sequential sum) in IEEE, folded here
    // in ascending byte order to mirror the histogram scan, then rounded
    // to 6dp (log's last bit is libm-specific)
    "mm_features_stub" ->
      s"""WITH b AS (
         |  SELECT doc_id, hex(encode(text)) AS h,
         |         octet_length(encode(text)) AS nb FROM documents),
         |ch AS (
         |  SELECT doc_id, ('0x' || substr(h, CAST(2*i - 1 AS INT), 2))::INT AS byte
         |  FROM (SELECT doc_id, h, unnest(range(1, nb + 1)) AS i FROM b) u),
         |hist AS (SELECT doc_id, byte, COUNT(*) AS c FROM ch GROUP BY doc_id, byte),
         |feat AS (
         |  SELECT h.doc_id,
         |    CAST(SUM(h.byte * h.c) AS BIGINT) AS byte_sum,
         |    CAST(COUNT(*) AS INT) AS n_distinct_bytes,
         |    -list_reduce(
         |      list(p * ln(p) / ln(2) ORDER BY h.byte),
         |      (x, y) -> x + y) AS entropy
         |  FROM (SELECT hist.doc_id, byte, c,
         |          CAST(c AS DOUBLE) / GREATEST(nb, 1) AS p
         |        FROM hist JOIN b USING (doc_id)) h
         |  GROUP BY h.doc_id)
         |SELECT b.doc_id, $mimeSql AS mime,
         |  CAST(nb AS INT) AS n_bytes,
         |  COALESCE(f.byte_sum, 0) AS byte_sum,
         |  COALESCE(f.n_distinct_bytes, 0) AS n_distinct_bytes,
         |  CAST(COALESCE(f.byte_sum, 0) AS DOUBLE) / GREATEST(nb, 1) AS mean_byte,
         |  ROUND(COALESCE(f.entropy, 0.0), 6) + 0.0 AS entropy_r6,
         |  CAST(1 + nb // 64 AS INT) AS n_frames
         |FROM b LEFT JOIN feat f USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin,
    // mirrored floor(double) offset arithmetic — see Multimodal.frameSample
    "mm_frame_sample" ->
      s"""WITH m AS (SELECT doc_id, $mimeSql AS mime, octet_length(encode(text)) AS nb FROM documents),
         |f AS (SELECT doc_id, mime, CAST(nb AS BIGINT) AS n_bytes,
         |        CAST(LEAST(GREATEST(1.0, FLOOR(CAST(nb AS DOUBLE) / 64.0)), 8.0) AS INT) AS n_frames
         |      FROM m WHERE nb > 0)
         |SELECT doc_id, mime, n_bytes, n_frames,
         |  CAST(i AS INT) AS frame_id,
         |  CAST(FLOOR(CAST(i * n_bytes AS DOUBLE) / CAST(n_frames AS DOUBLE)) AS INT) AS frame_off
         |FROM f, (SELECT unnest(range(0, 8)) AS i) r
         |WHERE i < n_frames
         |ORDER BY doc_id, frame_id""".stripMargin,
    // the synthesis rule replayed in SQL: geometry w=1+nb%16,
    // h=1+(nb//16)%16, pixel i = byte(i mod nb) pulled from the hex dump
    // (same byte-level trick as mm_features_stub — no unicode==byte
    // assumption). The engine's numbers come from the decoded PNG
    // raster; equality IS the roundtrip proof.
    "mm_decode" ->
      s"""WITH b AS (
         |  SELECT doc_id, hex(encode(text)) AS hx,
         |         octet_length(encode(text)) AS nb
         |  FROM documents WHERE octet_length(encode(text)) > 0),
         |g AS (
         |  SELECT doc_id, hx, nb,
         |         CAST(1 + nb % 16 AS INT) AS width,
         |         CAST(1 + (nb // 16) % 16 AS INT) AS height
         |  FROM b),
         |px AS (
         |  SELECT doc_id, width, height,
         |         ('0x' || substr(hx, CAST(2 * (i % nb) + 1 AS INT), 2))::INT AS v
         |  FROM (SELECT doc_id, hx, nb, width, height,
         |          unnest(range(0, CAST(width * height AS BIGINT))) AS i
         |        FROM g) u)
         |SELECT doc_id, width, height, width * height AS n_pixels,
         |  CAST(SUM(v) AS BIGINT) AS px_sum,
         |  CAST(COUNT(DISTINCT v) AS INT) AS n_distinct_px,
         |  CAST(SUM(v) AS DOUBLE) / (width * height) AS mean_px
         |FROM px GROUP BY doc_id, width, height
         |ORDER BY doc_id""".stripMargin,
    // same synthesis-rule pixel replay as mm_decode, bucketed DIV 16
    // with zero-count bins present, the same argmax tie rule, and the
    // denominator-cleared χ² numerator in exact integers
    // same synthesis-rule pixel replay; cell = (4y DIV h)*4 + (4x DIV w)
    // (the floor box partition), mean = 1e6*sum DIV count in exact ints
    "mm_resize" ->
      s"""WITH b AS (
         |  SELECT doc_id, hex(encode(text)) AS hx,
         |         octet_length(encode(text)) AS nb
         |  FROM documents WHERE octet_length(encode(text)) > 0),
         |g AS (
         |  SELECT doc_id, hx, nb,
         |         CAST(1 + nb % 16 AS INT) AS width,
         |         CAST(1 + (nb // 16) % 16 AS INT) AS height
         |  FROM b),
         |px AS (
         |  SELECT doc_id,
         |         CAST((4 * (i // width)) // height AS INT) * 4
         |           + CAST((4 * (i % width)) // width AS INT) AS cell,
         |         ('0x' || substr(hx, CAST(2 * (i % nb) + 1 AS INT), 2))::BIGINT AS v
         |  FROM (SELECT doc_id, hx, nb, width, height,
         |          unnest(range(0, CAST(width * height AS BIGINT))) AS i
         |        FROM g) u)
         |SELECT doc_id, cell, CAST(COUNT(*) AS BIGINT) AS n_px,
         |  CAST(1000000 * SUM(v) // COUNT(*) AS BIGINT) AS mean_micros
         |FROM px GROUP BY 1, 2 ORDER BY doc_id, cell""".stripMargin,
    "mm_histogram" ->
      s"""WITH b AS (
         |  SELECT doc_id, hex(encode(text)) AS hx,
         |         octet_length(encode(text)) AS nb
         |  FROM documents WHERE octet_length(encode(text)) > 0),
         |g AS (
         |  SELECT doc_id, hx, nb,
         |         CAST(1 + nb % 16 AS INT) AS width,
         |         CAST(1 + (nb // 16) % 16 AS INT) AS height
         |  FROM b),
         |px AS (
         |  SELECT doc_id, width * height AS n,
         |         ('0x' || substr(hx, CAST(2 * (i % nb) + 1 AS INT), 2))::INT // 16 AS bin
         |  FROM (SELECT doc_id, hx, nb, width, height,
         |          unnest(range(0, CAST(width * height AS BIGINT))) AS i
         |        FROM g) u),
         |pc AS (SELECT doc_id, bin, COUNT(*) AS c FROM px GROUP BY 1, 2),
         |f AS (SELECT d.doc_id, d.n, bb.bin, COALESCE(pc.c, 0) AS c
         |      FROM (SELECT DISTINCT doc_id, n FROM px) d
         |      CROSS JOIN (SELECT unnest(range(0, 16)) AS bin) bb
         |      LEFT JOIN pc ON pc.doc_id = d.doc_id AND pc.bin = bb.bin),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, bin) AS rn FROM f)
         |SELECT f.doc_id, CAST(MAX(f.n) AS INT) AS n_pixels,
         |  CAST(SUM(CASE WHEN f.c > 0 THEN 1 ELSE 0 END) AS INT) AS n_bins_hit,
         |  CAST(MAX(CASE WHEN r.rn = 1 THEN r.bin END) AS INT) AS mode_bin,
         |  CAST(SUM((16 * f.c - f.n) * (16 * f.c - f.n)) AS BIGINT) AS chi2_num
         |FROM f JOIN r ON r.doc_id = f.doc_id AND r.bin = f.bin
         |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin,
    // the geometry rule replayed in SQL; TRUE is the determinism
    // expectation — the engine side computes the flag by comparing two
    // independent decodes of the same JPEG bytes, so a nondeterministic
    // (or failed) decode desyncs the hash immediately
    "mm_jpeg_decode" ->
      """SELECT doc_id,
        |  CAST(1 + nb % 16 AS INT) AS width,
        |  CAST(1 + (nb // 16) % 16 AS INT) AS height,
        |  CAST((1 + nb % 16) * (1 + (nb // 16) % 16) AS INT) AS n_pixels,
        |  TRUE AS redecode_identical
        |FROM (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents) b
        |WHERE nb > 0 ORDER BY doc_id""".stripMargin,
    // sample i = byte i (whole payload once, no padding — unlike the
    // raster rule); rate fixed at 8 kHz so duration is the exact
    // integer nb·1e6 // 8000. The engine's numbers come from the parsed
    // WAV header + decoded frames; equality IS the roundtrip proof.
    "mm_audio_decode" ->
      s"""WITH b AS (
         |  SELECT doc_id, hex(encode(text)) AS hx,
         |         octet_length(encode(text)) AS nb
         |  FROM documents WHERE octet_length(encode(text)) > 0),
         |sm AS (
         |  SELECT doc_id, nb,
         |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::INT AS v
         |  FROM (SELECT doc_id, hx, nb,
         |          unnest(range(0, CAST(nb AS BIGINT))) AS i
         |        FROM b) u)
         |SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
         |  CAST(nb AS BIGINT) AS n_samples,
         |  CAST(SUM(v) AS BIGINT) AS sample_sum,
         |  CAST(COUNT(DISTINCT v) AS INT) AS n_distinct,
         |  CAST(SUM(v) AS DOUBLE) / nb AS mean_sample,
         |  CAST(nb AS BIGINT) * 1000000 // 8000 AS duration_us
         |FROM sm GROUP BY doc_id, nb ORDER BY doc_id""".stripMargin,
    // frame f pixel i = byte((f*16 + i) mod nb), nf = min(8, ceil(nb/16));
    // first/last frame sums pin the decoded frame ORDER to the rule
    "mm_video_decode" ->
      s"""WITH b AS (
         |  SELECT doc_id, hex(encode(text)) AS hx,
         |         octet_length(encode(text)) AS nb
         |  FROM documents
         |  WHERE octet_length(encode(text)) > 0 AND doc_id % 4 = 0),
         |g AS (SELECT doc_id, hx, nb, LEAST(8, (nb + 15) // 16) AS nf FROM b),
         |px AS (
         |  SELECT doc_id, nf, i,
         |         ('0x' || substr(hx, CAST(2 * (i % nb) + 1 AS INT), 2))::INT AS v
         |  FROM (SELECT doc_id, hx, nb, nf,
         |          unnest(range(0, CAST(nf * 16 AS BIGINT))) AS i
         |        FROM g) u)
         |SELECT doc_id, CAST(nf AS INT) AS n_frames,
         |  CAST(SUM(v) AS BIGINT) AS px_sum,
         |  CAST(COUNT(DISTINCT v) AS INT) AS n_distinct_px,
         |  CAST(SUM(v) AS DOUBLE) / (nf * 16) AS mean_px,
         |  CAST(SUM(CASE WHEN i < 16 THEN v ELSE 0 END) AS BIGINT) AS first_frame_sum,
         |  CAST(SUM(CASE WHEN i >= (nf - 1) * 16 THEN v ELSE 0 END) AS BIGINT) AS last_frame_sum
         |FROM px GROUP BY doc_id, nf ORDER BY doc_id""".stripMargin,
    // md5(text) in DuckDB hashes the varchar's UTF-8 bytes — exactly the
    // engine's md5 over the binary payload (bytes = UTF-8 encoding of
    // text by construction in Multimodal.syntheticMedia)
    "mm_content_dedup" ->
      s"""WITH g AS (
         |  SELECT mime, content_hash, COUNT(*) AS n_copies
         |  FROM (SELECT $mimeSql AS mime, md5(text) AS content_hash FROM documents) t
         |  GROUP BY mime, content_hash)
         |SELECT mime, CAST(SUM(n_copies) AS BIGINT) AS n_blobs, COUNT(*) AS n_unique,
         |  CAST(SUM(n_copies - 1) AS BIGINT) AS n_dup_blobs, MAX(n_copies) AS max_copies
         |FROM g GROUP BY mime ORDER BY mime""".stripMargin,
    // dHash replayed from the synthesis rule + identical nearest-
    // neighbor grid arithmetic (x = gx·w DIV 8, y = gy·h DIV 8, pixel
    // p = byte(p mod nb)); the banding in the engine is a pure
    // optimization with recall 1.0 at distance ≤ 3, so the oracle's
    // all-pairs exact filter is result-identical
    "mm_phash_dup" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
        |           FROM documents WHERE octet_length(encode(text)) > 0),
        |g AS (SELECT doc_id, hx, nb, 1 + nb % 16 AS w, 1 + (nb // 16) % 16 AS h FROM b),
        |bits AS (
        |  SELECT doc_id, CAST(gy * 7 + gx AS INT) AS idx,
        |    ('0x' || substr(hx, CAST(2 * ((((gy*h)//8)*w + (gx*w)//8) % nb) + 1 AS INT), 2))::INT AS v0,
        |    ('0x' || substr(hx, CAST(2 * ((((gy*h)//8)*w + (((gx+1)*w)//8)) % nb) + 1 AS INT), 2))::INT AS v1
        |  FROM g, (SELECT unnest(range(0, 8)) AS gy) yy, (SELECT unnest(range(0, 7)) AS gx) xx),
        |ph AS (SELECT doc_id, CAST(SUM(CASE WHEN v1 > v0 THEN 1::BIGINT << CAST(idx AS INT) ELSE 0::BIGINT END) AS BIGINT) AS phash
        |       FROM bits GROUP BY 1)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
        |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // energy-envelope hash replayed from the synthesis rule (sample i =
    // byte i) with the identical i·57 DIV n frame partition; the frame
    // SPINE (cross join with range(0,57)) matters — a sub-57-sample clip
    // has empty frames whose zero energy still enters the comparisons
    "mm_ahash_dup" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
        |           FROM documents WHERE octet_length(encode(text)) > 0),
        |sm AS (SELECT doc_id, (i * 57) // nb AS f,
        |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::INT AS v
        |       FROM (SELECT doc_id, hx, nb, unnest(range(0, CAST(nb AS BIGINT))) AS i FROM b) u),
        |en AS (SELECT doc_id, f, CAST(SUM(v) AS BIGINT) AS e FROM sm GROUP BY 1, 2),
        |fr AS (SELECT b.doc_id, ff.f FROM b, (SELECT unnest(range(0, 57)) AS f) ff),
        |en2 AS (SELECT fr.doc_id, fr.f, COALESCE(en.e, 0) AS e FROM fr LEFT JOIN en ON en.doc_id = fr.doc_id AND en.f = fr.f),
        |bits AS (SELECT a.doc_id, a.f AS idx, CASE WHEN n.e > a.e THEN 1 ELSE 0 END AS bit
        |         FROM en2 a JOIN en2 n ON n.doc_id = a.doc_id AND n.f = a.f + 1
        |         WHERE a.f < 56),
        |ah AS (SELECT doc_id, CAST(SUM(CASE WHEN bit = 1 THEN 1::BIGINT << CAST(idx AS INT) ELSE 0::BIGINT END) AS BIGINT) AS h
        |       FROM bits GROUP BY 1)
        |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.h, b2.h)) AS INT) AS hamming
        |FROM ah a JOIN ah b2 ON a.doc_id < b2.doc_id
        |WHERE bit_count(xor(a.h, b2.h)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // frame f pixel i = byte((f·16 + i) mod nb): delta(f) sums
    // |b((f·16+i) mod nb) − b((f·16+i+16) mod nb)| over the 16 pixel
    // positions — the same geometry rule as mm_video_decode, now
    // position-by-position (order-sensitive)
    "mm_scene_cuts" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
        |             octet_length(encode(text)) AS nb
        |           FROM documents
        |           WHERE octet_length(encode(text)) > 0 AND doc_id % 4 = 0),
        |g AS (SELECT doc_id, hx, nb, LEAST(8, (nb + 15) // 16) AS nf FROM b),
        |d AS (SELECT doc_id, i // 16 AS f,
        |        ABS(('0x' || substr(hx, CAST(2 * (i % nb) + 1 AS INT), 2))::INT -
        |            ('0x' || substr(hx, CAST(2 * ((i + 16) % nb) + 1 AS INT), 2))::INT) AS ad
        |      FROM (SELECT doc_id, hx, nb, nf,
        |              unnest(range(0, CAST((nf - 1) * 16 AS BIGINT))) AS i
        |            FROM g WHERE nf >= 2) u),
        |t AS (SELECT doc_id, f, CAST(SUM(ad) AS BIGINT) AS delta FROM d GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(SUM(CASE WHEN delta > 800 THEN 1 ELSE 0 END) AS INT) AS n_cuts,
        |        MAX(delta) AS max_delta, CAST(SUM(delta) AS BIGINT) AS sum_delta
        |      FROM t GROUP BY 1)
        |SELECT g.doc_id, CAST(nf AS INT) AS n_frames,
        |  CAST(nf - 1 AS INT) AS n_transitions,
        |  COALESCE(a.n_cuts, 0) AS n_cuts,
        |  CAST(COALESCE(a.max_delta, 0) AS BIGINT) AS max_delta,
        |  CAST(COALESCE(a.sum_delta, 0) AS BIGINT) AS sum_delta
        |FROM g LEFT JOIN a ON a.doc_id = g.doc_id
        |ORDER BY g.doc_id""".stripMargin,
    // centered samples c(i) = byte(i) − 128; zcr by the <128/≥128
    // straddle convention; autocorr via LEAD at the octave lags; argmax
    // tiebreak = smallest lag (mirrors the engine's strict-> scan)
    "mm_audio_features" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
        |           FROM documents WHERE octet_length(encode(text)) > 0),
        |sm AS (SELECT doc_id, nb, i,
        |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::INT - 128 AS c
        |       FROM (SELECT doc_id, hx, nb, unnest(range(0, CAST(nb AS BIGINT))) AS i FROM b) u),
        |f AS (SELECT doc_id, nb, c,
        |        LAG(c) OVER w AS cp,
        |        LEAD(c, 1) OVER w AS c1, LEAD(c, 2) OVER w AS c2,
        |        LEAD(c, 4) OVER w AS c4, LEAD(c, 8) OVER w AS c8
        |      FROM sm WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |a AS (SELECT doc_id, CAST(MAX(nb) AS BIGINT) AS n_samples,
        |        CAST(SUM(CASE WHEN cp IS NOT NULL AND ((cp < 0) <> (c < 0)) THEN 1 ELSE 0 END) AS BIGINT) AS zcr,
        |        CAST(SUM(c * c) AS BIGINT) AS energy,
        |        CAST(SUM(CASE WHEN c1 IS NOT NULL THEN c * c1 ELSE 0 END) AS BIGINT) AS ac1,
        |        CAST(SUM(CASE WHEN c2 IS NOT NULL THEN c * c2 ELSE 0 END) AS BIGINT) AS ac2,
        |        CAST(SUM(CASE WHEN c4 IS NOT NULL THEN c * c4 ELSE 0 END) AS BIGINT) AS ac4,
        |        CAST(SUM(CASE WHEN c8 IS NOT NULL THEN c * c8 ELSE 0 END) AS BIGINT) AS ac8
        |      FROM f GROUP BY doc_id)
        |SELECT doc_id, n_samples, zcr, energy, ac1, ac2, ac4, ac8,
        |  CAST(CASE WHEN ac1 >= ac2 AND ac1 >= ac4 AND ac1 >= ac8 THEN 1
        |            WHEN ac2 >= ac4 AND ac2 >= ac8 THEN 2
        |            WHEN ac4 >= ac8 THEN 4 ELSE 8 END AS INT) AS best_lag
        |FROM a ORDER BY doc_id""".stripMargin,
    // gaps-and-islands over the same centered samples: silent rows
    // group by i − ROW_NUMBER() per doc; runs ≥ 4 count, max run of any
    // length reported — the same maximal-stretch semantics the engine's
    // run counter closes at stream end
    "mm_audio_silence" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
        |           FROM documents WHERE octet_length(encode(text)) > 0),
        |sm AS (SELECT doc_id, nb, i,
        |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::INT - 128 AS c
        |       FROM (SELECT doc_id, hx, nb, unnest(range(0, CAST(nb AS BIGINT))) AS i FROM b) u),
        |sil AS (SELECT doc_id, i FROM sm WHERE abs(c) < 16),
        |isl AS (SELECT doc_id, i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM sil),
        |runs AS (SELECT doc_id, grp, COUNT(*) AS len FROM isl GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(SUM(len) AS BIGINT) AS silent_samples,
        |          CAST(SUM(CASE WHEN len >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
        |          CAST(MAX(len) AS BIGINT) AS longest_run
        |        FROM runs GROUP BY 1)
        |SELECT b.doc_id, CAST(b.nb AS BIGINT) AS n_samples,
        |  COALESCE(silent_samples, 0) AS silent_samples,
        |  COALESCE(n_runs, 0) AS n_runs, COALESCE(longest_run, 0) AS longest_run
        |FROM b LEFT JOIN agg ON b.doc_id = agg.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    // the [x, 0] list-state fold replays both recursions in sample
    // order: (x + coeff·s₁) − s₂ with coeff = sqrt(2.0) and 0.0 — the
    // exact expression trees the engine's while-loop executes
    "mm_goertzel" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
        |           FROM documents WHERE octet_length(encode(text)) > 0),
        |sm AS (SELECT doc_id, nb, i,
        |         ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::INT - 128 AS c
        |       FROM (SELECT doc_id, hx, nb, unnest(range(0, CAST(nb AS BIGINT))) AS i FROM b) u),
        |ls AS (SELECT doc_id, CAST(MAX(nb) AS BIGINT) AS n_samples,
        |         list([CAST(c AS DOUBLE), 0.0] ORDER BY i) AS xs
        |       FROM sm GROUP BY 1),
        |g AS (SELECT doc_id, n_samples,
        |        list_reduce(xs, (st, e) -> [e[1] + sqrt(2.0) * st[1] - st[2], st[1]]) AS sa,
        |        list_reduce(xs, (st, e) -> [e[1] + 0.0 * st[1] - st[2], st[1]]) AS sb
        |      FROM ls),
        |p AS (SELECT doc_id, n_samples,
        |        sa[1] * sa[1] + sa[2] * sa[2] - sqrt(2.0) * sa[1] * sa[2] AS p1k,
        |        sb[1] * sb[1] + sb[2] * sb[2] AS p2k
        |      FROM g)
        |SELECT doc_id, n_samples, p1k, p2k,
        |  CASE WHEN p1k >= p2k THEN '1k' ELSE '2k' END AS dominant
        |FROM p ORDER BY doc_id""".stripMargin,
    // same synthesis-rule pixel replay; quadrant boxes (w2 = max(w//2,1),
    // h2 = max(h//2,1)), per-tile md5 of the row-major %02x pixel stream
    // — the crop probe is BY CONSTRUCTION the full image's tile-0 stream,
    // so the oracle joins the tile-0 signature set against all tiles;
    // engine equality proves the real crop re-encode roundtrip
    "mm_tile_dedup" ->
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS nb
        |  FROM documents WHERE doc_id % 2 = 0 AND octet_length(encode(text)) > 0),
        |g AS (
        |  SELECT doc_id, hx, nb,
        |         CAST(1 + nb % 16 AS INT) AS w,
        |         CAST(1 + (nb // 16) % 16 AS INT) AS h
        |  FROM b),
        |g2 AS (SELECT *, GREATEST(w // 2, 1) AS w2, GREATEST(h // 2, 1) AS h2 FROM g),
        |px AS (
        |  SELECT doc_id, w, h, w2, h2,
        |         CAST(i % w AS INT) AS x, CAST(i // w AS INT) AS y,
        |         ('0x' || substr(hx, CAST(2 * (i % nb) + 1 AS INT), 2))::INT AS v
        |  FROM (SELECT doc_id, hx, nb, w, h, w2, h2,
        |          unnest(range(0, CAST(w * h AS BIGINT))) AS i
        |        FROM g2) u),
        |t AS (
        |  SELECT doc_id,
        |         2 * (CASE WHEN y < h2 THEN 0 ELSE 1 END)
        |           + (CASE WHEN x < w2 THEN 0 ELSE 1 END) AS tile,
        |         CAST(CASE WHEN x < w2 THEN w2 ELSE w - w2 END AS INT) AS tile_w,
        |         CAST(CASE WHEN y < h2 THEN h2 ELSE h - h2 END AS INT) AS tile_h,
        |         x, y, v
        |  FROM px),
        |sigs AS (
        |  SELECT doc_id, CAST(tile AS INT) AS tile, tile_w, tile_h,
        |         md5(string_agg(printf('%02x', v), '' ORDER BY y, x)) AS sig
        |  FROM t GROUP BY 1, 2, 3, 4),
        |probes AS (SELECT doc_id AS crop_doc, tile_w, tile_h, sig FROM sigs WHERE tile = 0)
        |SELECT p.crop_doc, s.doc_id AS full_doc, s.tile, s.tile_w, s.tile_h
        |FROM probes p
        |JOIN sigs s ON p.sig = s.sig AND p.tile_w = s.tile_w AND p.tile_h = s.tile_h
        |ORDER BY crop_doc, full_doc, tile""".stripMargin,
  )
}
