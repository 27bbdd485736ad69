package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AviCodec, Multimodal}

/**
 * Multimodal-column query inventory: binary payload plumbing gated
 * against DuckDB (byte lengths, sha256 digests, frame sampling — all
 * deterministic); the stubbed decode/feature kernels are covered by
 * `MultimodalSpec` (no SQL equivalent by design — they model codec
 * calls).
 */
object MultimodalQueries {

  private def media(s: SparkSession, dir: String): DataFrame =
    Multimodal.mediaFromDocuments(s.read.parquet(s"$dir/documents.parquet"))

  lazy val gates: Seq[Gate] = Seq(
    Gate("multimodal_meta", (s, dir) => Multimodal.meta(media(s, dir)),
      """SELECT doc_id,
  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
  sha256(text) AS sha256,
  CAST((octet_length(encode(text)) + 255) // 256 AS BIGINT) AS n_frames
FROM documents"""),
    // the frame payload is surfaced hex-encoded: comparison harnesses
    // (pandas, DuckDB) cannot sort/hash raw binary columns, and hex is
    // the lossless text twin both engines produce identically
    Gate("frame_sample", (s, dir) =>
      Multimodal.frameSample(media(s, dir), 4)
        .withColumn("frame", upper(hex(col("frame")))),
      """WITH mm AS (SELECT doc_id, text AS content FROM documents WHERE doc_id % 3 = 2),
f AS (SELECT doc_id,
  unnest(list_transform(range(0, CAST((length(content) + 255) // 256 AS INT)),
    i -> {'idx': i, 'frame': upper(hex(encode(substring(content, CAST(i*256+1 AS INT), 256))))})) AS s
  FROM mm)
SELECT doc_id, CAST(s.idx AS INT) AS frame_idx, s.frame AS frame
FROM f WHERE s.idx % 4 = 0"""),
    // REAL decode: deterministic gray PNGs (closed-form pixels) are
    // encoded AND decoded with genuine ImageIO on the executors; the
    // oracle recomputes dimensions + pixel sum from the closed form
    // alone, so a hash match proves the PNG round trip preserved every
    // sample. pixel_sum = mean·w·h rounds exactly: the sum is < 2^18,
    // far inside double's integer range, so the divide/multiply pair
    // is within half an ulp of the integer.
    Gate("multimodal_real", (s, dir) => {
      import s.implicits._
      val recs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "image", Multimodal.grayPng(id)))
      Multimodal.decode(recs, Multimodal.ImageIoCodec)
        .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
          round(col("mean_byte") * col("width") * col("height"))
            .cast("long").as("pixel_sum"))
    },
      // expected decode stats from the SAME closed form grayPng encodes:
      // w = 1 + id%31, h = 1 + id%17, pixel(x,y) = (id*31 + x*7 + y*13) % 256
      """SELECT doc_id,
  CAST(1 + doc_id % 31 AS INT) AS width,
  CAST(1 + doc_id % 17 AS INT) AS height,
  CAST(1 AS INT) AS n_frames,
  CAST(list_sum(flatten(list_transform(range(0, CAST(1 + doc_id % 17 AS INT)),
    y -> list_transform(range(0, CAST(1 + doc_id % 31 AS INT)),
      x -> (doc_id*31 + x*7 + y*13) % 256)))) AS BIGINT) AS pixel_sum
FROM documents"""),
    // RESIZE path, same proof shape: closed-form PNG → real
    // nearest-neighbor resize to 8×6 (re-encoded PNG) → real decode;
    // the oracle recomputes the resized pixel sum from the closed form
    // at the nearest-neighbor source coordinates, so the gate pins the
    // whole encode→resize→re-encode→decode chain sample-exact
    // REAL audio decode, same proof shape as multimodal_real:
    // closed-form 8-bit PCM WAVs are encoded AND decoded with genuine
    // javax.sound on the executors; the oracle recomputes rate/frames/
    // sample sum from the closed form alone. sample_sum = mean·frames
    // rounds exactly (sum < 2^17, well inside double's integer range).
    Gate("multimodal_audio", (s, dir) => {
      import s.implicits._
      val recs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "audio", Multimodal.pcmWav(id)))
      Multimodal.decode(recs, Multimodal.WavCodec)
        .select(col("doc_id"),
          col("width").as("sample_rate"), col("height").as("channels"),
          col("n_frames"),
          round(col("mean_byte") * col("n_frames")).cast("long").as("sample_sum"))
    },
      // expected audio stats from the SAME closed form pcmWav encodes:
      // 8 kHz mono, n = 100 + id%400 frames, sample i = (id*31 + i*7) % 256
      """SELECT doc_id,
  CAST(8000 AS INT) AS sample_rate,
  CAST(1 AS INT) AS channels,
  CAST(100 + doc_id % 400 AS INT) AS n_frames,
  CAST(list_sum(list_transform(range(0, CAST(100 + doc_id % 400 AS INT)),
    i -> (doc_id*31 + i*7) % 256)) AS BIGINT) AS sample_sum
FROM documents"""),

    Gate("multimodal_resize", (s, dir) => {
      import s.implicits._
      val recs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "image", Multimodal.grayPng(id)))
      Multimodal.decode(
        Multimodal.resize(recs, 8, 6, Multimodal.ImageIoCodec),
        Multimodal.ImageIoCodec)
        .select(col("doc_id"), col("width"), col("height"),
          round(col("mean_byte") * col("width") * col("height"))
            .cast("long").as("pixel_sum"))
    },
      // nearest-neighbor source coordinate: s = (target * srcDim) // dstDim
      // — the same floor the codec's sample copy computes
      """SELECT doc_id,
  CAST(8 AS INT) AS width,
  CAST(6 AS INT) AS height,
  CAST(list_sum(flatten(list_transform(range(0, 6),
    y -> list_transform(range(0, 8),
      x -> (doc_id*31
            + ((x * (1 + doc_id % 31)) // 8) * 7
            + ((y * (1 + doc_id % 17)) // 6) * 13) % 256)))) AS BIGINT) AS pixel_sum
FROM documents"""),
    // REAL video decode: closed-form raw-DIB AVIs are container-written
    // AND parsed/decoded by AviCodec on the executors (routed through
    // JdkCodec's RIFF sniff, so the gate also pins the dispatch); the
    // oracle recomputes dims, frame count, and total sample sum (3 BGR
    // bands × pixels × frames) from the closed form alone. sample_sum =
    // mean·w·h·frames·3 rounds exactly (sum < 2^20).
    Gate("multimodal_video", (s, dir) => {
      import s.implicits._
      val recs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "video", AviCodec.grayAvi(id)))
      Multimodal.decode(recs, Multimodal.JdkCodec)
        .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
          round(col("mean_byte") * col("width") * col("height") *
            col("n_frames") * 3).cast("long").as("sample_sum"))
    },
      // expected video stats from the SAME closed form grayAvi encodes:
      // w = 2 + id%14, h = 1 + id%11, nf = 1 + id%5,
      // gray(x,y,f) = (id*31 + x*7 + y*13 + f*17) % 256, 3 equal BGR bands
      """SELECT doc_id,
  CAST(2 + doc_id % 14 AS INT) AS width,
  CAST(1 + doc_id % 11 AS INT) AS height,
  CAST(1 + doc_id % 5 AS INT) AS n_frames,
  CAST(3 * list_sum(list_transform(range(0, CAST(1 + doc_id % 5 AS INT)), f ->
    list_sum(flatten(list_transform(range(0, CAST(1 + doc_id % 11 AS INT)), y ->
      list_transform(range(0, CAST(2 + doc_id % 14 AS INT)), x ->
        (doc_id*31 + x*7 + y*13 + f*17) % 256)))))) AS BIGINT) AS sample_sum
FROM documents"""),
    // Per-FRAME stats over the same fixtures: one row per decoded
    // frame, shuffle-free flatMap — the real-decode frame enumeration
    // the byte-window frame_sample gate approximates.
    Gate("video_frames", (s, dir) => {
      import s.implicits._
      val recs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "video", AviCodec.grayAvi(id)))
      AviCodec.frameStats(recs)
    },
      """WITH d AS (SELECT doc_id,
    CAST(2 + doc_id % 14 AS INT) AS w,
    CAST(1 + doc_id % 11 AS INT) AS h,
    CAST(1 + doc_id % 5 AS INT) AS nf
  FROM documents),
fr AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS f FROM d)
SELECT doc_id, CAST(f AS INT) AS frame_idx, w AS width, h AS height,
  CAST(3 * list_sum(flatten(list_transform(range(0, h), y ->
    list_transform(range(0, w), x ->
      (doc_id*31 + x*7 + y*13 + f*17) % 256)))) AS BIGINT) AS sample_sum
FROM fr"""),
    // Cross-video FRAME dedup over the looped-footage fixtures: the
    // engine decodes and digests every frame's canonical raster; the
    // oracle derives the duplicate classes arithmetically (frame f of
    // doc a == frame f of doc b iff a ≡ b mod 24, by construction of
    // loopAvi) — a hash match proves decode+digest grouped exactly the
    // frames the closed form says are identical.
    Gate("video_frame_dedup", (s, dir) => {
      import s.implicits._
      val recs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "video", AviCodec.loopAvi(id)))
      AviCodec.frameDedup(recs)
    },
      // duplicate classes of the loopAvi closed form: (doc_id % 24, f);
      // keeper = min doc_id holding that frame index (nf = 1 + id%5 gates
      // membership), keeper_frame = f (cross-index collisions impossible)
      """WITH d AS (SELECT doc_id, CAST(1 + doc_id % 5 AS INT) AS nf FROM documents),
cb AS (SELECT doc_id, unnest(range(0, nf)) AS f FROM d),
g AS (SELECT doc_id % 24 AS cls, f, count(*) AS df, min(doc_id) AS keeper_doc
  FROM cb GROUP BY 1, 2)
SELECT b.doc_id, CAST(b.f AS INT) AS frame_idx, g.df AS df,
  g.keeper_doc AS keeper_doc, CAST(b.f AS INT) AS keeper_frame
FROM cb b JOIN g ON b.doc_id % 24 = g.cls AND b.f = g.f"""),
    // PERCEPTUAL image near-dup: deterministically perturbed fixtures —
    // per class (id % 25) a base PNG, a brightness-shifted PNG, and a
    // JPEG re-encode — must collide under the integer aHash (shift
    // invariance + area pooling) while distinct classes stay far apart
    // (spec-pinned Hamming >= 18); banded Hamming pairing mines the
    // pairs. The oracle derives the pair classes arithmetically; the
    // engine has to earn them via genuine ImageIO decode + hash. This
    // is the near-dup key exact raster digests can't provide: one
    // brightness shift or re-encode defeats an md5 of the samples.
    Gate("image_near_dup", (s, dir) => {
      import s.implicits._
      val recs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "image", Multimodal.perturbedImage(id)))
      graft.operators.Dedup.hammingNearPairs64(
        Multimodal.imageAHash(recs)
          .select(col("doc_id").as("id"), col("ahash").as("h")))
    },
      // perceptual near-dup pairs derived arithmetically: all variants of
      // a class (id % 25) hash identically under aHash — the engine's
      // decode+hash+banding must reproduce exactly the same-class pairs,
      // every one at Hamming 0 (brightness shift is an exact invariance;
      // the JPEG re-encode's noise vanishes under 4x4 area pooling on the
      // bimodal pattern); distinct classes are spec-pinned >= 18 apart so
      // none survive the Hamming budget
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming
FROM documents a JOIN documents b
  ON a.doc_id % 25 = b.doc_id % 25 AND a.doc_id < b.doc_id"""),
    // the composition into the dedup framework: star edges within each
    // identical-hash class + verified hash-level edges feed the same
    // O(log n) connected-components resolution the text and semantic
    // sides use — one cluster per image class, labeled by the minimum
    // doc_id (arithmetically id % 25 on this fixture); never the
    // quadratic within-class pair set
    Gate("image_clusters", (s, dir) => {
      import s.implicits._
      val recs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "image", Multimodal.perturbedImage(id)))
      graft.operators.Dedup.hammingClusters64(
        Multimodal.imageAHash(recs)
          .select(col("doc_id").as("id"), col("ahash").as("h")))
    },
      // every doc of a class reaches every other (identical hashes =>
      // complete pair graph), so the component minimum is the class's
      // smallest doc_id — with contiguous ids that is doc_id % 25
      """SELECT doc_id, CAST(doc_id % 25 AS BIGINT) AS cluster_id
FROM documents"""),
    // DCT perceptual near-dup: the fixture adds the perturbation aHash
    // CANNOT survive — a horizontal luminance ramp (uneven lighting /
    // scanner gradient) moves edge-column cells across the spatial
    // threshold (14 of 25 classes escape the aHash budget,
    // spec-measured) while in frequency space the ramp is energy in
    // bits {1,3,5} of one band, so sign-threshold pHash keeps every
    // within-class pair within Hamming 4 with 3 of 4 bands agreeing.
    // The oracle derives pair classes arithmetically; hamming is
    // dropped from the output because the ramp pairs' exact distance
    // is a measured property, not a closed form.
    Gate("image_phash_near_dup", (s, dir) => {
      import s.implicits._
      val recs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "image", Multimodal.perturbedImageP(id)))
      graft.operators.Dedup.hammingNearPairs64(
        Multimodal.imagePHash(recs)
          .select(col("doc_id").as("id"), col("phash").as("h")))
        .select(col("id_a"), col("id_b"))
    },
      // pHash twin: all four variants (base / +30 brightness / horizontal
      // luminance ramp / JPEG re-encode) of a class pair under the DCT
      // hash; distinct classes stay >= 19 apart (spec-pinned)
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM documents a JOIN documents b
  ON a.doc_id % 25 = b.doc_id % 25 AND a.doc_id < b.doc_id"""),
    // the audio modality's near-dup key: re-gained and DC-shifted
    // copies collide under the affine-invariant window-mean hash
    // (byte digests never match them); same arithmetic-class oracle
    Gate("audio_near_dup", (s, dir) => {
      import s.implicits._
      val recs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "audio", Multimodal.perturbedWav(id)))
      graft.operators.Dedup.hammingNearPairs64(
        Multimodal.audioAHash(recs)
          .select(col("doc_id").as("id"), col("ahash").as("h")))
    },
      // audio twin: all three variants (base / +10 DC offset / 3/4 gain)
      // of a class collide under the affine-invariant window-mean hash
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming
FROM documents a JOIN documents b
  ON a.doc_id % 25 = b.doc_id % 25 AND a.doc_id < b.doc_id"""),
    // the video-frame twin: perturbed AVIs (base DIB / brightness-
    // shifted DIB / MJPG re-encode), per-frame aHash, banded pairing on
    // a packed (doc, frame) key — equal (class, frame_idx) collide
    // across all variants, nothing else pairs
    Gate("frame_near_dup", (s, dir) => {
      import s.implicits._
      val recs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "video", AviCodec.perturbedAvi(id)))
      graft.operators.Dedup.hammingNearPairs64(
        AviCodec.frameAHash(recs)
          .select((col("doc_id") * 4 + col("frame_idx")).as("id"),
            col("ahash").as("h")))
        .select(expr("div(id_a, 4)").as("doc_a"),
          (col("id_a") % 4).cast("int").as("frame_a"),
          expr("div(id_b, 4)").as("doc_b"),
          (col("id_b") % 4).cast("int").as("frame_b"),
          col("hamming"))
    },
      // frame twin: equal (class, frame_idx) collide across the three
      // variants (DIB / shifted DIB / MJPG); frame patterns are seeded
      // 2*class + f so cross-frame pairs never appear
      """WITH fr AS (SELECT doc_id, f.range AS f FROM documents, range(0, 2) f)
SELECT a.doc_id AS doc_a, CAST(a.f AS INT) AS frame_a,
  b.doc_id AS doc_b, CAST(b.f AS INT) AS frame_b, CAST(0 AS INT) AS hamming
FROM fr a JOIN fr b
  ON a.doc_id % 25 = b.doc_id % 25 AND a.f = b.f AND a.doc_id < b.doc_id"""),
    // RESIZE path: closed-form AVI → per-frame nearest-neighbor resize
    // to 5×3 (re-wrapped in a fresh AVI container) → real decode; DIB
    // frames stay byte-exact through the re-encode, so the oracle
    // recomputes the resized sample sum at the nearest-neighbor source
    // coordinates (same floor the codec computes).
    Gate("video_resize", (s, dir) => {
      import s.implicits._
      val recs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "video", AviCodec.grayAvi(id)))
      Multimodal.decode(
        Multimodal.resize(recs, 5, 3, Multimodal.JdkCodec),
        Multimodal.JdkCodec)
        .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
          round(col("mean_byte") * col("width") * col("height") *
            col("n_frames") * 3).cast("long").as("sample_sum"))
    },
      // nearest-neighbor source coordinate: s = (target * srcDim) // dstDim
      // — the same floor AviCodec's resize sample copy computes
      """SELECT doc_id,
  CAST(5 AS INT) AS width,
  CAST(3 AS INT) AS height,
  CAST(1 + doc_id % 5 AS INT) AS n_frames,
  CAST(3 * list_sum(list_transform(range(0, CAST(1 + doc_id % 5 AS INT)), f ->
    list_sum(flatten(list_transform(range(0, 3), y ->
      list_transform(range(0, 5), x ->
        (doc_id*31
         + ((x * (2 + doc_id % 14)) // 5) * 7
         + ((y * (1 + doc_id % 11)) // 3) * 13
         + f*17) % 256)))))) AS BIGINT) AS sample_sum
FROM documents""")
  )

  // DuckDB 1.0 has no BLOB sha256/substring, so the oracle hashes and
  // slices the VARCHAR and encodes afterwards — byte-identical to the
  // engine's binary path because the corpus is pure ASCII
  // (octet_length(encode(text)) == length(text) for every row, asserted
  // by the byte_len column itself).
}
