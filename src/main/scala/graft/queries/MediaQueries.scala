package graft
package queries

import org.apache.spark.sql.functions.col
import graft.ops._

/** Multimodal operators (SURVEY.md §2.3): real-codec round trips over
  * synthesized audio, video and image payloads. */
object MediaQueries {
  /** The committed contract-honoring ffmpeg fixture the gate's
    * `video_frames_bridge` query streams payloads through, relative to the
    * working directory (the repository root under sbt); overridable so a
    * host with a REAL ffmpeg can point the same gate query at it. */
  private val FfmpegFixtureBin = sys.env.getOrElse("SPARK_GRAFT_FFMPEG_FIXTURE",
    "scripts/fake_ffmpeg.sh")

  val all: Seq[QuerySpec] = Seq(
    QuerySpec("multimodal_meta", (s, d) => MultimodalOps.multimodalMeta(Tables.documents(s, d)),
      () => """SELECT doc_id, strlen(text) AS byte_len, md5(text) AS content_md5,
         CASE WHEN ascii(text[1])%3=0 THEN 'image'
              WHEN ascii(text[1])%3=1 THEN 'audio'
              ELSE 'video' END AS kind
         FROM documents"""),
    // REAL-decoder round trips: payloads are synthesized from closed-form
    // per-doc parameters, run through the actual JDK codecs / container
    // parsers, and every decoded field is predicted by the SQL oracle.
    // Decoded-field predictions in closed form from the same per-doc
    // parameters the Spark side synthesizes payloads with; rms mirrors the
    // builder's quantization (round(amp*32768)/32768) arithmetic exactly.
    QuerySpec("audio_decode", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.round
      // repartition the 8-byte ids BEFORE the synth+decode map: the corpus
      // is a single parquet row group (unsplittable — the scan is ONE task
      // at any core count, guide §2.5 "input skew"), and the decode cost is
      // per-row CPU that must spread; the shuffle moves ids only, never
      // payloads (§8: decide/spread on light rows, move heavy bytes once).
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .map(id => MultimodalOps.MediaRecord(id,
          MultimodalOps.synthWav((100 + id % 400).toInt, 8000f, ((id % 9) + 1) / 10.0),
          "audio"))
      MultimodalOps.decodeAudio(s, media).toDF()
        .select(col("media_id"), col("format"), col("sample_rate"), col("channels"),
          col("bits"), col("n_frames"), round(col("duration_sec"), 6).as("duration_sec"),
          round(col("rms"), 6).as("rms"))
    }, () => """SELECT doc_id AS media_id, 'wave' AS format, 8000.0::DOUBLE AS sample_rate,
         1 AS channels, 16 AS bits, 100 + doc_id % 400 AS n_frames,
         round((100 + doc_id % 400) / 8000.0, 6) AS duration_sec,
         round(round(((doc_id % 9) + 1) / 10.0 * 32768.0) / 32768.0, 6) AS rms
         FROM documents"""),
    QuerySpec("video_meta", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.round
      // id-only repartition before the synth+parse map — single-row-group
      // input, one scan task otherwise (§2.5); ids are 8 bytes/row
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .map { id =>
          val w = 160 + 16 * (id % 20).toInt
          val h = 120 + 16 * (id % 15).toInt
          val bytes =
            if (id % 2 == 0) MultimodalOps.synthMp4(w, h, 1000L, 1000L + 100L * (id % 30))
            else MultimodalOps.synthAvi(w, h, 40000L, 250L + id % 100, streams = 2)
          MultimodalOps.MediaRecord(id, bytes, "video")
        }
      MultimodalOps.parseVideoMeta(s, media).toDF()
        .select(col("media_id"), col("container"), col("width"), col("height"),
          round(col("duration_sec"), 6).as("duration_sec"), col("n_tracks"))
    }, () => """SELECT doc_id AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'avi' END AS container,
         160 + 16 * (doc_id % 20) AS width,
         120 + 16 * (doc_id % 15) AS height,
         round(CASE WHEN doc_id % 2 = 0 THEN (1000 + 100 * (doc_id % 30)) / 1000.0
               ELSE (250 + doc_id % 100) * 40000 / 1000000.0 END, 6) AS duration_sec,
         2 AS n_tracks
         FROM documents"""),
    // MJPEG-in-AVI frame decode round trip: per-doc synthetic AVIs whose
    // frames are real JPEGs of constant grays planted on a 16-step grid;
    // the decoded mean luminance recovers the grid level exactly (JPEG
    // round-trip error ±3 ≪ half the grid step), which the SQL oracle
    // predicts in closed form — frame sampling, dimensions, and the fact
    // that REAL pixel decode happened are all oracle-checked.
    // Frame-sampling structure + planted luma grid recovered in closed
    // form (everyK=2 over 4 + doc_id%5 frames; decoded luma rounds back to
    // its planted 16-step grid level).
    QuerySpec("video_frames", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.round
      // every 10th doc: the round trip ENCODES each synthetic frame as a
      // real JPEG before decoding it, so the oracle query's cost is encode-
      // bound — 1/10 of the docs keeps hundreds of decoded frames of
      // coverage without the suite paying ~30k JPEG encodes (oracle filter
      // matches)
      // column-level filter (codegen, no typed deserialization) + id-only
      // repartition before the JPEG encode+decode map (§2.5 — the scan is
      // one task on this single-row-group corpus)
      val media = Tables.documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") % 10 === 0).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .map { id =>
          val w = 48 + 16 * (id % 4).toInt
          val h = 32 + 16 * (id % 3).toInt
          val nf = 4 + (id % 5).toInt
          val lumas = (0 until nf).map(f => 16 + 16 * ((id + f) % 13).toInt)
          MultimodalOps.MediaRecord(id, MultimodalOps.synthMjpegAvi(w, h, 40000L, lumas), "video")
        }
      MultimodalOps.decodeVideoFrames(s, media, everyK = 2).toDF()
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          round((col("mean_luma") - 16.0) / 16.0).cast("long").as("luma_level"))
    }, () => """SELECT doc_id AS media_id, u.frame_idx,
         48 + 16 * (doc_id % 4) AS width,
         32 + 16 * (doc_id % 3) AS height,
         (doc_id + u.frame_idx) % 13 AS luma_level
         FROM documents, UNNEST(range(0, (4 + doc_id % 5)::BIGINT, 2)) AS u(frame_idx)
         WHERE doc_id % 10 = 0"""),
    // External-decoder bridge IN THE GATE (r10): payloads stream through the
    // committed contract-honoring fixture (scripts/fake_ffmpeg.sh — answers
    // the -version probe, emits three 16x16 gray rasters whose constant
    // fill is (payload_len + i) % 256), so the non-MJPEG bridge path
    // (subprocess plumbing, writer thread, raw-raster arithmetic, frame_idx
    // reconstruction) executes under Verify with a closed-form DuckDB
    // oracle. doc_id < 200 bounds the subprocess count at any SF. A real
    // ffmpeg honors the same rawvideo-gray byte contract.
    // The bridge fixture is a pure function of payload LENGTH (100 + id%400
    // bytes by construction): three 16x16 frames, frame i filled with
    // (len + i) % 256, frame_idx reconstructed at everyK = 4 spacing.
    QuerySpec("video_frames_bridge", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.round
      // doc_id < 200 as a COLUMN predicate (pushes into the parquet scan —
      // PushedFilters row-group skipping at scale, §6) and an id-only
      // repartition so the 200 subprocess spawns run across every core
      // instead of serially in the single scan task (§2.5): measured 2.56 s
      // → the spawn cost /= cores
      val media = Tables.documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") < 200L).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .map(id => MultimodalOps.MediaRecord(id,
          Array.tabulate(((id % 400) + 100).toInt)(i => (i * 7 + id).toByte), "video"))
      MultimodalOps.decodeVideoFramesFfmpeg(s, media, bin = FfmpegFixtureBin,
          everyK = 4, maxFramesPerVideo = 8, frameDim = 16).toDF()
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("frame_bytes").cast("long").as("frame_bytes"),
          round(col("mean_luma"), 6).as("mean_luma"), col("real_decode"))
    }, () => """WITH f AS (SELECT doc_id, (100 + doc_id % 400)::BIGINT AS len
           FROM documents WHERE doc_id < 200),
         u AS (SELECT doc_id, len, unnest(range(0, 3)) AS i FROM f)
         SELECT doc_id AS media_id, (i * 4)::BIGINT AS frame_idx,
           16::BIGINT AS width, 16::BIGINT AS height,
           256::BIGINT AS frame_bytes,
           round(((len + i) % 256)::DOUBLE, 6) AS mean_luma,
           TRUE AS real_decode
         FROM u"""),
    // REAL pixel resize round trip: constant-gray PNGs of closed-form dims
    // → bomb-guarded decode → bilinear resample into the aspect-kept 64-box
    // (shrink-only integer arithmetic) → lossless re-encode; the oracle
    // predicts the box arithmetic exactly and the constant gray survives
    // resampling + PNG bit-for-bit, so real pixel work is oracle-checked.
    // Shrink-only aspect-kept box fit, same integer arithmetic as the Scala
    // path (// is floor division, as is Scala Int /); constant gray is
    // invariant under resampling so luma_level recovers id%13 exactly.
    QuerySpec("image_resize", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.round
      // same shape as video_frames: column filter + id-only repartition
      // before the PNG encode/decode map (§2.5)
      val media = Tables.documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") % 10 === 0).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .map { id =>
          val w = 40 + 16 * (id % 7).toInt
          val h = 24 + 16 * (id % 5).toInt
          MultimodalOps.MediaRecord(id,
            MultimodalOps.synthPng(w, h, 16 + 16 * (id % 13).toInt), "image")
        }
      MultimodalOps.resizeImages(s, media, maxDim = 64).toDF()
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round((col("mean_luma") - 16.0) / 16.0).cast("long").as("luma_level"))
    }, () => """SELECT doc_id AS media_id,
         greatest(1, (40 + 16*(doc_id%7)) * 64 // greatest(40 + 16*(doc_id%7), 24 + 16*(doc_id%5), 64)) AS width,
         greatest(1, (24 + 16*(doc_id%5)) * 64 // greatest(40 + 16*(doc_id%7), 24 + 16*(doc_id%5), 64)) AS height,
         doc_id % 13 AS luma_level
         FROM documents WHERE doc_id % 10 = 0"""),
  )
}
