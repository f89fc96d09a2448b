package graft.ops

import graft.tables.Tables
import org.apache.spark.sql.functions._

/** SURVEY.md §2 category K (multimodal columns) — image/audio/video handling
  * for a training-data pipeline: media as opaque `binary` columns with typed
  * metadata, decode / feature-extract / frame-sample as partition-batched
  * typed transforms.
  *
  * The decode step runs a REAL image codec: [[graft.media.Png]], a pure-JVM
  * PNG implementation (chunk framing + CRC32 verification, zlib inflate via
  * `java.util.zip`, all five scanline filters, color types 0/2/6). The
  * sandbox testdata ships no media files, so the payload column is
  * synthesized — each doc gets a REAL deflate-compressed PNG whose pixels
  * are a closed-form function of doc_id — and the operator then decodes
  * those bytes the hard way: signature check, CRC walk, inflate, unfilter.
  * The oracle recomputes the expected features from the pixel formula alone,
  * so any decoder defect (wrong filter inverse, bad stride, CRC skip)
  * hash-mismatches. MultimodalSpec additionally cross-validates the codec
  * against the JDK's independent ImageIO decoder byte-for-byte.
  *
  * Scale notes (100 TB): media rows are large — the mapPartitions transform
  * streams one partition at a time (never collects), metadata-only queries
  * prune the payload column at the parquet scan, and frame sampling is a
  * flatMap (rows out ∝ frames, no shuffle until the consumer aggregates).
  */
object MultimodalOps {

  /** (doc_id, payload) — the media-column row model. */
  final case class MediaRow(doc_id: Long, payload: Array[Byte])

  /** Deterministic media fixture: the PNG payload for a doc — dimensions,
    * color type and every pixel are closed-form in doc_id (the oracle's
    * ground truth), scanline filters cycle 0-4 so each row of the image
    * exercises a different filter through the decoder. */
  def syntheticPng(docId: Long): Array[Byte] = {
    val w = (8 + docId % 8).toInt
    val h = (8 + docId % 5).toInt
    val ch = (docId % 3) match { case 0 => 1; case 1 => 3; case _ => 4 }
    val samples = new Array[Int](w * h * ch)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var c = 0
        while (c < ch) {
          samples((y * w + x) * ch + c) = ((x * 3 + y * 7 + c * 11 + docId) % 256).toInt
          c += 1
        }
        x += 1
      }
      y += 1
    }
    graft.media.Png.encode(w, h, ch, samples, filterForRow = y2 => y2 % 5)
  }

  /** Decode + feature-extract over the binary column, partition-batched
    * (the Scala analog of a pandas-batched UDF: one iterator per partition,
    * streaming, no driver collect). The decode is [[graft.media.Png]] — real
    * inflate + unfilter work per row; features (dimensions, channel count,
    * mean sample) come from the DECODED pixels, and the exact-integer sum /
    * single IEEE division keeps the mean bit-identical to the oracle's. */
  val multimodalDecodeFeatures: Op = Op(
    "multimodal_decode_features",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions { batch => // one batch per partition — streaming shape
          batch.map { id =>
            val png = syntheticPng(id)
            val img = graft.media.Png.decode(png)
            var sum = 0L
            img.samples.foreach(sum += _)
            (id, img.width, img.height, img.channels,
              sum.toDouble / img.samples.length)
          }
        }
        .toDF("doc_id", "width", "height", "channels", "mean_sample")
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, width, height, channels, " +
      "CAST(SUM(val) AS DOUBLE) / COUNT(*) AS mean_sample FROM (" +
      "SELECT d.doc_id, d.width, d.height, d.channels, " +
      "(x.x * 3 + y.y * 7 + c.c * 11 + d.doc_id) % 256 AS val " +
      "FROM (SELECT doc_id, CAST(8 + doc_id % 8 AS INT) AS width, " +
      "CAST(8 + doc_id % 5 AS INT) AS height, " +
      "CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS INT) AS channels " +
      "FROM documents) d, " +
      "LATERAL (SELECT unnest(generate_series(0, d.width - 1)) AS x) x, " +
      "LATERAL (SELECT unnest(generate_series(0, d.height - 1)) AS y) y, " +
      "LATERAL (SELECT unnest(generate_series(0, d.channels - 1)) AS c) c) " +
      "GROUP BY 1, 2, 3, 4 ORDER BY doc_id"))

  /** Deterministic audio fixture: a REAL PCM16 RIFF/WAVE file per doc —
    * frame count, channel layout, sample rate and every sample are
    * closed-form in doc_id (the oracle's ground truth). */
  def syntheticWav(docId: Long): Array[Byte] = {
    val frames = (256 + docId % 256).toInt
    val ch = (1 + docId % 2).toInt
    val rate = (docId % 3) match { case 0 => 8000; case 1 => 16000; case _ => 44100 }
    val samples = new Array[Int](frames * ch)
    var i = 0
    while (i < frames) {
      var c = 0
      while (c < ch) {
        samples(i * ch + c) = (((i * 37L + c * 1009L + docId * 13L) % 65536L) - 32768L).toInt
        c += 1
      }
      i += 1
    }
    graft.media.Wav.encode(rate, ch, samples)
  }

  /** Audio decode + feature-extract — the audio leg of the multimodal
    * surface, real end to end: each doc's RIFF/WAVE bytes are decoded by
    * [[graft.media.Wav]] (chunk walk, fmt field extraction, little-endian
    * PCM16 sample parse) and the feature row reports rate/layout/duration
    * plus mean amplitude (exact integer sum, one IEEE division) and peak
    * |amplitude|. The oracle recomputes everything from the sample formula —
    * an endianness or chunk-walk bug hash-mismatches. Same partition-
    * streamed, shuffle-free shape as the image decode. */
  val multimodalDecodeWav: Op = Op(
    "multimodal_decode_wav",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions { batch =>
          batch.map { id =>
            val a = graft.media.Wav.decode(syntheticWav(id))
            var sum = 0L; var peak = 0
            a.samples.foreach { v => sum += v; if (math.abs(v) > peak) peak = math.abs(v) }
            (id, a.sampleRate, a.channels, a.samples.length / a.channels,
              sum.toDouble / a.samples.length, peak)
          }
        }
        .toDF("doc_id", "sample_rate", "channels", "n_frames", "mean_amp", "peak")
        .orderBy("doc_id")
    },
    Some("WITH d AS (SELECT doc_id, CAST(256 + doc_id % 256 AS INT) AS n_frames, " +
      "CAST(1 + doc_id % 2 AS INT) AS channels, " +
      "CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS INT) AS sample_rate " +
      "FROM documents), " +
      "sm AS (SELECT d.doc_id, d.sample_rate, d.channels, d.n_frames, " +
      "(i.i * 37 + c.c * 1009 + d.doc_id * 13) % 65536 - 32768 AS val FROM d, " +
      "LATERAL (SELECT unnest(generate_series(0, d.n_frames - 1)) AS i) i, " +
      "LATERAL (SELECT unnest(generate_series(0, d.channels - 1)) AS c) c) " +
      "SELECT doc_id, sample_rate, channels, n_frames, " +
      "CAST(SUM(val) AS DOUBLE) / COUNT(*) AS mean_amp, CAST(MAX(abs(val)) AS INT) AS peak " +
      "FROM sm GROUP BY 1, 2, 3, 4 ORDER BY doc_id"))

  /** Resize (2× box downscale) over DECODED pixels — the third member of the
    * decode / feature-extract / resize / frame-sample quartet, and real work
    * end to end: each doc's PNG is decoded ([[graft.media.Png]] — inflate +
    * unfilter), every 2×2 block (1×2/2×1/1×1 at odd edges) is box-averaged
    * with EXACT integer arithmetic (floor(sum/count) — no float accumulation
    * anywhere near the hash), and the feature row reports the resized
    * dimensions plus the mean resized sample (exact integer sum, one IEEE
    * division). The oracle recomputes the same downscale relationally from
    * the pixel formula — a decoder or block-indexing bug hash-mismatches.
    *
    * Scale notes (100 TB): identical shape to decode — partition-streamed
    * mapPartitions, no shuffle, no driver collect; at width the resized
    * payloads (not features) would be re-encoded and written columnar. */
  val multimodalResize: Op = Op(
    "multimodal_resize",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions { batch =>
          batch.map { id =>
            val img = graft.media.Png.decode(syntheticPng(id))
            val (w, h, ch) = (img.width, img.height, img.channels)
            val (rw, rh) = ((w + 1) / 2, (h + 1) / 2)
            var total = 0L
            var by = 0
            while (by < rh) {
              var bx = 0
              while (bx < rw) {
                var c = 0
                while (c < ch) {
                  var sum = 0L; var n = 0L
                  var y = by * 2
                  while (y < math.min(by * 2 + 2, h)) {
                    var x = bx * 2
                    while (x < math.min(bx * 2 + 2, w)) {
                      sum += img.samples((y * w + x) * ch + c); n += 1
                      x += 1
                    }
                    y += 1
                  }
                  total += sum / n // floor — exact integer box mean
                  c += 1
                }
                bx += 1
              }
              by += 1
            }
            (id, rw, rh, ch, total.toDouble / (rw.toLong * rh * ch))
          }
        }
        .toDF("doc_id", "r_width", "r_height", "channels", "mean_resized")
        .orderBy("doc_id")
    },
    Some("WITH d AS (SELECT doc_id, CAST(8 + doc_id % 8 AS INT) AS w, " +
      "CAST(8 + doc_id % 5 AS INT) AS h, " +
      "CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS INT) AS ch " +
      "FROM documents), " +
      "px AS (SELECT d.doc_id, d.w, d.h, d.ch, x.x, y.y, c.c, " +
      "(x.x * 3 + y.y * 7 + c.c * 11 + d.doc_id) % 256 AS val FROM d, " +
      "LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) x, " +
      "LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) y, " +
      "LATERAL (SELECT unnest(generate_series(0, d.ch - 1)) AS c) c), " +
      "blk AS (SELECT doc_id, w, h, ch, x // 2 AS bx, y // 2 AS by, c, " +
      "CAST(SUM(val) // COUNT(*) AS BIGINT) AS rv " +
      "FROM px GROUP BY doc_id, w, h, ch, bx, by, c) " +
      "SELECT doc_id, CAST((w + 1) // 2 AS INT) AS r_width, " +
      "CAST((h + 1) // 2 AS INT) AS r_height, ch AS channels, " +
      "CAST(SUM(rv) AS DOUBLE) / COUNT(*) AS mean_resized " +
      "FROM blk GROUP BY doc_id, w, h, ch ORDER BY doc_id"))

  /** Frame sampling: the payload split into fixed 16-byte "frames" with
    * their index — the flatMap/UDTF shape of video frame extraction. The
    * payload is ASCII here, so the oracle can express the same chunking with
    * substring arithmetic (frame content verified byte-for-byte). */
  val multimodalFrameSample: Op = Op(
    "multimodal_frame_sample",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          text.grouped(16).zipWithIndex.map { case (frame, i) => (id, i, frame) }
        }
        .toDF("doc_id", "frame_idx", "frame")
        .orderBy("doc_id", "frame_idx")
    },
    Some("SELECT doc_id, CAST(g AS INT) AS frame_idx, substring(text, CAST(g * 16 + 1 AS INT), 16) AS frame " +
      "FROM (SELECT doc_id, text, unnest(generate_series(0, (length(text) - 1) // 16)) AS g FROM documents) " +
      "ORDER BY doc_id, frame_idx"))

  /** Relational PNG IHDR parse over a `binary` column — REAL format logic,
    * not a stub: byte-slice the signature and the IHDR fields with
    * `substring` on binary and decode big-endian u32s via `hex`+`conv`, all
    * codegen'd builtins (no UDF). This is the metadata-routing step a media
    * pipeline runs BEFORE any decode at 100 TB: validate + extract
    * (width, height, depth, color type) from the first 26 bytes without
    * touching the payload body — with stored media the same projection
    * prunes to a 26-byte read per row. Exposed for MultimodalSpec, which
    * parses a golden real PNG header byte-for-byte. */
  def parsePng(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def beInt(pos: Int, len: Int) =
      conv(hex(substring(payload, pos, len)), 16, 10).cast("int")
    struct(
      (hex(substring(payload, 1, 8)) === "89504E470D0A1A0A").as("sig_ok"),
      beInt(17, 4).as("width"),
      beInt(21, 4).as("height"),
      beInt(25, 1).as("bit_depth"),
      beInt(26, 1).as("color_type"))
  }

  /** Build-then-parse round trip as a query: each doc synthesizes a VALID
    * PNG signature + IHDR (width/height derived from doc_id — the testdata
    * carries no real media) via `unhex`/`concat` binary construction, and the
    * parser recovers the fields relationally. The oracle is the independent
    * ground truth of what the parse must produce (64 + doc_id mod 512 etc.) —
    * a Spark-side parse bug cannot hash-match it; the golden-bytes assertion
    * on a real PNG header lives in MultimodalSpec. */
  val multimodalParsePng: Op = Op(
    "multimodal_parse_png",
    (s, d) => {
      val w = (lit(64) + col("doc_id") % 512).cast("int")
      val h = (lit(64) + (col("doc_id") * 7) % 480).cast("int")
      val payload = concat(
        unhex(lit("89504E470D0A1A0A")), // PNG signature
        unhex(lit("0000000D")),         // IHDR chunk length = 13
        unhex(lit("49484452")),         // "IHDR"
        unhex(lpad(hex(w), 8, "0")),    // width, big-endian u32
        unhex(lpad(hex(h), 8, "0")),    // height, big-endian u32
        unhex(lit("0806000000")))       // bit depth 8, color type 6 (RGBA), rest
      Tables.documents(s, d)
        .select(col("doc_id"), parsePng(payload).as("r"))
        .select(col("doc_id"), col("r.sig_ok").as("sig_ok"),
          col("r.width").as("width"), col("r.height").as("height"),
          col("r.bit_depth").as("bit_depth"), col("r.color_type").as("color_type"))
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, TRUE AS sig_ok, CAST(64 + doc_id % 512 AS INT) AS width, " +
      "CAST(64 + (doc_id * 7) % 480 AS INT) AS height, CAST(8 AS INT) AS bit_depth, " +
      "CAST(6 AS INT) AS color_type FROM documents ORDER BY doc_id"))

  /** Framed audio features over DECODED PCM — the windowed analysis step
    * (VAD front-ends, audio quality gates, clip detection) that consumes
    * [[multimodalDecodeWav]]'s output: the sample stream is cut into
    * 256-sample frames per channel and each frame reports exact energy
    * (BIGINT sum of squares — 256·32768² ≪ 2⁶³), a zero-crossing count
    * (sign changes within the frame; sign(0) counts as non-negative), and
    * mean-square power as ONE IEEE division of those two exact integers.
    * The oracle recomputes every frame from the closed-form sample formula —
    * a framing off-by-one, endianness slip, or crossing-at-frame-boundary
    * bug hash-mismatches. Per-doc work is bounded by the decoded length;
    * shuffle-free except the final global sort. */
  val multimodalAudioFrames: Op = Op(
    "multimodal_audio_frames",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions { batch =>
          batch.flatMap { id =>
            val a = graft.media.Wav.decode(syntheticWav(id))
            val perCh = a.samples.length / a.channels
            (0 until a.channels).iterator.flatMap { c =>
              (0 until perCh by 256).map { start =>
                val end = math.min(start + 256, perCh)
                var sumSq = 0L; var zc = 0; var j = start
                while (j < end) {
                  val v = a.samples(j * a.channels + c).toLong
                  sumSq += v * v
                  if (j > start) {
                    val p = a.samples((j - 1) * a.channels + c)
                    if ((p < 0 && v >= 0) || (p >= 0 && v < 0)) zc += 1
                  }
                  j += 1
                }
                val n = end - start
                (id, c, start / 256, n, sumSq, zc, sumSq.toDouble / n)
              }
            }
          }
        }
        .toDF("doc_id", "channel", "frame_id", "n", "sum_sq", "zero_crossings", "mean_sq")
        .orderBy("doc_id", "channel", "frame_id")
    },
    Some("WITH d AS (SELECT doc_id, CAST(256 + doc_id % 256 AS INT) AS nf, " +
      "CAST(1 + doc_id % 2 AS INT) AS ch FROM documents), " +
      "sm AS (SELECT d.doc_id, CAST(c.c AS INT) AS channel, i.i AS i, " +
      "CAST(i.i // 256 AS INT) AS frame_id, " +
      "(i.i * 37 + c.c * 1009 + d.doc_id * 13) % 65536 - 32768 AS val FROM d, " +
      "LATERAL (SELECT unnest(generate_series(0, d.nf - 1)) AS i) i, " +
      "LATERAL (SELECT unnest(generate_series(0, d.ch - 1)) AS c) c), " +
      "x AS (SELECT doc_id, channel, frame_id, val, " +
      "lag(val) OVER (PARTITION BY doc_id, channel, frame_id ORDER BY i) AS pv FROM sm) " +
      "SELECT doc_id, channel, frame_id, CAST(COUNT(*) AS INT) AS n, " +
      "CAST(SUM(val * val) AS BIGINT) AS sum_sq, " +
      "CAST(SUM(CASE WHEN pv IS NOT NULL AND ((pv < 0 AND val >= 0) OR (pv >= 0 AND val < 0)) " +
      "THEN 1 ELSE 0 END) AS INT) AS zero_crossings, " +
      "CAST(SUM(val * val) AS DOUBLE) / COUNT(*) AS mean_sq " +
      "FROM x GROUP BY 1, 2, 3 ORDER BY doc_id, channel, frame_id"))

  /** Difference-hash core over a decoded image — split out so the spec can
    * drive it with JDK-decoded pixels and planted near-duplicate images.
    * dHash on a point-sampled 9×8 grid: cell[gy][gx] = integer luma of the
    * pixel at (gx·w div 9, gy·h div 8) (nearest-neighbor downscale; luma =
    * (299R+587G+114B) div 1000, alpha ignored, greyscale passthrough), set
    * bit gy·8+gx when cell[gy][gx] < cell[gy][gx+1]. Point sampling instead
    * of a box average is load-bearing for totality: with w < 9 a 9-column
    * box partition must leave some box empty (pigeonhole), whereas the
    * sample coordinate gx·w div 9 ≤ 8w/9 < w is in range for every w ≥ 1.
    * Returned as (hi, lo) 32-bit halves so neither engine touches the
    * BIGINT sign bit. All integer arithmetic end to end. */
  def dhash(img: graft.media.Png.Image): (Long, Long) = {
    val (w, h, ch) = (img.width, img.height, img.channels)
    require(w > 0 && h > 0, s"dhash needs a non-empty image, got ${w}x$h")
    def luma(x: Int, y: Int): Long = {
      val base = (y * w + x) * ch
      if (ch == 1) img.samples(base).toLong
      else (299L * img.samples(base) + 587L * img.samples(base + 1) +
        114L * img.samples(base + 2)) / 1000L
    }
    var hi = 0L; var lo = 0L
    var gy = 0
    while (gy < 8) {
      val sy = gy * h / 8
      var gx = 0
      while (gx < 8) {
        if (luma(gx * w / 9, sy) < luma((gx + 1) * w / 9, sy)) {
          val b = gy * 8 + gx
          if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
        }
        gx += 1
      }
      gy += 1
    }
    (hi, lo)
  }

  /** Perceptual image hash — the image leg of the dedup story: dHash is the
    * standard near-duplicate-image fingerprint (crop-resistant enough for
    * bulk curation, 64 bits, Hamming-comparable exactly like
    * `dedup_simhash`'s text signatures — at 100 TB the SAME banded
    * Hamming-join machinery runs over these). Real work end to end: PNG
    * decode (inflate + unfilter) → integer luma → point-sampled 9×8 grid →
    * adjacent-cell comparison bits. The oracle rebuilds every bit from the
    * closed-form pixel formula relationally (LATERAL pixel expansion → luma
    * pivot → grid point-sample join → gx/gx+1 self-join → bit pack), so a
    * decode, luma, grid-indexing, or bit-order bug flips the hash. */
  val multimodalPhash: Op = Op(
    "multimodal_phash",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions { batch =>
          batch.map { id =>
            val (hi, lo) = dhash(graft.media.Png.decode(syntheticPng(id)))
            (id, hi, lo)
          }
        }
        .toDF("doc_id", "dhash_hi", "dhash_lo")
        .orderBy("doc_id")
    },
    Some("WITH d AS (SELECT doc_id, CAST(8 + doc_id % 8 AS INT) AS w, " +
      "CAST(8 + doc_id % 5 AS INT) AS h, " +
      "CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS INT) AS ch " +
      "FROM documents), " +
      "px AS (SELECT d.doc_id, d.w, d.h, d.ch, x.x, y.y, c.c, " +
      "(x.x * 3 + y.y * 7 + c.c * 11 + d.doc_id) % 256 AS val FROM d, " +
      "LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) x, " +
      "LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) y, " +
      "LATERAL (SELECT unnest(generate_series(0, d.ch - 1)) AS c) c), " +
      "lum AS (SELECT doc_id, w, h, x, y, CASE WHEN ch = 1 THEN MAX(val) " +
      "ELSE SUM(CASE c WHEN 0 THEN 299 * val WHEN 1 THEN 587 * val " +
      "WHEN 2 THEN 114 * val ELSE 0 END) // 1000 END AS lum " +
      "FROM px GROUP BY doc_id, w, h, x, y, ch), " +
      "cells AS (SELECT doc_id, gy.gy AS gy, gx.gx AS gx, lum AS cv FROM lum, " +
      "LATERAL (SELECT unnest(generate_series(0, 7)) AS gy) gy, " +
      "LATERAL (SELECT unnest(generate_series(0, 8)) AS gx) gx " +
      "WHERE x = (gx.gx * w) // 9 AND y = (gy.gy * h) // 8), " +
      "bits AS (SELECT a.doc_id, a.gy * 8 + a.gx AS b, " +
      "CASE WHEN a.cv < n.cv THEN 1 ELSE 0 END AS bit FROM cells a " +
      "JOIN cells n ON n.doc_id = a.doc_id AND n.gy = a.gy AND n.gx = a.gx + 1 " +
      "WHERE a.gx < 8) " +
      "SELECT doc_id, " +
      "CAST(COALESCE(SUM(CASE WHEN bit = 1 AND b >= 32 THEN (CAST(1 AS BIGINT) << (b - 32)) END), 0) AS BIGINT) AS dhash_hi, " +
      "CAST(COALESCE(SUM(CASE WHEN bit = 1 AND b < 32 THEN (CAST(1 AS BIGINT) << b) END), 0) AS BIGINT) AS dhash_lo " +
      "FROM bits GROUP BY doc_id ORDER BY doc_id"))

  /** Staged dHash signature table (doc_id, sig) shared by the op and its
    * all-pairs oracle — same staged-intermediate playbook as dedup_simhash. */
  def imagePhashStagePath(sfDir: String): String =
    Stage.root(sfDir) + "/image_phash_sigs"

  /** Image fixture for the NEAR-DUP pass, distinct from [[syntheticPng]]:
    * that family varies between docs only by a brightness constant within
    * each (w,h,ch) size class, so dHash (deliberately brightness-invariant)
    * collapses it to a few signatures and ~58 % of ALL pairs read as
    * near-dups — a quadratic, unrealistic dedup corpus. Here every doc gets
    * its own hash-noise pixels (seed-mixed, structurally unique), and ~2 %
    * of docs (doc_id ≡ 1 mod 50) are a planted near-duplicate of their
    * predecessor: same noise, +8 brightness — exactly what dHash must
    * catch. Pair volume is therefore linear in the corpus, like a real
    * curation run. Pixel-level hash correctness is `multimodal_phash`'s
    * oracle; this op's oracle verifies the BANDING against exact all-pairs
    * over the staged signatures, so the generator only needs to be
    * deterministic, not closed-form in SQL. */
  def syntheticPngDiverse(docId: Long): Array[Byte] = {
    val seedId = if (docId % 50 == 1) docId - 1 else docId
    val m = seedId * 2654435761L // Knuth multiplicative mix
    val w = (9 + ((m >>> 8) % 8)).toInt
    val h = (8 + ((m >>> 16) % 5)).toInt
    val ch = ((m >>> 24) % 3) match { case 0 => 1; case 1 => 3; case _ => 4 }
    val bias = if (docId % 50 == 1) 8L else 0L
    val samples = new Array[Int](w * h * ch)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var c = 0
        while (c < ch) {
          // hash-noise pixels: each non-planted doc's dHash is statistically
          // independent of every other's, so accidental ≤7-bit pairs are the
          // hash's designed FP rate (~3·10⁻⁵ per pair measured — dHash bits
          // are locally correlated, effective entropy < 64 bits) and the
          // planted dups dominate the output.
          // Base range 0..199 leaves headroom so the +8 near-dup bias never
          // wraps — a wrap would break dHash's brightness-shift invariance
          // and the planted pair would not read as near-duplicate.
          val n = x * 73856093L ^ y * 19349663L ^ c * 83492791L ^ m
          samples((y * w + x) * ch + c) = ((n >>> 17) % 200 + bias).toInt
          c += 1
        }
        x += 1
      }
      y += 1
    }
    graft.media.Png.encode(w, h, ch, samples, filterForRow = y2 => y2 % 5)
  }

  /** Image near-duplicate detection — the payoff of `multimodal_phash`:
    * dHash signatures are 64-bit Hamming-comparable fingerprints, so the
    * SAME banded machinery that powers `dedup_simhash` runs over them
    * unchanged ([[LlmOps.simhashPairsFromSigs]]: 8 bands × 8 bits, pair
    * space priced at plan time against `graft.pair.budget`, refuses loudly
    * when a pathological corpus would fan out). Banding is EXACT by
    * pigeonhole at the ≤ 7-bit threshold (any pair within 7 differing bits
    * agrees on at least one of 8 bands), which licenses the all-pairs DuckDB
    * oracle at every sf with no recall envelope. Real work end to end: PNG
    * decode → point-sampled dHash → banded candidate join → verified
    * Hamming. At 100 TB the signature table is ~16 bytes/image and the
    * banded join shuffles only bucket-mates — the standard near-dup-image
    * curation pass. Runs over [[syntheticPngDiverse]] (structurally unique
    * images + ~2 % planted near-dups) so pair volume is linear, as in a
    * real corpus. */
  /** Stages the dHash signature table for the corpus, then returns the
    * banded near-dup pairs — shared by `dedup_image_phash` (which emits the
    * pairs) and `dedup_image_cluster_keep` (which clusters them). */
  def imagePhashPairs(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val (hi, lo) = dhash(graft.media.Png.decode(syntheticPngDiverse(id)))
        (id, (hi << 32) | lo)
      })
      .toDF("doc_id", "sig")
      .write.mode("overwrite").parquet(imagePhashStagePath(d))
    LlmOps.simhashPairsFromSigs(s.read.parquet(imagePhashStagePath(d)))
  }

  private val imagePairSql =
    "s AS (SELECT doc_id, sig FROM " +
      s"read_parquet('${Stage.token}/image_phash_sigs/*.parquet')), " +
      "j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming " +
      "FROM s a JOIN s b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.sig, b.sig)) <= 7)"

  val dedupImagePhash: Op = Op(
    "dedup_image_phash",
    (s, d) => imagePhashPairs(s, d).orderBy("doc_a", "doc_b"),
    Some(s"WITH $imagePairSql " +
      "SELECT doc_a, doc_b, hamming FROM j ORDER BY doc_a, doc_b"))

  /** The keep-list half of image dedup — same composition the text side
    * ships as `dedup_cluster_keep`: near-dup pairs form a graph, connected
    * components are computed by min-label propagation ([[LlmOps.ccKeep]]:
    * one equi-join + map-side min per round, convergence checked by a
    * strictly-decreasing label sum, refuses rather than truncating), and
    * each image maps to its component's minimum doc_id — the canonical copy
    * a curation pass keeps. Oracle: the same components via DuckDB's
    * recursive CTE over the staged signature pairs. */
  val dedupImageClusterKeep: Op = Op(
    "dedup_image_cluster_keep",
    (s, d) => LlmOps.ccKeep(imagePhashPairs(s, d)),
    Some(s"WITH RECURSIVE $imagePairSql, " +
      "e AS (SELECT doc_a AS src, doc_b AS dst FROM j UNION ALL SELECT doc_b, doc_a FROM j), " +
      "cc(node, label) AS (SELECT DISTINCT src, src FROM e " +
      "UNION SELECT e.dst, cc.label FROM cc JOIN e ON e.src = cc.node) " +
      "SELECT node AS doc_id, MIN(label) AS keep_id FROM cc GROUP BY 1 ORDER BY doc_id"))

  /** Energy-threshold activity detection (VAD-shaped) over the decoded PCM
    * frame table — the segmentation step an audio-training pipeline runs
    * before cutting clips: a frame is ACTIVE iff its energy clears the
    * threshold as a pure integer test (sum_sq > θ·n — never mean-square
    * floats), and consecutive active frames merge into segments by the
    * gaps-and-islands trick (frame_id − row_number is constant within a
    * run). Emitted per segment: frame span, length, exact total energy.
    * θ = 358 000 000 ≈ the mean square of uniform 16-bit noise, so the
    * synthetic corpus splits into genuine alternating segments.
    *
    * Scale notes (100 TB): composes on [[multimodalAudioFrames]]'s decoded
    * frame relation (decode cost paid once, scan-local); the island window
    * partitions by (doc, channel); output ∝ segments. */
  val multimodalAudioVad: Op = Op(
    "multimodal_audio_vad",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val frames = multimodalAudioFrames.fn(s, d)
      val active = frames.where(col("sum_sq") > lit(358000000L) * col("n"))
      val w = Window.partitionBy("doc_id", "channel").orderBy("frame_id")
      active
        .withColumn("grp", col("frame_id") - row_number().over(w))
        .groupBy("doc_id", "channel", "grp")
        .agg(min(col("frame_id")).as("seg_start"), max(col("frame_id")).as("seg_end"),
          count(lit(1)).as("n_frames"), sum(col("sum_sq")).as("energy"))
        .select(col("doc_id"), col("channel"), col("seg_start"), col("seg_end"),
          col("n_frames"), col("energy"))
        .orderBy("doc_id", "channel", "seg_start")
    },
    Some("WITH d AS (SELECT doc_id, CAST(256 + doc_id % 256 AS INT) AS nf, " +
      "CAST(1 + doc_id % 2 AS INT) AS ch FROM documents), " +
      "sm AS (SELECT d.doc_id, CAST(c.c AS INT) AS channel, i.i AS i, " +
      "CAST(i.i // 256 AS INT) AS frame_id, " +
      "(i.i * 37 + c.c * 1009 + d.doc_id * 13) % 65536 - 32768 AS val FROM d, " +
      "LATERAL (SELECT unnest(generate_series(0, d.nf - 1)) AS i) i, " +
      "LATERAL (SELECT unnest(generate_series(0, d.ch - 1)) AS c) c), " +
      "fr AS (SELECT doc_id, channel, frame_id, CAST(COUNT(*) AS INT) AS n, " +
      "CAST(SUM(val * val) AS BIGINT) AS sum_sq FROM sm GROUP BY 1, 2, 3), " +
      "act AS (SELECT *, frame_id - row_number() OVER " +
      "(PARTITION BY doc_id, channel ORDER BY frame_id) AS grp FROM fr " +
      "WHERE sum_sq > CAST(358000000 AS BIGINT) * n) " +
      "SELECT doc_id, channel, MIN(frame_id) AS seg_start, MAX(frame_id) AS seg_end, " +
      "CAST(COUNT(*) AS BIGINT) AS n_frames, CAST(SUM(sum_sq) AS BIGINT) AS energy " +
      "FROM act GROUP BY doc_id, channel, grp " +
      "ORDER BY doc_id, channel, seg_start"))

  /** PNG ancillary-metadata extraction — the ROUTING read a media pipeline
    * runs over every stored image before deciding whether to decode it:
    * [[graft.media.Png.textChunks]] walks the real chunk stream (signature,
    * long-math bounds, per-chunk CRC32) and returns the tEXt
    * (keyword, NUL, value) pairs WITHOUT ever inflating the IDAT body —
    * metadata cost is chunk headers + text bytes, not pixels. Each doc's
    * PNG is synthesized by the real encoder with three embedded tEXt chunks
    * whose values are closed-form in (doc_id, lang), so the oracle states
    * the ground truth relationally: a chunk-walk bug (CRC, bounds, NUL
    * split, ordering) cannot hash-match. PngMetaSpec round-trips the splice
    * against the pixel decoder and fuzzes hostile bytes.
    *
    * Scale notes (100 TB): scan-local flatMap, output = 3 rows per image;
    * with stored media the reader fetches only the leading chunk span
    * (tEXt sits before IDAT by construction — ours and most encoders'). */
  val multimodalPngMeta: Op = Op(
    "multimodal_png_meta",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"))
        .as[(Long, String)]
        .mapPartitions { batch =>
          batch.flatMap { case (id, lang) =>
            val img = graft.media.Png.encodeWithText(
              8, 8, 1,
              Array.tabulate(64)(i => ((i * 5 + id) % 256).toInt),
              Seq("gen" -> (id % 5).toString, "lang" -> lang, "title" -> s"doc_$id"))
            graft.media.Png.textChunks(img).map { case (k, v) => (id, k, v) }
          }
        }
        .toDF("doc_id", "keyword", "value")
        .orderBy("doc_id", "keyword")
    },
    Some("SELECT doc_id, keyword, value FROM (" +
      "SELECT doc_id, 'gen' AS keyword, CAST(doc_id % 5 AS VARCHAR) AS value FROM documents " +
      "UNION ALL SELECT doc_id, 'lang', lang FROM documents " +
      "UNION ALL SELECT doc_id, 'title', 'doc_' || CAST(doc_id AS VARCHAR) FROM documents" +
      ") ORDER BY doc_id, keyword"))

  /** METADATA SCRUB (round 13) — the image analog of `text_pii_scrub`:
    * strip every ANCILLARY chunk (tEXt provenance, and by the spec's
    * lowercase-first-letter rule any metadata chunk ever invented) from each
    * PNG while the pixel payload survives byte-identically, then PROVE it
    * in-row: the stripped file is re-parsed (signature/CRC walk), its pixels
    * decoded and compared sample-for-sample against the original, and the
    * byte saving emitted. Oracle: every output column is CLOSED-FORM from
    * the synthesis parameters — tEXt framing overhead is 12 + keyword + NUL
    * + value bytes per chunk, so bytes_removed = 56 + len(lang) +
    * len(str(doc_id)) exactly, and a wrong strip (dropped IDAT, broken CRC,
    * surviving tEXt) flips n_text_left / pixels_intact / bytes_removed
    * loudly.
    *
    * Scale notes (100 TB): scan-local per-row byte logic (mapPartitions, no
    * shuffle before the final sort) — the scrub streams at I/O speed and
    * never inflates the IDAT payload on the carry path; only the in-row
    * proof decodes, and a production run would sample that check. */
  val multimodalStripMeta: Op = Op(
    "multimodal_strip_meta",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"))
        .as[(Long, String)]
        .mapPartitions { batch =>
          batch.map { case (id, lang) =>
            val samples = Array.tabulate(64)(i => ((i * 5 + id) % 256).toInt)
            val img = graft.media.Png.encodeWithText(8, 8, 1, samples,
              Seq("gen" -> (id % 5).toString, "lang" -> lang, "title" -> s"doc_$id"))
            val stripped = graft.media.Png.stripAncillary(img)
            val decoded = graft.media.Png.decode(stripped)
            val intact = decoded.width == 8 && decoded.height == 8 &&
              decoded.channels == 1 && decoded.samples.sameElements(samples)
            (id, graft.media.Png.textChunks(stripped).size,
              (img.length - stripped.length).toLong, if (intact) 1 else 0)
          }
        }
        .toDF("doc_id", "n_text_left", "bytes_removed", "pixels_intact")
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, 0 AS n_text_left, " +
      "CAST(56 + len(lang) + len(CAST(doc_id AS VARCHAR)) AS BIGINT) AS bytes_removed, " +
      "1 AS pixels_intact FROM documents ORDER BY doc_id"))

  val all: Seq[Op] = Seq(multimodalDecodeFeatures, multimodalResize,
    multimodalDecodeWav, multimodalAudioFrames, multimodalFrameSample,
    multimodalParsePng, multimodalPhash, dedupImagePhash, dedupImageClusterKeep,
    multimodalAudioVad, multimodalPngMeta, multimodalStripMeta)
}
