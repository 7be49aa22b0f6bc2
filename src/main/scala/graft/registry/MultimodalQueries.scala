package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SharedSpark._

/** Image and audio decoding, frame sampling and media-format scans. */
object MultimodalQueries extends Module("multimodal") {

  // The ORC landing copy of orders — the columnar sibling of the CSV one,
  // rebuilt whenever the orders files change (SharedSpark.derivedDir).
  private[graft] def orcOrdersDir(s: SparkSession, d: String): String =
    derivedDir(s, d, "orders_orc", "orders") { dir =>
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority"), col("o_totalprice"),
          col("o_orderdate").cast("date").as("o_date"))
        .write.orc(dir)
    }

  /** ORC source round-trip against the parquet base table. */
  private def qOrcScan(s: SparkSession, d: String): DataFrame =
    s.read.orc(orcOrdersDir(s, d)).orderBy(col("o_orderkey"))
  // ORC round-trip: same base-table transparency as q_csv_scan
  query("q_orc_scan", qOrcScan,
    """SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice,
      |       CAST(o_orderdate AS DATE) AS o_date
      |FROM orders ORDER BY o_orderkey""".stripMargin)

  /** Multimodal plumbing demo: text payloads packed as binary media rows,
    * features extracted through the per-partition decode path
    * (graft.multimodal.Multimodal — decode itself is a deterministic
    * stub; see that object's scaladoc). */
  private def qMultimodalDecode(s: SparkSession, d: String): DataFrame =
    graft.multimodal.Multimodal
      .extractFeatures(graft.multimodal.Multimodal.packText(t(s, d, "documents"), "doc_id", "text"))
      .toDF()
      .orderBy(col("doc_id"))
  query("q_multimodal_decode", qMultimodalDecode,
    """SELECT doc_id,
      |       CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
      |       CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
      |       CAST(octet_length(encode(text)) % 480 AS INTEGER) AS height,
      |       substring(md5(text), 1, 16) AS phash
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** The REAL image decode path under the correctness gate: synthetic
    * BMP/PPM payloads generated from each document's text bytes
    * (graft.multimodal.SynthImages — dimensions closed-form over doc_id,
    * pixels cycling the text), decoded byte-for-byte by ImageDecoder
    * through the same per-partition seam as the stub. byte_len / width /
    * height are oracle-verified (the format arithmetic is closed-form
    * SQL); the perceptual hash — not expressible in oracle SQL — is
    * exercised here and pinned by golden values in ImageDecoderSpec. */
  private def qImageDecode(s: SparkSession, d: String): DataFrame =
    graft.multimodal.Multimodal
      .extractFeatures(
        graft.multimodal.SynthImages.packSynth(t(s, d, "documents"), "doc_id", "text"),
        graft.multimodal.ImageDecoder)
      .toDF()
      .select(col("doc_id"), col("byte_len"), col("width"), col("height"))
      .orderBy(col("doc_id"))
  // Synthetic-image decode (graft.multimodal.SynthImages → ImageDecoder):
  // dimensions are closed-form over doc_id; byte_len is the exact format
  // arithmetic — BMP: 54-byte header + 4-byte-padded rows; PPM P6:
  // "P6\n{w} {h}\n255\n" header + raw RGB. The phash column is excluded
  // (average-hash is not oracle-SQL-expressible; golden-pinned in spec).
  query("q_image_decode", qImageDecode,
    """WITH dims AS (
      |  SELECT doc_id, 8 + doc_id % 25 AS w, 8 + doc_id % 17 AS h
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(CASE WHEN doc_id % 2 = 0
      |                 THEN 54 + ((3 * w + 3) // 4) * 4 * h
      |                 ELSE 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + 3 * w * h
      |            END AS INTEGER) AS byte_len,
      |       CAST(w AS INTEGER) AS width,
      |       CAST(h AS INTEGER) AS height
      |FROM dims ORDER BY doc_id""".stripMargin)

  /** Image exact-dedup via perceptual-hash equality — the bucket-first
    * pass of every image dedup pipeline, run end-to-end through the
    * REAL byte-level decoders: groups of 3 consecutive docs carry
    * identical pixels but ALTERNATE container formats (BMP vs PPM), so
    * equal per-group hashes prove the whole decode→gray→aHash path is
    * format-independent (n_formats = 2 in every full group, yet
    * n_hashes = 1). The oracle states the spec closed-form — any
    * decoder or hash regression breaks it. (Corpus-WIDE hash
    * distinctness is deliberately not asserted: average-hash is
    * luma-shift invariant by design, so distinct synthetic pixel seeds
    * can legitimately collide.) Scan-linear decode (one decoder
    * instance per partition), ONE group-by exchange on the 8-byte
    * group key. */
  private def qImageDedup(s: SparkSession, d: String): DataFrame =
    graft.multimodal.Multimodal
      .extractFeatures(
        graft.multimodal.SynthImages.packSynthGrouped(t(s, d, "documents"), "doc_id", 3L),
        graft.multimodal.ImageDecoder)
      .toDF()
      .groupBy(expr("doc_id div 3").as("img_group"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"),
        countDistinct(col("phash")).as("n_hashes"),
        countDistinct(pmod(col("doc_id"), lit(2L))).as("n_formats"))
      .orderBy(col("img_group"))
  // Image hash-equality dedup: the oracle states the fixture's SPEC
  // closed-form — identical pixels per 3-doc group (through BMP and
  // PPM alike) must collapse to ONE hash, and distinct groups must
  // stay distinct corpus-wide. The engine has to get there through
  // the real byte-level decode.
  query("q_image_dedup", qImageDedup,
    """WITH g AS (SELECT doc_id // 3 AS img_group, doc_id FROM documents)
      |SELECT img_group, min(doc_id) AS keep_id,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(1 AS BIGINT) AS n_hashes,
      |       CAST(count(DISTINCT doc_id % 2) AS BIGINT) AS n_formats
      |FROM g GROUP BY img_group ORDER BY img_group""".stripMargin)

  /** REAL audio decode under the gate: synthetic WAV payloads (closed-form
    * from doc_id + text, SynthAudio) through the byte-level RIFF/PCM
    * parser; every feature — rate, count, duration, integer mean |amp| —
    * is recomputed by the oracle from the text column alone. */
  private def qAudioDecode(s: SparkSession, d: String): DataFrame =
    graft.multimodal.Multimodal
      .extractAudioFeatures(
        graft.multimodal.SynthAudio.packSynth(t(s, d, "documents"), "doc_id", "text"))
      .toDF()
      .orderBy(col("doc_id"))
  // Audio decode: the WAV payload is synthesized closed-form from
  // (doc_id, text) — the oracle recomputes every decoded feature from
  // the text column (ASCII ⇒ byte = code point), no binary parsing
  query("q_audio_decode", qAudioDecode,
    """WITH d AS (
      |  SELECT doc_id, text,
      |         CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sample_rate,
      |         CAST(800 + doc_id % 400 AS INTEGER) AS n_samples,
      |         length(text) AS len
      |  FROM documents),
      |s AS (
      |  SELECT d.doc_id,
      |         CAST(sum(abs((ord(substr(d.text, CAST(u.i % d.len AS INTEGER) + 1, 1)) - 128) * 256)) AS BIGINT) AS sum_abs
      |  FROM d, unnest(range(0, d.n_samples)) AS u(i)
      |  GROUP BY d.doc_id)
      |SELECT d.doc_id,
      |       CAST(44 + 2 * d.n_samples AS INTEGER) AS byte_len,
      |       d.sample_rate, d.n_samples,
      |       CAST((CAST(d.n_samples AS BIGINT) * 1000) // d.sample_rate AS INTEGER) AS duration_ms,
      |       CAST(s.sum_abs // d.n_samples AS BIGINT) AS mean_abs
      |FROM d JOIN s USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin)

  /** Frame-level audio energy (see Multimodal.extractAudioFrames):
    * 256-sample frame energies through the REAL RIFF/PCM decoder —
    * per-doc frame count, exact-integer peak frame (lowest-index ties)
    * and total Σs²; every value recomputed by the oracle from the text
    * column alone (the SynthAudio closed form), so the decoder's frame
    * walk is result-verified, not just spec'd. */
  private def qAudioFrames(s: SparkSession, d: String): DataFrame =
    graft.multimodal.Multimodal
      .extractAudioFrames(
        graft.multimodal.SynthAudio.packSynth(t(s, d, "documents"), "doc_id", "text"),
        frameLen = 256)
      .toDF()
      .orderBy(col("doc_id"))
  // Frame-level audio energy: 256-sample frame Σs² recomputed from
  // the SynthAudio closed form; peak = row_number over (energy DESC,
  // frame ASC).
  query("q_audio_frames", qAudioFrames,
    """WITH d AS (
      |  SELECT doc_id, text,
      |         CAST(800 + doc_id % 400 AS INTEGER) AS n_samples,
      |         length(text) AS len
      |  FROM documents),
      |e AS (
      |  SELECT d.doc_id, CAST(u.i // 256 AS INTEGER) AS f,
      |         CAST(sum(
      |           CAST((ord(substr(d.text, CAST(u.i % d.len AS INTEGER) + 1, 1))
      |                 - 128) * 256 AS BIGINT)
      |           * CAST((ord(substr(d.text, CAST(u.i % d.len AS INTEGER) + 1, 1))
      |                   - 128) * 256 AS BIGINT)) AS BIGINT) AS en
      |  FROM d, unnest(range(0, d.n_samples)) AS u(i)
      |  GROUP BY 1, 2),
      |a AS (
      |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_frames,
      |         CAST(sum(en) AS BIGINT) AS total_energy
      |  FROM e GROUP BY 1),
      |p AS (
      |  SELECT doc_id, f AS peak_frame, en AS peak_energy
      |  FROM (SELECT doc_id, f, en,
      |               row_number() OVER (PARTITION BY doc_id
      |                                  ORDER BY en DESC, f) AS rn
      |        FROM e) WHERE rn = 1)
      |SELECT a.doc_id, a.n_frames, p.peak_frame, p.peak_energy, a.total_energy
      |FROM a JOIN p USING (doc_id) ORDER BY doc_id""".stripMargin)

  private def qFrameSample(s: SparkSession, d: String): DataFrame =
    graft.multimodal.Multimodal
      .sampleFrames(graft.multimodal.Multimodal.packText(t(s, d, "documents"), "doc_id", "text"), 64)
      .toDF()
      .orderBy(col("doc_id"), col("frame_idx"))
  query("q_frame_sample", qFrameSample,
    """SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
      |       CAST(least(64, len - i * 64) AS INTEGER) AS frame_len
      |FROM (SELECT doc_id, len, unnest(range(0, CAST(ceil(len / 64.0) AS BIGINT))) AS i
      |      FROM (SELECT doc_id, octet_length(encode(text)) AS len FROM documents))
      |ORDER BY doc_id, frame_idx""".stripMargin)
}
