package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** q213: windowed audio feature extraction over the WAV media column —
  * the energy/activity profile an audio pipeline computes before ASR
  * or voice-activity gating: per fixed time window, sample count,
  * total magnitude (Σ|s|), zero-crossing count, and peak. This is the
  * multimodal family's FEATURE-EXTRACT stage (the brief's decode →
  * feature-extract → resize/frame-sample chain): q35 decodes, q53
  * frame-samples, this emits the per-window integer feature table.
  *
  * TRUE cross-engine oracle (stronger than q138/q139's fixture pins):
  * every feature is an exact integer over raw 16-bit PCM samples, and
  * [[MediaCodec.encodeWav]]'s contract makes each sample a pure
  * function of the document's UTF-8 bytes (((b & 0xFF) − 128) · 256),
  * so DuckDB re-derives the identical feature table from the text
  * BLOB's hex — the engine runs the real container parse
  * ([[MediaCodec.pcmRawSamples]]), the oracle runs the contract, and a
  * parser regression breaks the hash. Window geometry is
  * [[MediaCodec.windowBounds]] (floor partition, never empty,
  * resamples when n < windows), replayed verbatim with // arithmetic.
  * Zero-crossings count sign flips of ADJACENT samples with both ends
  * inside the window (windows stay independent); sign is s ≥ 0.
  *
  * Scale shape: narrow per-row decode + per-window integer folds
  * inside one mapPartitions — no shuffle except the presentation
  * sort; at 100 TB this is the embarrassingly-parallel scan every
  * media featurizer is.
  */
object AudioFeatures extends graft.QueryModule {

  private[graft] val Windows = 8

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q213_audio_features" -> ((s, d) => {
      import s.implicits._
      Multimodal.asMedia(s, d)
        .filter(_.mime == MediaCodec.WavMime)
        .mapPartitions(_.flatMap { m =>
          val sam = MediaCodec.pcmRawSamples(m.payload)
          if (sam.isEmpty) Iterator.empty
          else MediaCodec.windowBounds(sam.length, Windows).iterator.zipWithIndex
            .map { case ((i0, i1), w) =>
              var sumAbs = 0L; var peak = 0L; var zcr = 0L
              var i = i0
              while (i < i1) {
                val a = math.abs(sam(i)).toLong
                sumAbs += a
                if (a > peak) peak = a
                if (i > i0 && ((sam(i) >= 0) != (sam(i - 1) >= 0))) zcr += 1
                i += 1
              }
              (m.doc_id, w, (i1 - i0).toLong, sumAbs, zcr, peak)
            }
        })
        .toDF("doc_id", "win", "n_sam", "sum_abs", "zcr", "peak")
        .orderBy("doc_id", "win")
    }))

  /** The encoder contract replayed from the text bytes (hex-extracted,
    * the q120 idiom); window bounds in // arithmetic (nonnegative, so
    * truncation = floor = the engine's Long division).
    */
  val oracleSql: Map[String, String] = Map(
    "q213_audio_features" ->
      s"""WITH wav AS MATERIALIZED (
         |  SELECT doc_id, hex(CAST(text AS BLOB)) AS hx,
         |         CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n
         |  FROM documents
         |  WHERE doc_id % 3 = 2 AND octet_length(CAST(text AS BLOB)) > 0
         |), sam0 AS (
         |  SELECT doc_id, hx, CAST(unnest(range(n)) AS BIGINT) AS i FROM wav
         |), sam AS MATERIALIZED (
         |  SELECT doc_id, i,
         |         (('0x' || substr(hx, CAST(2 * i + 1 AS INTEGER), 2))::BIGINT - 128)
         |           * 256 AS s
         |  FROM sam0
         |), win AS (
         |  SELECT doc_id, n, CAST(w AS INTEGER) AS win,
         |         w * n // $Windows AS i0,
         |         GREATEST(w * n // $Windows + 1, (w + 1) * n // $Windows) AS i1
         |  FROM (SELECT doc_id, n, CAST(unnest(range($Windows)) AS BIGINT) AS w
         |        FROM wav)
         |), feat AS (
         |  SELECT w.doc_id, w.win, w.i1 - w.i0 AS n_sam,
         |         CAST(SUM(ABS(s.s)) AS BIGINT) AS sum_abs,
         |         CAST(MAX(ABS(s.s)) AS BIGINT) AS peak
         |  FROM win w JOIN sam s
         |    ON s.doc_id = w.doc_id AND s.i >= w.i0 AND s.i < w.i1
         |  GROUP BY 1, 2, 3
         |), zc AS (
         |  SELECT w.doc_id, w.win, CAST(COUNT(*) AS BIGINT) AS zcr
         |  FROM win w
         |  JOIN sam a ON a.doc_id = w.doc_id AND a.i >= w.i0 AND a.i < w.i1 - 1
         |  JOIN sam b ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |  WHERE (a.s >= 0) <> (b.s >= 0)
         |  GROUP BY 1, 2
         |)
         |SELECT f.doc_id, f.win, f.n_sam, f.sum_abs,
         |       COALESCE(z.zcr, CAST(0 AS BIGINT)) AS zcr, f.peak
         |FROM feat f LEFT JOIN zc z ON z.doc_id = f.doc_id AND z.win = f.win
         |ORDER BY f.doc_id, f.win""".stripMargin)
}
