package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing: media as opaque `binary` payloads with a
  * typed metadata struct, processed in partition-local batches. The
  * decode step is REAL container parsing — [[MediaCodec]] validates
  * magic bytes, reads dimensions from BMP/PPM/WAV headers, and computes
  * features from the actual pixel/sample data, all pure-JVM (no codec
  * jars needed for these formats). The encode side exists because the
  * driver testdata has no binary media columns: `asMedia` packs each
  * document's bytes into a genuine BMP/PPM/WAV container (round-robin
  * by doc_id), standing in for the object-store media scan a production
  * pipeline would start from — what reaches the decoder is a valid file
  * of the claimed format, not a blob with a label.
  */
object Multimodal extends graft.QueryModule {

  /** One media row: payload + metadata (what an object-store manifest of
    * images/audio would scan to).
    */
  case class MediaRow(doc_id: Long, mime: String, payload: Array[Byte])

  /** Decoded-feature record: container-reported geometry (images:
    * pixels, audio: frames × channels) + 8 content statistics.
    */
  case class MediaFeatures(doc_id: Long, mime: String, n_bytes: Int,
                           width: Int, height: Int, feature: Array[Float])

  /** Fixed-size content summary: grid²-cell resize (images) /
    * frame-sample (audio) — see [[MediaCodec.thumbnail]].
    */
  case class MediaThumb(doc_id: Long, mime: String, thumb: Array[Float])

  /** Decode a partition of media rows: parse each container's header
    * and content via [[MediaCodec]]. Runs per-partition over the
    * iterator — the batch shape a vectorized decoder needs (one codec
    * init per partition, not per row; the per-partition scope is where
    * a native decoder would allocate its scratch buffers).
    */
  def decodePartition(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
    rows.map { r =>
      val d = MediaCodec.decode(r.mime, r.payload)
      MediaFeatures(r.doc_id, r.mime, r.payload.length, d.width, d.height,
        d.feature)
    }

  /** Resize/frame-sample a partition of media rows to grid² cells —
    * same per-partition batch shape as [[decodePartition]].
    */
  def thumbnailPartition(grid: Int)(rows: Iterator[MediaRow]): Iterator[MediaThumb] =
    rows.map(r => MediaThumb(r.doc_id, r.mime,
      MediaCodec.thumbnail(r.mime, r.payload, grid)))

  /** documents → media frame: each document's bytes encoded into a real
    * container, format round-robin by doc_id (⅓ BMP, ⅓ PPM, ⅓ WAV) so
    * one query exercises every parser. Narrow per-row transform — the
    * encode/decode pair stays inside the partition, nothing shuffles.
    */
  def asMedia(s: SparkSession, d: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val content = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        id % 3 match {
          case 0 => MediaRow(id, MediaCodec.BmpMime, MediaCodec.encodeBmp(content))
          case 1 => MediaRow(id, MediaCodec.PpmMime, MediaCodec.encodePpm(content))
          case _ => MediaRow(id, MediaCodec.WavMime, MediaCodec.encodeWav(content))
        }
      }
  }

  /** q138: the q35 decode pipeline with EVERY decoded column
    * driver-checked — doc_id, mime, container geometry, and all 8
    * content features rounded to 6 decimals as wide columns. TRUE
    * cross-engine oracle since r18 (the q213/q212 convention,
    * upgraded from the fixture-pinned digest): the feature cores are
    * integer-exact Long sums ([[MediaCodec]] r18 rewrite) derived into
    * doubles by one fixed expression each, so DuckDB re-derives every
    * feature bit-for-bit from the text bytes via the encoder contracts
    * — pixel channels for BMP/PPM, PCM samples for WAV — with the same
    * REAL narrowing. The engine runs the real container parse; the
    * oracle runs the contract; a parser OR statistics regression
    * breaks the hash on the exact column it touched.
    */
  private[graft] def decodeFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    asMedia(s, d)
      .mapPartitions(decodePartition)
      .toDF()
      .select(col("doc_id") +: col("mime") +: col("n_bytes") +:
        col("width") +: col("height") +:
        (0 until 8).map(i =>
          round(element_at(col("feature"), i + 1).cast("double"), 6)
            .as(s"f${i}_r")): _*)
      .orderBy("doc_id")
  }

  /** q139: q53's 16-cell thumbnail, every cell a rounded column with
    * the same true contract-replay oracle as q138.
    */
  private[graft] def thumbnailCells(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    asMedia(s, d)
      .mapPartitions(thumbnailPartition(4))
      .toDF()
      .select(col("doc_id") +: col("mime") +:
        (0 until 16).map(i =>
          round(element_at(col("thumb"), i + 1).cast("double"), 6)
            .as(s"t${i}_r")): _*)
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q138_multimodal_decode_digest" -> ((s, d) => decodeFeatures(s, d)),
    "q139_multimodal_thumb_digest" -> ((s, d) => thumbnailCells(s, d)),
    // binary-column metadata scan: byte length + digest (oracle-checkable)
    "q34_multimodal_meta" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        lit("text/plain").as("mime"),
        length(col("text").cast("binary")).as("n_bytes"),
        md5(col("text").cast("binary")).as("checksum"))
        .orderBy("doc_id")),

    // full decode pipeline through the typed mapPartitions boundary:
    // genuine BMP/PPM/WAV containers parsed back to header dimensions +
    // content features. Oracle-matched since r18 (was rows-only): the
    // integer-cored features made f0 contract-replayable like q138.
    "q35_multimodal_decode" -> ((s, d) => {
      import s.implicits._
      asMedia(s, d)
        .mapPartitions(decodePartition)
        .toDF()
        .select(col("doc_id"), col("mime"), col("n_bytes"),
          col("width"), col("height"),
          round(element_at(col("feature"), 1).cast("double"), 3).as("f0"))
        .orderBy("doc_id")
    }),

    // resize (images: 4×4 box filter) / frame-sample (audio: 16 equal
    // windows) to a fixed 16-cell summary — the downsampling stage a
    // media pipeline runs after decode, through the same partition-local
    // batch boundary. Oracle-matched since r18: cells are exact-integer
    // block sums and the mean is a fixed left-assoc fold over the
    // REAL-narrowed cells, both SQL-replayable.
    "q53_multimodal_thumbnail" -> ((s, d) => {
      import s.implicits._
      asMedia(s, d)
        .mapPartitions(thumbnailPartition(4))
        .toDF()
        .select(col("doc_id"), col("mime"),
          round(element_at(col("thumb"), 1).cast("double"), 3).as("t00"),
          round(element_at(col("thumb"), 6).cast("double"), 3).as("t11"),
          round(element_at(col("thumb"), 16).cast("double"), 3).as("t33"),
          round(aggregate(col("thumb"), lit(0.0d),
            (acc, x) => acc + x.cast("double")) / 16.0d, 3).as("thumb_mean"))
        .orderBy("doc_id")
    })
  )

  /** THE image encoder contract in SQL, defined once for every oracle
    * that replays it (q35/q138/q53/q139 here; q212/q221 in ImageHash):
    * per image doc the near-square geometry, and per pixel the r/g/b
    * channel bytes (content bytes 3i..3i+2, zero-padded past n — both
    * encoders pad the raster with zero bytes). The q213 hex-substr
    * byte-extraction idiom.
    */
  private[ops] def imageContractCtes: String =
    s"""img AS MATERIALIZED (
       |  SELECT doc_id, doc_id % 3 AS fmt, hex(CAST(text AS BLOB)) AS hx,
       |         CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n,
       |         GREATEST(1, CAST(CEIL(SQRT(octet_length(CAST(text AS BLOB)) / 3.0)) AS BIGINT)) AS w
       |  FROM documents WHERE doc_id % 3 < 2
       |), geo AS MATERIALIZED (
       |  SELECT doc_id, fmt, hx, n, w,
       |         GREATEST(1, CAST(CEIL(n / (3.0 * w)) AS BIGINT)) AS h
       |  FROM img
       |), px AS MATERIALIZED (
       |  SELECT doc_id, i // w AS prow, i % w AS pcol,
       |         CASE WHEN 3 * i < n THEN
       |           ('0x' || substr(hx, CAST(6 * i + 1 AS INTEGER), 2))::BIGINT ELSE 0 END AS r,
       |         CASE WHEN 3 * i + 1 < n THEN
       |           ('0x' || substr(hx, CAST(6 * i + 3 AS INTEGER), 2))::BIGINT ELSE 0 END AS g,
       |         CASE WHEN 3 * i + 2 < n THEN
       |           ('0x' || substr(hx, CAST(6 * i + 5 AS INTEGER), 2))::BIGINT ELSE 0 END AS b
       |  FROM (SELECT doc_id, hx, n, w,
       |               CAST(unnest(range(w * h)) AS BIGINT) AS i FROM geo)
       |)""".stripMargin

  /** The WAV encoder contract: per doc the PCM samples
    * k = ((byte & 0xFF) − 128)·256, one per content byte.
    */
  private def wavContractCtes: String =
    s"""wav AS MATERIALIZED (
       |  SELECT doc_id, hex(CAST(text AS BLOB)) AS hx,
       |         CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n
       |  FROM documents WHERE doc_id % 3 = 2
       |), sam AS MATERIALIZED (
       |  SELECT doc_id, i,
       |         (('0x' || substr(hx, CAST(2 * i + 1 AS INTEGER), 2))::BIGINT - 128)
       |           * 256 AS k
       |  FROM (SELECT doc_id, hx, CAST(unnest(range(n)) AS BIGINT) AS i FROM wav)
       |)""".stripMargin

  private def mediaOracleCtes: String =
    s"WITH $imageContractCtes, $wavContractCtes"

  /** The windowBounds floor/clamp grid replay (cells + per-cell pixel
    * indices), parameterized by grid shape — ONE definition for the
    * 4×4 thumbnails here and ImageHash's 8×9 dHash grid.
    */
  private[ops] def gridCtes(gridRows: Int, gridCols: Int): String =
    s"""cells AS MATERIALIZED (
       |  SELECT doc_id, gy, gx,
       |         gy * h // $gridRows AS r0,
       |         GREATEST(gy * h // $gridRows + 1, (gy + 1) * h // $gridRows) AS r1,
       |         gx * w // $gridCols AS c0,
       |         GREATEST(gx * w // $gridCols + 1, (gx + 1) * w // $gridCols) AS c1
       |  FROM geo,
       |       (SELECT CAST(unnest(range($gridRows)) AS BIGINT) AS gy),
       |       (SELECT CAST(unnest(range($gridCols)) AS BIGINT) AS gx)
       |), cellpx AS MATERIALIZED (
       |  SELECT doc_id, gy, gx, cnt, prow,
       |         CAST(unnest(range(c0, c1)) AS BIGINT) AS pcol
       |  FROM (SELECT doc_id, gy, gx, c0, c1,
       |               (r1 - r0) * (c1 - c0) AS cnt,
       |               CAST(unnest(range(r0, r1)) AS BIGINT) AS prow
       |        FROM cells)
       |)""".stripMargin

  /** ROUND(REAL-narrowed, 6) — the engine's `.toFloat` then
    * `round(cast(double), 6)` replayed: widening REAL → DOUBLE is
    * exact, so both engines round the identical double.
    */
  private def r6(expr: String): String =
    s"ROUND(CAST(CAST($expr AS REAL) AS DOUBLE), 6)"

  // q138/q139: TRUE contract-replay oracles since r18 (no fixtures).
  // Every feature derives from exact integer sums over the contract-
  // derived pixels/samples, in the same fixed double expressions the
  // integer-cored MediaCodec uses — see decodeFeatures' scaladoc.
  val oracleSql: Map[String, String] = Map(
    "q34_multimodal_meta" ->
      """SELECT doc_id,
        |       'text/plain' AS mime,
        |       CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
        |       md5(text) AS checksum
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // the WAV branches below LEFT-join their sample aggregates and clamp
    // denominators with GREATEST(n, 1): an EMPTY-text WAV doc still gets
    // an engine row (44-byte header, n = max(0,1) = 1 in every divisor,
    // all-zero stats), so the oracle must emit it too rather than drop
    // it through an inner join on the empty sample set — the q213 oracle
    // filters such docs because ITS engine side emits nothing (flatMap),
    // but q35/q138/q53/q139's does
    "q138_multimodal_decode_digest" ->
      s"""$mediaOracleCtes, isum AS MATERIALIZED (
         |  SELECT doc_id, SUM(r) AS sr, SUM(g) AS sg, SUM(b) AS sb,
         |         SUM(r + g + b) AS s1,
         |         SUM((r + g + b) * (r + g + b)) AS s2,
         |         SUM(CASE WHEN r + g + b <> 0 THEN 1 ELSE 0 END) AS nz,
         |         SUM(CASE WHEN prev3 IS NULL THEN 0
         |                  ELSE ABS(r + g + b - prev3) END) AS g3
         |  FROM (SELECT *, lag(r + g + b) OVER (
         |                    PARTITION BY doc_id, prow ORDER BY pcol) AS prev3
         |        FROM px)
         |  GROUP BY doc_id
         |), wsum AS MATERIALIZED (
         |  SELECT w.doc_id, COALESCE(SUM(k), 0) AS sk, COALESCE(SUM(k * k), 0) AS sk2,
         |         COALESCE(MAX(ABS(k)), 0) AS peak,
         |         COALESCE(SUM(CASE WHEN prev IS NULL THEN 0
         |                  WHEN (k >= 0) <> (prev >= 0) THEN 1 ELSE 0 END), 0) AS zc,
         |         COALESCE(SUM(CASE WHEN prev IS NULL THEN 0 ELSE ABS(k - prev) END), 0) AS dk
         |  FROM wav w LEFT JOIN (
         |    SELECT doc_id, k,
         |           lag(k) OVER (PARTITION BY doc_id ORDER BY i) AS prev
         |    FROM sam) s USING (doc_id)
         |  GROUP BY w.doc_id
         |)
         |SELECT geo.doc_id,
         |       CASE geo.fmt WHEN 0 THEN '${MediaCodec.BmpMime}'
         |                    ELSE '${MediaCodec.PpmMime}' END AS mime,
         |       CAST(CASE geo.fmt
         |         WHEN 0 THEN 54 + (((geo.w * 3 + 3) // 4) * 4) * geo.h
         |         ELSE 9 + length(CAST(geo.w AS VARCHAR))
         |              + length(CAST(geo.h AS VARCHAR)) + 3 * geo.w * geo.h
         |         END AS INTEGER) AS n_bytes,
         |       CAST(geo.w AS INTEGER) AS width,
         |       CAST(geo.h AS INTEGER) AS height,
         |       ${r6("i.sr / (geo.w * geo.h) / 255.0")} AS f0_r,
         |       ${r6("i.sg / (geo.w * geo.h) / 255.0")} AS f1_r,
         |       ${r6("i.sb / (geo.w * geo.h) / 255.0")} AS f2_r,
         |       ${r6("i.s1 / 3.0 / (geo.w * geo.h) / 255.0")} AS f3_r,
         |       ${r6("sqrt(GREATEST(0.0, i.s2 / 9.0 / (geo.w * geo.h) - " +
                "(i.s1 / 3.0 / (geo.w * geo.h)) * (i.s1 / 3.0 / (geo.w * geo.h)))) / 255.0")} AS f4_r,
         |       ${r6("CAST(geo.w AS DOUBLE) / (geo.w + geo.h)")} AS f5_r,
         |       ${r6("i.nz / (geo.w * geo.h)")} AS f6_r,
         |       ${r6("CASE WHEN geo.w > 1 THEN i.g3 / 3.0 / " +
                "((geo.w * geo.h - geo.h) * 255.0) ELSE 0.0 END")} AS f7_r
         |FROM geo JOIN isum i USING (doc_id)
         |UNION ALL
         |SELECT w.doc_id, '${MediaCodec.WavMime}' AS mime,
         |       CAST(44 + 2 * w.n AS INTEGER) AS n_bytes,
         |       CAST(w.n AS INTEGER) AS width, 1 AS height,
         |       ${r6("ws.sk / 32768.0 / GREATEST(w.n, 1)")} AS f0_r,
         |       ${r6("sqrt(ws.sk2 / 1073741824.0 / GREATEST(w.n, 1))")} AS f1_r,
         |       ${r6("ws.zc / GREATEST(w.n, 1)")} AS f2_r,
         |       ${r6("ws.peak / 32768.0")} AS f3_r,
         |       ${r6("LEAST(1.0, w.n / 8000.0)")} AS f4_r,
         |       ${r6("8000 / 48000.0")} AS f5_r,
         |       ${r6("1.0")} AS f6_r,
         |       ${r6("CASE WHEN w.n > 1 THEN ws.dk / 32768.0 / (w.n - 1) " +
                "ELSE 0.0 END")} AS f7_r
         |FROM wav w JOIN wsum ws USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q139_multimodal_thumb_digest" ->
      s"""$thumbCellCtes
         |SELECT doc_id, mime,
         |       ${(0 until 16).map(i =>
                  r6(s"MAX(CASE WHEN cell = $i THEN v END)") + s" AS t${i}_r")
                  .mkString(",\n         |       ")}
         |FROM allcells
         |GROUP BY doc_id, mime
         |ORDER BY doc_id""".stripMargin,

    // q35: the q138 feature machinery restricted to f0 (mean channel /
    // sample level), over ALL THREE container formats
    "q35_multimodal_decode" ->
      s"""$mediaOracleCtes, isum AS MATERIALIZED (
         |  SELECT doc_id, SUM(r) AS sr FROM px GROUP BY doc_id
         |), wsum AS MATERIALIZED (
         |  SELECT w.doc_id, COALESCE(SUM(k), 0) AS sk
         |  FROM wav w LEFT JOIN sam USING (doc_id) GROUP BY w.doc_id
         |)
         |SELECT geo.doc_id,
         |       CASE geo.fmt WHEN 0 THEN '${MediaCodec.BmpMime}'
         |                    ELSE '${MediaCodec.PpmMime}' END AS mime,
         |       CAST(CASE geo.fmt
         |         WHEN 0 THEN 54 + (((geo.w * 3 + 3) // 4) * 4) * geo.h
         |         ELSE 9 + length(CAST(geo.w AS VARCHAR))
         |              + length(CAST(geo.h AS VARCHAR)) + 3 * geo.w * geo.h
         |         END AS INTEGER) AS n_bytes,
         |       CAST(geo.w AS INTEGER) AS width,
         |       CAST(geo.h AS INTEGER) AS height,
         |       ROUND(CAST(CAST(i.sr / (geo.w * geo.h) / 255.0 AS REAL) AS DOUBLE), 3) AS f0
         |FROM geo JOIN isum i USING (doc_id)
         |UNION ALL
         |SELECT w.doc_id, '${MediaCodec.WavMime}' AS mime,
         |       CAST(44 + 2 * w.n AS INTEGER) AS n_bytes,
         |       CAST(w.n AS INTEGER) AS width, 1 AS height,
         |       ROUND(CAST(CAST(ws.sk / 32768.0 / GREATEST(w.n, 1) AS REAL) AS DOUBLE), 3) AS f0
         |FROM wav w JOIN wsum ws USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // q53: three sampled cells + the thumb mean — the mean replays the
    // engine's left-assoc fold over the REAL-narrowed cells exactly
    // (0.0 + v0 + v1 + ... parses left-associative; REAL→DOUBLE
    // promotion per addend is the engine's x.cast("double"))
    "q53_multimodal_thumbnail" ->
      s"""$thumbCellCtes, piv AS (
         |  SELECT doc_id, mime,
         |         ${(0 until 16).map(i =>
                    s"CAST(MAX(CASE WHEN cell = $i THEN v END) AS REAL) AS v$i")
                    .mkString(",\n         |         ")}
         |  FROM allcells GROUP BY doc_id, mime
         |)
         |SELECT doc_id, mime,
         |       ROUND(CAST(v0 AS DOUBLE), 3) AS t00,
         |       ROUND(CAST(v5 AS DOUBLE), 3) AS t11,
         |       ROUND(CAST(v15 AS DOUBLE), 3) AS t33,
         |       ROUND((CAST(0.0 AS DOUBLE) ${(0 until 16).map(i => s"+ v$i").mkString(" ")}) / 16.0, 3)
         |         AS thumb_mean
         |FROM piv
         |ORDER BY doc_id""".stripMargin
  )

  /** The 16-cell thumbnail values (RAW doubles, pre-narrowing) for both
    * container families — shared by the q139 and q53 oracles.
    */
  private def thumbCellCtes: String =
    s"""$mediaOracleCtes, ${gridCtes(4, 4)}, icell AS MATERIALIZED (
       |  SELECT cp.doc_id, CAST(cp.gy * 4 + cp.gx AS INTEGER) AS cell,
       |         SUM(p.r + p.g + p.b) / 3.0 / (MIN(cp.cnt) * 255.0) AS v
       |  FROM cellpx cp
       |  JOIN px p ON p.doc_id = cp.doc_id AND p.prow = cp.prow
       |           AND p.pcol = cp.pcol
       |  GROUP BY cp.doc_id, cp.gy, cp.gx
       |), wwin AS MATERIALIZED (
       |  SELECT doc_id, n, CAST(c AS INTEGER) AS cell,
       |         c * n // 16 AS i0,
       |         GREATEST(c * n // 16 + 1, (c + 1) * n // 16) AS i1
       |  FROM (SELECT doc_id, n, CAST(unnest(range(16)) AS BIGINT) AS c
       |        FROM wav)
       |), wcell AS MATERIALIZED (
       |  -- LEFT join + COALESCE: an empty-content WAV doc's windows have
       |  -- no samples; the engine (windowMeans n==0 path) emits 16 zero
       |  -- cells for it, so the oracle must too
       |  SELECT ww.doc_id, ww.cell,
       |         (COALESCE(SUM(ABS(s.k)), 0) / 32768.0) / (ww.i1 - ww.i0) AS v
       |  FROM wwin ww
       |  LEFT JOIN sam s ON s.doc_id = ww.doc_id AND s.i >= ww.i0 AND s.i < ww.i1
       |  GROUP BY ww.doc_id, ww.cell, ww.i1, ww.i0
       |), allcells AS (
       |  SELECT i.doc_id,
       |         CASE g.fmt WHEN 0 THEN '${MediaCodec.BmpMime}'
       |                    ELSE '${MediaCodec.PpmMime}' END AS mime,
       |         i.cell, i.v
       |  FROM icell i JOIN geo g USING (doc_id)
       |  UNION ALL
       |  SELECT doc_id, '${MediaCodec.WavMime}', cell, v FROM wcell
       |)""".stripMargin
}
