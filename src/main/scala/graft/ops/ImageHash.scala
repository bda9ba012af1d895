package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** q212: perceptual difference-hash (dHash) over the image media
  * column — the 64-bit fingerprint an image-dedup pass buckets on
  * (the visual twin of q24/q120's text fingerprints, and the
  * candidate key the q28 pigeonhole join would consume for
  * hamming-bounded near-dup pairs at corpus scale). Standard dHash
  * geometry: an 8-row × 9-column gray grid; bit (r, c) = 1 iff cell
  * (r, c)'s mean luma is strictly below cell (r, c+1)'s — 8×8 = 64
  * horizontal-gradient bits, invariant to global brightness scaling
  * and to container format (BMP's bottom-up storage and PPM decode to
  * the same orientation-corrected raster, so the SAME content bytes
  * produce the SAME hash in either container — pinned in spec).
  *
  * Exactness: cell means compare via integer cross-multiplication
  * over exact (Σ(R+G+B), count) grid sums ([[MediaCodec.grayGridSums]])
  * — sumL·cntR < sumR·cntL — so no float rounding can flip a
  * near-tie bit and the hash is bit-stable across JVMs. TRUE
  * cross-engine oracle (the q213 convention, upgraded from the
  * r17 fixture pin): every pixel of the decoded, orientation-corrected
  * raster is a pure function of the document's UTF-8 bytes — BMP's
  * RGB→BGR bottom-up storage round-trips exactly and PPM at
  * maxval=255 is the identity, both zero-padded past the content
  * ([[MediaCodec.encodeBmp]]/[[MediaCodec.encodePpm]] contracts) — so
  * DuckDB re-derives the grid sums from the text BLOB's hex (luma of
  * pixel i = bytes 3i..3i+2), replays [[MediaCodec.windowBounds]]'s
  * floor/clamp block geometry in // arithmetic, and rebuilds every
  * dHash bit by the same integer cross-multiplication. The engine
  * runs the real container parse; the oracle runs the contract; a
  * parser regression breaks the hash. Bit 63 (cell (7,7) vs (7,8))
  * is reconstructed as the signed Long minimum so the two's-
  * complement sum equals the engine's Long bit-OR exactly.
  *
  * Scale shape: narrow per-row decode + 81 integer cells per image
  * inside one mapPartitions — no shuffle except the presentation
  * sort. The dedup join over these hashes is the q28 plan verbatim
  * (4×16-bit pigeonhole chunks ⇒ hamming ≤ 3 candidates).
  */
object ImageHash extends graft.QueryModule {

  private[graft] val GridRows = 8
  private[graft] val GridCols = 9

  /** 64-bit dHash from exact integer grid sums; bit k = r·8 + c. */
  private[graft] def dHash64(mime: String, payload: Array[Byte]): Long = {
    val (sums, counts) = MediaCodec.grayGridSums(mime, payload, GridRows, GridCols)
    // overflow GUARD, not just audit (the buildGram rule, PowerIteration):
    // the comparison below cross-multiplies sum·count; sums ≤ 765·count,
    // so the product is ~765·count² and a JVM Long would WRAP silently
    // past ~1e8 pixels/cell while the DuckDB oracle's BIGINT errors —
    // the engines would diverge instead of failing together. Fail loudly
    // while the exact per-image bound still has an order of headroom.
    val bound = BigInt(sums.max) * BigInt(counts.max)
    require(bound * 10 <= BigInt(Long.MaxValue),
      s"dHash cell int64 ceiling: max cell sum ${sums.max} x max cell count " +
        s"${counts.max} leaves <10x headroom on the sum·count cross-multiply " +
        "— image too large for the exact integer compare, downscale upstream")
    var h = 0L
    var r = 0
    while (r < GridRows) {
      var c = 0
      while (c < GridCols - 1) {
        val i = r * GridCols + c
        // meanL < meanR  ⇔  sumL·cntR < sumR·cntL  (counts > 0)
        if (sums(i) * counts(i + 1) < sums(i + 1) * counts(i))
          h |= 1L << (r * (GridCols - 1) + c)
        c += 1
      }
      r += 1
    }
    h
  }

  private[graft] def dhashFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Multimodal.asMedia(s, d)
      .filter(m => m.mime == MediaCodec.BmpMime || m.mime == MediaCodec.PpmMime)
      .mapPartitions(_.map { m =>
        val dec = MediaCodec.decode(m.mime, m.payload)
        (m.doc_id, m.mime, dec.width, dec.height, dHash64(m.mime, m.payload))
      })
      .toDF("doc_id", "mime", "width", "height", "dhash")
  }

  /** q221's hamming radius: pairs within this many differing gradient
    * bits. 3 is what the 4-chunk pigeonhole GUARANTEES (4 equal-width
    * chunks of a 64-bit key; ≤3 flipped bits leave ≥1 chunk intact, so
    * every qualifying pair meets in some chunk bucket — q28's rule).
    */
  private[graft] val HammingMax = 3

  /** Per-(chunk, value) bucket population cap — the q43 skew guard: a
    * degenerate bucket (a flood of near-identical rasters) would go
    * quadratic in the self-join; capped buckets are dropped and their
    * members still meet in their other 3 chunks unless those are
    * equally degenerate. Replayed by the oracle, so the cap is part of
    * the checked semantics, not a silent approximation.
    */
  private[graft] val MaxChunkBucket = 10000

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q212_image_dhash" -> ((s, d) => dhashFrame(s, d).orderBy("doc_id")),

    // visual NEAR-DUP pairs over the q212 dHashes — the consumer the
    // dHash exists for, completing the multimodal dedup story (q25-q28
    // dedup text; this dedups the image column by perceptual content,
    // catching the same content re-encoded in a DIFFERENT container:
    // identical bytes as BMP vs PPM decode to the same raster, hamming
    // 0). Plan is q28's pigeonhole verbatim: 4x16-bit chunks, bucket
    // equi-join (never a cross join), exact hamming verify <= 3.
    // Fully oracle-checked (unlike q28's xxhash signatures): the r18
    // contract-replay oracle makes the dHash itself SQL-derivable, so
    // the whole pair graph replays cross-engine.
    "q221_image_neardup_pairs" -> ((s, d) =>
      dhashPairs(s, d).orderBy("doc_a", "doc_b")))

  /** q221's visual pair frame as a FrameMemo stored artifact (the r18
    * q28-simhashPairs contract: the presenter q221 and the cross-modal
    * consumer q225 read the IDENTICAL frame, priced once in Bench's
    * shared_build, so the two can never drift).
    */
  private[graft] def dhashPairs(s: SparkSession, d: String): DataFrame =
    FrameMemo.cached(s, d, "dhashPairs") {
      import org.apache.spark.sql.functions._
      // one decode pass serves both join sides
      val sigs = FrameMemo.scratch(dhashFrame(s, d).select("doc_id", "dhash"))
      val chunks = sigs.select(col("doc_id"), col("dhash"),
        explode(array((0 until 4).map(c =>
          struct(lit(c).as("chunk"),
            shiftright(col("dhash"), 16 * c).bitwiseAND(0xFFFFL).as("cval"))): _*)).as("cc"))
        .select(col("doc_id"), col("dhash"), col("cc.chunk"), col("cc.cval"))
      val keep = chunks.groupBy("chunk", "cval")
        .agg(count(lit(1)).as("pop"))
        .filter(col("pop") <= MaxChunkBucket).select("chunk", "cval")
      val capped = chunks.join(keep, Seq("chunk", "cval"))
      capped.as("a").join(capped.as("b"),
          col("a.chunk") === col("b.chunk") && col("a.cval") === col("b.cval") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.dhash").bitwiseXOR(col("b.dhash"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= HammingMax)
    }

  /** The contract-replay CTE chain: the SHARED image contract + grid
    * replay ([[Multimodal.imageContractCtes]] / [[Multimodal.gridCtes]]
    * — one SQL definition of the encoder contract across q35/q138/q53/
    * q139/q212/q221), then the dHash-specific cell sums and bits. Cell
    * luma is Σ(r+g+b) over the channel table; `cellpx` fans out
    * per-cell pixel INDICES only (integers) and joins the channel
    * table by index, so the hex string is copied once per pixel (the
    * q213 `sam` shape), never once per cell-pixel. q212's oracle
    * presents it; q221's oracle runs the pigeonhole pair join over it.
    */
  private[graft] def dhashOracleCtes: String =
      s"""WITH ${Multimodal.imageContractCtes},
         |${Multimodal.gridCtes(GridRows, GridCols)}, cellsum AS MATERIALIZED (
         |  SELECT cp.doc_id, cp.gy, cp.gx,
         |         CAST(MIN(cp.cnt) AS BIGINT) AS cnt,
         |         CAST(SUM(p.r + p.g + p.b) AS BIGINT) AS s
         |  FROM cellpx cp
         |  JOIN px p ON p.doc_id = cp.doc_id AND p.prow = cp.prow
         |           AND p.pcol = cp.pcol
         |  GROUP BY cp.doc_id, cp.gy, cp.gx
         |), bits AS (
         |  -- meanL < meanR  ⇔  sumL·cntR < sumR·cntL; bit k = gy·8+gx.
         |  -- Distinct powers sum = bit-OR; bit 63 enters as the signed
         |  -- Long minimum so the sum equals the engine's two's-complement
         |  -- Long exactly (a bare 1 << 63 overflows DuckDB's BIGINT)
         |  SELECT l.doc_id,
         |         CAST(SUM(CASE WHEN l.s * r.cnt < r.s * l.cnt THEN
         |           CASE WHEN l.gy * ${GridCols - 1} + l.gx = 63 THEN -9223372036854775808
         |                ELSE 1::BIGINT << CAST(l.gy * ${GridCols - 1} + l.gx AS INTEGER) END
         |           ELSE 0 END) AS BIGINT) AS dhash
         |  FROM cellsum l JOIN cellsum r
         |    ON r.doc_id = l.doc_id AND r.gy = l.gy AND r.gx = l.gx + 1
         |  WHERE l.gx < ${GridCols - 1}
         |  GROUP BY l.doc_id
         |)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q212_image_dhash" ->
      s"""$dhashOracleCtes
         |SELECT geo.doc_id,
         |       CASE geo.fmt WHEN 0 THEN '${MediaCodec.BmpMime}'
         |                    ELSE '${MediaCodec.PpmMime}' END AS mime,
         |       CAST(geo.w AS INTEGER) AS width,
         |       CAST(geo.h AS INTEGER) AS height,
         |       b.dhash
         |FROM geo JOIN bits b USING (doc_id)
         |ORDER BY geo.doc_id""".stripMargin,

    // the pigeonhole pair join replayed over the contract-derived
    // dhashes (the shared [[dhashPairCtes]] chain; q225 composes the
    // same definition with the text pair graph)
    "q221_image_neardup_pairs" ->
      s"""$dhashPairCtes
         |SELECT doc_a, doc_b, hamming FROM vpairs
         |ORDER BY doc_a, doc_b""".stripMargin)

  /** [[dhashOracleCtes]] extended with the pigeonhole pair join —
    * `vpairs(doc_a, doc_b, hamming)`, ONE SQL definition of the visual
    * pair graph shared by q221's oracle and q225's cross-modal oracle:
    * >> is arithmetic in both engines and & 65535 masks the extension
    * away; bit_count/xor agree on two's-complement BIGINT.
    */
  private[graft] def dhashPairCtes: String =
    s"""$dhashOracleCtes, chunks AS MATERIALIZED (
       |  SELECT b.doc_id, b.dhash, c.chunk,
       |         (b.dhash >> (16 * c.chunk)) & 65535 AS cval
       |  FROM bits b, (SELECT unnest([0, 1, 2, 3]) AS chunk) c
       |), capped AS MATERIALIZED (
       |  SELECT doc_id, dhash, chunk, cval FROM chunks
       |  QUALIFY COUNT(*) OVER (PARTITION BY chunk, cval) <= $MaxChunkBucket
       |), vpairs AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
       |  FROM capped a JOIN capped b
       |    ON a.chunk = b.chunk AND a.cval = b.cval AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.dhash, b.dhash)) <= $HammingMax
       |)""".stripMargin
}
