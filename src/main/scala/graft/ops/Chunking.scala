package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** Sliding-window document chunking — the RAG / context-window prep
  * pass every retrieval and long-context training pipeline runs: split
  * each document into [[ChunkTokens]]-token windows advancing by
  * [[Stride]] (overlap = ChunkTokens − Stride keeps boundary sentences
  * intact in SOME chunk), dropping a degenerate tail shorter than
  * [[MinTail]] tokens — safe because the previous window's reach
  * (start − Stride + ChunkTokens = start + overlap ≥ n when the tail is
  * short) already covers it, so coverage of every token position is a
  * THEOREM, not a hope (pinned in the spec). Complements q70, which
  * packs whole documents into training windows; this SPLITS documents
  * into retrieval units.
  *
  * Reference scope: no reference twin; standard corpus-prep surface.
  *
  * Scale shape: pure narrow row expansion — token split, start
  * generation, and slicing all happen inside the row (sequence +
  * explode + slice, codegen'd); no join, no aggregate, and the only
  * exchange is the presentation sort. Output volume is
  * input × (1/Stride) tokens — the expansion a chunker is PAID to
  * produce. The oracle replays the start arithmetic and list slicing
  * verbatim.
  */
object Chunking extends graft.QueryModule {

  private[graft] val ChunkTokens = 32
  private[graft] val Stride = 24
  private[graft] val MinTail = 8

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q169_chunk_sliding" -> ((s, d) => {
      val t = tokens(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), t.as("t"), size(t).as("n"))
        // starts at 0, S, 2S, … strictly below n: ceil(n/S) of them
        .withColumn("i",
          explode(sequence(lit(0),
            expr(s"CAST((n + ${Stride - 1}) DIV $Stride AS INT)") - 1)))
        .filter(col("i") === 0 ||
          col("n") - col("i") * Stride >= MinTail)
        .select(col("doc_id"), col("i").as("chunk_id"),
          (col("i") * Stride).cast("long").as("start_tok"),
          least(lit(ChunkTokens), col("n") - col("i") * Stride)
            .cast("long").as("n_tok"),
          concat_ws(" ",
            slice(col("t"), col("i") * Stride + 1, lit(ChunkTokens)))
            .as("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    }))

  val oracleSql: Map[String, String] = Map(
    "q169_chunk_sliding" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
         |  FROM documents
         |), starts AS (
         |  SELECT doc_id, t, len(t) AS n,
         |         CAST(unnest(range(0, (len(t) + ${Stride - 1}) // $Stride)) AS INTEGER) AS i
         |  FROM d
         |)
         |SELECT doc_id, i AS chunk_id,
         |       CAST(i * $Stride AS BIGINT) AS start_tok,
         |       CAST(LEAST($ChunkTokens, n - i * $Stride) AS BIGINT) AS n_tok,
         |       array_to_string(t[i * $Stride + 1 : i * $Stride + $ChunkTokens], ' ') AS chunk_text
         |FROM starts
         |WHERE i = 0 OR n - i * $Stride >= $MinTail
         |ORDER BY doc_id, chunk_id""".stripMargin)
}
