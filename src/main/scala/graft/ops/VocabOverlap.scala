package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.tokens

/** Source vocabulary-overlap matrix — exact Jaccard between the word-
  * TYPE sets of every source pair: the lexical-register companion to
  * q145 (which catches sources sharing near-duplicate DOCUMENTS, i.e.
  * mirrors and scrapes; two sources can share zero documents yet
  * write in the same vocabulary, or mirror each other's docs while
  * one is a tiny subset of the other's register) and to q182 (the
  * same question in embedding space). A mixing design reads the
  * triangle to see which "distinct" sources are really one register
  * counted twice.
  *
  * Determinism: pure set counts and one nonnegative ppm integer
  * division (DIV ≡ //); membership runs on md5 word digests — the
  * q66 convention, no text in any exchange.
  *
  * Scale shape: one (source, digest) DISTINCT pass (the q188 type
  * shuffle, map-side combined), checkpointed because the matrix
  * self-joins it; the digest equi-join fans out ≤ |sources| rows per
  * key (the q180 bound) and collapses to a |sources|²-key aggregate;
  * per-source type counts ride the same frame. Nothing after the
  * distinct scales with documents.
  */
object VocabOverlap extends graft.QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q195_source_vocab_overlap" -> ((s, d) => {
      val sv = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .select(col("source"), md5(col("w").cast("binary")).as("g"))
        .distinct()
        .localCheckpoint()
      val sizes = sv.groupBy("source").agg(count(lit(1)).as("n_types"))
      val inter = sv.as("a")
        .join(sv.as("b"), col("a.g") === col("b.g") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_lo"), col("b.source").as("src_hi"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.select(col("source").as("src_lo"), col("n_types").as("types_lo")), Seq("src_lo"))
        .join(sizes.select(col("source").as("src_hi"), col("n_types").as("types_hi")), Seq("src_hi"))
        .select(col("src_lo"), col("src_hi"), col("types_lo"), col("types_hi"),
          col("inter"),
          expr("inter * 1000000 DIV (types_lo + types_hi - inter)").as("jaccard_ppm"))
        .orderBy("src_lo", "src_hi")
    }))

  val oracleSql: Map[String, String] = Map(
    "q195_source_vocab_overlap" ->
      """WITH sv AS MATERIALIZED (
        |  SELECT DISTINCT source, md5(w) AS g
        |  FROM (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS w
        |        FROM documents)
        |), sizes AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types FROM sv GROUP BY source
        |), inter AS (
        |  SELECT a.source AS src_lo, b.source AS src_hi,
        |         CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM sv a JOIN sv b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT src_lo, src_hi, lo.n_types AS types_lo, hi.n_types AS types_hi,
        |       inter, inter * 1000000 // (lo.n_types + hi.n_types - inter) AS jaccard_ppm
        |FROM inter
        |JOIN sizes lo ON lo.source = src_lo
        |JOIN sizes hi ON hi.source = src_hi
        |ORDER BY src_lo, src_hi""".stripMargin)
}
