package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.CorpusPrep

/** q70–q72 corpus-preparation checks: the packing fold is differentially
  * tested against a serial driver-side replay (the distributed result
  * must equal the obvious sequential algorithm), and the PII/rarity
  * queries get constructed fixtures with hand-computed expectations.
  */
class CorpusPrepSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("q70: distributed next-fit equals the serial per-shard replay") {
    val got = CorpusPrep.packSequences(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // serial reference: per shard in doc_id order, same next-fit fold
    val expected = got.map { case (id, sh, _, tok) => (id, sh, tok) }
      .groupBy(_._2).toSeq.flatMap { case (sh, docs) =>
        var fill = Long.MaxValue; var bin = 0L
        docs.toSeq.sortBy(_._1).map { case (id, _, tok) =>
          if (fill > CorpusPrep.ContextTokens - tok) { bin += 1; fill = tok }
          else fill += tok
          (id, sh, bin, tok)
        }
      }.toSet
    assert(got.toSet == expected)
  }

  test("q70: packing invariants — fill bounded, bins contiguous, opened only on overflow") {
    val rows = CorpusPrep.packSequences(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byBin = rows.groupBy(r => (r._2, r._3))
    // every bin's total fits the context window
    byBin.foreach { case (k, docs) =>
      assert(docs.map(_._4).sum <= CorpusPrep.ContextTokens, s"bin $k overfilled")
    }
    rows.groupBy(_._2).foreach { case (sh, docs) =>
      val sorted = docs.sortBy(_._1)
      // bins are 1..max with no gaps, non-decreasing in doc order
      assert(sorted.head._3 == 1L)
      sorted.sliding(2).foreach {
        case Array((_, _, b1, _), (id2, _, b2, t2)) =>
          assert(b2 == b1 || b2 == b1 + 1, s"bin jump at doc $id2 in shard $sh")
          // next-fit: a new bin opens ONLY when the doc didn't fit
          if (b2 == b1 + 1) {
            val prevFill = sorted.filter(r => r._3 == b1).map(_._4).sum
            assert(prevFill + t2 > CorpusPrep.ContextTokens,
              s"doc $id2 opened bin $b2 but would have fit bin $b1 ($prevFill + $t2)")
          }
        case _ => ()
      }
    }
  }

  test("q70: a null n_chars packs as zero tokens instead of NPEing the fold") {
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-packnull")
    Seq((1L, "x", "en", "t", Option(100L)), (2L, "y", "en", "t", Option.empty[Long]))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusPrep.packSequences(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == Map(1L -> 25L, 2L -> 0L), s"got $got")
  }

  test("q71: scrub masks emails, IPv4s, and phones exactly") {
    val masked = Seq(
      "mail bob.smith+x@corp.example.org here",
      "node 192.168.0.17 and 10.0.3.77 up",
      "dial 555-013-0199 soon",
      "no pii at all",
      "v1.2 is not an ip and 12-34-5678 is not a phone")
      .toDF("t").select(CorpusPrep.scrub(col("t")).as("m"))
      .collect().map(_.getString(0))
    assert(masked(0) == "mail <EMAIL> here")
    assert(masked(1) == "node <IP> and <IP> up")
    assert(masked(2) == "dial <PHONE> soon")
    assert(masked(3) == "no pii at all")
    assert(masked(4) == "v1.2 is not an ip and 12-34-5678 is not a phone")
  }

  test("q71: registered query counts the injected PII per doc") {
    val got = SparkEntry.queries("q71_pii_scrub")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    got.foreach { case (id, (em, ip, ph)) =>
      assert(em == (if (id % 7 == 0) 1 else 0), s"doc $id emails")
      assert(ip == (if (id % 5 == 0) 1 else 0), s"doc $id ips")
      assert(ph == (if (id % 11 == 0) 1 else 0), s"doc $id phones")
    }
    // the corpus really exercises all three classes
    assert(got.values.map(_._1).sum > 0)
    assert(got.values.map(_._2).sum > 0)
    assert(got.values.map(_._3).sum > 0)
  }

  test("q76: hand-computed tf-idf ranks, ties break by term") {
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-tfidf")
    Seq(
      (1L, "apple apple banana", "en", "t", 18L),
      (2L, "banana cherry", "en", "t", 13L),
      (3L, "cherry cherry cherry durian", "en", "t", 27L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // N=3; df: apple 1, banana 2, cherry 2, durian 1
    val got = SparkEntry.queries("q76_tfidf_terms")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getString(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(got((1L, 1)) == (("apple", 2L, 1L, 6.0)))
    assert(got((1L, 2)) == (("banana", 1L, 2L, 1.5)))
    // doc 2: banana and cherry tie at 1.5 → term ascending
    assert(got((2L, 1)) == (("banana", 1L, 2L, 1.5)))
    assert(got((2L, 2)) == (("cherry", 1L, 2L, 1.5)))
    assert(got((3L, 1)) == (("cherry", 3L, 2L, 4.5)))
    assert(got((3L, 2)) == (("durian", 1L, 1L, 3.0)))
    assert(!got.contains((1L, 3)) && !got.contains((2L, 3)))
  }

  test("q72: corpus-frequency scores on a constructed corpus") {
    val dir = org.apache.spark.sql.graft.ColumnBridge.tempDir("graft-rarity")
    Seq(
      (1L, "a a b", "en", "t", 5L),
      (2L, "a c", "en", "t", 3L),
      (3L, "z z z z", "en", "t", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // corpus counts: a=3 b=1 c=1 z=4; rare = count <= 3 → a,b,c rare; z not
    val got = SparkEntry.queries("q72_token_rarity")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(got(1L) == ((3L, 1L, 7L, 7.0 / 3.0, 1.0)), s"got ${got(1L)}")
    assert(got(2L) == ((2L, 1L, 4L, 2.0, 1.0)), s"got ${got(2L)}")
    assert(got(3L) == ((4L, 4L, 16L, 4.0, 0.0)), s"got ${got(3L)}")
  }
}
