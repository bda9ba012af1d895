package graft

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
import graft.expressions.{CosineSimilarity, DotProduct, GramHashes, NfcNormalize, SimHash, ZOrder16}

/** The engine's native expressions as SQL functions:
  *
  * {{{
  * GraftExtensions.register(spark)
  * spark.sql("SELECT cosine_similarity(a.embedding, b.embedding) ...")
  * }}}
  */
object GraftExtensions {
  // SQL callers get float/int arrays coerced to array<double> for free
  private def asVec(e: Expression): Expression = e.dataType match {
    case ArrayType(DoubleType, _) => e
    case _ => Cast(e, ArrayType(DoubleType))
  }

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity" -> (args => CosineSimilarity(asVec(args(0)), asVec(args(1)))),
    "dot_product" -> (args => DotProduct(asVec(args(0)), asVec(args(1)))),
    "simhash64" -> (args => SimHash(args.head)),
    "nfc_normalize" -> (args => NfcNormalize(args.head)),
    "gram_hashes" -> (args => GramHashes(args.head)),
    "zorder16" -> (args => ZOrder16(
      Cast(args(0), LongType), Cast(args(1), LongType))))

  /** Register the six functions on a running session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
