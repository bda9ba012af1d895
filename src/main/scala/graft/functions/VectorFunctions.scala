package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType` embedding columns. The hot-path entry
  * points (`dot`, `cosine`) are backed by native codegen'd Catalyst
  * expressions (graft.expressions.VectorExpressions) — one fused pass,
  * no per-row allocation. The `*Hof` variants keep the pure
  * higher-order-function formulation for cross-checking in tests.
  *
  * Callers should cast `array<float>` columns to `array<double>` first
  * (`c.cast("array<double>")`) so accumulation happens in double and
  * matches the DuckDB oracle's `CAST(x AS DOUBLE[])` exactly.
  */
object VectorFunctions {
  import graft.expressions.{CosineSimilarity, DotProduct}

  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  /** Σ aᵢ·bᵢ — fused native expression, left-to-right accumulation. */
  def dot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  /** Cosine similarity dot/(‖a‖·‖b‖), null on zero norm — fused native
    * expression.
    */
  def cosine(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))

  /** HOF reference implementations (interpreted; for differential tests). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def cosineHof(a: Column, b: Column): Column = {
    val denom = sqrt(dotHof(a, a)) * sqrt(dotHof(b, b))
    when(denom === 0, lit(null)).otherwise(dotHof(a, b) / denom)
  }

}
