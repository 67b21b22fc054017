package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, DotProductExpr}

/** Dense-vector math over Array[Float]/Array[Double] columns. The dot
  * product — the only per-element kernel — is a custom codegen'd
  * Catalyst expression (DotProductExpr); everything else composes it.
  * Element folds run in index order, which keeps double arithmetic
  * bit-deterministic across runs and engines.
  *
  * Join-side callers should pre-normalize (or pre-compute `norm2`)
  * once per ROW before the join so the per-PAIR work is a single dot:
  * see graft.operators.Similarity.
  */
object VectorFunctions {

  /** Cast an array<float> column to array<double> before arithmetic:
    * float accumulation is both lossy and engine-dependent. A direct
    * array cast (codegen'd, element-identical) — the transform() HOF
    * spelling is interpreted CodegenFallback. */
  def toDoubleArray(c: Column): Column = c.cast("array<double>")

  /** Codegen'd dot product (index-ordered fold, bit-deterministic). */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProductExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def norm2(a: Column): Column = sqrt(dot(a, a))
}
