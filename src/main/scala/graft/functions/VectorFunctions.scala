package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, IvfTopBucketsExpr}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

/** Dense-vector math over Array[Float]/Array[Double] columns. The dot
  * product (VectorKernel) and the IVF codebook kernels (IvfAssign) are
  * static methods that generated code calls through a StaticInvoke.
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
  def toDoubleArray(c: Column): Column = c.cast(ArrayType(DoubleType))

  /** Dot product (`VectorKernel.dot`: index-ordered fold,
    * bit-deterministic), NULL for unequal lengths or a NULL element. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(ColumnBridge.invoke(VectorKernel, "dot", DoubleType,
      Seq(ColumnBridge.expression(a), ColumnBridge.expression(b)),
      Seq(ArrayType(DoubleType), ArrayType(DoubleType)), returnNullable = true))

  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** The IVF codebook (k unit centroids, `IvfAssign.train`) trained on
    * `sample`, an array<array<double>> column of at least `k` vectors. */
  def ivfCodebook(sample: Column, k: Int, iters: Int): Column =
    ColumnBridge.column(ColumnBridge.invoke(IvfAssign, "train", IvfAssign.CodebookType,
      Seq(ColumnBridge.expression(sample), Literal(k), Literal(iters)),
      Seq(ArrayType(ArrayType(DoubleType)), IntegerType, IntegerType)))

  /** The ids of the `top` centroids of the `code` codebook nearest to
    * `v` by cosine, ties to the smaller id. */
  def ivfTopBuckets(v: Column, code: Column, top: Int): Column =
    ColumnBridge.column(IvfTopBucketsExpr(ColumnBridge.expression(v),
      ColumnBridge.expression(code), top))
}
