package org.apache.spark.sql.graftbridge

import graft.functions.{IvfAssign, SignatureUtil}
import org.apache.spark.sql.{classic, Column}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}

/** Classic-mode Column ⇄ Expression conversion. Spark 4 wraps columns
  * in ColumnNode (Connect-compatible) and gates the Expression view
  * behind private[sql] ExpressionUtils; this package-nested forwarder
  * is the engine's one hatch into Spark's private API. The kernels it
  * calls live in `graft.functions`.
  */
object ColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `obj.method(args)` as a Catalyst expression: Spark's StaticInvoke
    * of the static forwarder that Scala emits for a method of the
    * object `obj`, compiled into generated code as a direct call. A
    * NULL argument gives NULL, unless `propagateNull` is off and the
    * method takes NULL itself. A kernel returns NULL only with
    * `returnNullable`, through a boxed result (`java.lang.Double` for
    * a double); without it the result is read as never NULL. The
    * analyzer casts an argument to its `inputTypes` entry, or rejects
    * it. */
  def invoke(obj: AnyRef, method: String, dataType: DataType, args: Seq[Expression],
      inputTypes: Seq[AbstractDataType], propagateNull: Boolean = true,
      returnNullable: Boolean = false): Expression =
    StaticInvoke(obj.getClass, dataType, method, args, inputTypes, propagateNull, returnNullable)
}

/** array<string> shingles → array<long>(32) MinHash signature
  * (SignatureUtil.minhash). */
object MinHashSigExpr {
  def apply(child: Expression): Expression =
    ColumnBridge.invoke(SignatureUtil, "minhash", ArrayType(LongType, containsNull = false),
      Seq(child), Seq(ArrayType(StringType)))
}

/** array<string> tokens → 64-bit SimHash signature (SignatureUtil.simhash). */
object SimHash64Expr {
  def apply(child: Expression): Expression =
    ColumnBridge.invoke(SignatureUtil, "simhash", LongType, Seq(child), Seq(ArrayType(StringType)))
}

/** array<double> → array<long>: the vector's `top` nearest codebook
  * centroid ids (IvfAssign.topBuckets), against a codebook column or
  * a literal one. */
object IvfTopBucketsExpr {
  def apply(child: Expression, codebook: Expression, top: Int): Expression =
    ColumnBridge.invoke(IvfAssign, "topBuckets", ArrayType(LongType, containsNull = false),
      Seq(child, codebook, Literal(top)),
      Seq(ArrayType(DoubleType), IvfAssign.CodebookType, IntegerType), propagateNull = false)

  def apply(child: Expression, centroids: Seq[Seq[Double]], top: Int): Expression =
    apply(child, Literal(IvfAssign.codebook(centroids.map(_.toArray)), IvfAssign.CodebookType), top)
}
