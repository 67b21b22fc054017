package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{AbstractDataType, DataType}

/** Classic-mode Column ⇄ Expression conversion. Spark 4 wraps columns
  * in ColumnNode (Connect-compatible) and gates the Expression view
  * behind private[sql] ExpressionUtils; this package-nested forwarder
  * is the minimal hatch custom Catalyst expressions need.
  */
object ColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `obj.method(args)` as a Catalyst expression: Spark's StaticInvoke
    * of the static forwarder that Scala emits for a method of the
    * object `obj`, compiled into generated code as a direct call. The
    * kernels never return NULL. A NULL argument gives NULL, unless
    * `propagateNull` is off and the method takes NULL itself. The
    * analyzer casts an argument to its `inputTypes` entry, or rejects
    * it. */
  def invoke(obj: AnyRef, method: String, dataType: DataType, args: Seq[Expression],
      inputTypes: Seq[AbstractDataType], propagateNull: Boolean = true): Expression =
    StaticInvoke(obj.getClass, dataType, method, args, inputTypes, propagateNull,
      returnNullable = false)
}
