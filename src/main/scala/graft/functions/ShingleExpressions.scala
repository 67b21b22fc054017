package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles over a token array, as one tight JVM loop,
  * called from generated code through a StaticInvoke
  * (`TextFunctions.wordShingles`). It gives the array of the
  * higher-order-function spelling (`when(size(t) >= n,
  * transform(sequence(…), i => concat_ws(" ", element_at×n)))`: same
  * strings and order, concat_ws null-skipping included, the empty array
  * for size < n and NULL input), whose interpreted lambda walk per
  * shingle `KernelLedger` times about 40× slower.
  */
object ShingleUtil {
  private val Sep = UTF8String.fromString(" ")
  private val Empty = new GenericArrayData(Array.empty[Any])

  def shingles(toks: ArrayData, n: Int): ArrayData = {
    if (toks == null) return Empty
    val m = toks.numElements()
    if (m < n) return Empty
    val out = new Array[Any](m - n + 1)
    var i = 0
    while (i <= m - n) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) {
        parts(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      // UTF8String.concatWs skips null inputs — concat_ws parity
      out(i) = UTF8String.concatWs(Sep, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}
