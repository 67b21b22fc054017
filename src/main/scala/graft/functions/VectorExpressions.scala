package graft.functions

import graft.ml.CodebookKMeans
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.unsafe.bitset.BitSetMethods

/** Vector kernels over array<double> values, called from generated code
  * through a StaticInvoke (`VectorFunctions.dot`).
  */
object VectorKernel {
  /** The dot product, run once per candidate PAIR in q35–q37: the
    * higher-order-function spelling (`aggregate(zip_with(a, b, _*_),
    * 0.0, _+_)`) is CodegenFallback, an interpreted Invoke per element,
    * and `KernelLedger` times it about 2.6× slower.
    *
    * The fold runs in index order with a plain `+=` on equal-length
    * inputs, exactly the arithmetic sequence of the HOF spelling, so
    * results match it bit-for-bit there (oracle parity keeps holding at
    * round(…, 4)). On UNEQUAL lengths (`zip_with` null-pads the short
    * side) or a NULL element, the HOF spelling's product and sum are
    * null, and so is this kernel's (boxed) result — a silent min-length
    * truncation or a NULL read as 0.0 would turn a malformed embedding
    * into a plausible number. */
  def dot(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements() || hasNull(x) || hasNull(y)) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  /** Whether an array holds a NULL element: one read per 64 elements of
    * an UnsafeArrayData, whose NULL bits follow its 8-byte element count. */
  def hasNull(x: ArrayData): Boolean = x match {
    case u: UnsafeArrayData =>
      BitSetMethods.anySet(u.getBaseObject, u.getBaseOffset + 8, (u.numElements() + 63) / 64)
    case _ => (0 until x.numElements()).exists(x.isNullAt)
  }
}

/** IVF codebook training and assignment, called from generated code
  * through a StaticInvoke (`IvfAssign.train` from
  * `VectorFunctions.ivfCodebook`, `IvfAssign.topBuckets` from
  * IvfTopBucketsExpr). A codebook is an array<array<double>> of k
  * unit-normalised centroids. q37 trains it in its own task, as a
  * projection of the one-row aggregate that keeps its bounded sample,
  * so assignment is a per-row map over a cross join with that row: no
  * argmax aggregate and no exchange of the corpus at any scale. Ranking
  * by dot(v, ĉ_j) equals ranking by cosine (the per-row |v| factor is a
  * positive constant across j).
  */
object IvfAssign {
  val CodebookType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)

  /** The codebook value of `centroids`, each re-normalised to unit
    * length (a zero centroid stays zero). */
  def codebook(centroids: Seq[Array[Double]]): ArrayData = {
    require(centroids.nonEmpty, "empty codebook")
    val dim = centroids.head.length
    new GenericArrayData(centroids.map { c =>
      require(c.length == dim, "ragged codebook")
      UnsafeArrayData.fromPrimitiveArray(CodebookKMeans.normalize(c))
    }.toArray[Any])
  }

  /** The codebook graft.ml.CodebookKMeans trains on `sample`, an
    * array<array<double>> of at least `k` vectors. */
  def train(sample: ArrayData, k: Int, iters: Int): ArrayData =
    codebook(CodebookKMeans.train(
      Array.tabulate(sample.numElements())(i => sample.getArray(i).toDoubleArray()), k, iters).toSeq)

  /** The ids of the `top` centroids of `code` nearest to `v`, ties to the
    * smaller id. The codebook is read in place; `v` is copied to a
    * primitive array once, so the k × dim loop reads only one operand
    * through ArrayData. A NULL vector, one holding a NULL element (which
    * `dot` reads as NULL), or one of another dimensionality, yields an
    * empty array, which overlaps no bucket list. The result is
    * never NULL, so the optimizer infers no NULL check that would
    * evaluate the kernel a second time. */
  def topBuckets(v: ArrayData, code: ArrayData, top: Int): ArrayData = {
    val k = code.numElements()
    require(top >= 1 && top <= k, s"top=$top outside 1..$k")
    if (v == null || code.getArray(0).numElements() != v.numElements() || VectorKernel.hasNull(v)) {
      return new GenericArrayData(Array.empty[Any])
    }
    val x = v.toDoubleArray()
    val sims = new Array[Double](k)
    var j = 0
    while (j < k) {
      val c = code.getArray(j)
      var s = 0.0
      var i = 0
      while (i < x.length) { s += x(i) * c.getDouble(i); i += 1 }
      sims(j) = s
      j += 1
    }
    val out = new Array[Long](top)
    val taken = new Array[Boolean](k)
    var t = 0
    while (t < top) {
      var best = -1
      var bs = 0.0
      var j2 = 0
      while (j2 < k) {
        if (!taken(j2) && (best < 0 || sims(j2) > bs)) { best = j2; bs = sims(j2) }
        j2 += 1
      }
      taken(best) = true
      out(t) = best.toLong
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
