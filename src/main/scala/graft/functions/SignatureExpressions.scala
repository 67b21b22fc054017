package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Murmur3HashFunction, UnsafeArrayData, XxHash64Function}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StringType

/** Per-document signature kernels for the near-dup operators.
  *
  * Both MinHash and SimHash signatures are pure functions of one
  * document's token/shingle array, yet the aggregate spelling
  * (explode → groupBy(doc_id) → 32 min / 64 conditional-sum slots)
  * materializes a row per token, hashes it through the aggregate map,
  * and pays a doc-keyed exchange — a corpus-wide shuffle at scale for
  * what is semantically a map. These kernels compute the identical
  * signature in one loop per row, called from generated code through
  * a StaticInvoke (MinHashSigExpr, SimHash64Expr in ColumnBridge.scala),
  * so the signature stage becomes scan → project with NO shuffle at any
  * scale.
  *
  * Hash parity: the per-element hashes call the same
  * Murmur3HashFunction / XxHash64Function entry points (seed 42) that
  * Spark's hash()/xxhash64() use for UTF8String, and a null element
  * contributes the seed itself — exactly the fold-keeps-seed semantics
  * of the built-in hash expressions. Equality with the aggregate
  * spelling is property-proven in DedupSpec over the corpus.
  */
object SignatureUtil {
  // ---- MinHash (32 funcs = 8 bands × 4 rows), parameters unchanged
  // from the aggregate spelling they replace ----
  val MinhashFuncs = 32
  val Prime = 2147483647L // 2^31 - 1
  val As: Array[Long] =
    (0 until MinhashFuncs).map(i => (i * 2654435761L + 1013904223L) % (Prime - 1) + 1).toArray
  val Bs: Array[Long] =
    (0 until MinhashFuncs).map(i => (i * 805306457L + 784388323L) % Prime).toArray

  private def pmod(x: Long, p: Long): Long = { val m = x % p; if (m < 0) m + p else m }

  /** hash(shingle) (murmur3, seed 42, int result) folded into [0, p) —
    * identical to pmod(hash(col).cast(long), p). Null element → seed. */
  private def shingleHash(arr: ArrayData, i: Int): Long = {
    val h: Int =
      if (arr.isNullAt(i)) 42
      else Murmur3HashFunction.hash(arr.getUTF8String(i), StringType, 42L).toInt
    pmod(h.toLong, Prime)
  }

  /** 32-slot MinHash signature: mh_i = min over shingles of
    * pmod(a_i*h + b_i, p). Caller guarantees >= 1 element (docs with
    * empty shingle sets are filtered, matching explode semantics). */
  def minhash(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val sig = Array.fill(MinhashFuncs)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = shingleHash(arr, j)
      var i = 0
      while (i < MinhashFuncs) {
        val v = (As(i) * h + Bs(i)) % Prime // operands < 2^31 → no overflow
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** 64-bit SimHash: per token h = xxhash64(tok, seed 42) (null → 42),
    * bit i of the signature set iff sum over tokens of ±1 on bit i is
    * > 0 — identical to the 64-conditional-sum aggregate spelling. */
  def simhash(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var j = 0
    while (j < n) {
      val h: Long =
        if (arr.isNullAt(j)) 42L
        else XxHash64Function.hash(arr.getUTF8String(j), StringType, 42L)
      var i = 0
      while (i < 64) {
        counts(i) += (((h >>> i) & 1L).toInt << 1) - 1 // +1 if bit set else -1
        i += 1
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (counts(i) > 0) sig |= (1L << i)
      i += 1
    }
    sig
  }
}
