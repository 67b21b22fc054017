package graft.ml

/** Deterministic spherical k-means for the IVF codebook (q37).
  *
  * Replaces the `vec_id < 8` placeholder codebook (VERDICT r21 item 1:
  * arbitrary centroids give no bucket-balance or pruning guarantee at
  * corpus scale). Runs inside the query's own task, on the bounded
  * sample that the query's one-row aggregate keeps
  * (`IvfAssign.train`): no build-time Spark job, and the corpus itself
  * is never shuffled for training.
  *
  * Everything is deterministic with no RNG: farthest-point ("maxmin")
  * initialization from the hash-ordered sample, argmax-cosine
  * assignment with smallest-index tie-breaks, and index-ordered double
  * folds — so the codebook (and therefore q37's output) is identical
  * across runs, partitionings and JVMs.
  */
object CodebookKMeans {

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** `x` scaled to unit length; all zeros when its norm is not > 0. */
  private[graft] def normalize(x: Array[Double]): Array[Double] = {
    val n = math.sqrt(dot(x, x))
    val out = new Array[Double](x.length)
    if (n > 0.0) {
      var i = 0
      while (i < x.length) { out(i) = x(i) / n; i += 1 }
    }
    out
  }

  /** Spherical k-means (cosine assignment, normalized mean update).
    * `sample` must hold at least k vectors of equal dimension; returns
    * k unit-norm centroids. */
  def train(sample: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    require(sample.length >= k, s"sample ${sample.length} < k=$k")
    val xs = sample.map(normalize)
    val n = xs.length
    val dim = xs(0).length

    // farthest-point init: start from the first (hash-ordered) sample
    // vector, then repeatedly add the vector least similar to its
    // nearest chosen centroid (ties -> smallest index).
    val cents = new Array[Array[Double]](k)
    cents(0) = xs(0)
    val bestSim = Array.fill(n)(-2.0)
    var c = 0
    while (c < k - 1) {
      var i = 0
      while (i < n) {
        val s = dot(xs(i), cents(c))
        if (s > bestSim(i)) bestSim(i) = s
        i += 1
      }
      var far = 0
      i = 1
      while (i < n) { if (bestSim(i) < bestSim(far)) far = i; i += 1 }
      cents(c + 1) = xs(far)
      c += 1
    }

    // Lloyd iterations
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      var i = 0
      while (i < n) {
        var best = 0
        var bs = dot(xs(i), cents(0))
        var j = 1
        while (j < k) {
          val s = dot(xs(i), cents(j))
          if (s > bs) { bs = s; best = j }
          j += 1
        }
        assign(i) = best
        bestSim(i) = bs
        val acc = sums(best)
        var t = 0
        while (t < dim) { acc(t) += xs(i)(t); t += 1 }
        counts(best) += 1
        i += 1
      }
      var j = 0
      while (j < k) {
        if (counts(j) > 0 && dot(sums(j), sums(j)) > 1e-24) {
          cents(j) = normalize(sums(j))
        } else {
          // empty cluster: re-seed deterministically to the sample
          // vector farthest from its current centroid
          var far = 0
          var i2 = 1
          while (i2 < n) { if (bestSim(i2) < bestSim(far)) far = i2; i2 += 1 }
          cents(j) = xs(far)
          bestSim(far) = 2.0 // don't pick the same point for another empty cluster
        }
        j += 1
      }
      it += 1
    }
    cents
  }
}
