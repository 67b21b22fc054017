package graft.operators

import graft.core.{GQuery, Tables}
import graft.core.QueryUtils.smallest
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Similarity search over the `embeddings` table (array<float>, 64-d).
  *
  * Scale posture:
  *  - brute-force top-k streams the candidate corpus once past one
  *    probe row holding the (small) query set — linear in corpus size,
  *    the correct baseline at any scale when the query set is small;
  *  - the IVF variant is the sub-linear path: one pass to assign each
  *    vector to its nearest centroids (a codebook trained in the
  *    query's own task), candidates are then restricted to the probed
  *    buckets — at 100 TB the bucket assignment becomes the
  *    partitioning key so probes touch only matching partitions;
  *  - near-dup pairs are blocked by `label` (any cheap blocking key)
  *    to avoid the quadratic cross join.
  *
  * Per-pair scoring is one dot (`VectorFunctions.dot`); vector
  * norms are computed once per ROW before any join, never per pair.
  * `dot/(nrm_a*nrm_b)` is arithmetically identical to the cosine the
  * oracle computes, so round(…,4) parity is unaffected, except that a
  * zero vector's cosine is NULL here and -1.0 in DuckDB (see `withNorm`).
  */
object Similarity {

  private val K = 5
  private val NQueries = 10

  /** q36's slice, vectors below this id: the exact oracle stays
    * constant-cost as sf grows. The filter and the oracle SQL read it. */
  private val MaxVecId = 2000L

  /** (vec_id, label, v, nrm): doubles + the per-row L2 norm, the shape
    * every similarity join here consumes. A zero norm is NULL, so a
    * zero vector's cosine is NULL rather than a 0/0 division. */
  private def withNorm(s: SparkSession, d: String): DataFrame = {
    val v = toDoubleArray(col("embedding"))
    Tables.embeddings(s, d).select(col("vec_id"), col("label"), v.as("v"),
      nullif(norm2(v), lit(0.0)).as("nrm"))
  }

  /** A query vector of `withNorm` as a probe struct (q_id, qv, qn). */
  private val probe = struct(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))

  /** `emb`'s candidates (c_id, cv, cn), each with the one-row `index`'s `keep`. */
  private def candidates(emb: DataFrame, index: DataFrame, keep: Column*): DataFrame =
    emb.filter(col("vec_id") >= NQueries).crossJoin(index)
      .select(Seq(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn")) ++ keep: _*)

  /** The K best of pair rows (q_id, qv, qn, c_id, cv, cn) per query by
    * cosine (sim desc, c_id), as (q_id, rank, c_id, sim) by query, rank. */
  private def topK(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
    pairs.select(col("q_id"), col("c_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4).as("sim"))
      .select(col("q_id"), row_number().over(w).cast(LongType).as("rank"), col("c_id"),
        col("sim"))
      .filter(col("rank") <= K)
      .orderBy("q_id", "rank")
  }

  /** Brute-force exact top-k cosine neighbors for a fixed query set.
    * The probe row, NQueries vectors (about 5 KB) at any corpus size, is
    * broadcast or pairs in the candidates' one task
    * (`SinglePartitionStages`), never a cartesian product across tasks. */
  def knnBruteForce(s: SparkSession, d: String): DataFrame = {
    val emb = withNorm(s, d)
    val probes = emb.filter(col("vec_id") < NQueries).agg(collect_list(probe).as("probes"))
    topK(candidates(emb, probes, inline(col("probes"))))
  }

  val knnBruteForceSql: String =
    s"""SELECT q_id, rank, c_id, sim FROM (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS sim,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) DESC,
       |      c.vec_id) AS rank
       |  FROM embeddings q CROSS JOIN embeddings c
       |  WHERE q.vec_id < $NQueries AND c.vec_id >= $NQueries)
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  /** Embedding-cosine near-duplicate pairs within the `MaxVecId`
    * slice, blocked by label to keep candidate generation
    * sub-quadratic. */
  def embeddingNearDup(s: SparkSession, d: String): DataFrame = {
    // no partitioning of our own: over one file both sides run in the
    // join's one task (SinglePartitionStages), a small side is broadcast,
    // and where Spark shuffles both sides on `label`, ReuseExchange gives
    // them one exchange, so the scan + cast + norm pipeline runs once
    val emb = withNorm(s, d).filter(col("vec_id") < MaxVecId)
    // the similarity threshold lives IN the join condition: evaluated
    // on the JoinedRow view, so rejected candidate pairs never copy
    // their two 64-dim vectors into an output row (the post-join
    // filter spelling materialized every blocked pair first —
    // measured 2× slower). Survivors recompute the same deterministic
    // dot in the projection; output identical.
    val sim = round(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 4)
    emb.as("a")
      .join(emb.as("b"), col("a.label") === col("b.label") &&
        col("a.vec_id") < col("b.vec_id") && sim >= 0.35)
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        col("a.label").as("label"), sim.as("sim"))
      .orderBy("a_id", "b_id")
  }

  val embeddingNearDupSql: String =
    s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label,
       |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
       |FROM embeddings a JOIN embeddings b
       |  ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE a.vec_id < $MaxVecId AND b.vec_id < $MaxVecId
       |  AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.35
       |ORDER BY a_id, b_id""".stripMargin

  private val CodebookK = 8
  private val CodebookSampleN = 512
  private val CodebookIters = 10
  private val IndexReplication = 2 // corpus vectors indexed in their top-2 buckets
  private val ProbeBuckets = 3     // queries probe their 3 nearest buckets

  /** The one-row IVF index over the `embeddings` table of `d`, an
    * aggregate that runs in the query's own task:
    *  - `sample`: the CodebookSampleN vectors smallest by
    *    (xxhash64(vec_id) mod 2²⁰, vec_id), as (h, vec_id, v) structs in
    *    that order. A seeded pseudo-random, scale-stable choice; a vector
    *    whose norm is NULL (a NULL or zero vector, or one holding a NULL
    *    element, under `dot`'s rule) is left out;
    *  - `code`: the codebook trained on the sample (deterministic
    *    spherical k-means, graft.ml.CodebookKMeans, through
    *    `IvfAssign.train`);
    *  - `probes`: the query vectors, as (q_id, qv, qn) structs. */
  private[graft] def ivfIndex(s: SparkSession, d: String): DataFrame = {
    val h = pmod(xxhash64(col("vec_id")), lit(1L << 20))
    withNorm(s, d).agg(
        smallest(when(col("nrm").isNotNull, struct(h.as("h"), col("vec_id"), col("v"))),
          CodebookSampleN).as("sample"),
        collect_list(when(col("vec_id") < NQueries, probe)).as("probes"))
      .select(col("sample"), ivfCodebook(col("sample.v"), CodebookK, CodebookIters).as("code"),
        col("probes"))
  }

  /** IVF-style approximate NN under the trained codebook.
    *
    * Plan shape: the index (`ivfIndex`) is one row, trained in the
    * query's own task; the probes take their ProbeBuckets nearest
    * buckets on that row. Each candidate is cross-joined to it and
    * takes its IndexReplication nearest buckets once, before the probes
    * are exploded, so bucket assignment is a per-row kernel: no argmax
    * aggregate and no exchange of the corpus at any scale. A
    * candidate pairs with a probe when their bucket lists overlap, so
    * each pair comes out once. On this isotropic fixture corpus
    * single-assignment 2-probe recall is bounded by the scanned
    * fraction, and multi-assignment buys the boundary-vector recall
    * back at a 2× index size, the standard IVF trade. No oracle —
    * approximate by construction; SimilaritySpec checks recall@K
    * against brute force, bucket balance and determinism on the
    * fixture. */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    val index = ivfIndex(s, d).select(col("code"),
      transform(col("probes"), p => struct(p("q_id"), p("qv"), p("qn"),
        ivfTopBuckets(p("qv"), col("code"), ProbeBuckets).as("qb"))).as("probes"))
    topK(candidates(withNorm(s, d), index,
        ivfTopBuckets(col("v"), col("code"), IndexReplication).as("cb"), col("probes"))
      .select(col("c_id"), col("cv"), col("cn"), col("cb"), inline(col("probes")))
      .filter(arrays_overlap(col("qb"), col("cb"))))
  }

  val all: Seq[GQuery] = Seq(
    GQuery("q35_knn_bruteforce", knnBruteForce, Some(knnBruteForceSql)),
    GQuery("q36_embedding_neardup", embeddingNearDup, Some(embeddingNearDupSql)),
    GQuery("q37_ann_ivf", annIvf, None))
}
