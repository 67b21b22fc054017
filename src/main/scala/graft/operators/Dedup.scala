package graft.operators

import graft.core.{GQuery, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the exact and near-dup
  * families a pretraining-data pipeline runs at corpus scale.
  *
  * Scale posture:
  *  - exact/prefix dedup: one hash-shuffle on the content key; at
  *    100 TB this is the canonical "groupBy(sha) keep min(id)" job.
  *  - near-dup pairs (q32–q34): each document is keyed into buckets
  *    (its shingles for n-gram Jaccard, its (band, key) signature bands
  *    for MinHash-LSH and SimHash), and one aggregate collects every
  *    bucket's documents, which two explodes pair up (`bucketPairs`):
  *    the standard LSH shape, a hash shuffle on the bucket key, with no
  *    self-join and no nested-loop cartesian. Hot buckets are the skew
  *    risk, so the near-dup queries run on a bounded slice
  *    (`MaxDocId`) at every scale; a slice that fits one partition runs
  *    as one task under `SinglePartitionStages`.
  *  - MinHash-LSH and SimHash sign each document in one scan → project
  *    pass; a candidate pair is verified from what its bucket carried
  *    (shingle sets, signatures), so `documents` is scanned once.
  */
object Dedup {

  /** Exact dedup: content-hash groupBy, keep the smallest doc_id.
    * (Groups are ~all singletons on the synthetic corpus; semantics —
    * one survivor per distinct content — are what's exercised.) */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy("keeper")

  val dedupExactSql: String =
    """SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keeper""".stripMargin

  /** Prefix-key near-dedup: normalize, take the first 5 tokens as the
    * blocking key (a cheap URL/boilerplate-style dedup key). NULL text
    * has a NULL key, a group of its own, as in the oracle SQL. */
  def dedupPrefix(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        array_join(slice(tokens(col("text")), 1, 5), " ").as("prefix_key"))
      .groupBy("prefix_key")
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_docs"))
      .orderBy("keeper")

  val dedupPrefixSql: String =
    s"""SELECT array_to_string(list_slice(${sqlTokens("text")}, 1, 5), ' ') AS prefix_key,
       |  min(doc_id) AS keeper, count(*) AS n_docs
       |FROM documents GROUP BY 1 ORDER BY keeper""".stripMargin

  /** q32–q34's slice, documents below this id: the exact-quadratic
    * oracle work stays constant as sf grows (the scalable path is
    * MinHash-LSH). The filter and the oracle SQL read it. */
  private[graft] val MaxDocId = 1000L

  /** Tokenized doc slice shared by the Jaccard paths: distinct word
    * 3-gram shingles per document. */
  private def withShingleArr(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < MaxDocId)
      .select(col("doc_id"),
        array_distinct(wordShingles(tokens(col("text")), 3)).as("sh_arr"))

  /** Pairs of documents that share a bucket, as struct columns `a` and
    * `b` of `doc_id` and the `carry` columns, a.doc_id < b.doc_id, one
    * row per pair and shared bucket. `buckets` is each document's array
    * of distinct bucket keys. One aggregate collects each bucket's
    * documents and two explodes of that list pair them, with no
    * self-join: a single-input aggregate, which `SinglePartitionStages`
    * runs in one task when its input fits one partition, and otherwise
    * a hash shuffle on the bucket key. A bucket of k documents yields k²
    * rows before the filter, as a self-join would. */
  private def bucketPairs(docs: DataFrame, buckets: Column, carry: String*): DataFrame = {
    val kept = ("doc_id" +: carry).map(col)
    docs.select(kept :+ explode(buckets).as("bucket"): _*)
      .groupBy("bucket")
      .agg(collect_list(struct(kept: _*)).as("ds"))
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
  }

  /** Pairs with Jaccard ≥ 0.5, as `cols` ordered by pair, from rows
    * (a_id, b_id, a_n, b_n, n_inter): a pair, both shingle-set sizes and
    * the size of their intersection. */
  private def jaccardPairs(pairs: DataFrame, cols: String*): DataFrame =
    pairs
      .withColumn("jaccard",
        round(col("n_inter") / (col("a_n") + col("b_n") - col("n_inter")), 6))
      .filter(col("jaccard") >= 0.5)
      .select(cols.map(col): _*)
      .orderBy("a_id", "b_id")

  /** Exact n-gram Jaccard near-dup pairs: every shingle is a bucket, so
    * a pair's rows from `bucketPairs` are its shared shingles; |∩| is
    * their count. Each doc's |shingle set| rides the bucket, so the
    * Jaccard denominators need no second pass and no count-joins (the
    * sizes are functions of the ids, so grouping by them keeps the
    * groups). */
  def ngramJaccardPairs(s: SparkSession, d: String): DataFrame = {
    val docs = withShingleArr(s, d).withColumn("n_sh", size(col("sh_arr")))
    jaccardPairs(bucketPairs(docs, col("sh_arr"), "n_sh")
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.n_sh").as("a_n"), col("b.n_sh").as("b_n"))
      .agg(count(lit(1)).as("n_inter")),
      "a_id", "b_id", "n_inter", "jaccard")
  }

  val ngramJaccardPairsSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${sqlTokens("text")} AS t
       |  FROM documents WHERE doc_id < $MaxDocId),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(t) - 2),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
       |  FROM toks),
       |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id, n_inter,
       |  round(n_inter / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
       |FROM inter
       |  JOIN cnt ca ON ca.doc_id = a_id
       |  JOIN cnt cb ON cb.doc_id = b_id
       |WHERE round(n_inter / (ca.n_sh + cb.n_sh - n_inter), 6) >= 0.5
       |ORDER BY a_id, b_id""".stripMargin

  // ---- MinHash-LSH (no SQL oracle: seeded murmur3 signatures are
  // engine-specific; the driver records a rows-only check and
  // DedupSpec validates the pair set against exact Jaccard). ----

  private val Bands = 8
  private val RowsPerBand = minhashSlots / Bands

  /** The slice's documents with at least one shingle, as (doc_id,
    * sh_arr, mhs): `mhs` is the 32-slot MinHash signature, computed by
    * the per-row kernel (`minhashSignature`: same
    * murmur3 shingle hashes folded into [0, p), same affine
    * (a_i·h + b_i) mod p mins — DedupSpec proves equality with the
    * aggregate spelling). A pure scan → project, with no explode and no
    * doc-keyed exchange. Docs with no shingles are filtered, exactly as
    * explode dropped them. Projected on its own, so the kernel evaluates
    * ONCE per doc (CollapseProject keeps non-cheap multiply-referenced
    * aliases) and its slots are then plain array reads. */
  private[graft] def withMinhash(s: SparkSession, d: String): DataFrame =
    withShingleArr(s, d)
      .filter(size(col("sh_arr")) > 0)
      .withColumn("mhs", minhashSignature(col("sh_arr")))

  /** LSH pairs: band the signature (8 bands × 4 rows), bucket docs by
    * (band, band-hash), pair within buckets, then verify with exact
    * Jaccard ≥ 0.5 so false positives are filtered. Each doc's shingle
    * set rides its buckets, so a candidate's |∩| is
    * `size(array_intersect)` of the two (both are distinct already):
    * no second shingle pass and no join back to the documents. A pair
    * that collides in several bands is verified once per band, then
    * deduplicated. */
  def minhashLshPairs(s: SparkSession, d: String): DataFrame = {
    val bandKeys = array((0 until Bands).map { b =>
      val slots = (0 until RowsPerBand).map(r => element_at(col("mhs"), b * RowsPerBand + r + 1))
      struct(lit(b).as("band"), hash(slots: _*).as("key"))
    }: _*)
    jaccardPairs(bucketPairs(withMinhash(s, d), bandKeys, "sh_arr")
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        size(col("a.sh_arr")).as("a_n"), size(col("b.sh_arr")).as("b_n"),
        size(array_intersect(col("a.sh_arr"), col("b.sh_arr"))).as("n_inter"))
      .distinct(),
      "a_id", "b_id", "jaccard")
  }

  /** SimHash: 64-bit signature — per-token xxhash64-derived bits,
    * summed ±1 per bit position, sign → bit — computed by the per-row
    * kernel (`simhashSignature`; DedupSpec proves
    * equality with the 64-conditional-sum aggregate spelling). Pure
    * scan → project: no explode, no doc-keyed exchange at any scale.
    * Docs with no non-empty token (NULL or whitespace-only text) are
    * not signed, as q32 and q33 drop docs with no shingle. */
  def simhashSignatures(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < MaxDocId)
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      .filter(size(array_remove(col("toks"), "")) > 0)
      .select(col("doc_id"),
        simhashSignature(col("toks")).as("simhash"))

  private val SimhashBands = 8 // 8 bands × 8 bits

  /** SimHash near-dup pairs at hamming ≤ 6, via banding: split the 64
    * bits into 8×8-bit (band, key) buckets. Any pair within hamming ≤ 7
    * differs in at most 7 bands, so by pigeonhole it shares at least
    * one bucket — the banded candidate set is EXACTLY the cartesian
    * hamming ≤ 6 pair set (DedupSpec proves equality), with no
    * nested-loop join anywhere in the plan. */
  def simhashPairs(s: SparkSession, d: String): DataFrame = {
    val bandKeys = array((0 until SimhashBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * 8).bitwiseAND(0xFFL).as("key"))
    }: _*)
    bucketPairs(simhashSignatures(s, d), bandKeys, "simhash")
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= 6)
      .distinct()
      .orderBy("a_id", "b_id")
  }

  val all: Seq[GQuery] = Seq(
    GQuery("q30_dedup_exact", dedupExact, Some(dedupExactSql)),
    GQuery("q31_dedup_prefix", dedupPrefix, Some(dedupPrefixSql)),
    GQuery("q32_ngram_jaccard_pairs", ngramJaccardPairs, Some(ngramJaccardPairsSql)),
    GQuery("q33_minhash_lsh_pairs", minhashLshPairs, None),
    GQuery("q34_simhash_pairs", simhashPairs, None))
}
