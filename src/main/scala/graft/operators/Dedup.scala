package graft.operators

import graft.core.{GQuery, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, MinHashSigExpr, SignatureUtil, SimHash64Expr}

/** Deduplication operators over `documents` — the exact and near-dup
  * families a pretraining-data pipeline runs at corpus scale.
  *
  * Scale posture:
  *  - exact/prefix dedup: one hash-shuffle on the content key; at
  *    100 TB this is the canonical "groupBy(sha) keep min(id)" job.
  *  - n-gram Jaccard: shingle-inverted-index self-join. The candidate
  *    generation is bounded per shingle; hot shingles are the skew risk,
  *    so the exact variant is run on a bounded slice and the scalable
  *    path is MinHash-LSH below (band-bucket join, no quadratic blowup).
  *  - MinHash-LSH: signatures are computed in one pass (explode →
  *    groupBy doc), candidates come from equality joins on band
  *    signatures — the standard sub-quadratic shape.
  *  - SimHash: one pass to 64-bit signatures; pairs via 8×8-bit band
  *    equality-joins + hamming filter — exact for hamming ≤ 6 by
  *    pigeonhole, never a nested-loop cartesian.
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
    * blocking key (a cheap URL/boilerplate-style dedup key). */
  def dedupPrefix(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        concat_ws(" ", slice(tokens(col("text")), 1, 5)).as("prefix_key"))
      .groupBy("prefix_key")
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_docs"))
      .orderBy("keeper")

  val dedupPrefixSql: String =
    """SELECT array_to_string(list_slice(
      |    regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'),
      |    1, 5), ' ') AS prefix_key,
      |  min(doc_id) AS keeper, count(*) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY keeper""".stripMargin

  /** Tokenized doc slice shared by the Jaccard paths: distinct word
    * 3-gram shingles per document. `maxDocId` bounds the slice so the
    * exact-quadratic oracle work stays constant as sf grows (the
    * scalable path is MinHash-LSH) — an oracle-harness knob supplied
    * at the call site, not part of the operator semantics. */
  private def withShingleArr(s: SparkSession, d: String,
                             maxDocId: Long): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < maxDocId)
      .select(col("doc_id"),
        array_distinct(wordShingles(tokens(col("text")), 3)).as("sh_arr"))

  /** Inverted-index rows carrying each doc's |shingle set| alongside
    * the exploded shingle — the count rides the index for 8 bytes/row,
    * so Jaccard's denominators need no second evaluation of the
    * scan → tokenize → shingle pipeline and no count-joins downstream.
    * Hash-partitioned on the shingle — the self-join's key — so BOTH
    * self-join sides hang off one exchange (ReuseExchange) instead of
    * the planner broadcasting one side and recomputing the pipeline
    * for it. Also the only shape that survives at corpus scale, where
    * the exploded index is corpus-sized and unbroadcastable
    * (hot-shingle skew is AQE's skew join's job). */
  private def shingledWithCount(s: SparkSession, d: String,
                                maxDocId: Long): DataFrame =
    withShingleArr(s, d, maxDocId)
      .select(col("doc_id"), size(col("sh_arr")).cast("long").as("n_sh"),
        explode(col("sh_arr")).as("shingle"))
      .repartition(col("shingle"))

  /** Exact n-gram Jaccard near-dup pairs via a shingle inverted index:
    * explode → self-equi-join on shingle → |∩| per pair → Jaccard.
    * Grouping by (a_id, b_id, a_n, b_n) equals grouping by (a_id,
    * b_id) — the counts are functions of the ids — which turns the
    * former two count-joins + counts aggregate into two extra group
    * columns (oracle hash green). */
  def ngramJaccardPairs(s: SparkSession, d: String,
                        maxDocId: Long = 1000L): DataFrame = {
    val sh = shingledWithCount(s, d, maxDocId)
    sh.as("a")
      .join(sh.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.n_sh").as("a_n"), col("b.n_sh").as("b_n"))
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("jaccard",
        round(col("n_inter") / (col("a_n") + col("b_n") - col("n_inter")), 6))
      .filter(col("jaccard") >= 0.5)
      .select("a_id", "b_id", "n_inter", "jaccard")
      .orderBy("a_id", "b_id")
  }

  val ngramJaccardPairsSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
      |  FROM documents WHERE doc_id < 1000),
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

  private val MinhashFuncs = SignatureUtil.MinhashFuncs
  private val Bands = 8
  private val RowsPerBand = MinhashFuncs / Bands

  /** Per-doc 32-slot MinHash signature, computed by the per-row
    * kernel (MinHashSigExpr → SignatureUtil.minhash: same murmur3
    * shingle hashes folded into [0, p), same affine (a_i·h + b_i) mod p
    * mins — DedupSpec proves equality with the aggregate spelling). The
    * signature stage is a pure scan → project: the aggregate spelling
    * paid an explode (a row per shingle) plus a doc-keyed exchange —
    * a corpus-wide shuffle at scale for what is a map. Docs with no
    * shingles are filtered, exactly as explode dropped them. */
  def minhashSignatures(s: SparkSession, d: String,
                        maxDocId: Long = 1000L): DataFrame = {
    val mhs = ColumnBridge.column(MinHashSigExpr(
      ColumnBridge.expression(col("sh_arr"))))
    withShingleArr(s, d, maxDocId)
      .filter(size(col("sh_arr")) > 0)
      // two-level projection: the kernel evaluates ONCE into "mhs"
      // (CollapseProject keeps non-cheap multiply-referenced aliases),
      // the mh_i slots are then plain array reads
      .select(col("doc_id"), mhs.as("mhs"))
      .select(col("doc_id") +: (0 until MinhashFuncs).map(i =>
        element_at(col("mhs"), i + 1).as(s"mh_$i")): _*)
  }

  /** LSH candidate pairs: band the signature (8 bands × 4 rows), bucket
    * docs by (band, band-hash), join within buckets, then verify with
    * exact Jaccard ≥ 0.5 so false positives are filtered.
    *
    * Scale shape: all 8 band keys come from ONE explode over the
    * signature frame (1 row/doc, tiny next to the corpus); the band
    * self-join's two sides are the identical subplan, so Spark's
    * ReuseExchange computes the shuffle once — no persist() needed, and
    * nothing leaks into the session cache across invocations
    * (persist-without-unpersist here previously accumulated a cached
    * copy per call). Verification joins only the surfaced candidates
    * back to their shingle sets — the exact-quadratic all-pairs set is
    * never materialized on this path. */
  def minhashLshPairs(s: SparkSession, d: String,
                      maxDocId: Long = 1000L): DataFrame = {
    val sig = minhashSignatures(s, d, maxDocId)
    val bandStructs = array((0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => col(s"mh_${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), hash(cols: _*).as("sig"))
    }: _*)
    // repartition on the join key so BOTH self-join sides hang off ONE
    // exchange (identical subplans → ReuseExchange): without it the
    // planner broadcasts one side and the whole signature pipeline
    // (scan → shingle → explode → 32-way min agg) is computed twice.
    // At corpus scale the banded table is corpus-sized, so the shuffle
    // join is also the only shape that survives.
    val bands = sig.select(col("doc_id"), explode(bandStructs).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
      .repartition(col("band"), col("sig"))
    val cand = bands.as("x")
      .join(bands.as("y"), col("x.band") === col("y.band") &&
        col("x.sig") === col("y.sig") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    // verify ONLY the candidates: join each side back to its shingle
    // set, count the intersection, and Jaccard-filter ≥ 0.5. No
    // broadcast hint on cand: AQE sees the candidate stage's real size
    // and broadcasts when it fits — an unconditional hint would OOM
    // the driver if candidates ever blow up at corpus scale.
    //
    // ONE doc_id-partitioned exchange feeds both verification joins:
    // HashPartitioning(doc_id) satisfies the a_id join outright and
    // the (b_id, shingle) join by subset, so the scan → tokenize →
    // shingle → explode pipeline runs once (ReuseExchange; r21
    // measured 0.73 → 0.54 s). Each index row carries its doc's
    // |shingle set| (8 bytes/row), so Jaccard's denominators are two
    // extra group columns — functions of (a_id, b_id), same groups —
    // instead of a counts aggregate plus two more joins (r22).
    val shD = withShingleArr(s, d, maxDocId)
      .select(col("doc_id"), size(col("sh_arr")).cast("long").as("n_sh"),
        explode(col("sh_arr")).as("shingle"))
      .repartition(col("doc_id"))
    cand
      .join(shD.select(col("doc_id").as("a_id"), col("n_sh").as("a_n"),
        col("shingle")), "a_id")
      .join(shD.select(col("doc_id").as("b_id"), col("n_sh").as("b_n"),
        col("shingle")), Seq("b_id", "shingle"))
      .groupBy("a_id", "b_id", "a_n", "b_n")
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("jaccard",
        round(col("n_inter") / (col("a_n") + col("b_n") - col("n_inter")), 6))
      .filter(col("jaccard") >= 0.5)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** SimHash: 64-bit signature — per-token xxhash64-derived bits,
    * summed ±1 per bit position, sign → bit — computed by the per-row
    * kernel (SimHash64Expr → SignatureUtil.simhash; DedupSpec proves
    * equality with the 64-conditional-sum aggregate spelling). Pure
    * scan → project: no explode, no doc-keyed exchange at any scale.
    * Docs with no tokens are filtered, exactly as explode dropped
    * them. */
  def simhashSignatures(s: SparkSession, d: String,
                        maxDocId: Long = 1000L): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < maxDocId)
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        ColumnBridge.column(SimHash64Expr(
          ColumnBridge.expression(col("toks")))).as("simhash"))

  private val SimhashBands = 8 // 8 bands × 8 bits

  /** SimHash near-dup pairs at hamming ≤ 6, via banding: split the 64
    * bits into 8×8-bit keys and equality-join on (band, key). Any pair
    * within hamming ≤ 7 differs in at most 7 bands, so by pigeonhole it
    * collides on at least one — the banded candidate set is EXACTLY the
    * cartesian hamming ≤ 6 pair set (DedupSpec proves equality), with
    * no BroadcastNestedLoopJoin anywhere in the plan. */
  def simhashPairs(s: SparkSession, d: String,
                   maxDocId: Long = 1000L): DataFrame = {
    val sig = simhashSignatures(s, d, maxDocId)
    val bandKeys = array((0 until SimhashBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * 8).bitwiseAND(0xFFL).as("key"))
    }: _*)
    // one reused exchange for both self-join sides — see minhashLshPairs
    val banded = sig.select(col("doc_id"), col("simhash"), explode(bandKeys).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band").as("band"), col("bk.key").as("key"))
      .repartition(col("band"), col("key"))
    banded.as("a")
      .join(banded.as("b"), col("a.band") === col("b.band") &&
        col("a.key") === col("b.key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= 6)
      .distinct()
      .orderBy("a_id", "b_id")
  }

  val all: Seq[GQuery] = Seq(
    GQuery("q30_dedup_exact", dedupExact, Some(dedupExactSql)),
    GQuery("q31_dedup_prefix", dedupPrefix, Some(dedupPrefixSql)),
    GQuery("q32_ngram_jaccard_pairs", (s, d) => ngramJaccardPairs(s, d), Some(ngramJaccardPairsSql)),
    GQuery("q33_minhash_lsh_pairs", (s, d) => minhashLshPairs(s, d), None),
    GQuery("q34_simhash_pairs", (s, d) => simhashPairs(s, d), None))
}
