package graft.operators

import graft.core.{GQuery, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis inventory over the `documents` table: the reference's
  * clean_text/decode kernels (SURVEY.md §2.3 F1–F7) plus the
  * training-data-pipeline extensions — token stats, quality scoring,
  * language guessing, fingerprinting, and binary-payload metadata.
  *
  * All kernels are pure column expressions (WholeStageCodegen-friendly,
  * no UDFs), so at 100 TB they run as a single scan + map stage with
  * no shuffle except the declared aggregations.
  */
object TextQueries {

  /** A deliberately messy wrapper so the oracle exercises every rule
    * (URL, mention, hashtag, punctuation, case, outer whitespace) even
    * though the synthetic corpus is pre-cleaned prose. */
  private def messy(c: org.apache.spark.sql.Column) =
    concat(lit("  #Tag @user http://x.com/a?b=1 "), c, lit(" READ!!\t"))

  private val messySqlPrefix = "'  #Tag @user http://x.com/a?b=1 '"
  private val messySqlSuffix = "' READ!!' || chr(9)"

  /** F1–F5 chain (reference src/utils.py:5-10). */
  def cleanTextQuery(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), cleanText(messy(col("text"))).as("clean"))
      .orderBy("doc_id")

  val cleanTextSql: String =
    s"""SELECT doc_id,
       |  ${sqlCleanText(s"$messySqlPrefix || text || $messySqlSuffix")} AS clean
       |FROM documents ORDER BY doc_id""".stripMargin

  /** F6: label decode (reference src/predict.py:84-92) over a
    * deterministic pseudo-prediction. */
  def sentimentDecode(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), (col("doc_id") % 3).as("pred"))
      .withColumn("sentiment", decodeSentiment(col("pred")))
      .orderBy("doc_id")

  val sentimentDecodeSql: String =
    """SELECT doc_id, doc_id % 3 AS pred,
      |  CASE WHEN doc_id % 3 = 1 THEN 'Positive sentiment'
      |       WHEN doc_id % 3 = 0 THEN 'Negative sentiment'
      |       ELSE 'Unknown sentiment' END AS sentiment
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Token counting: whitespace tokenization + char accounting. The
    * token count comes from the one-pass stats kernel (element 1), so
    * no token array is allocated just to be counted. */
  def tokenStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        element_at(tokenStats3(col("text")), 1).as("n_tokens"),
        length(col("text")).cast(LongType).as("len_chars"))
      .withColumn("chars_match", col("n_chars") === col("len_chars"))
      .orderBy("doc_id")

  val tokenStatsSql: String =
    s"""SELECT doc_id, n_chars, len(${sqlTokens("text")}) AS n_tokens,
       |  length(text) AS len_chars,
       |  n_chars = length(text) AS chars_match
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality scoring: stopword ratio, mean token length, bucketing —
    * the length/punct/stopword heuristics of a pretraining filter. */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    // ALL three stats in one byte-scan kernel (tokenStats3): the
    // r21 spelling tokenized once but then walked the token array
    // three more times, two of them through interpreted CodegenFallback
    // lambdas (filter/aggregate HOFs) — the last interpreted
    // expressions in a hot path. Two-level projection so the kernel
    // evaluates once (CollapseProject keeps non-cheap multiply-
    // referenced aliases).
    Tables.documents(s, d)
      .select(col("doc_id"), tokenStats3(col("text")).as("st"))
      .select(col("doc_id"),
        element_at(col("st"), 1).as("n_tokens"),
        element_at(col("st"), 2).as("n_stop"),
        element_at(col("st"), 3).as("char_sum"))
      .withColumn("stop_ratio", round(col("n_stop") / col("n_tokens"), 6))
      .withColumn("avg_token_len", round(col("char_sum") / col("n_tokens"), 6))
      .withColumn("quality",
        when(col("n_tokens") >= 40 && col("stop_ratio").between(0.03, 0.6), "good")
          .when(col("n_tokens") >= 15, "ok")
          .otherwise("low"))
      .orderBy("doc_id")
  }

  private val stopInSql =
    qualityStopwords.map(w => s"'$w'").mkString(", ")

  val qualityScoreSql: String =
    s"""SELECT doc_id, n_tokens, n_stop, char_sum,
       |  round(n_stop / n_tokens, 6) AS stop_ratio,
       |  round(char_sum / n_tokens, 6) AS avg_token_len,
       |  CASE WHEN n_tokens >= 40 AND round(n_stop / n_tokens, 6) BETWEEN 0.03 AND 0.6 THEN 'good'
       |       WHEN n_tokens >= 15 THEN 'ok'
       |       ELSE 'low' END AS quality
       |FROM (
       |  SELECT doc_id, len(t) AS n_tokens,
       |    len(list_filter(t, w -> w IN ($stopInSql))) AS n_stop,
       |    list_sum(list_transform(t, w -> length(w)))::BIGINT AS char_sum
       |  FROM (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents))
       |ORDER BY doc_id""".stripMargin

  /** Language guess via marker-word hit counts (n-gram heuristic
    * lang-ID — deterministic argmax with a fixed tie order). A hit is
    * a whole ASCII word, as RE2's ASCII \b reads the oracle's
    * `\b(w1|…)\b`: in "derédie", "der" and "die" both count. */
  def langGuess(s: SparkSession, d: String): DataFrame =
    // all four marker counts in ONE byte-scan pass (markerCounts).
    // Two-level projection so the kernel evaluates once.
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), markerCounts(col("text")).as("mc"))
      .select(col("doc_id"), col("lang"),
        element_at(col("mc"), 1).cast(LongType).as("en_n"),
        element_at(col("mc"), 2).cast(LongType).as("fr_n"),
        element_at(col("mc"), 3).cast(LongType).as("es_n"),
        element_at(col("mc"), 4).cast(LongType).as("de_n"))
      .withColumn("guess",
        when(col("en_n") >= greatest(col("fr_n"), col("es_n"), col("de_n")), "en")
          .when(col("fr_n") >= greatest(col("es_n"), col("de_n")), "fr")
          .when(col("es_n") >= col("de_n"), "es")
          .otherwise("de"))
      .withColumn("hit", col("guess") === col("lang"))
      .orderBy("doc_id")

  private def markerSql(markers: Seq[String]) =
    s"len(regexp_extract_all(text, '\\b(${markers.mkString("|")})\\b'))"

  private val guessSql =
    """CASE WHEN en_n >= greatest(fr_n, es_n, de_n) THEN 'en'
      |  WHEN fr_n >= greatest(es_n, de_n) THEN 'fr'
      |  WHEN es_n >= de_n THEN 'es' ELSE 'de' END""".stripMargin

  val langGuessSql: String =
    s"""SELECT doc_id, lang, en_n, fr_n, es_n, de_n,
       |  $guessSql AS guess, ($guessSql) = lang AS hit
       |FROM (
       |  SELECT doc_id, lang,
       |    ${markerSql(enMarkers)} AS en_n,
       |    ${markerSql(frMarkers)} AS fr_n,
       |    ${markerSql(esMarkers)} AS es_n,
       |    ${markerSql(deMarkers)} AS de_n
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Document fingerprint: md5 over the cleaned text (stable across
    * engines, unlike seeded murmur/xxhash). */
  def fingerprintQuery(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  val fingerprintSql: String =
    s"""SELECT doc_id, md5(${sqlCleanText("text")}) AS fp
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Multimodal plumbing: opaque binary payload column + typed
    * metadata. The corpus text stands in for a decoded asset; the
    * engine-relevant part — binary column, byte length, content hash —
    * is real. */
  def binaryMeta(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(col("doc_id"),
        length(col("payload")).cast(LongType).as("n_bytes"),
        md5(col("payload")).as("payload_md5"))
      .orderBy("doc_id")

  val binaryMetaSql: String =
    """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
      |  md5(text) AS payload_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  val all: Seq[GQuery] = Seq(
    GQuery("q20_clean_text", cleanTextQuery, Some(cleanTextSql)),
    GQuery("q21_sentiment_decode", sentimentDecode, Some(sentimentDecodeSql)),
    GQuery("q22_token_stats", tokenStats, Some(tokenStatsSql)),
    GQuery("q23_quality_score", qualityScore, Some(qualityScoreSql)),
    GQuery("q24_lang_guess", langGuess, Some(langGuessSql)),
    GQuery("q25_fingerprint", fingerprintQuery, Some(fingerprintSql)),
    GQuery("q26_binary_meta", binaryMeta, Some(binaryMetaSql)))
}
