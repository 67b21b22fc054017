package graft

import scala.jdk.CollectionConverters._
import graft.core.Tables
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** q30–q34 on hostile `documents` tables written to a temp dir with the
  * declared schema: an empty table, NULL and whitespace-only text,
  * documents shorter than the 3-token shingle, and one 5-token text
  * three times, the third copy at `Dedup.MaxDocId`, just outside the
  * near-dup slice. Tiny files always pass `SinglePartitionStages`' size
  * gate, so nothing here asserts plan shape.
  */
class DedupHostileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Dup = "the same five token text"
  private val docs: Seq[(Long, String)] = Seq(
    1L -> null, 2L -> " \t\n ", 3L -> "solo", 4L -> "two words",
    5L -> Dup, 6L -> Dup, Dedup.MaxDocId -> Dup)

  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q30" -> Dedup.dedupExact, "q31" -> Dedup.dedupPrefix, "q32" -> Dedup.ngramJaccardPairs,
    "q33" -> Dedup.minhashLshPairs, "q34" -> Dedup.simhashPairs,
    "q34 signed docs" -> ((s, d) => Dedup.simhashSignatures(s, d).select("doc_id").orderBy("doc_id")))

  /** Each query's rows on a `documents` table holding `rows`. */
  private def run(rows: Seq[(Long, String)]): Map[String, Seq[Row]] =
    TestSpark.withTempDir { dir =>
      val schema = Tables.documents(spark, TestSpark.sfDir).schema
      spark.createDataFrame(rows.map { case (id, text) =>
        Row(id, text, "en", "web", Option(text).map(_.length.toLong).orNull)
      }.asJava, schema).coalesce(1).write.parquet(s"$dir/documents.parquet")
      queries.map { case (name, q) => name -> q(spark, dir).collect().toSeq }.toMap
    }

  private lazy val out = run(docs)

  private def pairIds(name: String): Seq[(Long, Long)] =
    out(name).map(r => (r.getLong(0), r.getLong(1)))

  test("every dedup query runs on an empty table and returns no rows") {
    assert(run(Nil) === queries.map { case (name, _) => name -> Nil }.toMap)
  }

  test("the identical pair is found: Jaccard 1.0 in q32 and q33, hamming 0 in q34") {
    assert(out("q32").contains(Row(5L, 6L, 3L, 1.0)))
    assert(out("q33").contains(Row(5L, 6L, 1.0)))
    assert(out("q34").contains(Row(5L, 6L, 0)))
  }

  test("no document shorter than a shingle pairs in q32 or q33") {
    Seq("q32", "q33").foreach { q =>
      assert(pairIds(q).forall { case (a, b) => a >= 5 && b >= 5 }, out(q))
    }
  }

  test("the copy at MaxDocId is outside the near-dup slice") {
    Seq("q32", "q33", "q34").foreach { q =>
      assert(pairIds(q).forall { case (a, b) => a < Dedup.MaxDocId && b < Dedup.MaxDocId }, out(q))
    }
  }

  test("q30 keeps one survivor for all three copies") {
    assert(out("q30").filter(_.getLong(1) == 5L).map(_.getLong(2)) === Seq(3L))
  }

  test("declared results for NULL and whitespace-only text") {
    // q30: NULL text is its own group under a NULL hash (DuckDB agrees)
    assert(out("q30").map(r => (r.isNullAt(0), r.getLong(1), r.getLong(2))) ===
      Seq((true, 1L, 1L), (false, 2L, 1L), (false, 3L, 1L), (false, 4L, 1L), (false, 5L, 3L)))
    // q31: concat_ws gives NULL text the same "" key as whitespace-only
    // text, so they share a group; the oracle SQL gives NULL text a NULL key
    assert(out("q31") === Seq(Row("", 1L, 2L), Row("solo", 3L, 1L), Row("two words", 4L, 1L),
      Row(Dup, 5L, 3L)))
    // q34: whitespace-only text is signed over its one empty token and
    // NULL text is not signed; neither pairs here
    assert(out("q34 signed docs") === Seq(2L, 3L, 4L, 5L, 6L).map(Row(_)))
    assert(out("q34") === Seq(Row(5L, 6L, 0)))
  }
}
