package graft

import java.io.File
import scala.jdk.CollectionConverters._
import scala.sys.process._
import scala.util.Try
import graft.core.Tables
import graft.operators.Dedup
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Every query on a copy of the sf0.001 tables whose `documents` also
  * holds hostile texts, replayed against its DuckDB oracle as the
  * correctness gate does (`graft.Verify` + `tools/check_oracle.py`):
  * accented letters next to marker words, which RE2's ASCII `\b` does
  * not join to the word, and \x0B, which the text layer's whitespace
  * set holds and RE2's `\s` does not; and uppercase accented words,
  * which q20 and q25 lower with ICU and DuckDB with its own `lower`.
  * The hostile ids are new and below `Dedup.MaxDocId`, so the near-dup
  * queries see them, and the corpus rows keep the rows-only queries
  * non-empty. Tiny files always pass `SinglePartitionStages`' size
  * gate, so nothing here asserts plan shape.
  */
class TextHostileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val hostile: Seq[String] = Seq(
    "éthe theé étheé the", "derédie", "a\u000Bb c the",
    "\u000Bhttp://x.com/a\u000By the\u000B", "naïve café the and",
    "ÉCOLE NAÏVE ÜBER the")
  private val ids: Seq[Long] = (Dedup.MaxDocId - hostile.size until Dedup.MaxDocId).toSeq

  /** `body` on a temp dir holding the sf0.001 tables, with the hostile
    * rows appended to `documents` under the declared schema. */
  private def withHostileTables[T](body: String => T): T =
    TestSpark.withTempDir { dir =>
      new File(TestSpark.sfDir).listFiles().filter(_.getName != "documents.parquet")
        .foreach(f => FileUtils.copyFileToDirectory(f, new File(dir)))
      val docs = Tables.documents(spark, TestSpark.sfDir)
      val rows = hostile.zip(ids).map { case (text, id) =>
        Row(id, text, "en", "web", text.codePointCount(0, text.length).toLong)
      }
      docs.union(spark.createDataFrame(rows.asJava, docs.schema))
        .coalesce(1).write.parquet(s"$dir/documents.tmp")
      // one parquet file, as DuckDB's oracle views read it
      val part = new File(s"$dir/documents.tmp").listFiles().filter(_.getName.endsWith(".parquet"))
      assert(part.length === 1)
      FileUtils.moveFile(part.head, new File(s"$dir/documents.parquet"))
      FileUtils.deleteDirectory(new File(s"$dir/documents.tmp"))
      body(dir)
    }

  test("every query on hostile documents matches its DuckDB oracle") {
    assume(Try(Seq("python3", "-c", "import duckdb, pandas").!).toOption.contains(0),
      "python3 with duckdb and pandas is needed to replay the oracle")
    withHostileTables { tables =>
      TestSpark.withTempDir { out =>
        assert(Verify.dump(spark, tables, out).isEmpty)
        val log = new StringBuilder
        val exit = Seq("python3", "tools/check_oracle.py", tables, out)
          .!(ProcessLogger(line => log.append(line).append('\n')))
        assert(exit === 0, log.toString)
        // the declared counts, as DuckDB gives them
        def hostileRows(q: String, c: String) =
          spark.read.parquet(s"$out/$q").filter(col("doc_id").isin(ids: _*))
            .orderBy("doc_id").select(c).collect().map(_.getLong(0)).toSeq
        assert(hostileRows("q24_lang_guess", "en_n") === Seq(4L, 0L, 1L, 1L, 2L, 1L))
        assert(hostileRows("q24_lang_guess", "de_n") === Seq(0L, 2L, 0L, 0L, 0L, 0L))
        assert(hostileRows("q22_token_stats", "n_tokens") === Seq(4L, 1L, 4L, 3L, 4L, 4L))
      }
    }
  }
}
