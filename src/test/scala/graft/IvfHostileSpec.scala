package graft

import scala.jdk.CollectionConverters._
import graft.core.Tables
import graft.operators.Similarity
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** q37 on hostile `embeddings` tables written to a temp dir with the
  * declared schema: fewer vectors than the codebook's 8 centroids,
  * fewer than its 512-vector sample, NULL embeddings, embeddings
  * holding a NULL element, and (for q35–q37) a zero embedding. The
  * vectors are seeded 4-d Gaussians; ids below 10 are the probes.
  * Tiny files always pass `SinglePartitionStages`' size gate, so
  * nothing here asserts plan shape.
  */
class IvfHostileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** `n` vectors with ids 0 until n, each NULL where `nulls` holds its
    * id, with a NULL second element where `nullElements` does, and all
    * zeros where `zeros` does. */
  private def vectors(n: Int, nulls: Set[Long] = Set.empty, nullElements: Set[Long] = Set.empty,
      zeros: Set[Long] = Set.empty): Seq[(Long, Seq[java.lang.Float])] = {
    val rnd = new scala.util.Random(7)
    (0L until n.toLong).map { id =>
      val v = Seq.fill(4)(Float.box(rnd.nextGaussian().toFloat))
      id -> (if (nulls(id)) null else if (nullElements(id)) v.updated(1, null)
        else if (zeros(id)) v.map(_ => Float.box(0f)) else v)
    }
  }

  /** `body` on a temp dir whose `embeddings` table holds `rows`. */
  private def withEmbeddings[T](rows: Seq[(Long, Seq[java.lang.Float])])(body: String => T): T =
    TestSpark.withTempDir { dir =>
      val schema = Tables.embeddings(spark, TestSpark.sfDir).schema
      spark.createDataFrame(rows.map { case (id, v) =>
        Row(id, Option(v).map(_.asJava).orNull, (id % 3).toInt)
      }.asJava, schema).coalesce(1).write.parquet(s"$dir/embeddings.parquet")
      body(dir)
    }

  private def sampleIds(dir: String): Seq[Long] =
    Similarity.ivfIndex(spark, dir).select(col("sample.vec_id")).head().getSeq[Long](0)

  /** q37's (q_id, c_id) pairs. */
  private def pairs(dir: String): Seq[(Long, Long)] =
    Similarity.annIvf(spark, dir).collect().map(r => (r.getLong(0), r.getLong(2))).toSeq

  test("fewer than 8 embeddings fail q37 with the trainer's require message as the cause") {
    withEmbeddings(vectors(5)) { dir =>
      val df = Similarity.annIvf(spark, dir) // building runs nothing, so it cannot fail
      val e = intercept[Exception](df.collect())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("sample 5 < k=8")), causes.map(_.toString).mkString("\n"))
    }
  }

  test("fewer than 512 embeddings train on all of them") {
    withEmbeddings(vectors(40)) { dir =>
      assert(sampleIds(dir).sorted === (0L until 40L))
      val got = pairs(dir)
      assert(got.map(_._1).distinct.sorted === (0L until 10L))
      assert(got.groupBy(_._1).values.forall(_.size <= 5))
      assert(got.forall(_._2 >= 10L))
    }
  }

  test("a NULL embedding is left out of the sample and pairs with nothing") {
    // before the sample was aggregated in the plan, its driver collect
    // threw a NullPointerException on a NULL embedding
    withEmbeddings(vectors(41, nulls = Set(3L, 40L))) { dir =>
      assert(sampleIds(dir).sorted === (0L until 40L).filter(_ != 3L))
      val got = pairs(dir)
      assert(got.nonEmpty)
      assert(got.forall { case (q, c) => q != 3L && c != 40L }, got)
    }
  }

  test("a vector holding a NULL element is left out of the sample and pairs with nothing") {
    // `dot` reads such a vector as NULL, so neither training nor bucket
    // assignment may read its NULL element as 0.0
    withEmbeddings(vectors(41, nullElements = Set(4L, 40L))) { dir =>
      assert(sampleIds(dir).sorted === (0L until 41L).filter(id => id != 4L && id != 40L))
      val got = pairs(dir)
      assert(got.nonEmpty)
      assert(got.forall { case (q, c) => q != 4L && c != 40L }, got)
    }
  }

  test("a zero embedding has a NULL cosine: in no q36 pair, not in q37's sample, ranked last") {
    // its cosine was 0.0 / 0.0, which threw DIVIDE_BY_ZERO under ANSI in
    // all three queries; 4 candidates put it in every probe's top 5 in q35
    withEmbeddings(vectors(14, zeros = Set(12L))) { dir =>
      val knn = Similarity.knnBruteForce(spark, dir).collect().toSeq
      val zeroRows = knn.filter(_.getLong(2) == 12L)
      assert(zeroRows.map(_.getLong(0)) === (0L until 10L))
      assert(zeroRows.forall(r => r.isNullAt(3) && r.getLong(1) == 4L), zeroRows)
      assert(knn.filter(_.getLong(2) != 12L).forall(!_.isNullAt(3)))

      val nearDup = Similarity.embeddingNearDup(spark, dir).collect().toSeq
      assert(nearDup.nonEmpty)
      assert(nearDup.forall(r => r.getLong(0) != 12L && r.getLong(1) != 12L), nearDup)

      assert(sampleIds(dir).sorted === (0L until 14L).filter(_ != 12L))
      val ann = Similarity.annIvf(spark, dir).collect().toSeq
      assert(ann.nonEmpty)
      assert(ann.forall(r => r.isNullAt(3) == (r.getLong(2) == 12L)), ann)
    }
  }
}
