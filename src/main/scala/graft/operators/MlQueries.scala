package graft.operators

import graft.core.{GQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Evaluation-metric queries (SURVEY.md §2.5 M5–M8, §2.6 Q5–Q6): the
  * confusion matrix and classification report as relational
  * aggregations, exercised over a deterministic pseudo-prediction
  * (vec_id mod 10 against the embeddings label) so the DuckDB oracle
  * can replay them exactly.
  */
object MlQueries {

  private def scored(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label").cast(LongType).as("label"),
        (col("vec_id") % 10).as("pred"))

  /** M8/Q5: confusion-matrix counts. */
  def confusionMatrix(s: SparkSession, d: String): DataFrame =
    scored(s, d)
      .groupBy("label", "pred")
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "pred")

  val confusionMatrixSql: String =
    """SELECT label::BIGINT AS label, vec_id % 10 AS pred, count(*) AS n
      |FROM embeddings GROUP BY 1, 2 ORDER BY label, pred""".stripMargin

  /** M7/Q6: per-class precision/recall/F1/support. The per-label AND
    * per-prediction counts are both marginals of the confusion matrix
    * (≤ |classes|² rows), so the corpus is scanned and aggregated
    * ONCE into the matrix; each cell then contributes to its label
    * class (support/tp) and its pred class (pred_cnt) via a 2-way
    * explode, and one tiny aggregate replaces the former second
    * corpus scan + join. The support>0 ∧ pred_cnt>0 filter reproduces
    * exactly what the old byLabel ⋈ byPred inner join kept (a class
    * never predicted, never true, or NULL matched no join row). */
  def classReport(s: SparkSession, d: String): DataFrame = {
    val cm = scored(s, d)
      .groupBy("label", "pred")
      .agg(count(lit(1)).as("n"))
    cm.select(explode(array(
        struct(col("label").as("class"), col("n").as("support_n"),
          when(col("pred") === col("label"), col("n")).otherwise(0L).as("tp_n"),
          lit(0L).as("pred_n")),
        struct(col("pred").as("class"), lit(0L).as("support_n"),
          lit(0L).as("tp_n"), col("n").as("pred_n")))).as("c"))
      .select(col("c.class").as("class"), col("c.support_n").as("support_n"),
        col("c.tp_n").as("tp_n"), col("c.pred_n").as("pred_n"))
      .groupBy("class")
      .agg(sum(col("support_n")).as("support"),
        sum(col("tp_n")).as("tp"),
        sum(col("pred_n")).as("pred_cnt"))
      // equals the old inner join only while pred is never NULL (InventorySpec pins it)
      .filter(col("support") > 0 && col("pred_cnt") > 0)
      .withColumn("precision", round(col("tp") / col("pred_cnt"), 6))
      .withColumn("recall", round(col("tp") / col("support"), 6))
      .withColumn("f1",
        round(when(col("precision") + col("recall") === 0, 0.0)
          .otherwise(lit(2) * col("precision") * col("recall") /
            (col("precision") + col("recall"))), 6))
      .select("class", "support", "tp", "pred_cnt", "precision", "recall", "f1")
      .orderBy("class")
  }

  val classReportSql: String =
    """WITH sc AS (
      |  SELECT label::BIGINT AS label, vec_id % 10 AS pred FROM embeddings),
      |by_label AS (
      |  SELECT label AS class, count(*) AS support,
      |    count(*) FILTER (WHERE pred = label) AS tp
      |  FROM sc GROUP BY label),
      |by_pred AS (
      |  SELECT pred AS class, count(*) AS pred_cnt FROM sc GROUP BY pred),
      |rep AS (
      |  SELECT class, support, tp, pred_cnt,
      |    round(tp / pred_cnt, 6) AS precision,
      |    round(tp / support, 6) AS recall
      |  FROM by_label JOIN by_pred USING (class))
      |SELECT class, support, tp, pred_cnt, precision, recall,
      |  round(CASE WHEN precision + recall = 0 THEN 0
      |    ELSE 2 * precision * recall / (precision + recall) END, 6) AS f1
      |FROM rep ORDER BY class""".stripMargin

  /** M5: accuracy as a single-row aggregate. */
  def accuracy(s: SparkSession, d: String): DataFrame =
    scored(s, d)
      .agg(
        sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("n_correct"),
        count(lit(1)).as("n"))
      .withColumn("accuracy", round(col("n_correct") / col("n"), 6))

  val accuracySql: String =
    """SELECT n_correct, n, round(n_correct / n, 6) AS accuracy FROM (
      |  SELECT count(*) FILTER (WHERE vec_id % 10 = label::BIGINT) AS n_correct,
      |    count(*) AS n
      |  FROM embeddings)""".stripMargin

  val all: Seq[GQuery] = Seq(
    GQuery("q45_confusion_matrix", confusionMatrix, Some(confusionMatrixSql)),
    GQuery("q46_class_report", classReport, Some(classReportSql)),
    GQuery("q47_accuracy", accuracy, Some(accuracySql)))
}
