package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one-window form of [[Pipelines.mixByTokenBudgetScalable]]: each
  * group's documents in md5-hash order through one window, kept while the
  * cumulative token offset starts before the budget. Kept as the reference
  * PipelinesSpec checks the two-phase form against. */
object WindowTokenBudget {
  def mix(df: DataFrame, groupCol: String, keyCol: String,
      budgetTokens: Long, textCol: String = "text"): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val w = Window.partitionBy(groupCol)
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tok", size(TextOps.fastTokens(col(textCol))).cast("long"))
      .withColumn("cum_tok", sum("n_tok").over(w))
      .filter(col("cum_tok") - col("n_tok") < budgetTokens)
      .drop("cum_tok")
  }
}
