package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Feature-engineering preprocessing: imputation, scaling, and categorical
  * encoding — the last hop before training-data serialization.
  *
  * Scale design: every transform is (tiny aggregate) → broadcast → one
  * narrow map over the fact table. Group statistics never ride a window
  * over the raw rows (a per-row window would re-sort the fact table per
  * feature); the fact table is scanned once for stats and once for the
  * rewrite, both full-width scans that fuse into neighbouring stages.
  */
object FeatureOps {

  /** Decimal places of imputed and standardized values. */
  private val Scale = 6

  /** Replace NULLs in `valCol` with the group's mean (per `groupCol`),
    * rounded to [[Scale]] places so imputed values compare stably cross-engine.
    * Rows whose group has no observed value at all stay NULL.
    */
  def imputeMean(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val means = df.groupBy(col(groupCol))
      .agg(round(avg(col(valCol)), Scale).as("__mean"))
    df.join(broadcast(means), Seq(groupCol), "left")
      .withColumn(s"${valCol}_imp",
        coalesce(round(col(valCol), Scale), col("__mean")))
      .drop("__mean")
  }

  /** Z-score standardization of `valCol` within each group: (x - μ)/σ,
    * NULL where the group's sample stddev is 0 or undefined.
    */
  def standardize(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val stats = df.groupBy(col(groupCol))
      .agg(avg(col(valCol)).as("__mu"), stddev_samp(col(valCol)).as("__sd"))
    df.join(broadcast(stats), Seq(groupCol), "left")
      .withColumn(s"${valCol}_z",
        when(col("__sd") > 0, round((col(valCol) - col("__mu")) / col("__sd"), Scale)))
      .drop("__mu", "__sd")
  }

  /** One-hot encode a low-cardinality categorical into 0/1 columns, one per
    * listed category (explicit vocabulary keeps the schema static — derive
    * it once upstream for data-driven vocabularies). Unlisted values get
    * all zeros.
    */
  def oneHot(df: DataFrame, catCol: String, categories: Seq[String]): DataFrame =
    categories.foldLeft(df) { (d, c) =>
      d.withColumn(s"${catCol}_$c",
        when(col(catCol) === c, 1L).otherwise(0L))
    }
}
