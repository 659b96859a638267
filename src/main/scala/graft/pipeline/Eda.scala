package graft.pipeline

import graft.functions.CleanFns
import graft.operators.Profile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The notebook's analysis workload (E2, exploracion_airbnb.ipynb cells
  * 5-14) as named lazy DataFrames over transformed listings/reviews:
  * ~12 independent aggregation passes over two cached inputs. Callers
  * `cache()` the inputs once (the notebook's RAM residence, done right)
  * and pick which sections to materialize.
  */
object Eda {

  /** Cells 5-6: shape + quality profile. */
  def quality(df: DataFrame, cols: Seq[String]): Map[String, DataFrame] = Map(
    "info"        -> Profile.tableInfo(df),
    "nulls"       -> Profile.nullProfile(df, cols.filter(df.columns.contains)),
    "worst_nulls" -> Profile.worstNulls(df, cols.filter(df.columns.contains), 5.0, 10))

  /** Cells 8-9: categorical top-k + price stats (listings side). */
  def listings(df: DataFrame): Map[String, DataFrame] = {
    val withPrice = if (df.columns.contains("price_clean")) df
      else df.withColumn("price_clean", CleanFns.cleanPrice(col("price")))
    Map(
      "property_top10"  -> Profile.topK(df, "property_type", 10),
      "room_types"      -> Profile.topK(df, "room_type", 100),
      "barrios_top15"   -> Profile.topK(df, "neighbourhood_cleansed", 15),
      "price_stats"     -> Profile.descStats(withPrice, "price_clean"),
      "price_pcts"      -> Profile.percentiles(withPrice, "price_clean",
        Seq(0.25, 0.5, 0.75, 0.9, 0.95, 0.99)),
      "price_by_room"   -> withPrice.filter(col("price_clean") > 0)
        .groupBy("room_type")
        .agg(avg(col("price_clean")).as("mean"),
          percentile(col("price_clean"), lit(0.5)).as("median"),
          count(lit(1)).as("count"))
        .orderBy("room_type"),
      "price_outliers"  -> Profile.iqrOutliers(withPrice, "price_clean"))
  }

  /** Cell 10: temporal trend + sentiment split (reviews side). Takes the
    * transformed reviews or their sink read-back, where a null
    * `date_clean` is the literal 'nan' ([[Sinks.sinkForm]]): it reads as
    * null, not as a date to parse. */
  def reviews(df: DataFrame): Map[String, DataFrame] = {
    val withSent = if (df.columns.contains("sentiment_score")) df
      else df.withColumn("sentiment_score", CleanFns.sentiment(col("comments")))
    val dated = if (df.columns.contains("date_clean"))
      df.withColumn("__d", to_date(nullif(col("date_clean"), lit("nan"))))
      else df.withColumn("__d", to_date(col("date")))
    Map(
      "monthly_trend" -> dated.groupBy(date_format(col("__d"), "yyyy-MM").as("mes"))
        .agg(count(lit(1)).as("cnt")).orderBy("mes"),
      "date_range"    -> dated.agg(
        date_format(min(col("__d")), "yyyy-MM-dd").as("d_min"),
        date_format(max(col("__d")), "yyyy-MM-dd").as("d_max")),
      "sentiment"     -> withSent.agg(
        avg(col("sentiment_score")).as("mean_sent"),
        sum((col("sentiment_score") > 0).cast("long")).as("n_pos"),
        sum((col("sentiment_score") < 0).cast("long")).as("n_neg"),
        sum((col("sentiment_score") === 0).cast("long")).as("n_neu")))
  }

  /** Cell 13: correlation pass over the numeric listing columns that have
    * enough data (pairwise-complete, like pandas .corr()). */
  def correlations(df: DataFrame, target: String, others: Seq[String]): DataFrame =
    Profile.corrPairs(df, others.filter(df.columns.contains).map(target -> _))
}
