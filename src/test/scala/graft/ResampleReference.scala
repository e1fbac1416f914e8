package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Time.micros

/** The union + window formulation of graft's resample semantics, kept
  * as the reference the specs compare `TimeSeriesOps.resampleStepped` /
  * `resampleLinear` (the ResampleAlignExec operator) against.
  *
  * Grid: `start + k·step` in [start, end), one set per series present
  * in `df`, µs-exact at both bounds. Duplicate timestamps collapse to
  * their max value; null values are invisible to interpolation.
  */
object ResampleReference {

  /** STEPPED: last observed value at ts <= t, null before the first
    * point — grid ∪ data + one running `last(ignoreNulls)` window.
    */
  def stepped(df: DataFrame, tagCols: Seq[String], start: Timestamp, end: Timestamp, stepSeconds: Long): DataFrame = {
    val grid = seriesGrid(df, tagCols, start, end, stepSeconds)
    val data = dedupTs(df.where(col("ts") < lit(end)), tagCols)
      .select(tagCols.map(col) :+ col("ts") :+ col("value").as("v") :+ lit(0).as("is_grid"): _*)
    val gridRows = grid.select(tagCols.map(col) :+ col("ts") :+ lit(null).cast("double").as("v") :+ lit(1).as("is_grid"): _*)
    // data sorts before grid at equal ts, so a point exactly on a grid
    // time is included (ASOF >= semantics)
    val w = Window
      .partitionBy(tagCols.map(col): _*)
      .orderBy(col("ts"), col("is_grid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    data
      .unionByName(gridRows)
      .withColumn("value", last(col("v"), ignoreNulls = true).over(w))
      .where(col("is_grid") === 1)
      .select(tagCols.map(col) :+ col("ts") :+ col("value"): _*)
  }

  /** LINEAR: v0 + (v1 - v0)·(t - t0)/(t1 - t0) between the neighbouring
    * points, the exact value on a sample, null outside the observed
    * range — prev and next neighbours from two running windows of
    * opposite order.
    */
  def linear(df: DataFrame, tagCols: Seq[String], start: Timestamp, end: Timestamp, stepSeconds: Long): DataFrame = {
    val grid = seriesGrid(df, tagCols, start, end, stepSeconds)
    val data = dedupTs(df, tagCols)
      .select(tagCols.map(col) :+ col("ts") :+ col("value").as("v") :+ lit(0).as("is_grid"): _*)
    val gridRows = grid.select(tagCols.map(col) :+ col("ts") :+ lit(null).cast("double").as("v") :+ lit(1).as("is_grid"): _*)
    val part = Window.partitionBy(tagCols.map(col): _*)
    val wPrev = part.orderBy(col("ts"), col("is_grid")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = part.orderBy(col("ts").desc, col("is_grid")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // `v.isNotNull` keeps null points out of the neighbour structs
    val isPoint = col("is_grid") === 0 && col("v").isNotNull
    val point = when(isPoint, struct(unix_micros(col("ts")).as("us"), col("v")))
    data
      .unionByName(gridRows)
      .withColumn("prev", last(point, ignoreNulls = true).over(wPrev))
      .withColumn("next", last(point, ignoreNulls = true).over(wNext))
      .where(col("is_grid") === 1)
      .withColumn(
        "value",
        when(col("prev").isNull || col("next").isNull, lit(null).cast("double"))
          .when(col("next.us") === col("prev.us"), col("prev.v"))
          .otherwise(
            col("prev.v") + (col("next.v") - col("prev.v")) *
              (unix_micros(col("ts")) - col("prev.us")).cast("double") /
              (col("next.us") - col("prev.us")).cast("double")
          ),
      )
      .select(tagCols.map(col) :+ col("ts") :+ col("value"): _*)
  }

  private def dedupTs(df: DataFrame, tagCols: Seq[String]): DataFrame =
    df.groupBy((tagCols.map(col) :+ col("ts")): _*).agg(max(col("value")).as("value"))

  private def seriesGrid(df: DataFrame, tagCols: Seq[String], start: Timestamp, end: Timestamp, stepSeconds: Long): DataFrame =
    df.select(tagCols.map(col): _*)
      .distinct()
      .withColumn(
        "ts",
        explode(sequence(lit(start), timestamp_micros(lit(micros(end) - 1L)), expr(s"interval $stepSeconds seconds"))),
      )
}
