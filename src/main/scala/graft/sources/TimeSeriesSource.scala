package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.model.SeriesSelector
import graft.operators.TimeSeriesOps

/** One source kind's answers to the provider surface (kukur/client.py:
  * search, get_metadata, get_data, get_plot_data,
  * get_source_structure): the contract every kind implements, so the
  * facade ([[graft.Graft]]) calls these members and owns only what
  * kukur's factory wrapper owns — layering `metadata_sources` extras
  * over the source's own metadata (kukur/source/__init__.py:205).
  *
  * A kind overrides a default only where its backend answers
  * differently: a server-side plot, its own metadata, a source
  * structure.
  */
trait TimeSeriesSource {

  /** The tag columns of [[search]]'s result that name one series — the
    * keys a selector for that series carries. Default: kukur's
    * `series name`.
    */
  def tagColumns: Seq[String] = Seq(SeriesSelector.SeriesNameTag)

  /** The columns of `found`, a [[search]] result, whose non-null values
    * in one row key that row's series. Default: [[tagColumns]].
    */
  def seriesKeys(found: DataFrame): Seq[String] = tagColumns

  /** All series in the source, one row per (tags × field). */
  def search(spark: SparkSession): DataFrame

  /** Range data for one series: the canonical (ts, value[, quality]). */
  def getData(spark: SparkSession, selector: SeriesSelector, start: Timestamp, end: Timestamp): DataFrame

  /** Plot-ready downsample. The default is kukur's plot fallback for
    * backends without a plot action: bucket the fetched range
    * client-side with the min/max/first/last operator, values as
    * double, under the selector's encoded name.
    */
  def getPlotData(
      spark: SparkSession,
      selector: SeriesSelector,
      start: Timestamp,
      end: Timestamp,
      intervalCount: Int,
  ): DataFrame =
    bucketed(getData(spark, selector, start, end).withColumn("value", col("value").cast("double")), selector, start, end, intervalCount)

  /** One series' data bucketed client-side under the selector's encoded name. */
  protected def bucketed(data: DataFrame, selector: SeriesSelector, start: Timestamp, end: Timestamp, intervalCount: Int): DataFrame =
    TimeSeriesOps.plotData(data.withColumn("series_name", lit(selector.name)), Seq("series_name"), start, end, intervalCount)

  /** The source's own metadata for a selector, keyed by [[tagColumns]]:
    * the first layer under `metadata_sources` extras. None (the
    * default): the source has none, and only extras answer.
    */
  def ownMetadata(spark: SparkSession, selector: SeriesSelector): Option[DataFrame] = None

  /** The metadata answer when no extras are registered: [[ownMetadata]],
    * else a failure. A kind whose backend answers something that is not
    * metadata (influx's tags-only rows, PI-AF's "through search")
    * overrides this, not [[ownMetadata]], so it is never layered.
    */
  def getMetadata(spark: SparkSession, selector: SeriesSelector): DataFrame =
    ownMetadata(spark, selector).getOrElse(
      throw new IllegalArgumentException(s"${getClass.getSimpleName} has no metadata of its own; declare metadata_sources for it")
    )

  /** Tag/field structure of the source (kukur get_source_structure). */
  def sourceStructure(spark: SparkSession): DataFrame =
    throw new UnsupportedOperationException(s"${getClass.getSimpleName} has no source structure")
}

/** Kinds whose own metadata is always empty — kukur's influx
  * (influxdb.py:119) and Azure Data Explorer (azure_data_explorer.py:
  * 236) sources return a bare `Metadata(selector)`: one row per
  * selector tag.
  */
trait EmptyMetadata extends TimeSeriesSource {

  override def getMetadata(spark: SparkSession, selector: SeriesSelector): DataFrame = {
    import spark.implicits._
    selector.tags.toSeq.sortBy(_._1).toDF("tag", "value")
  }
}
