package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}

import graft.model.SeriesSelector

/** SQL-over-files source (kukur/source/datafusion/datafusion.py):
  * the reference embeds the DataFusion engine to join CSV/JSON/
  * parquet/Delta files with SQL. Spark IS that engine here — each
  * configured table registers as a temp view (`register_csv`/`_json`/
  * `_parquet`, and Delta through graft's own log reader), the
  * `list_query`/`data_query` run through `spark.sql`, and the
  * reference's `$name` parameter bindings become Spark's named
  * parameter markers. ANSI double-quoted identifiers (`"series
  * name"`, DataFusion's dialect with ident normalization off)
  * translate to backticks.
  *
  * This is the round's clearest WHAT-not-HOW case: no client library
  * is missing, because the "service" is an in-process query engine
  * and the Spark-native re-expression replaces it outright — with
  * the side effect that the queries now run DISTRIBUTED over the
  * registered files instead of in a single-process engine.
  */
final case class DataFusionTable(tableType: String, name: String, location: String)

final case class DataFusionConfig(
    tables: Seq[DataFusionTable],
    tagColumns: Seq[String] = Seq(SeriesSelector.SeriesNameTag),
    fieldColumns: Seq[String] = Seq("value"),
    listQuery: Option[String] = None,
    dataQuery: Option[String] = None,
    dataQueryNamedParameters: Map[String, String] = Map.empty,
    /** field → (source value → kukur value), the reference's
      * MetadataValueMapper (inverted at parse time like MetadataSource)
      */
    valueMapping: Map[String, Map[String, String]] = Map.empty,
) extends Serializable

class DataFusionSource(cfg: DataFusionConfig) extends TimeSeriesSource with Serializable {

  import DataFusionSource._

  override def tagColumns: Seq[String] = cfg.tagColumns

  /** Register every configured table as a temp view — the reference
    * builds a fresh SessionContext per call (datafusion.py:142
    * `_get_context`), so re-registering on every read mirrors it.
    */
  private def register(spark: SparkSession): Unit =
    cfg.tables.foreach { t =>
      val df = t.tableType match {
        case "csv"     => spark.read.option("header", "true").option("inferSchema", "true").csv(t.location)
        case "json"    => spark.read.json(t.location)
        case "parquet" => spark.read.parquet(t.location)
        case "delta"   => DeltaSource.read(spark, t.location)
        case other     => throw new IllegalArgumentException(s"unknown datafusion table type: $other")
      }
      df.createOrReplaceTempView(t.name)
    }

  /** Series discovery (datafusion.py:93 `search`): the `list_query`
    * result × the configured fields, metadata columns value-mapped.
    */
  def search(spark: SparkSession): DataFrame = {
    val q = cfg.listQuery.getOrElse(throw new IllegalArgumentException("Missing list_query"))
    register(spark)
    val result = spark.sql(quoteIdents(q))
    val mapped = result.columns.foldLeft(result) { (d, c) =>
      if (cfg.tagColumns.contains(c)) d
      else
        cfg.valueMapping
          .get(MetadataSource.canonicalName(c))
          .filter(_.nonEmpty)
          .fold(d)(m => d.withColumn(c, applyMapping(col(s"`$c`"), m)))
    }
    import spark.implicits._
    mapped.crossJoin(org.apache.spark.sql.functions.broadcast(cfg.fieldColumns.toDF("field")))
  }

  /** Range data (datafusion.py:123 `get_data`): the `data_query` with
    * startDate/endDate plus the configured named parameters bound from
    * the selector's tags, as Spark named parameter markers.
    */
  def getData(spark: SparkSession, selector: SeriesSelector, start: Timestamp, end: Timestamp): DataFrame = {
    val q = cfg.dataQuery.getOrElse(throw new IllegalArgumentException("Missing data query"))
    register(spark)
    val args: Map[String, Any] = Map("startDate" -> start, "endDate" -> end) ++
      cfg.dataQueryNamedParameters.map { case (param, tagKey) => param -> selector.tags(tagKey) }
    spark.sql(dollarParamsToMarkers(quoteIdents(q)), args)
  }

  /** The fallback bucketing over the query's own value type, uncast. */
  override def getPlotData(
      spark: SparkSession,
      selector: SeriesSelector,
      start: Timestamp,
      end: Timestamp,
      intervalCount: Int,
  ): DataFrame = bucketed(getData(spark, selector, start, end), selector, start, end, intervalCount)

  /** The reference raises NotImplementedError (datafusion.py:119) —
    * the list_query carries metadata through search instead.
    */
  override def getMetadata(spark: SparkSession, selector: SeriesSelector): DataFrame =
    throw new UnsupportedOperationException("datafusion sources answer metadata through search")
}

object DataFusionSource {

  /** ANSI double-quoted identifiers → Spark backticks. DataFusion's
    * dialect (ident normalization off) treats "..." as identifiers and
    * '...' as strings, so every double-quoted run is an identifier.
    * Known limit: a double quote INSIDE a single-quoted string literal
    * is also rewritten (a full tokenizer would be needed to tell them
    * apart) — none of the reference's queries or fixtures hit this.
    */
  private[graft] def quoteIdents(sql: String): String =
    "\"([^\"]*)\"".r.replaceAllIn(sql, m => java.util.regex.Matcher.quoteReplacement(s"`${m.group(1)}`"))

  /** DataFusion `$param` placeholders → Spark `:param` named markers. */
  private[graft] def dollarParamsToMarkers(sql: String): String =
    "\\$([A-Za-z_][A-Za-z0-9_]*)".r.replaceAllIn(sql, m => ":" + m.group(1))

  /** One CASE over the original value, unmapped values passing through
    * (the same non-chaining shape as MetadataSource.valueMapped).
    */
  private def applyMapping(c: Column, m: Map[String, String]): Column =
    m.tail
      .foldLeft(when(c === lit(m.head._1), lit(m.head._2))) { case (acc, (from, to)) =>
        acc.when(c === lit(from), lit(to))
      }
      .otherwise(c)
}
