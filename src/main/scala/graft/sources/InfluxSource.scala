package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import graft.model.SeriesSelector

/** InfluxDB 1.x source (kukur/source/influxdb/influxdb.py) without the
  * influx client library: the server speaks plain HTTP + JSON
  * (`GET /query?db=…&q=…&params=…`), which the JDK's HttpClient and
  * Jackson cover. Queries mirror the reference's InfluxQL exactly —
  * `SHOW SERIES`/`SHOW FIELD KEYS` for search, a bound-parameter
  * `SELECT time, "field" FROM "measurement"` for data (inclusive end,
  * like the reference's `time <= $end_date`), `SHOW TAG KEYS`/`SHOW
  * TAG VALUES` for source structure.
  *
  * Scale shape: one series' points is a bounded driver fetch (the
  * reference does the same); multi-series reads distribute one HTTP
  * query per series across executor tasks via [[dataForKeys]] — the
  * PluginSource pattern, so a cluster fans out against the database
  * instead of serializing on the driver.
  */
final case class InfluxConfig(
    database: String,
    host: String = "localhost",
    port: Int = 8086,
    ssl: Boolean = false,
    username: Option[String] = None,
    password: Option[String] = None,
) extends Serializable

class InfluxSource(cfg: InfluxConfig) extends EmptyMetadata with Serializable {

  import InfluxSource._

  def search(spark: SparkSession): DataFrame = search(spark, SeriesSelector(""))

  /** A measurement's tag keys are known only from `SHOW SERIES`: a
    * search row keys its series by every column but `field`.
    */
  override def seriesKeys(found: DataFrame): Seq[String] = found.columns.toSeq.filterNot(_ == "field")

  /** Series discovery (influxdb.py:95 `search`): SHOW SERIES filtered
    * by the selector's measurement/tags, crossed with the measurement's
    * field keys. Columns: `series name`, every tag key seen, `field`.
    */
  def search(spark: SparkSession, selector: SeriesSelector): DataFrame = {
    val measurement = selector.tags.get(SeriesSelector.SeriesNameTag)
    val otherTags = selector.tags - SeriesSelector.SeriesNameTag
    val from = measurement.map(m => s""" FROM "${escape(m)}"""").getOrElse("")
    val where =
      if (otherTags.isEmpty) ""
      else otherTags.map { case (k, v) => s""""${escape(k)}" = '${v.replace("'", "")}'""" }.mkString(" WHERE ", " AND ", "")
    val seriesKeys = seriesValues(query(cfg, s"SHOW SERIES$from$where")).map(_.get(0).asText())
    val fieldsByMeasurement = showFieldKeys()
    val parsed = seriesKeys.map(parseSeriesKey)
    val tagKeys = parsed.flatMap(_._2.keys).distinct
    val rows = for {
      (m, tags) <- parsed
      field <- fieldsByMeasurement.getOrElse(m, Seq("value"))
      if selector.field == "value" || selector.field == field
    } yield Row.fromSeq(m +: tagKeys.map(k => tags.get(k).orNull) :+ field)
    val schema = StructType(
      StructField(SeriesSelector.SeriesNameTag, StringType) +:
        tagKeys.map(StructField(_, StringType)) :+ StructField("field", StringType)
    )
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Range data for one series (influxdb.py:123 `get_data`): bound
    * start/end (end INCLUSIVE, like the reference) plus one bound
    * parameter per extra tag.
    */
  def getData(spark: SparkSession, selector: SeriesSelector, start: Timestamp, end: Timestamp): DataFrame = {
    val rows = fetchSeries(cfg, SeriesKey(selector.tags, selector.field), start, end)
    val valueType = rowsValueType(rows)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, coerceValue(r._2, valueType))), 1),
      StructType(Seq(StructField("ts", TimestampType), StructField("value", valueType))),
    )
  }

  /** Distributed multi-series read: one InfluxQL query per series, one
    * task per series (the PluginSource fan-out shape). `valueType`
    * declares the canonical value column ("double" default — influx
    * fields are typed per measurement, mixed reads promote to string).
    */
  def dataForKeys(
      spark: SparkSession,
      keys: Seq[SeriesKey],
      start: Timestamp,
      end: Timestamp,
      valueType: String = "double",
  ): DataFrame = {
    require(keys.nonEmpty, "influx data read needs at least one series")
    val target: DataType = if (valueType == "string") StringType else DoubleType
    val conf = cfg
    val rows = spark.sparkContext
      .parallelize(keys, math.min(keys.size, spark.sparkContext.defaultParallelism))
      .flatMap { key =>
        fetchSeries(conf, key, start, end).map { case (ts, v) =>
          Row(key.tags.getOrElse(SeriesSelector.SeriesNameTag, key.name), ts, coerceValue(v, target))
        }
      }
    spark.createDataFrame(
      rows,
      StructType(Seq(
        StructField("series_name", StringType),
        StructField("ts", TimestampType),
        StructField("value", target),
      )),
    )
  }

  /** Tag keys, fields and tag values (influxdb.py:156
    * `get_source_structure`): one row per (kind, key, value).
    */
  override def sourceStructure(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val tagKeys = seriesFlat(query(cfg, "SHOW TAG KEYS")).map(_.asText()).distinct
    val fields = showFieldKeys().values.flatten.toSeq.distinct
    val inList = tagKeys.map(k => s""""${escape(k)}"""").mkString("(", ", ", ")")
    val tagValues =
      if (tagKeys.isEmpty) Nil
      else
        seriesValues(query(cfg, s"SHOW TAG VALUES WITH KEY IN $inList"))
          .map(v => (v.get(0).asText(), v.get(1).asText()))
          .distinct
    (fields.map(f => ("field", f, null: String)) ++
      tagKeys.map(k => ("tag_key", k, null: String)) ++
      tagValues.map { case (k, v) => ("tag_value", k, v) })
      .toDF("kind", "key", "value")
  }

  private def showFieldKeys(): Map[String, Seq[String]] =
    resultSeries(query(cfg, "SHOW FIELD KEYS")).map { s =>
      s.path("name").asText() ->
        s.path("values").elements().asScala.map(_.get(0).asText()).toSeq
    }.toMap
}

object InfluxSource {

  // one client per JVM: HttpClient is thread-safe and owns a
  // connection pool; a client per request would leak sockets across
  // pagination loops and executor tasks
  private lazy val http = java.net.http.HttpClient.newHttpClient()

  /** One `GET /query` round trip. Runs on the driver for metadata
    * queries and inside executor tasks for [[InfluxSource.dataForKeys]].
    */
  private def query(
      cfg: InfluxConfig,
      q: String,
      params: Map[String, String] = Map.empty,
  ): com.fasterxml.jackson.databind.JsonNode = {
    val scheme = if (cfg.ssl) "https" else "http"
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val auth = (cfg.username, cfg.password) match {
      case (Some(u), Some(p)) => s"&u=${enc(u)}&p=${enc(p)}"
      case _ => ""
    }
    val paramsArg =
      if (params.isEmpty) ""
      else {
        val o = mapper.createObjectNode()
        params.foreach { case (k, v) => o.put(k, v) }
        s"&params=${enc(mapper.writeValueAsString(o))}"
      }
    val uri = java.net.URI.create(
      s"$scheme://${cfg.host}:${cfg.port}/query?db=${enc(cfg.database)}&q=${enc(q)}$auth$paramsArg"
    )
    val resp = http.send(
      java.net.http.HttpRequest.newBuilder(uri).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString(),
    )
    require(resp.statusCode() == 200, s"influx query failed (${resp.statusCode()}): ${resp.body().take(200)}")
    val node = mapper.readTree(resp.body())
    val err = node.path("results").path(0).path("error")
    require(err.isMissingNode || err.isNull, s"influx error: ${err.asText()}")
    node
  }

  /** All `series` entries of the first result. */
  private def resultSeries(node: com.fasterxml.jackson.databind.JsonNode): Seq[com.fasterxml.jackson.databind.JsonNode] =
    node.path("results").path(0).path("series").elements().asScala.toSeq

  /** Value rows of the first series of the first result. */
  private def seriesValues(node: com.fasterxml.jackson.databind.JsonNode): Seq[com.fasterxml.jackson.databind.JsonNode] =
    resultSeries(node).headOption
      .map(_.path("values").elements().asScala.toSeq)
      .getOrElse(Nil)

  /** Flattened single-column values across ALL series of the first
    * result (SHOW TAG KEYS answers one series per measurement).
    */
  private def seriesFlat(node: com.fasterxml.jackson.databind.JsonNode): Seq[com.fasterxml.jackson.databind.JsonNode] =
    resultSeries(node).flatMap(_.path("values").elements().asScala.map(_.get(0)))

  /** `measurement,tag=v,tag=v` → (measurement, tags) — the reference's
    * `_parse_influx_series` (influxdb.py:181), backslashes stripped.
    */
  private[sources] def parseSeriesKey(key: String): (String, Map[String, String]) = {
    val clean = key.replace("\\", "")
    val parts = clean.split(",")
    val tags = parts.toSeq.flatMap { part =>
      part.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _           => None
      }
    }.toMap
    (parts.head, tags)
  }

  /** The reference's identifier scrub (influxdb.py:195 `_escape`). */
  private def escape(s: String): String = s.replace("\"", "").replace(";", "")

  /** Fetch one series' (ts, rawValue) points — the exact reference
    * query with bound parameters, end date inclusive.
    */
  private def fetchSeries(
      cfg: InfluxConfig,
      key: SeriesKey,
      start: Timestamp,
      end: Timestamp,
  ): Seq[(Timestamp, com.fasterxml.jackson.databind.JsonNode)] = {
    val measurement = key.tags.getOrElse(
      SeriesSelector.SeriesNameTag,
      throw new IllegalArgumentException("No series name"),
    )
    // micro-precision bounds: the reference's strftime("%Y-%m-%dT%H:
    // %M:%SZ") silently truncates sub-second boundaries (points inside
    // the truncated second leak in / drop out); InfluxQL accepts
    // fractional RFC3339, so keep the full precision
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
      .withZone(java.time.ZoneOffset.UTC)
    var q = s"""SELECT time, "${escape(key.field)}" FROM "${escape(measurement)}"""" +
      " WHERE time >= $start_date and time <= $end_date"
    val params = scala.collection.mutable.Map(
      "start_date" -> fmt.format(start.toInstant),
      "end_date" -> fmt.format(end.toInstant),
    )
    key.tags.toSeq.filter(_._1 != SeriesSelector.SeriesNameTag).zipWithIndex.foreach { case ((k, v), i) =>
      params(i.toString) = v
      q = q + s""" and "${escape(k)}" = $$$i"""
    }
    val node = query(cfg, q, params.toMap)
    resultSeries(node).headOption.toSeq.flatMap { s =>
      val cols = s.path("columns").elements().asScala.map(_.asText()).toSeq
      val timeIdx = cols.indexOf("time")
      val valueIdx = cols.indexWhere(_ == key.field) match {
        case -1 => if (cols.length > 1) (if (timeIdx == 0) 1 else 0) else 0
        case i  => i
      }
      s.path("values").elements().asScala.map { v =>
        (Timestamp.from(java.time.Instant.parse(v.get(timeIdx).asText())), v.get(valueIdx))
      }
    }
  }

  private def rowsValueType(rows: Seq[(Timestamp, com.fasterxml.jackson.databind.JsonNode)]): DataType = {
    val nonNull = rows.map(_._2).filterNot(n => n == null || n.isNull)
    if (nonNull.nonEmpty && nonNull.forall(_.isNumber)) DoubleType
    else if (nonNull.nonEmpty && nonNull.forall(_.isBoolean)) BooleanType
    else StringType
  }

  private def coerceValue(n: com.fasterxml.jackson.databind.JsonNode, t: DataType): Any =
    if (n == null || n.isNull) null
    else
      t match {
        case DoubleType  => if (n.isNumber) n.asDouble() else null
        case BooleanType => if (n.isBoolean) n.asBoolean() else null
        case _           => n.asText()
      }
}
