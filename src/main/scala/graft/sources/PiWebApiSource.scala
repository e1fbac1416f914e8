package graft.sources

import java.sql.Timestamp

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType, TimestampType}

import graft.model.SeriesSelector

/** PI Data Archive source over PI Web API
  * (kukur/source/piwebapi_da/piwebapi_da.py) — a plain REST/JSON
  * surface, so the JDK HttpClient + Jackson cover it without the
  * reference's `requests` stack.
  *
  * Mirrors the reference's flow: the data-archive resource yields the
  * `Links.Points` collection; points page by `startIndex` until an
  * empty page; one tag resolves by `nameFilter`; recorded/plot data
  * read from each point's `RecordedData`/`PlotData` stream link with
  * `maxCount` pagination that RESTARTS at the last timestamp and drops
  * the duplicated boundary rows (piwebapi_da.py:300-309). PI system
  * states (`Value` objects with `IsSystem`) are skipped unless
  * `include_system_states` is set; when kept, their reading is null
  * and their `Good` flag maps to quality 0 (`extract_value`/
  * `is_system_state`, pi_asset_framework.py:976-987). Point metadata
  * maps Descriptor/EngineeringUnits/Step/Zero/Span/DigitalSetName/
  * PointType onto the kukur vocabulary, with digital sets resolved
  * through the archive's `EnumerationSets` links (piwebapi_da.py:373
  * `_get_metadata`, :53 `_DictionaryLookup`); points with unlisted
  * PointTypes are skipped like the reference's `return None`.
  *
  * Auth: basic credentials (the tested path). Kerberos/OIDC need
  * infrastructure this build has no access to. Scale shape: one
  * series is a bounded, paginated driver fetch (as in the reference);
  * multi-series reads fan out one paginated stream read per series
  * across executor tasks ([[dataForKeys]]).
  */
final case class PiWebApiConfig(
    dataArchiveUri: String,
    timeoutSeconds: Int = 60,
    maxReturnedItemsPerCall: Int = 150000,
    includeSystemStates: Boolean = false,
    username: Option[String] = None,
    password: Option[String] = None,
) extends Serializable

class PiWebApiSource(cfg: PiWebApiConfig) extends TimeSeriesSource with Serializable {

  import PiWebApiSource._

  override def tagColumns: Seq[String] = Seq("series_name")

  /** All tags in the archive with their point metadata
    * (piwebapi_da.py:158 `search`): `startIndex` pagination, one row
    * per point, unknown PointTypes skipped.
    */
  def search(spark: SparkSession): DataFrame = {
    val archive = get(cfg, cfg.dataArchiveUri, Map("selectedFields" -> "Links.Points;Links.EnumerationSets"))
    val pointsUrl = archive.path("Links").path("Points").asText()
    val dicts = new DictionaryLookup(cfg, archive)
    val rows = Seq.newBuilder[Row]
    var page = 0
    var done = false
    while (!done) {
      val points = get(
        cfg,
        pointsUrl,
        Map(
          "maxCount" -> cfg.maxReturnedItemsPerCall.toString,
          "startIndex" -> (page * cfg.maxReturnedItemsPerCall).toString,
        ),
      ).path("Items")
      if (!points.isArray || points.size() == 0) done = true
      else {
        (0 until points.size()).foreach { i =>
          metadataRow(points.get(i), dicts).foreach(rows += _)
        }
        page += 1
      }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.result(), 1), MetadataSchema)
  }

  /** Metadata for one tag (piwebapi_da.py:200 `get_metadata`):
    * `nameFilter` lookup, first match, dictionary resolved.
    */
  override def ownMetadata(spark: SparkSession, selector: SeriesSelector): Option[DataFrame] = {
    val archive = get(cfg, cfg.dataArchiveUri, Map("selectedFields" -> "Links.Points;Links.EnumerationSets"))
    val pointsUrl = archive.path("Links").path("Points").asText()
    val items = get(cfg, pointsUrl, Map("nameFilter" -> selector.seriesName)).path("Items")
    require(items.isArray && items.size() > 0, "Series not found")
    val dicts = new DictionaryLookup(cfg, archive)
    val row = metadataRow(items.get(0), dicts)
      .getOrElse(Row(selector.seriesName, null, null, null, null, null, null, null))
    Some(spark.createDataFrame(spark.sparkContext.parallelize(Seq(row), 1), MetadataSchema))
  }

  /** A digital set's value → label mapping, through the archive's
    * EnumerationSets links (`_DictionaryLookup._get_dictionary`).
    */
  def readDictionary(spark: SparkSession, name: String): DataFrame = {
    val archive = get(cfg, cfg.dataArchiveUri, Map("selectedFields" -> "Links.Points;Links.EnumerationSets"))
    val mapping = new DictionaryLookup(cfg, archive).get(name)
    spark.createDataFrame(
      spark.sparkContext.parallelize(mapping.toSeq.sortBy(_._1).map { case (v, n) => Row(v, n) }, 1),
      StructType(Seq(StructField("value", IntegerType), StructField("label", StringType))),
    )
  }

  def getData(spark: SparkSession, selector: SeriesSelector, start: Timestamp, end: Timestamp): DataFrame =
    pointsFrame(
      spark,
      fetchData(cfg, streamUrl(cfg, pointsUrl(cfg), selector.seriesName, "RecordedData"), start, end, None),
    )

  /** Server-side plot reduction (piwebapi_da.py:129 `get_plot_data`):
    * the point's PlotData stream with an `intervals` parameter.
    */
  override def getPlotData(
      spark: SparkSession,
      selector: SeriesSelector,
      start: Timestamp,
      end: Timestamp,
      intervalCount: Int,
  ): DataFrame =
    pointsFrame(
      spark,
      fetchData(cfg, streamUrl(cfg, pointsUrl(cfg), selector.seriesName, "PlotData"), start, end, Some(intervalCount)),
    )

  /** Distributed multi-series read: one paginated stream read per
    * series, one task per series (the PluginSource fan-out shape).
    */
  def dataForKeys(spark: SparkSession, keys: Seq[SeriesKey], start: Timestamp, end: Timestamp): DataFrame = {
    require(keys.nonEmpty, "piwebapi data read needs at least one series")
    val c = cfg
    // stream links resolve on the driver — the archive's Points URL
    // fetched ONCE, then one nameFilter round trip per series (bounded
    // metadata); the data pages fetch in executors
    val points = pointsUrl(c)
    val tasks = keys.map(k => (k.name, streamUrl(c, points, k.tags.getOrElse(SeriesSelector.SeriesNameTag, k.name), "RecordedData")))
    val rows = spark.sparkContext
      .parallelize(tasks, math.min(tasks.size, spark.sparkContext.defaultParallelism))
      .flatMap { case (name, url) =>
        fetchData(c, url, start, end, None).map { case (t, v, q) => Row(name, t, v, q) }
      }
    spark.createDataFrame(
      rows,
      StructType(
        StructField("series_name", StringType) +:
          StructType(DataSchema).fields.toSeq
      ),
    )
  }

  private def pointsFrame(spark: SparkSession, pts: Seq[(Timestamp, String, Int)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(pts.map { case (t, v, q) => Row(t, v, q) }, 1),
      StructType(DataSchema),
    )
}

object PiWebApiSource {

  private val DataSchema = Seq(
    StructField("ts", TimestampType),
    StructField("value", StringType),
    StructField("quality", IntegerType),
  )

  private val MetadataSchema = StructType(Seq(
    StructField("series_name", StringType),
    StructField("description", StringType),
    StructField("unit", StringType),
    StructField("interpolation_type", StringType),
    StructField("limit_low_functional", StringType),
    StructField("limit_high_functional", StringType),
    StructField("data_type", StringType),
    StructField("dictionary_name", StringType),
  ))

  // one client per JVM (thread-safe, pooled) — not one per request
  private lazy val http = java.net.http.HttpClient.newHttpClient()

  /** PointType → kukur DataType (piwebapi_da.py:398); absent types
    * make the point invisible, like the reference's `return None`.
    */
  private val PointTypes = Map(
    "Digital" -> "DICTIONARY",
    "Float16" -> "FLOAT32",
    "Float32" -> "FLOAT32",
    "Float64" -> "FLOAT64",
    "Int16" -> "FLOAT32",
    "Int32" -> "FLOAT64",
    "String" -> "STRING",
  )

  private def metadataRow(point: JsonNode, dicts: DictionaryLookup): Option[Row] = {
    val pointType = point.path("PointType").asText()
    PointTypes.get(pointType).map { dataType =>
      val zero = point.path("Zero").asDouble()
      val span = point.path("Span").asDouble()
      val digitalSet = point.path("DigitalSetName").asText("")
      if (digitalSet.nonEmpty) dicts.get(digitalSet) // resolve + cache, like the reference
      Row(
        point.path("Name").asText(),
        point.path("Descriptor").asText(),
        point.path("EngineeringUnits").asText(),
        if (point.path("Step").asBoolean()) "STEPPED" else "LINEAR",
        zero.toString,
        (zero + span).toString,
        dataType,
        if (digitalSet.isEmpty) null else digitalSet,
      )
    }
  }

  /** Shared request builder: timeout, marker header, basic auth. */
  private[sources] def requestBuilder(
      cfg: PiWebApiConfig,
      url: String,
  ): java.net.http.HttpRequest.Builder = {
    val b = java.net.http.HttpRequest
      .newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofSeconds(cfg.timeoutSeconds.toLong))
      .header("X-Requested-With", "graft")
    for { u <- cfg.username; p <- cfg.password } {
      val auth = java.util.Base64.getEncoder.encodeToString(s"$u:$p".getBytes("UTF-8"))
      b.header("Authorization", s"Basic $auth")
    }
    b
  }

  private[sources] def sendJson(b: java.net.http.HttpRequest.Builder, url: String): JsonNode = {
    val resp = http.send(b.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() != 404, s"Data not found for $url")
    require(resp.statusCode() < 400, s"piwebapi request failed (${resp.statusCode()}): ${resp.body().take(200)}")
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(resp.body())
  }

  /** One GET with query params; basic auth when configured. */
  private[sources] def get(cfg: PiWebApiConfig, url: String, params: Map[String, String]): JsonNode = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val sep = if (url.contains('?')) "&" else "?"
    val full =
      if (params.isEmpty) url
      else url + sep + params.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${enc(v)}" }.mkString("&")
    sendJson(requestBuilder(cfg, full).GET(), full)
  }

  /** The archive's Links.Points collection URL — one round trip,
    * shared by every per-series lookup.
    */
  private def pointsUrl(cfg: PiWebApiConfig): String =
    get(cfg, cfg.dataArchiveUri, Map("selectedFields" -> "Links.Points"))
      .path("Links").path("Points").asText()

  /** Resolve a tag's stream link via nameFilter
    * (piwebapi_da.py:315 `_get_data_url` / :343 `_get_plot_data_url`).
    */
  private def streamUrl(cfg: PiWebApiConfig, pointsUrl: String, name: String, link: String): String = {
    val items = get(
      cfg,
      pointsUrl,
      Map(
        "maxCount" -> cfg.maxReturnedItemsPerCall.toString,
        "nameFilter" -> name,
        "selectedFields" -> s"Items.Links.$link",
      ),
    ).path("Items")
    require(
      items.isArray && items.size() > 0,
      s"no $link link for series '$name'",
    )
    items.get(0).path("Links").path(link).asText()
  }

  /** The reference's paginated stream read (piwebapi_da.py:246
    * `_get_data`): full pages restart at the last timestamp with the
    * duplicated boundary rows popped; system states skipped or kept
    * null-valued per `include_system_states`.
    */
  private[sources] def fetchData(
      cfg: PiWebApiConfig,
      dataUrl: String,
      start: Timestamp,
      end: Timestamp,
      intervals: Option[Int],
  ): Seq[(Timestamp, String, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Timestamp, String, Int)]
    var startDate = start.toInstant
    var done = false
    while (!done) {
      val params = Map(
        "maxCount" -> cfg.maxReturnedItemsPerCall.toString,
        "startTime" -> startDate.toString,
        "endTime" -> end.toInstant.toString,
        "selectedFields" -> "Items.Value;Items.Timestamp;Items.Good",
      ) ++ intervals.map(i => "intervals" -> i.toString)
      val items = get(cfg, dataUrl, params).path("Items")
      val n = if (items.isArray) items.size() else 0
      var lastTimestamp: Option[java.time.Instant] = None
      (0 until n).foreach { i =>
        val p = items.get(i)
        val ts = java.time.Instant.parse(p.path("Timestamp").asText())
        lastTimestamp = Some(ts)
        val value = p.path("Value")
        val isSystem = value.isObject && value.path("IsSystem").asBoolean(false)
        if (!isSystem || cfg.includeSystemStates) {
          val reading =
            if (isSystem) null
            else if (value.isObject) value.path("Value").asText()
            else if (value.isNull) null
            else value.asText()
          out += ((Timestamp.from(ts), reading, if (p.path("Good").asBoolean()) 1 else 0))
        }
      }
      if (n != cfg.maxReturnedItemsPerCall || lastTimestamp.isEmpty) done = true
      else {
        startDate = lastTimestamp.get
        val boundary = Timestamp.from(startDate)
        while (out.nonEmpty && out.last._1 == boundary) out.remove(out.length - 1)
      }
    }
    out.toSeq
  }

  private class DictionaryLookup(cfg: PiWebApiConfig, archive: JsonNode) {
    private var links: Option[Map[String, String]] = None
    private val cache = scala.collection.mutable.Map.empty[String, Map[Int, String]]

    def get(name: String): Map[Int, String] =
      cache.getOrElseUpdate(name, fetch(name))

    private def fetch(name: String): Map[Int, String] = {
      if (links.isEmpty) {
        val sets = get0(archive.path("Links").path("EnumerationSets").asText())
        links = Some(
          (0 until sets.path("Items").size()).map { i =>
            val item = sets.path("Items").get(i)
            item.path("Name").asText() -> item.path("Links").path("Values").asText()
          }.toMap
        )
      }
      val values = get0(links.get(name))
      (0 until values.path("Items").size()).map { i =>
        val item = values.path("Items").get(i)
        item.path("Value").asInt() -> item.path("Name").asText()
      }.toMap
    }

    private def get0(url: String): JsonNode =
      PiWebApiSource.get(cfg, url, Map("maxCount" -> cfg.maxReturnedItemsPerCall.toString))
  }
}
