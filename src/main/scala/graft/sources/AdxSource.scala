package graft.sources

import java.sql.Timestamp

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}

import scala.jdk.CollectionConverters._

import graft.model.SeriesSelector

/** Azure Data Explorer (Kusto) source
  * (kukur/source/azure_data_explorer/azure_data_explorer.py) without
  * the azure-kusto-data / azure-identity SDKs: both halves are public
  * HTTP+JSON — the AAD client-credentials token grant
  * (`POST {login}/{tenant}/oauth2/v2.0/token`, scope
  * `{cluster}//.default`) and the Kusto query REST endpoint
  * (`POST {cluster}/v2/rest/query` with `{db, csl,
  * properties.Parameters}`, v2 frame responses).
  *
  * The KQL is the reference's, verbatim: `distinct` over the tag
  * columns for plain search, the `summarize arg_max … | project-away …
  * | project-rename …` metadata search, `declare query_parameters`
  * data queries with per-tag bound parameters and inclusive
  * `todatetime` bounds, and custom `list_query`/`data_query` overrides
  * with named parameters. Data pagination wraps every query in
  * `| serialize | where row_number() > offset | take N`
  * (azure_data_explorer.py:255); `E_QUERY_RESULT_SET_TOO_LARGE`
  * responses HALVE the page size (:273), and HTTP 429 throttling backs
  * off `2^n` seconds up to `throttle_backoff_count` before giving up
  * (:280), resetting after each successful page. Tokens cache
  * per-source with the reference's 30-second expiry guard
  * (kukur/source/token_cache.py).
  *
  * Scale shape: one series' points is a bounded, paginated driver
  * fetch (the reference does the same); multi-series reads fan out one
  * paginated query per series across executor tasks.
  */
final case class AdxConfig(
    connectionString: String,
    database: String,
    table: Option[String] = None,
    timestampColumn: String = "ts",
    tagColumns: Seq[String] = Nil,
    fieldColumns: Seq[String] = Nil,
    metadataColumns: Seq[String] = Nil,
    maxItemsPerCall: Int = 500000,
    listQuery: Option[String] = None,
    dataQuery: Option[String] = None,
    dataQueryNamedParameters: Map[String, String] = Map.empty,
    throttleBackoffCount: Int = 8,
    clientId: Option[String] = None,
    clientSecret: Option[String] = None,
    tenantId: Option[String] = None,
    /** override of the AAD token endpoint — a test seam; the default is
      * the public `login.microsoftonline.com/{tenant}/oauth2/v2.0/token`
      */
    tokenUrl: Option[String] = None,
) extends Serializable

class AdxSource(cfg: AdxConfig, sleepSeconds: Long => Unit = s => Thread.sleep(s * 1000L))
    extends EmptyMetadata with Serializable {

  import AdxSource._

  override def tagColumns: Seq[String] = cfg.tagColumns

  private val tokens = new TokenCache(cfg)

  /** Series discovery (azure_data_explorer.py:145 `search`): custom
    * `list_query`, plain `distinct`, or the arg_max metadata summarize.
    * One row per (tags × field) with the metadata columns alongside.
    */
  def search(spark: SparkSession): DataFrame = {
    require(cfg.tagColumns.nonEmpty, "Define tags to support listing time series")
    val (query, withMetadata) = cfg.listQuery match {
      case Some(q) => (q, true)
      case None if cfg.metadataColumns.isEmpty =>
        (s"['${table("search")}'] | distinct ${cfg.tagColumns.mkString(", ")}", false)
      case None =>
        val summaries = cfg.metadataColumns.map(n => s"['$n']=arg_max(['${cfg.timestampColumn}'], ['$n'])")
        val renames = cfg.metadataColumns.map(n => s"['$n']=['${n}1']")
        // NOTE: built by concatenation, NOT stripMargin — '|' is both
        // the Scala margin character and the KQL pipe, and stripMargin
        // would eat the pipes
        (
          Seq(
            s"['${table("search")}']",
            s"| summarize ${summaries.mkString(", ")} by ${cfg.tagColumns.map(c => s"['$c']").mkString(", ")}",
            s"| project-away ${cfg.metadataColumns.map(c => s"['$c']").mkString(", ")}",
            s"| project-rename ${renames.mkString(", ")}",
          ).mkString("\n"),
          true,
        )
    }
    val rows = execute(cfg, tokens, query, Map.empty)
    val out = for {
      row <- rows
      field <- cfg.fieldColumns
    } yield {
      val tags = cfg.tagColumns.map(t => t -> textOrNull(row.get(t))).toMap
      val meta =
        if (withMetadata)
          cfg.metadataColumns.flatMap(m => Option(row.get(m)).filterNot(_.isNull).map(v => m -> v.asText()))
        else Nil
      tags ++ meta + ("field" -> field)
    }
    val columns = cfg.tagColumns ++ cfg.metadataColumns.filter(_ => withMetadata) ++ Seq("field")
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.map(r => Row.fromSeq(columns.map(r.get(_).orNull))), 1),
      StructType(columns.map(StructField(_, StringType))),
    )
  }

  def getData(spark: SparkSession, selector: SeriesSelector, start: Timestamp, end: Timestamp): DataFrame = {
    val pts = fetchSeries(SeriesKey(selector.tags, selector.field), start, end)
    spark.createDataFrame(
      spark.sparkContext.parallelize(pts.map { case (t, v) => Row(t, v) }, 1),
      StructType(Seq(StructField("ts", TimestampType), StructField("value", StringType))),
    )
  }

  /** Distributed multi-series read: one paginated query per series,
    * one task per series (the PluginSource fan-out shape).
    */
  def dataForKeys(spark: SparkSession, keys: Seq[SeriesKey], start: Timestamp, end: Timestamp): DataFrame = {
    require(keys.nonEmpty, "data explorer read needs at least one series")
    val self = this
    val rows = spark.sparkContext
      .parallelize(keys, math.min(keys.size, spark.sparkContext.defaultParallelism))
      .flatMap { key =>
        self.fetchSeries(key, start, end).map { case (t, v) => Row(key.name, t, v) }
      }
    spark.createDataFrame(
      rows,
      StructType(Seq(
        StructField("series_name", StringType),
        StructField("ts", TimestampType),
        StructField("value", StringType),
      )),
    )
  }

  /** The reference's paginated read (azure_data_explorer.py:239
    * `get_data`): serialize/row_number/take pages, halving on
    * result-set-too-large, exponential backoff on throttling.
    */
  private def fetchSeries(key: SeriesKey, start: Timestamp, end: Timestamp): Seq[(Timestamp, String)] = {
    require(cfg.fieldColumns.contains(key.field), s"Unknown field: ${key.field}")
    val (query, params) = prepareDataQuery(key, start, end)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Timestamp, String)]
    var maxItems = cfg.maxItemsPerCall
    var offset = 0L
    var throttleCount = 1
    var done = false
    while (!done) {
      val paginated =
        s"""$query
           | serialize
           | where row_number() > $offset
           | take $maxItems"""
      try {
        val rows = execute(cfg, tokens, paginated, params)
        rows.foreach { row =>
          out += ((
            Timestamp.from(java.time.Instant.parse(row.path(cfg.timestampColumn).asText())),
            textOrNull(row.get(key.field)),
          ))
        }
        if (rows.size < maxItems) done = true
        else {
          offset += maxItems
          throttleCount = 1
        }
      } catch {
        case e: ResultSetTooLarge =>
          maxItems = maxItems / 2
          if (maxItems == 0) throw e
        case e: Throttled =>
          sleepSeconds(1L << throttleCount)
          throttleCount += 1
          if (throttleCount > cfg.throttleBackoffCount) throw e
      }
    }
    out.toSeq
  }

  private def prepareDataQuery(
      key: SeriesKey,
      start: Timestamp,
      end: Timestamp,
  ): (String, Map[String, String]) = {
    val base = Map(
      "startDate" -> start.toInstant.toString,
      "endDate" -> end.toInstant.toString,
    )
    cfg.dataQuery match {
      case Some(q) =>
        (q, base ++ cfg.dataQueryNamedParameters.map { case (param, tagKey) => param -> key.tags(tagKey) })
      case None =>
        val ts = cfg.timestampColumn
        val declared = Seq("startDate: string", "endDate: string") ++
          cfg.tagColumns.indices.map(i => s"tag_$i: string")
        // concatenation, not stripMargin: '|' is the KQL pipe
        var query = Seq(
          s"declare query_parameters (${declared.mkString(", ")});",
          s"['${table("data queries")}']",
          s"| where ['$ts'] >= todatetime(startDate)",
          s"| where ['$ts'] <= todatetime(endDate)",
        ).mkString("\n")
        cfg.tagColumns.zipWithIndex.foreach { case (t, i) => query += s" | where ['$t']==tag_$i" }
        query += s" | project ['$ts'], ['${key.field}']"
        query += s" | sort by ['$ts'] asc"
        val tagParams = cfg.tagColumns.zipWithIndex.map { case (t, i) => s"tag_$i" -> key.tags(t) }
        (query, base ++ tagParams)
    }
  }

  private def textOrNull(n: JsonNode): String =
    if (n == null || n.isNull) null else n.asText()

  private def table(purpose: String): String =
    cfg.table.getOrElse(
      throw new IllegalArgumentException(
        s"""data explorer source needs a "table" entry for $purpose (or a list_query/data_query override)"""
      )
    )
}

object AdxSource {

  private[sources] final class ResultSetTooLarge(msg: String) extends RuntimeException(msg)
  private[sources] final class Throttled(msg: String) extends RuntimeException(msg)

  private lazy val http = java.net.http.HttpClient.newHttpClient()

  /** The reference's in-memory token cache (kukur/source/token_cache
    * .py): thread-safe, re-fetches when within 30 seconds of expiry.
    */
  private[sources] final class TokenCache(cfg: AdxConfig) extends Serializable {
    @transient private var token: String = _
    @transient private var expires: java.time.Instant = _

    def get(): String = synchronized {
      val now = java.time.Instant.now()
      if (token == null || expires == null || expires.isBefore(now.plusSeconds(30))) {
        val (t, e) = fetchToken(cfg)
        token = t
        expires = e
      }
      token
    }
  }

  /** AAD client-credentials grant — the public OAuth2 wire protocol
    * the azure-identity ClientSecretCredential speaks.
    */
  private def fetchToken(cfg: AdxConfig): (String, java.time.Instant) = {
    val tenant = cfg.tenantId.getOrElse(
      throw new IllegalArgumentException(
        "data explorer sources need client_id/client_secret/tenant_id credentials in this build " +
          "(no ambient Azure identity exists here)"
      )
    )
    require(cfg.clientId.isDefined && cfg.clientSecret.isDefined, "client_id and client_secret are required")
    val url = cfg.tokenUrl.getOrElse(s"https://login.microsoftonline.com/$tenant/oauth2/v2.0/token")
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val form = Seq(
      "grant_type" -> "client_credentials",
      "client_id" -> cfg.clientId.get,
      "client_secret" -> cfg.clientSecret.get,
      "scope" -> s"${cfg.connectionString}//.default",
    ).map { case (k, v) => s"$k=${enc(v)}" }.mkString("&")
    val resp = http.send(
      java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(url))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(form))
        .build(),
      java.net.http.HttpResponse.BodyHandlers.ofString(),
    )
    require(resp.statusCode() == 200, s"token request failed (${resp.statusCode()}): ${resp.body().take(200)}")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(resp.body())
    val expiresIn = node.path("expires_in").asLong(3600L)
    (node.path("access_token").asText(), java.time.Instant.now().plusSeconds(expiresIn))
  }

  /** One Kusto query over `POST /v2/rest/query`; primary-result rows
    * as JSON objects keyed by column name (the v2 frame protocol).
    */
  private[sources] def execute(
      cfg: AdxConfig,
      tokens: TokenCache,
      csl: String,
      parameters: Map[String, String],
  ): Seq[JsonNode] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val body = mapper.createObjectNode()
    body.put("db", cfg.database)
    body.put("csl", csl)
    if (parameters.nonEmpty) {
      val props = body.putObject("properties")
      val params = props.putObject("Parameters")
      parameters.foreach { case (k, v) => params.put(k, v) }
    }
    val resp = http.send(
      java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(s"${cfg.connectionString.stripSuffix("/")}/v2/rest/query"))
        .header("Content-Type", "application/json")
        .header("Authorization", s"Bearer ${tokens.get()}")
        .header("X-Requested-With", "graft")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(body)))
        .build(),
      java.net.http.HttpResponse.BodyHandlers.ofString(),
    )
    if (resp.statusCode() == 429) throw new Throttled("request throttled")
    if (resp.statusCode() >= 400) {
      if (resp.body().contains("E_QUERY_RESULT_SET_TOO_LARGE"))
        throw new ResultSetTooLarge("query result set too large")
      throw new IllegalStateException(s"kusto query failed (${resp.statusCode()}): ${resp.body().take(300)}")
    }
    val frames = mapper.readTree(resp.body())
    val out = Seq.newBuilder[JsonNode]
    frames.elements().asScala.foreach { frame =>
      if (frame.path("FrameType").asText() == "DataTable" && frame.path("TableKind").asText() == "PrimaryResult") {
        val columns = frame.path("Columns").elements().asScala.map(_.path("ColumnName").asText()).toSeq
        frame.path("Rows").elements().asScala.foreach { row =>
          val o = mapper.createObjectNode()
          columns.zipWithIndex.foreach { case (c, i) => o.set[com.fasterxml.jackson.databind.node.ObjectNode](c, row.get(i)) }
          out += o
        }
      }
    }
    out.result()
  }
}
