package graft.sources

import java.sql.Timestamp

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}

import scala.jdk.CollectionConverters._

import graft.model.SeriesSelector

/** Elasticsearch source (kukur/source/elasticsearch/elasticsearch.py)
  * without the `requests`/elastic client stack: the server speaks
  * HTTP + JSON (`POST {index}/_search` with the query DSL, `POST _sql`
  * for SQL), covered by the JDK HttpClient and Jackson.
  *
  * Mirrors the reference's protocol exactly: series discovery through
  * either a SQL `list_query` (columnar, cursor-paginated) or a DSL
  * scan of the metadata index (`search_after`-paginated, `_doc` sort);
  * data through a bool query of per-tag `term` filters plus an
  * INCLUSIVE `range` on the timestamp column, `fields` projection,
  * ascending sort and `search_after` pagination; metadata through
  * `metadata_query` (SQL with positional params) or a DSL term query.
  * Dot-path lookups and list-valued tag flattening match
  * `_dot_lookup`/`_flatten_lists`. Credentials ride as basic auth or
  * an `ApiKey` Authorization header; every request carries the
  * reference's `X-Requested-With: Kukur` marker header's analog
  * (`X-Requested-With: graft`).
  *
  * Scale shape: one series' points is a bounded, paginated driver
  * fetch (the reference does the same); multi-series reads fan out one
  * paginated query per series across executor tasks ([[dataForKeys]]).
  */
final case class EsConfig(
    scheme: String = "http",
    host: String = "localhost",
    port: Option[Int] = None,
    username: Option[String] = None,
    password: Option[String] = None,
    apiKey: Option[String] = None,
    queryTimeoutSeconds: Int = 60,
    queryPageSize: Int = 10000,
) extends Serializable

final case class EsOptions(
    index: Option[String] = None,
    metadataIndex: Option[String] = None,
    tagColumns: Seq[String] = Seq(SeriesSelector.SeriesNameTag),
    fieldColumns: Seq[String] = Seq("value"),
    metadataColumns: Seq[String] = Nil,
    timestampColumn: String = "ts",
    metadataFieldColumn: Option[String] = None,
    listQuery: Option[String] = None,
    metadataQuery: Option[String] = None,
    /** raw JSON of the reference's `metadata_index_filter` DSL object */
    metadataIndexFilter: Option[String] = None,
    /** kukur field name -> source column (the reference's
      * `metadata_mapping` / MetadataMapper): selectors and outputs use
      * kukur names, queries use source columns.
      */
    mapping: Map[String, String] = Map.empty,
) extends Serializable {
  private[sources] def fromKukur(name: String): String = mapping.getOrElse(name, name)
  private[sources] def fromSource(column: String): String =
    mapping.collectFirst { case (k, v) if v == column => k }.getOrElse(column)
}

class ElasticsearchSource(cfg: EsConfig, opts: EsOptions) extends TimeSeriesSource with Serializable {

  import ElasticsearchSource._

  /** The tag columns under their kukur names, as [[search]] emits them. */
  override def tagColumns: Seq[String] = opts.tagColumns.map(opts.fromSource)

  /** Series discovery (elasticsearch.py:135 `search`): one row per
    * (tags × field), with any configured metadata columns alongside.
    */
  def search(spark: SparkSession): DataFrame = {
    val docs: Seq[JsonNode] = opts.listQuery match {
      case Some(sql) => sqlRows(cfg, opts, sql, Nil)
      case None =>
        listQueryDsl(cfg, opts, opts.metadataIndexFilter, """[{"_doc":"asc"}]""").map(_.path("_source"))
    }
    // output columns carry KUKUR names (MetadataMapper.from_source)
    val fields = (opts.tagColumns ++ opts.metadataColumns).map(opts.fromSource) ++ Seq("field")
    val rows = docs.flatMap(metadataRows)
    val schema = StructType(fields.map(StructField(_, StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row.fromSeq(fields.map(r.getOrElse(_, null)))), 1),
      schema,
    )
  }

  /** One (tags × field) combination per doc — `_get_metadata`
    * (elasticsearch.py:156): dot lookups, list-valued tags flattened
    * to their cartesian product, `metadata_field_column` overriding
    * the configured field list.
    */
  private def metadataRows(doc: JsonNode): Seq[Map[String, String]] = {
    val tagValues: Seq[(String, Seq[String])] = opts.tagColumns.map { t =>
      val v = dotLookup(doc, t)
      val vals =
        if (v.isArray) iter(v.elements()).map(_.asText()).toSeq
        else Seq(v.asText())
      opts.fromSource(t) -> vals
    }
    val metaValues: Seq[(String, String)] = opts.metadataColumns.flatMap { m =>
      val v = dotLookup(doc, m, strict = false)
      if (v == null || v.isMissingNode || v.isNull) None else Some(opts.fromSource(m) -> v.asText())
    }
    val fieldNames = opts.metadataFieldColumn match {
      case Some(fc) => Seq(dotLookup(doc, fc).asText())
      case None => opts.fieldColumns
    }
    // cartesian product over list-valued tags (_flatten_lists)
    val combos = tagValues.foldLeft(Seq(Map.empty[String, String])) { case (acc, (k, vals)) =>
      for { m <- acc; v <- vals } yield m + (k -> v)
    }
    for { tags <- combos; f <- fieldNames } yield tags ++ metaValues + ("field" -> f)
  }

  /** Range data for one series (elasticsearch.py:244 `get_data`):
    * term filters per tag, inclusive gte/lte range, fields projection,
    * ascending timestamp sort, search_after pagination.
    */
  def getData(spark: SparkSession, selector: SeriesSelector, start: Timestamp, end: Timestamp): DataFrame = {
    val rows = fetchSeries(cfg, opts, SeriesKey(selector.tags, selector.field), start, end)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (t, v) => Row(t, v) }, 1),
      StructType(Seq(StructField("ts", TimestampType), StructField("value", StringType))),
    )
  }

  /** Distributed multi-series read: one paginated query per series,
    * one task per series (the PluginSource fan-out shape).
    */
  def dataForKeys(spark: SparkSession, keys: Seq[SeriesKey], start: Timestamp, end: Timestamp): DataFrame = {
    require(keys.nonEmpty, "elasticsearch data read needs at least one series")
    val c = cfg
    val o = opts
    val rows = spark.sparkContext
      .parallelize(keys, math.min(keys.size, spark.sparkContext.defaultParallelism))
      .flatMap { key =>
        fetchSeries(c, o, key, start, end).map { case (t, v) => Row(key.name, t, v) }
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

  /** First matching metadata doc for a selector (elasticsearch.py:182
    * `get_metadata`): the SQL `metadata_query` with positional params,
    * or a DSL bool/term query on the metadata index. One wide row of
    * the doc's metadata columns (tags echoed).
    */
  override def ownMetadata(spark: SparkSession, selector: SeriesSelector): Option[DataFrame] = {
    val doc: Option[Map[String, String]] = opts.metadataQuery match {
      case Some(sql) =>
        val params = opts.tagColumns.map(t => selector.tags.getOrElse(opts.fromSource(t), "")) ++
          opts.metadataFieldColumn.map(_ => selector.field).toSeq
        sqlRows(cfg, opts, sql, params).headOption.map(d =>
          iter(d.fields()).map(e => opts.fromSource(e.getKey) -> e.getValue.asText()).toMap
        )
      case None =>
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val must = mapper.createArrayNode()
        selector.tags.foreach { case (k, v) =>
          val term = mapper.createObjectNode()
          term.putObject("term").put(opts.fromKukur(k), v)
          must.add(term)
        }
        opts.metadataFieldColumn.foreach { fc =>
          val term = mapper.createObjectNode()
          term.putObject("term").put(fc, selector.field)
          must.add(term)
        }
        val q = mapper.createObjectNode()
        q.putObject("bool").set[ObjectNode]("must", must)
        listQueryDsl(cfg, opts, Some(mapper.writeValueAsString(q)), """[{"_score":"asc"}]""")
          .headOption
          .map(h => iter(h.path("_source").fields()).map(e => opts.fromSource(e.getKey) -> e.getValue.asText()).toMap)
    }
    val row = doc.getOrElse(Map.empty)
    // echo tags under their KUKUR names — selector.tags is keyed by
    // them, and the query row already carries the same names
    val cols = (opts.tagColumns.map { t =>
      val name = opts.fromSource(t)
      name -> selector.tags.get(name).orNull
    }.toMap ++ row).toSeq.sortBy(_._1)
    Some(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row.fromSeq(cols.map(_._2))), 1),
      StructType(cols.map(c => StructField(c._1, StringType))),
    ))
  }
}

object ElasticsearchSource {

  private def iter[T](it: java.util.Iterator[T]): Iterator[T] = it.asScala

  // one client per JVM (thread-safe, pooled) — not one per request
  private lazy val http = java.net.http.HttpClient.newHttpClient()

  /** POST one JSON query (elasticsearch.py:379 `send_query`). */
  private def send(cfg: EsConfig, path: String, body: String): JsonNode = {
    val hostPort = cfg.port.map(p => s"${cfg.host}:$p").getOrElse(cfg.host)
    val uri = java.net.URI.create(s"${cfg.scheme}://$hostPort/$path")
    val b = java.net.http.HttpRequest
      .newBuilder(uri)
      .timeout(java.time.Duration.ofSeconds(cfg.queryTimeoutSeconds.toLong))
      .header("Content-Type", "application/json")
      .header("X-Requested-With", "graft")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
    cfg.apiKey.foreach(k => b.header("Authorization", s"ApiKey $k"))
    if (cfg.apiKey.isEmpty)
      for { u <- cfg.username; p <- cfg.password } {
        val enc = java.util.Base64.getEncoder.encodeToString(s"$u:$p".getBytes("UTF-8"))
        b.header("Authorization", s"Basic $enc")
      }
    val resp = http.send(b.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() < 400, s"elasticsearch query failed (${resp.statusCode()}): ${resp.body().take(200)}")
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(resp.body())
  }

  /** DSL scan of the metadata index with search_after pagination
    * (elasticsearch.py:302 `_list_query_dsl`). Returns hit nodes.
    */
  private def listQueryDsl(
      cfg: EsConfig,
      opts: EsOptions,
      queryJson: Option[String],
      sortJson: String,
  ): Seq[JsonNode] = {
    val index = opts.metadataIndex.getOrElse(
      throw new IllegalArgumentException("Define a `metadata_index` to search time series.")
    )
    val out = Seq.newBuilder[JsonNode]
    var searchAfter: Option[String] = None
    var done = false
    while (!done) {
      val q = new StringBuilder
      q.append(s"""{"size":${cfg.queryPageSize}""")
      queryJson.filter(_.nonEmpty).foreach(j => q.append(s""","query":$j"""))
      searchAfter.foreach(sa => q.append(s""","search_after":$sa"""))
      q.append(s""","sort":$sortJson}""")
      val hits = send(cfg, s"$index/_search", q.toString).path("hits").path("hits")
      val page = iter(hits.elements()).toSeq
      out ++= page
      if (page.size < cfg.queryPageSize) done = true
      else searchAfter = Some(page.last.path("sort").toString)
    }
    out.result()
  }

  /** Columnar SQL query with cursor pagination (elasticsearch.py:330
    * `_search_sql`). Returns row objects keyed by the columns the
    * options care about.
    */
  private def sqlRows(cfg: EsConfig, opts: EsOptions, sql: String, params: Seq[String]): Seq[JsonNode] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val wanted = (opts.tagColumns ++ opts.metadataColumns ++ opts.fieldColumns ++
      opts.metadataFieldColumn.toSeq).toSet
    var names: Seq[String] = Nil
    var keepIdx: Seq[Int] = Nil
    val columns = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.Buffer[JsonNode]]
    var body: ObjectNode = mapper.createObjectNode()
    body.put("query", sql)
    body.put("columnar", true)
    if (params.nonEmpty) {
      val arr = body.putArray("params")
      params.foreach(arr.add)
    }
    var done = false
    while (!done) {
      val content = send(cfg, "_sql", mapper.writeValueAsString(body))
      if (content.has("columns")) {
        names = iter(content.path("columns").elements()).map(_.path("name").asText()).toSeq
        keepIdx = names.zipWithIndex.collect { case (n, i) if wanted.contains(n) => i }
        keepIdx.foreach(i => columns(names(i)) = scala.collection.mutable.Buffer.empty)
      }
      val values = content.path("values")
      keepIdx.foreach(i => columns(names(i)) ++= iter(values.path(i).elements()))
      if (content.has("cursor")) {
        body = mapper.createObjectNode()
        body.put("cursor", content.path("cursor").asText())
        body.put("columnar", true)
      } else done = true
    }
    val n = columns.values.headOption.map(_.size).getOrElse(0)
    (0 until n).map { i =>
      val o = mapper.createObjectNode()
      columns.foreach { case (name, buf) => o.set[ObjectNode](name, buf(i)) }
      o
    }
  }

  /** One series' points: the reference's data query verbatim,
    * including the inclusive gte/lte range and search_after paging.
    */
  private def fetchSeries(
      cfg: EsConfig,
      opts: EsOptions,
      key: SeriesKey,
      start: Timestamp,
      end: Timestamp,
  ): Seq[(Timestamp, String)] = {
    val index = opts.index.getOrElse(throw new IllegalArgumentException("Define an `index` to fetch data."))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val bool = mapper.createObjectNode()
    val must = bool.putObject("bool").putArray("must")
    key.tags.foreach { case (k, v) =>
      val term = mapper.createObjectNode()
      term.putObject("term").put(opts.fromKukur(k), v)
      must.add(term)
    }
    val range = bool.path("bool").asInstanceOf[ObjectNode].putObject("filter").putObject("range")
      .putObject(opts.timestampColumn)
    range.put("gte", start.toInstant.toString)
    range.put("lte", end.toInstant.toString)
    val out = Seq.newBuilder[(Timestamp, String)]
    var searchAfter: Option[JsonNode] = None
    var done = false
    // deliberate divergence from the reference: kukur stops when its
    // row count reaches hits.total.value, but ES caps total.value at
    // 10,000 by default (relation "gte"), which silently truncates
    // larger series. Page with an explicit size and stop on a short
    // page instead — the same contract listQueryDsl uses.
    while (!done) {
      val q = mapper.createObjectNode()
      q.put("size", cfg.queryPageSize)
      q.set[ObjectNode]("query", bool)
      val f = q.putArray("fields")
      f.add(opts.timestampColumn)
      f.add(key.field)
      searchAfter.foreach(sa => q.set[ObjectNode]("search_after", sa))
      val sort = q.putArray("sort")
      val s0 = mapper.createObjectNode()
      s0.put(opts.timestampColumn, "asc")
      sort.add(s0)
      if (searchAfter.isEmpty) q.put("_source", false)
      val data = send(cfg, s"$index/_search", mapper.writeValueAsString(q))
      val hits = iter(data.path("hits").path("hits").elements()).toSeq
      hits.foreach { h =>
        val fields = h.path("fields")
        val ts = iter(fields.path(opts.timestampColumn).elements()).toSeq
        val vs = iter(fields.path(key.field).elements()).toSeq
        ts.zip(vs).foreach { case (t, v) =>
          out += ((Timestamp.from(java.time.Instant.parse(t.asText())), v.asText()))
        }
        searchAfter = Some(h.path("sort"))
      }
      if (hits.size < cfg.queryPageSize) done = true
    }
    out.result()
  }

  /** `_dot_lookup` (elasticsearch.py:397): direct key first, then a
    * dot-path descent; strict lookups fail loudly like the reference's
    * AttributeError.
    */
  private def dotLookup(doc: JsonNode, key: String, strict: Boolean = true): JsonNode =
    if (doc.has(key)) doc.path(key)
    else if (!key.contains('.')) {
      if (strict) throw new IllegalArgumentException(s"no field $key in metadata doc")
      com.fasterxml.jackson.databind.node.MissingNode.getInstance()
    } else {
      val parts = key.split('.')
      var cur = doc
      var i = 0
      var missing = false
      while (i < parts.length && !missing) {
        if (!cur.has(parts(i))) {
          if (strict) throw new IllegalArgumentException(s"no field ${parts(i)} in metadata doc")
          missing = true
        } else cur = cur.path(parts(i))
        i += 1
      }
      if (missing) com.fasterxml.jackson.databind.node.MissingNode.getInstance() else cur
    }
}
