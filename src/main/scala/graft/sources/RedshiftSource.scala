package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.SeriesSelector

/** Redshift source (kukur/source/redshift/redshift.py:1-52): the
  * reference class is a 52-line `BaseSQLSource` wrapper whose only
  * specifics are (a) a `connection` options dictionary handed to
  * `redshift_connector.connect(**options)` and (b) the shared sql.py
  * query vocabulary. Here the execution layer is Spark's JDBC data
  * source — queries run database-side and come back as DataFrames, so
  * the data read is a distributed scan, not a driver cursor.
  *
  * Dialect: `redshift_connector`'s host/port/database/user/password
  * options map 1:1 onto the public Amazon Redshift JDBC driver's URL
  * scheme `jdbc:redshift://host:port/database` (default port 5439);
  * Redshift also serves the PostgreSQL wire protocol, so
  * `jdbc:postgresql://` URLs work against the same endpoint. The
  * config accepts explicit `jdbc_url` / `jdbc_driver` connection keys
  * for that choice (and for the spec, which drives the identical code
  * path through embedded Derby — no Redshift listener exists in a
  * sandbox); every other connection key passes through as a JDBC
  * property, mirroring `connect(**options)`.
  *
  * Parameters: `query_string_parameters = true` renders Python
  * `str.format` `{}` placeholders (sql.py:156-158, quote-stripped
  * values). The default paramstyle path (`%s`, redshift_connector's
  * DB-API 'format' style) renders each parameter as a single-quoted
  * SQL literal with quotes doubled — Spark JDBC has no server-side
  * bind API, and every parameter the reference ever binds is a tag
  * value or a rendered date, so a quoted literal is semantically
  * identical.
  */
final case class RedshiftConfig(
    /** redshift_connector connection options (redshift.py:34-43). */
    connection: Map[String, String],
    tagColumns: Seq[String] = Seq(SeriesSelector.SeriesNameTag),
    fieldColumns: Option[Seq[String]] = None,
    listQuery: Option[String] = None,
    listColumns: Seq[String] = Nil,
    metadataQuery: Option[String] = None,
    metadataColumns: Seq[String] = Nil,
    dictionaryQuery: Option[String] = None,
    dataQuery: Option[String] = None,
    dataQueryDatetimeFormat: Option[String] = None,
    dataQueryTimezone: Option[String] = None,
    dataQueryTags: Option[Seq[String]] = None,
    queryStringParameters: Boolean = false,
    qualityGood: Seq[Any] = Nil,
    /** Whether the endpoint treats string literals per the SQL
      * standard (backslash NOT an escape). Redshift's PG-8 heritage
      * default is OFF — backslashes must be doubled inside literals or
      * a trailing `\` swallows the closing quote. A session/cluster
      * with `standard_conforming_strings` ON keeps both backslashes of
      * a doubled pair, so the rendering must NOT double them there.
      */
    standardConformingStrings: Boolean = false,
) extends Serializable {

  def jdbcUrl: String = connection.getOrElse(
    "jdbc_url", {
      val host = connection.getOrElse("host", throw new IllegalArgumentException("redshift connection needs a host (or jdbc_url)"))
      val port = connection.getOrElse("port", "5439")
      val db = connection.getOrElse("database", throw new IllegalArgumentException("redshift connection needs a database (or jdbc_url)"))
      s"jdbc:redshift://$host:$port/$db"
    },
  )

  def jdbcDriver: String =
    connection.getOrElse("jdbc_driver", "com.amazon.redshift.Driver")

  /** Everything else (user, password, ssl, timeout, ...) passes
    * through as JDBC reader options — `connect(**options)` semantics.
    */
  def jdbcProperties: Map[String, String] =
    connection -- Seq("host", "port", "database", "jdbc_url", "jdbc_driver")
}

class RedshiftSource(cfg: RedshiftConfig) extends TimeSeriesSource with Serializable {

  import RedshiftSource._

  override def tagColumns: Seq[String] = cfg.tagColumns

  override def ownMetadata(spark: SparkSession, selector: SeriesSelector): Option[DataFrame] = Some(metadata(spark, selector))

  /** Push one SQL text to the database (lower-cased column names — the
    * JdbcSource identifier-folding precedent).
    */
  private def runQuery(spark: SparkSession, sql: String): DataFrame = {
    var r = spark.read
      .format("jdbc")
      .option("url", cfg.jdbcUrl)
      .option("driver", cfg.jdbcDriver)
    cfg.jdbcProperties.foreach { case (k, v) => r = r.option(k, v) }
    val df = r.option("query", sql).load()
    df.toDF(df.columns.map(_.toLowerCase): _*)
  }

  /** Series discovery (sql.py:134): nothing without a `list_query`;
    * bare tag tuples when `list_columns` is empty (sql.py:287),
    * metadata rows otherwise (sql.py:306). One row per (tags × field);
    * non-tag list columns survive only when they name a metadata
    * vocabulary field (coerce_field ValueError semantics,
    * sql.py:358-363).
    */
  def search(spark: SparkSession): DataFrame = {
    val listQuery = cfg.listQuery.getOrElse(return emptySearch(spark))
    val result = runQuery(spark, listQuery)
    val fields = cfg.fieldColumns.getOrElse(Seq("value"))
    val fieldDf = spark.createDataFrame(
      spark.sparkContext.parallelize(fields.map(Row(_)), 1),
      StructType(Seq(StructField("field", StringType))),
    )
    if (cfg.listColumns.isEmpty) {
      require(
        result.columns.length == cfg.tagColumns.size,
        "number of tag_columns does not match result of list_query",
      )
      result
        .toDF(cfg.tagColumns: _*)
        .select(cfg.tagColumns.map(t => col(t).cast("string").as(t)): _*)
        .crossJoin(broadcast(fieldDf))
    } else {
      cfg.tagColumns.foreach { t =>
        require(cfg.listColumns.contains(t), s"""tag column "$t" not found""")
      }
      val metaCols = cfg.listColumns.filterNot(cfg.tagColumns.contains).filter(isMetadataName)
      result
        .toDF(cfg.listColumns: _*)
        .select(
          cfg.tagColumns.map(t => col(t).cast("string").as(t)) ++
            metaCols.map(m => col(m).cast("string").as(MetadataSource.canonicalName(m))): _*
        )
        .crossJoin(broadcast(fieldDf))
        .select(
          cfg.tagColumns.map(col) ++
            (col("field") +: metaCols.map(m => col(MetadataSource.canonicalName(m)))): _*
        )
    }
  }

  /** Per-series metadata (sql.py:145): metadata query with the tag
    * values as parameters; a `dictionary_name` result triggers the
    * dictionary query, rendered `key:label,...` in key order
    * (sql.py:372).
    */
  def metadata(spark: SparkSession, selector: SeriesSelector): DataFrame = {
    val tagVals = cfg.tagColumns.map(requireTag(selector, _))
    val base = cfg.tagColumns.zip(tagVals).toMap
    val fields: Map[String, String] = cfg.metadataQuery match {
      case None => Map.empty
      case Some(q) =>
        runQuery(spark, formatQuery(cfg, q, tagVals)).head(1).headOption match {
          case None => Map.empty
          case Some(row) =>
            cfg.metadataColumns.zipWithIndex.flatMap { case (name, i) =>
              val v = if (i >= row.size || row.isNullAt(i)) null else row.get(i).toString
              if (v == null || v.isEmpty || !isMetadataName(name)) None
              else Some(MetadataSource.canonicalName(name) -> v)
            }.toMap
        }
    }
    val dict = fields.get("dictionary_name").flatMap(queryDictionary(spark, _))
    val all = base ++ fields ++ dict.map("dictionary" -> _)
    val names = (cfg.tagColumns ++ fields.keys.toSeq.sorted ++ dict.map(_ => "dictionary")).distinct
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row.fromSeq(names.map(all.getOrElse(_, null)))), 1),
      StructType(names.map(StructField(_, StringType))),
    )
  }

  /** Empty mapping → None, so no `dictionary` field materializes —
    * `__query_dictionary` (sql.py:372-387) returns None for zero rows.
    */
  private def queryDictionary(spark: SparkSession, name: String): Option[String] =
    cfg.dictionaryQuery.flatMap { q =>
      val entries = runQuery(spark, formatQuery(cfg, q, Seq(name)))
        .collect()
        .map(r => (r.get(0).toString.toInt, if (r.isNullAt(1)) null else r.get(1).toString))
        .sortBy(_._1)
      if (entries.isEmpty) None
      else Some(entries.map { case (k, v) => s"$k:$v" }.mkString(","))
    }

  /** Range data for one series: positional `ts`/`value` (+ `quality`
    * mapped to 1/0 when the query yields a third column and a quality
    * mapping is configured, sql.py:245-247). The frame IS the JDBC
    * scan — nothing is collected.
    */
  def getData(spark: SparkSession, selector: SeriesSelector, start: Timestamp, end: Timestamp): DataFrame = {
    val query = cfg.dataQuery.getOrElse(
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("ts", TimestampType), StructField("value", DoubleType))),
      )
    )
    val tagNames = cfg.dataQueryTags.getOrElse(cfg.tagColumns)
    val params = tagNames.map(requireTag(selector, _)) ++
      Seq(formatDate(cfg, start), formatDate(cfg, end))
    val raw = runQuery(spark, formatQuery(cfg, substituteField(query, selector.field), params))
    val cols = raw.columns
    require(cols.length >= 2, s"data_query must yield at least (ts, value), got ${cols.length} columns")
    val hasQuality = cfg.qualityGood.nonEmpty && cols.length > 2
    val good = cfg.qualityGood.map(v => lit(v.toString))
    val outCols = Seq(col(cols(0)).cast("timestamp").as("ts"), col(cols(1)).as("value")) ++
      (if (hasQuality)
         Seq(when(col(cols(2)).cast("string").isin(good: _*), lit(1)).otherwise(lit(0)).as("quality"))
       else Nil)
    raw.select(outCols: _*)
  }

  /** Multi-series read: one pushed-down query per series, unioned —
    * each arm is its own JDBC scan task, so N series fan out N
    * database cursors across the cluster (the reference reads them
    * sequentially on one connection).
    */
  def dataForKeys(
      spark: SparkSession,
      keys: Seq[Map[String, String]],
      start: Timestamp,
      end: Timestamp,
  ): DataFrame = {
    require(keys.nonEmpty, "redshift data read needs at least one series")
    keys
      .map { tags =>
        val sel = SeriesSelector("", tags)
        val name = cfg.tagColumns.map(requireTag(sel, _)).mkString(",")
        getData(spark, sel, start, end)
          .withColumn("value", col("value").cast("double"))
          .select(lit(name).as("series_name"), col("ts"), col("value"))
      }
      .reduce(_.unionByName(_))
  }

  private def emptySearch(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(cfg.tagColumns.map(StructField(_, StringType)) :+ StructField("field", StringType)),
    )

  private def isMetadataName(name: String): Boolean =
    MetadataSource.CanonicalFields.contains(MetadataSource.canonicalName(name))

  /** Fail-fast on an incomplete selector — the reference raises
    * KeyError on `selector.tags[tag_name]` (sql.py:274); substituting
    * "" would quietly query with empty-string tags.
    */
  private def requireTag(selector: SeriesSelector, tag: String): String =
    selector.tags.getOrElse(
      tag,
      throw new IllegalArgumentException(s"""selector is missing configured tag "$tag""""),
    )
}

object RedshiftSource {

  /** Parameter rendering (see class doc): `{}` Python str.format when
    * `query_string_parameters`, else `%s` DB-API 'format' placeholders
    * as quoted literals.
    */
  private[graft] def formatQuery(cfg: RedshiftConfig, q: String, params: Seq[String]): String =
    if (cfg.queryStringParameters) formatBraces(q, params)
    else formatPercent(q, params, doubleBackslashes = !cfg.standardConformingStrings)

  /** Python `str.format` over positional `{}`, quote-stripped values —
    * identical contract to the TdEngine path (sql.py:156-158).
    */
  private def formatBraces(q: String, params: Seq[String]): String = {
    val it = params.iterator
    val sb = new StringBuilder
    var i = 0
    while (i < q.length) {
      if (i + 1 < q.length && q.charAt(i) == '{' && q.charAt(i + 1) == '{') { sb += '{'; i += 2 }
      else if (i + 1 < q.length && q.charAt(i) == '}' && q.charAt(i + 1) == '}') { sb += '}'; i += 2 }
      else if (i + 1 < q.length && q.charAt(i) == '{' && q.charAt(i + 1) == '}') {
        require(it.hasNext, s"query has more {} placeholders than parameters (${params.size} given): $q")
        sb.append(it.next().replace("'", "").replace("\\", ""))
        i += 2
      } else { sb.append(q.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** DB-API 'format' paramstyle (`%s`) rendered as quoted SQL string
    * literals, quotes doubled per the SQL standard. `%%` escapes a
    * literal percent, matching the DB-API contract. With
    * `doubleBackslashes` (Redshift's PG-8 default,
    * standard_conforming_strings off) backslashes are doubled too —
    * an un-doubled trailing `\` would swallow the closing quote
    * (literal breakout); on a standard-conforming endpoint doubling
    * would corrupt the value instead, so the config flag picks the
    * mode.
    */
  private def formatPercent(q: String, params: Seq[String], doubleBackslashes: Boolean): String = {
    val it = params.iterator
    val sb = new StringBuilder
    var i = 0
    while (i < q.length) {
      if (i + 1 < q.length && q.charAt(i) == '%' && q.charAt(i + 1) == '%') { sb += '%'; i += 2 }
      else if (i + 1 < q.length && q.charAt(i) == '%' && q.charAt(i + 1) == 's') {
        require(it.hasNext, s"query has more %s placeholders than parameters (${params.size} given): $q")
        val v = it.next()
        val escaped = (if (doubleBackslashes) v.replace("\\", "\\\\") else v).replace("'", "''")
        sb.append("'").append(escaped).append("'")
        i += 2
      } else { sb.append(q.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** Date rendering: the shared sql.py:389-396 renderer (ONE copy of
    * the contract, [[TdEngineSource.sqlFormatDate]]).
    */
  private[sources] def formatDate(cfg: RedshiftConfig, ts: Timestamp): String =
    TdEngineSource.sqlFormatDate(cfg.dataQueryDatetimeFormat, cfg.dataQueryTimezone, ts)

  /** Per-field data queries (sql.py:266-269): the reference tries
    * `data_query.format(field=selector.field)` and falls back to the
    * raw query ONLY on TypeError/IndexError — i.e. when the query
    * carries positional placeholders (`{}` or `{0}`, the
    * query_string_parameters style), where str.format raises
    * IndexError and NO field substitution happens. A named
    * placeholder OTHER than `{field}` raises KeyError in the
    * reference, which is NOT caught — it propagates as a loud
    * failure, so this port throws too rather than shipping the query
    * with a literal `{name}` in it.
    */
  private[graft] def substituteField(q: String, field: String): String = {
    // doubled braces are literals to str.format — invisible to the scan
    val names = "\\{([^{}]*)\\}".r
      .findAllMatchIn(q.replace("{{", "").replace("}}", ""))
      .map(_.group(1))
      .toSeq
    if (names.isEmpty) q
    else if (names.exists(n => n.isEmpty || n.forall(_.isDigit))) q // str.format IndexError -> untouched
    else {
      val unknown = names.filterNot(_ == "field")
      require(
        unknown.isEmpty,
        s"data_query has unknown placeholder {${unknown.head}} (str.format KeyError in the reference)",
      )
      q.replace("{field}", field)
    }
  }
}
