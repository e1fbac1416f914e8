package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.model.SeriesSelector

/** TDengine source (kukur/source/tdengine/tdengine.py) without the
  * `taosws` native wheel: the adapter speaks a public JSON-over-
  * WebSocket protocol that [[TaosWsClient]] implements on the JDK's
  * `java.net.http.WebSocket`.
  *
  * The reference class is two lines of glue — `BaseSQLSource` plus a
  * taosws connection — so the semantics here mirror
  * `kukur/source/sql.py`: `list_query` drives search (bare selectors
  * when `list_columns` is empty, metadata rows otherwise, sql.py:
  * 134-143), `metadata_query`/`dictionary_query` drive per-series
  * metadata (sql.py:145-180), and `data_query` takes the tag values
  * followed by the formatted start/end dates (sql.py:261-285; end
  * bound exclusive or inclusive exactly as the configured SQL text
  * says — the shipped fixture uses `ts >= '{}' and ts < '{}'`,
  * tests/test_data/tdengine/tdengine.toml:9).
  *
  * `query_string_parameters = true` is REQUIRED, as the reference's
  * own docs state for this source (docs/source/tdengine.asciidoc:
  * "true parameterizable queries are not supported by the driver") —
  * parameters are rendered into `{}` placeholders with
  * single-quote-stripping, matching Python `str.format` over the
  * reference's param list. Dates render as Python's `str(datetime)`
  * ("2020-01-01 00:00:00+00:00") unless `data_query_datetime_format`
  * is set (sql.py:389-396).
  *
  * Scale shape: one series' points is a bounded driver fetch (the
  * reference does the same); multi-series reads fan out one WebSocket
  * query per series across executor tasks ([[dataForKeys]]) — the
  * InfluxSource/PluginSource pattern, so a cluster fans out against
  * taosAdapter instead of serializing on the driver.
  */
final case class TdEngineConfig(
    connection: TaosWsConfig = TaosWsConfig(),
    tagColumns: Seq[String] = Seq(SeriesSelector.SeriesNameTag),
    fieldColumns: Option[Seq[String]] = None,
    listQuery: Option[String] = None,
    listColumns: Seq[String] = Nil,
    metadataQuery: Option[String] = None,
    metadataColumns: Seq[String] = Nil,
    dictionaryQuery: Option[String] = None,
    dataQuery: Option[String] = None,
    dataQueryDatetimeFormat: Option[String] = None,
    /** sql.py:218 `replace(tzinfo=data_timezone)`: reinterpret result
      * wall clocks as this zone (the server renders UTC), then convert
      * to UTC.
      */
    dataTimezone: Option[String] = None,
    /** sql.py:389-392: render the start/end bounds as this zone's
      * LOCAL time, offset-free.
      */
    dataQueryTimezone: Option[String] = None,
    dataQueryTags: Option[Seq[String]] = None,
    queryStringParameters: Boolean = false,
    qualityGood: Seq[Any] = Nil,
) extends Serializable

class TdEngineSource(cfg: TdEngineConfig) extends TimeSeriesSource with Serializable {

  import TdEngineSource._

  override def tagColumns: Seq[String] = cfg.tagColumns

  override def ownMetadata(spark: SparkSession, selector: SeriesSelector): Option[DataFrame] = Some(metadata(spark, selector))

  /** Series discovery (sql.py:134 `search`): nothing without a
    * `list_query`; bare tag tuples when `list_columns` is empty
    * (sql.py:287 `__search_names`), metadata rows otherwise (sql.py:
    * 306 `__search_metadata`). Output is one row per (tags × field):
    * tag columns, then `field`, then any non-tag list columns that
    * coerce into the metadata vocabulary (the reference swallows
    * ValueError per field, sql.py:358-363 — a column like the
    * fixture's `table` simply drops out).
    */
  def search(spark: SparkSession): DataFrame = {
    val listQuery = cfg.listQuery.getOrElse(return emptySearch(spark))
    val result = withClient(_.query(listQuery))
    val fields = cfg.fieldColumns.getOrElse(Seq("value"))
    if (cfg.listColumns.isEmpty) {
      require(
        result.fields.size == cfg.tagColumns.size,
        "number of tag_columns does not match result of list_query",
      )
      val rows = for {
        tagValues <- result.rows
        field <- fields
      } yield Row.fromSeq(tagValues.map(v => if (v == null) null else v.toString) :+ field)
      val schema = StructType(
        cfg.tagColumns.map(StructField(_, StringType)) :+ StructField("field", StringType)
      )
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    } else {
      cfg.tagColumns.foreach { t =>
        require(cfg.listColumns.contains(t), s"""tag column "$t" not found""")
      }
      // non-tag columns keep their position; only vocabulary names
      // survive (coerce_field ValueError semantics)
      val metaCols = cfg.listColumns.filterNot(cfg.tagColumns.contains).filter(isMetadataName)
      val idx = cfg.listColumns.zipWithIndex.toMap
      val rows = for {
        row <- result.rows
        field <- fields
      } yield Row.fromSeq(
        cfg.tagColumns.map(t => cell(row, idx(t))) ++ (field +: metaCols.map(m => cell(row, idx(m))))
      )
      val schema = StructType(
        cfg.tagColumns.map(StructField(_, StringType)) ++
          (StructField("field", StringType) +: metaCols.map(m => StructField(MetadataSource.canonicalName(m), StringType)))
      )
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    }
  }

  /** Per-series metadata (sql.py:145 `get_metadata`): the metadata
    * query with the tag values as parameters; dictionary_name triggers
    * the dictionary query. One row: tag columns + surviving metadata
    * columns (+ `dictionary` as a `label:value,…` rendering when
    * resolved).
    */
  def metadata(spark: SparkSession, selector: SeriesSelector): DataFrame = {
    val tagVals = cfg.tagColumns.map(t => selector.tags.getOrElse(t, ""))
    val base = cfg.tagColumns.map(t => t -> selector.tags.getOrElse(t, "")).toMap
    val fields: Map[String, String] = cfg.metadataQuery match {
      case None => Map.empty
      case Some(q) =>
        val result = withClient(_.query(formatQuery(q, tagVals)))
        result.rows.headOption match {
          case None => Map.empty
          case Some(row) =>
            cfg.metadataColumns.zipWithIndex.flatMap { case (name, i) =>
              val v = cell(row, i)
              if (v == null || v.isEmpty || !isMetadataName(name)) None
              else Some(MetadataSource.canonicalName(name) -> v)
            }.toMap
        }
    }
    val dict = fields.get("dictionary_name").flatMap(queryDictionary)
    val all = base ++ fields ++ dict.map("dictionary" -> _)
    val names = (cfg.tagColumns ++ fields.keys.toSeq.sorted ++ dict.map(_ => "dictionary")).distinct
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row.fromSeq(names.map(all.getOrElse(_, null)))), 1),
      StructType(names.map(StructField(_, StringType))),
    )
  }

  /** The dictionary query (sql.py:372): `(key, label)` rows for one
    * dictionary name, rendered `key:label` comma-joined in key order.
    */
  private def queryDictionary(name: String): Option[String] = cfg.dictionaryQuery.map { q =>
    val result = withClient(_.query(formatQuery(q, Seq(name))))
    result.rows
      .map(r => (r.head.toString.toInt, cell(r, 1)))
      .sortBy(_._1)
      .map { case (k, v) => s"$k:$v" }
      .mkString(",")
  }

  /** Range data for one series: `ts`/`value` (+ `quality` when the
    * query yields a third column and a quality mapping is configured,
    * sql.py:245-247).
    */
  def getData(spark: SparkSession, selector: SeriesSelector, start: Timestamp, end: Timestamp): DataFrame =
    toDataFrame(spark, fetchData(cfg, selector.tags, start, end), series = None)

  /** Distributed multi-series read: one WebSocket query per (series ×
    * interval chunk), one task each (the PluginSource fan-out shape —
    * rows never pass through the driver). `valueType` declares the
    * canonical value column, "double" by default: a TDengine column is
    * typed, so the caller knows the supertable's value type.
    * `intervalChunks > 1` splits [start, end) into equal sub-ranges so
    * ONE long series parallelizes across executors too — the 100 TB
    * shape when series counts are low but histories deep. Chunking
    * assumes the configured `data_query` binds a HALF-OPEN range (the
    * reference fixture's `ts >= '{}' and ts < '{}'`); an
    * inclusive-end query would double-count chunk boundaries.
    */
  def dataForKeys(
      spark: SparkSession,
      keys: Seq[Map[String, String]],
      start: Timestamp,
      end: Timestamp,
      valueType: String = "double",
      intervalChunks: Int = 1,
  ): DataFrame = {
    require(keys.nonEmpty, "tdengine data read needs at least one series")
    require(intervalChunks >= 1, "intervalChunks must be at least 1")
    val target: DataType = if (valueType == "string") StringType else DoubleType
    val conf = cfg
    val tagCols = cfg.tagColumns
    val (lo, hi) = (start.getTime, end.getTime)
    val bounds = (0 until intervalChunks).map { i =>
      val a = lo + (hi - lo) * i / intervalChunks
      val b = if (i == intervalChunks - 1) hi else lo + (hi - lo) * (i + 1) / intervalChunks
      (new Timestamp(a), new Timestamp(b))
    }.filter { case (a, b) => b.after(a) }
    val work = for { tags <- keys; (a, b) <- bounds } yield (tags, a, b)
    val schema = StructType(Seq(
      StructField("series_name", StringType),
      StructField("ts", TimestampType),
      StructField("value", target),
    ))
    // an empty or inverted window leaves no chunks: answer empty like
    // getData does (parallelize would reject zero slices)
    if (work.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val rows = spark.sparkContext
      .parallelize(work, math.min(work.size, spark.sparkContext.defaultParallelism))
      .flatMap { case (tags, a, b) =>
        val name = tagCols.map(t => tags.getOrElse(t, "")).mkString(",")
        // companion call, NOT the instance wrapper — the closure must
        // capture only (conf, tagCols, target), never `this`
        TdEngineSource.fetchData(conf, tags, a, b).rows.map(r => Row(name, r.ts, coerce(r.value, target)))
      }
    spark.createDataFrame(rows, schema)
  }

  private def toDataFrame(spark: SparkSession, fetched: Fetched, series: Option[String]): DataFrame = {
    val rows = fetched.rows
    // schema from the WIRE field types, not the rows — an empty window
    // must not degrade the value column or drop quality
    val hasQuality = cfg.qualityGood.nonEmpty && fetched.fields.size > 2
    val nonNull = rows.map(_.value).filter(_ != null)
    val valueType: DataType =
      if (nonNull.nonEmpty) detectType(nonNull)
      // no rows, or an all-NULL window of a typed column: the wire
      // field type keeps the schema stable (and NULL→NaN applicable)
      else fieldType(fetched.fields.lift(1))
    val data = rows.map { r =>
      val vs = Seq(r.ts, coerce(r.value, valueType)) ++
        (if (hasQuality) Seq(if (isGoodQuality(r.quality.get)) 1 else 0) else Nil)
      Row.fromSeq(series.map(Seq(_)).getOrElse(Nil) ++ vs)
    }
    val schema = StructType(
      series.map(_ => StructField("series_name", StringType)).toSeq ++
        Seq(StructField("ts", TimestampType), StructField("value", valueType)) ++
        (if (hasQuality) Seq(StructField("quality", IntegerType)) else Nil)
    )
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
  }

  private def isGoodQuality(v: Any): Boolean = cfg.qualityGood.exists {
    case n: Number => v match {
      case m: Number => m.longValue() == n.longValue()
      case s: String => s == n.toString
      case _         => false
    }
    case s => v != null && v.toString == s.toString
  }

  private def emptySearch(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(cfg.tagColumns.map(StructField(_, StringType)) :+ StructField("field", StringType)),
    )

  private def withClient[T](f: TaosWsClient => T): T = TdEngineSource.withClient(cfg, f)
  private def formatQuery(q: String, params: Seq[String]): String =
    TdEngineSource.formatQuery(cfg, q, params)
  private def fetchData(
      conf: TdEngineConfig,
      tags: Map[String, String],
      start: Timestamp,
      end: Timestamp,
  ): Fetched = TdEngineSource.fetchData(conf, tags, start, end)
}

object TdEngineSource {

  private[sources] final case class DataRow(ts: Timestamp, value: Any, quality: Option[Any])
  private[sources] final case class Fetched(fields: Seq[TaosWs.Field], rows: Seq[DataRow])

  /** Spark type for a wire column type when no rows came back. */
  private def fieldType(f: Option[TaosWs.Field]): DataType = f.map(_.tpe) match {
    case Some(t) if t >= TaosWs.TypeTinyInt && t <= TaosWs.TypeDouble => DoubleType
    case Some(t) if t >= TaosWs.TypeUTinyInt && t <= TaosWs.TypeUBigInt => DoubleType
    case Some(TaosWs.TypeBool) => BooleanType
    case _ => StringType
  }

  private def withClient[T](cfg: TdEngineConfig, f: TaosWsClient => T): T = {
    val client = new TaosWsClient(cfg.connection)
    try f(client)
    finally client.close()
  }

  /** Python `str.format` over positional `{}` placeholders — the
    * reference's `query_string_parameters` path (sql.py:156-158,
    * 282-284). Values are quote-stripped: they land inside
    * single-quoted SQL literals in the configured text, and the
    * reference's own identifier scrub precedent (influxdb.py:195)
    * applies the same defense.
    */
  private[sources] def formatQuery(cfg: TdEngineConfig, q: String, params: Seq[String]): String = {
    require(
      cfg.queryStringParameters,
      "tdengine requires query_string_parameters = true " +
        "(the taosws driver has no parameterizable queries — docs/source/tdengine.asciidoc)",
    )
    val it = params.iterator
    val sb = new StringBuilder
    var i = 0
    while (i < q.length) {
      // str.format brace escapes first: {{ and }} render literally
      if (i + 1 < q.length && q.charAt(i) == '{' && q.charAt(i + 1) == '{') { sb += '{'; i += 2 }
      else if (i + 1 < q.length && q.charAt(i) == '}' && q.charAt(i + 1) == '}') { sb += '}'; i += 2 }
      else if (i + 1 < q.length && q.charAt(i) == '{' && q.charAt(i + 1) == '}') {
        // Python str.format raises IndexError on too few args — fail
        // at build time, not as an opaque server-side syntax error
        require(it.hasNext, s"query has more {} placeholders than parameters (${params.size} given): $q")
        // strip BOTH quote chars and backslashes: a trailing backslash
        // would escape the literal's closing quote (TDengine honors
        // backslash escapes in string literals)
        sb.append(it.next().replace("'", "").replace("\\", ""))
        i += 2
      } else { sb.append(q.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** Python `str(datetime)` for an aware UTC datetime:
    * `2020-01-01 00:00:00+00:00`, microseconds only when non-zero —
    * what `"{}".format(start_date)` renders when no
    * `data_query_datetime_format` is configured (sql.py:389-396).
    */
  private[sources] def pythonStr(ts: Timestamp): String = {
    val base = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(ts.toInstant)
    s"$base${fracPart(ts)}+00:00"
  }

  private[sources] def formatDate(cfg: TdEngineConfig, ts: Timestamp): String =
    sqlFormatDate(cfg.dataQueryDatetimeFormat, cfg.dataQueryTimezone, ts)

  /** The ONE sql.py:389-396 date-bound renderer, shared by every
    * BaseSQLSource-family source (tdengine, redshift): strftime
    * override, else naive local wall time in `data_query_timezone`,
    * else Python `str(datetime)` UTC.
    */
  private[sources] def sqlFormatDate(fmt: Option[String], queryTz: Option[String], ts: Timestamp): String = {
    val queryZone = queryTz.map(java.time.ZoneId.of)
    fmt match {
      case Some(f) =>
        java.time.format.DateTimeFormatter
          .ofPattern(GraftConfig.strftimeToJava(f))
          .withZone(queryZone.getOrElse(java.time.ZoneOffset.UTC))
          .format(ts.toInstant)
      case None =>
        queryZone match {
          // astimezone(qz).replace(tzinfo=None) → naive local rendering
          case Some(z) =>
            java.time.format.DateTimeFormatter
              .ofPattern("yyyy-MM-dd HH:mm:ss")
              .format(ts.toInstant.atZone(z).toLocalDateTime) +
              fracPart(ts)
          case None => pythonStr(ts)
        }
    }
  }

  private def fracPart(ts: Timestamp): String = {
    val micros = ts.toInstant.getNano / 1000
    if (micros == 0) "" else f".$micros%06d"
  }

  /** sql.py:217-219: `replace(tzinfo=data_timezone)` keeps the wall
    * clock and swaps the zone. Block timestamps are epochs the server
    * renders in UTC, so the reinterpretation shifts UTC wall time into
    * the configured zone.
    */
  private def reinterpret(ts: Timestamp, zone: Option[java.time.ZoneId]): Timestamp = zone match {
    case None => ts
    case Some(z) =>
      Timestamp.from(ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime.atZone(z).toInstant)
  }

  /** One series' rows over the WebSocket — runs on the driver for
    * single-series reads and inside executor tasks for
    * [[TdEngineSource.dataForKeys]].
    */
  private def fetchData(
      cfg: TdEngineConfig,
      tags: Map[String, String],
      start: Timestamp,
      end: Timestamp,
  ): Fetched = {
    val query = cfg.dataQuery.getOrElse(return Fetched(Nil, Nil))
    val tagNames = cfg.dataQueryTags.getOrElse(cfg.tagColumns)
    val params = tagNames.map(t => tags.getOrElse(t, "")) ++
      Seq(formatDate(cfg, start), formatDate(cfg, end))
    val result = withClient(cfg, _.query(formatQuery(cfg, query, params)))
    val zone = cfg.dataTimezone.map(java.time.ZoneId.of)
    val rows = result.rows.map { row =>
      val ts = row.head match {
        case t: Timestamp => reinterpret(t, zone)
        case s: String    => parseTimestamp(s, zone)
        case other        => throw new IllegalStateException(s"tdengine: unexpected ts value $other")
      }
      DataRow(ts, row(1), if (row.size > 2) Some(row(2)) else None)
    }
    Fetched(result.fields, rows)
  }

  // a zone offset tail: Z, +HH:MM, -HHMM, +HH — matched at the END so
  // the date's own '-' separators never trigger it
  private val OffsetTail = "(Z|[+-]\\d{2}(:?\\d{2})?)$".r

  private def parseTimestamp(s: String, zone: Option[java.time.ZoneId]): Timestamp = {
    val iso = s.trim.replace(" ", "T")
    val offset = OffsetTail.findFirstIn(iso)
    zone match {
      // replace(tzinfo=…) semantics: the written wall clock, any
      // offset in the text notwithstanding, stamped with the zone
      case Some(z) =>
        val wall = offset.map(o => iso.dropRight(o.length)).getOrElse(iso)
        Timestamp.from(java.time.LocalDateTime.parse(wall).atZone(z).toInstant)
      case None =>
        // OffsetDateTime.parse needs the colon form: -0500 → -05:00,
        // and a bare ±HH gains :00
        val withZone = offset match {
          case None => iso + "Z"
          case Some(o) if o.matches("[+-]\\d{4}") =>
            iso.dropRight(2) + ":" + iso.takeRight(2)
          case Some(o) if o.matches("[+-]\\d{2}") => iso + ":00"
          case Some(_) => iso
        }
        Timestamp.from(java.time.OffsetDateTime.parse(withZone).toInstant)
    }
  }

  /** The reference's per-result type detection (sql.py:404 with the
    * 90% majority rule) collapses here: a TDengine column carries one
    * SQL type, so a result is uniformly numeric, boolean, or textual.
    */
  private def detectType(values: Seq[Any]): DataType = {
    val nonNull = values.filter(_ != null)
    if (nonNull.nonEmpty && nonNull.forall(_.isInstanceOf[Number])) DoubleType
    else if (nonNull.nonEmpty && nonNull.forall(_.isInstanceOf[Boolean])) BooleanType
    else StringType
  }

  private def coerce(v: Any, t: DataType): Any =
    if (v == null) {
      // the reference maps SQL NULL in a numeric series to NaN (sql.py:233)
      if (t == DoubleType) Double.NaN else null
    } else
      t match {
        case DoubleType  => v.asInstanceOf[Number].doubleValue()
        case BooleanType => v
        case _           => v.toString
      }

  private def cell(row: Seq[Any], i: Int): String =
    if (i >= row.size || row(i) == null) null else row(i).toString

  private def isMetadataName(name: String): Boolean = {
    val canonical = MetadataSource.canonicalName(name)
    MetadataSource.CanonicalFields.contains(canonical)
  }
}
