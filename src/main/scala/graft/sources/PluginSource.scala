package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.model.SeriesSelector

/** Configuration for an external-command ("plugin") source.
  *
  * @param cmd        command + fixed args; the action name is appended
  * @param configJson raw JSON object forwarded verbatim as `config`;
  *                   `{"features":{"plot":true}}` switches plot reads
  *                   to the dedicated `plot` action (plugin.py:90-96)
  * @param source     source name echoed into every request
  */
final case class PluginSourceConfig(
    cmd: Seq[String],
    configJson: String = "{}",
    source: String = "plugin",
    /** raw quality values considered GOOD — the resolved
      * quality_mapping good-list (kukur/source/quality.py); a plugin
      * `quality` column maps to 1/0 like every other source's.
      */
    qualityGood: Seq[Any] = Nil,
)

/** A series identified by an arbitrary tag map plus a field — the
  * selector shape of SeriesSelector.to_data (kukur/base.py:71-73,123),
  * not just a single "series name" tag.
  */
final case class SeriesKey(tags: Map[String, String], field: String = "value") {

  /** Flattened display name, mirroring SeriesSelector.name
    * (kukur/base.py:127-142): the "series name" tag leads, other tags
    * render as `k=v` (sorted for determinism — Scala maps don't
    * preserve insertion order), and a non-default field appends
    * `::field`.
    */
  def name: String = {
    val named = tags.get("series name").toSeq
    val rest = (tags - "series name").toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
    val base = (named ++ rest).mkString(",")
    if (field == "value") base else s"$base::$field"
  }
}

object SeriesKey {
  def apply(name: String): SeriesKey = new SeriesKey(Map("series name" -> name))
}

/** External-command source — the JSON/binary plugin interface of
  * kukur/source/plugin/plugin.py:24-111.
  *
  * Protocol: spawn `cmd :+ action` with a JSON request on stdin;
  * stdout is JSON for `search`/`metadata` and an Arrow IPC *stream*
  * for `data`/`plot` (plugin.py:69-71). Requests mirror the reference
  * shape: `{"config": …, "data": {"series": {"source", "tags": {…},
  * "field"}, "startDate", "endDate"}}` (SeriesSelector.to_data,
  * kukur/base.py).
  *
  * Scale shape: the reference invokes the binary once per request on a
  * single node. Here `search`/`metadata` stay driver-side (results are
  * series lists — tiny), while `data` fans out as one (series,
  * interval-chunk) request per task via `mapPartitions`: a cluster
  * pulls every series range concurrently, and each task streams its
  * plugin's stdout through the lazy per-batch Arrow decode (bounded
  * memory). A subprocess per task is genuine per-partition imperative
  * work — the documented last-resort case for dropping below the
  * DataFrame API.
  */
class PluginSource(cfg: PluginSourceConfig) extends TimeSeriesSource with Serializable {
  import PluginSource._

  override def tagColumns: Seq[String] = Seq("series_name")

  def getData(spark: SparkSession, selector: SeriesSelector, start: Timestamp, end: Timestamp): DataFrame =
    dataForKeys(spark, Seq(SeriesKey(selector.tags, selector.field)), start, end)

  /** The plugin's `plot` action when it advertises `features.plot`. */
  override def getPlotData(
      spark: SparkSession,
      selector: SeriesSelector,
      start: Timestamp,
      end: Timestamp,
      intervalCount: Int,
  ): DataFrame = plotData(spark, Seq(SeriesKey(selector.tags, selector.field)), start, end, intervalCount)

  override def ownMetadata(spark: SparkSession, selector: SeriesSelector): Option[DataFrame] =
    Some(metadata(spark, SeriesKey(selector.tags, selector.field)))

  /** Series discovery: parse the `series` selectors of the plugin's
    * `search` JSON to (source, series_name, field, tags_json) rows —
    * ts_search shape plus the full tag map for multi-tag sources.
    * Plugin-provided metadata items in the same response are exposed
    * by [[searchMetadata]] (plugin.py:41-44 yields both kinds).
    */
  def search(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = new String(run(cfg.cmd :+ "search", searchRequest(cfg)), "UTF-8")
    val parsed = spark.read.json(Seq(out).toDS)
    if (!parsed.columns.contains("series")) {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(
          Seq(
            StructField("source", StringType),
            StructField("series_name", StringType),
            StructField("field", StringType),
            StructField("tags_json", StringType),
          )
        ),
      )
    } else {
      val exploded = parsed.select(explode(col("series")).as("s"))
      // `field` is optional in SeriesSelector.to_data — entries without
      // one (the common case) default to "value"; referencing a field
      // the inferred struct lacks is an analysis error, so probe first
      val fieldCol =
        if (exploded.schema("s").dataType.asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.contains("field"))
          coalesce(col("s.field"), lit("value"))
        else lit("value")
      exploded
        .select(
          col("s.source").as("source"),
          col("s.tags.`series name`").as("series_name"),
          fieldCol.as("field"),
          to_json(col("s.tags")).as("tags_json"),
        )
    }
  }

  /** Metadata items of the plugin's `search` response — the reference
    * yields `Metadata.from_data(item)` for every entry under the
    * `metadata` key (plugin.py:41-42); each item carries its selector
    * in a `series` sub-object (Metadata.from_data,
    * kukur/metadata/__init__.py:155-170). Returns one row per item
    * with the plugin-defined fields plus derived source/series_name;
    * empty frame when the plugin sends no metadata.
    */
  def searchMetadata(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = new String(run(cfg.cmd :+ "search", searchRequest(cfg)), "UTF-8")
    val parsed = spark.read.json(Seq(out).toDS)
    if (!parsed.columns.contains("metadata"))
      spark.emptyDataFrame
    else {
      val items = parsed.select(explode(col("metadata")).as("m")).select("m.*")
      if (items.columns.contains("series"))
        items
          .withColumn("source", col("series.source"))
          .withColumn("series_name", col("series.tags.`series name`"))
          .drop("series")
      else items
    }
  }

  /** Metadata for one series: the plugin's JSON object as a one-row
    * frame (schema is plugin-defined, like Metadata.from_data).
    */
  def metadata(spark: SparkSession, series: String): DataFrame =
    metadata(spark, SeriesKey(series))

  def metadata(spark: SparkSession, key: SeriesKey): DataFrame = {
    import spark.implicits._
    val out = new String(run(cfg.cmd :+ "metadata", metadataRequest(cfg, key)), "UTF-8")
    spark.read.json(Seq(out).toDS)
  }

  /** Distributed data read: one plugin invocation per (series,
    * interval chunk), fanned out over the cluster. `chunksPerSeries`
    * splits [start, end) into half-open sub-ranges — the same
    * parallelization lever as ts_interval_chunks — so long ranges
    * don't serialize behind one subprocess. Pass `schema` when the
    * plugin's response shape is known; otherwise it is probed once
    * driver-side from the first task's request, and the probe bytes
    * are reused as that task's data (broadcast of one chunk-sized
    * response) — no request ever executes twice.
    */
  def data(
      spark: SparkSession,
      seriesNames: Seq[String],
      start: Timestamp,
      end: Timestamp,
      chunksPerSeries: Int = 1,
      schema: Option[StructType] = None,
  ): DataFrame =
    fetch(spark, seriesNames.map(SeriesKey(_)), start, end, chunksPerSeries, schema, "data", None)

  def dataForKeys(
      spark: SparkSession,
      keys: Seq[SeriesKey],
      start: Timestamp,
      end: Timestamp,
      chunksPerSeries: Int = 1,
      schema: Option[StructType] = None,
  ): DataFrame =
    fetch(spark, keys, start, end, chunksPerSeries, schema, "data", None)

  /** Bucketed plot read (plugin.py:73-96): when the source config
    * advertises `features.plot`, issue the dedicated `plot` action;
    * otherwise fall back to a plain `data` request. Either way the
    * request carries `intervalCount` — the number of buckets the
    * plugin should reduce the range to — mirroring the reference,
    * which also sends it on the fallback path.
    */
  def plotData(
      spark: SparkSession,
      keys: Seq[SeriesKey],
      start: Timestamp,
      end: Timestamp,
      intervalCount: Int,
      chunksPerSeries: Int = 1,
      schema: Option[StructType] = None,
  ): DataFrame = {
    val action = if (featureEnabled(cfg.configJson, "plot")) "plot" else "data"
    fetch(spark, keys, start, end, chunksPerSeries, schema, action, Some(intervalCount))
  }

  private def fetch(
      spark: SparkSession,
      keys: Seq[SeriesKey],
      start: Timestamp,
      end: Timestamp,
      chunksPerSeries: Int,
      schema: Option[StructType],
      action: String,
      intervalCount: Option[Int],
  ): DataFrame = {
    require(keys.nonEmpty, "plugin data read needs at least one series")
    require(chunksPerSeries >= 1, "chunksPerSeries must be positive")
    val startMs = start.getTime
    val spanMs = end.getTime - startMs
    val tasks: Seq[(Int, SeriesKey, String, String)] = (for {
      k <- keys
      i <- 0 until chunksPerSeries
    } yield (
      k,
      isoMs(startMs + spanMs * i / chunksPerSeries),
      isoMs(startMs + spanMs * (i + 1) / chunksPerSeries),
    )).zipWithIndex.map { case ((k, a, b), idx) => (idx, k, a, b) }
    // schema probe: ONE driver-side run of the first task's request;
    // its bytes are broadcast and serve as task 0's data, so probing
    // never re-executes a request against the plugin (a correctness/
    // cost hazard for non-idempotent or metered plugins).
    val (dataSchema, probe) = schema match {
      case Some(s) => (s, None)
      case None =>
        val (_, k0, a0, b0) = tasks.head
        val bytes = run(cfg.cmd :+ action, dataRequest(cfg, k0, a0, b0, intervalCount))
        val inferred = ArrowIpcSource.withReader(bytes, streaming = true)(r =>
          ArrowIpcSource.toSparkSchema(r.getVectorSchemaRoot.getSchema)
        )
        (inferred, Some(spark.sparkContext.broadcast(bytes)))
    }
    val outSchema = StructType(StructField("series_name", StringType, nullable = false) +: dataSchema.fields)
    val conf = cfg // avoid capturing `this` in the task closure
    val act = action
    val ic = intervalCount
    val taskRdd = spark.sparkContext
      .parallelize(tasks, math.min(tasks.size, spark.sparkContext.defaultParallelism))
    val rows = taskRdd.mapPartitions { it =>
      it.flatMap { case (idx, key, fromIso, toIso) =>
        val bytes = probe match {
          case Some(bc) if idx == 0 => bc.value
          case _ => run(conf.cmd :+ act, dataRequest(conf, key, fromIso, toIso, ic))
        }
        ArrowIpcSource
          .decodeAll(bytes, streaming = true, dataSchema)
          .map(r => Row.fromSeq(key.name +: r.toSeq))
      }
    }
    val df = spark.createDataFrame(rows, outSchema)
    // quality mapping (QualityMapper, kukur/source/quality.py): raw
    // plugin quality codes become GOOD(1)/BAD(0), typed literal
    // comparison like ConfiguredSource.withQuality
    if (cfg.qualityGood.isEmpty || !df.columns.contains("quality")) df
    else {
      import org.apache.spark.sql.functions._
      val isGood = cfg.qualityGood.map(v => col("quality") === lit(v)).reduce(_ || _)
      df.withColumn("quality", when(isGood, lit(1)).otherwise(lit(0)).cast("int"))
    }
  }
}

object PluginSource {

  def apply(
      cmd: Seq[String],
      configJson: String = "{}",
      source: String = "plugin",
      qualityGood: Seq[Any] = Nil,
  ): PluginSource =
    new PluginSource(PluginSourceConfig(cmd, configJson, source, qualityGood))

  /** Driver-side check of a boolean under the config's `features`
    * object — `config.get("features", {}).get(feature, False)` in the
    * reference (plugin.py:90). Jackson ships with Spark.
    */
  private[sources] def featureEnabled(configJson: String, feature: String): Boolean =
    try new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(configJson)
      .path("features")
      .path(feature)
      .asBoolean(false)
    catch { case _: Exception => false }

  private def searchRequest(cfg: PluginSourceConfig): String =
    s"""{"config":${cfg.configJson},"search":{"source":${jstr(cfg.source)}}}"""

  private def metadataRequest(cfg: PluginSourceConfig, key: SeriesKey): String =
    s"""{"config":${cfg.configJson},"metadata":{"series":${selector(cfg, key)}}}"""

  private def dataRequest(
      cfg: PluginSourceConfig,
      key: SeriesKey,
      fromIso: String,
      toIso: String,
      intervalCount: Option[Int],
  ): String = {
    val interval = intervalCount.fold("")(n => s""","intervalCount":$n""")
    s"""{"config":${cfg.configJson},"data":{"series":${selector(cfg, key)},""" +
      s""""startDate":${jstr(fromIso)},"endDate":${jstr(toIso)}$interval}}"""
  }

  private def selector(cfg: PluginSourceConfig, key: SeriesKey): String = {
    val tags = key.tags.toSeq
      .sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString(",")
    s"""{"source":${jstr(cfg.source)},"tags":{$tags},"field":${jstr(key.field)}}"""
  }

  private def isoMs(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).toString

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Spawn the plugin and exchange one request/response. Requests are
    * small (well under the OS pipe buffer), so writing stdin before
    * draining stdout cannot deadlock; stderr is drained on a separate
    * thread so a chatty plugin can't fill its pipe and wedge the task
    * mid-stdout. Responses are read fully — bounded by one (series,
    * chunk) range, the unit the caller sizes via `chunksPerSeries`.
    */
  private[sources] def run(cmd: Seq[String], input: String): Array[Byte] = {
    val p = new ProcessBuilder(cmd: _*).start()
    val errBytes = new java.util.concurrent.atomic.AtomicReference[Array[Byte]](Array.empty)
    val drainer = new Thread(() => errBytes.set(p.getErrorStream.readAllBytes()))
    drainer.setDaemon(true)
    drainer.start()
    val stdin = p.getOutputStream
    stdin.write(input.getBytes("UTF-8"))
    stdin.close()
    val out = p.getInputStream.readAllBytes()
    val code = p.waitFor()
    drainer.join(10000)
    val err = new String(errBytes.get(), "UTF-8")
    if (code != 0)
      throw new RuntimeException(s"plugin '${cmd.mkString(" ")}' exited $code: ${err.take(500)}")
    if (err.nonEmpty) System.err.println(s"[plugin ${cmd.headOption.getOrElse("")}] $err")
    out
  }
}
