package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.SeriesSelector
import graft.operators.TimeSeriesOps

/** Config-driven file source, mirroring the reference's source layer
  * (kukur/source/arrow.py BaseArrowSource + kukur/source/csv/csv.py):
  * three data layouts — `row` (tags + ts + field columns), `pivot`
  * (first column ts, one column per series), `dir` (series key encoded
  * in the path) — with column mapping, datetime format/timezone
  * normalization and quality mapping.
  *
  * Spark-first re-expression: a "source" is a declarative
  * `spark.read` plan producing the canonical frame
  * `(tags…, field, ts, value[, quality])` for *all* series at once.
  * Layout conversions are plans, not loops: `pivot` becomes a `stack`
  * unpivot, `dir` becomes a partitioned scan — Hive partition discovery
  * for `series_name=<v>/` dirs, a [[SeriesFileIndex]] (one partition per
  * series file, the key decoded from its name on the driver) for
  * filename-keyed dirs — so the path key comes back as a column and a
  * tag filter opens only the matching series' files.
  */
final case class SourceConfig(
    path: String,
    fileFormat: String = "parquet", // parquet | csv | json | orc
    dataFormat: String = "row", // row | pivot | dir
    tagColumns: Seq[String] = Seq("series_name"),
    fieldColumns: Seq[String] = Seq("value"),
    /** canonical name -> column name in the file (kukur column_mapping) */
    columnMapping: Map[String, String] = Map.empty,
    /** to_timestamp pattern when ts is stored as a string */
    datetimeFormat: Option[String] = None,
    /** timezone to assume for naive timestamps (kukur data_timezone) */
    dataTimezone: Option[String] = None,
    /** raw quality values considered GOOD — ints or strings, matching
      * the reference's `list[str | int]` good-list
      * (kukur/source/quality.py:26)
      */
    qualityGood: Seq[Any] = Nil,
    csvHeader: Boolean = true,
    csvSeparator: String = ",",
    /** value column type: "double" (default), "string", or "auto" —
      * kukur's STRING series (kukur/base.py:152 DataType) keep
      * labels/states as text; mixed sources promote to string like
      * concat_tables (kukur/source/__init__.py:462). "auto" (the
      * config-file default) resolves from the loaded schema — free for
      * self-describing formats, but CSV pays a schema-inference pass
      * over the data. [[SourceFrames]] keeps the inferred frame, so
      * that pass runs once per change of the source's file listing,
      * not once per read; at corpus scale declare `value_type`
      * explicitly in the config and skip it altogether.
      */
    valueType: String = "double",
    /** dir layout only: how the series key is encoded in the path.
      * None = Hive partition discovery (`series_name=<v>/`) — the
      * graft-native scale layout with partition pruning;
      * Some("name") = one flat file per series named `<series>.<ext>`
      * (the reference's plain dir layout, csv.py:393);
      * Some("base64") = same but base64-encoded names
      * (kukur/source/arrow.py:205).
      */
    pathEncoding: Option[String] = None,
    /** charset for CSV files (kukur file_encoding, e.g. "cp1252") */
    fileEncoding: Option[String] = None,
    /** decimal separator in numeric CSV cells (kukur
      * data_decimal_point): Some(",") parses `"5,6"` as 5.6. Fields
      * are translated to '.' then cast — forced numeric, like arrow's
      * ConvertOptions(decimal_point=...) (csv.py:501).
      */
    decimalPoint: Option[String] = None,
    /** dir layout: nested per-tag path levels (kukur
      * `[[source.X.partitions]]`, arrow.py:25 SourcePartition) — the
      * series file lives at `<enc(tag1)>/<enc(tag2)>/…/<enc(tagN)>.ext`.
      * Empty = one level keyed by `tagColumns.head` with the
      * source-level `pathEncoding` (the reference's default,
      * arrow.py:83).
      */
    partitions: Seq[DirPartition] = Nil,
    /** Delta tables only: the reference's `[[source.X.partitions]]`
      * pruning hints (kukur/source/delta/delta_lake.py:62
      * DeltaLakePartition). `tag`-origin partitions prune for free —
      * the partition column is a tag column, so the selector's
      * equality filter reaches Spark's partition pruning. `timestamp`-
      * origin partitions (YEAR/MONTH/DAY/HOUR, optional strftime
      * format and column override) need the derived predicate
      * [[ConfiguredSource.readRangePruned]] builds from the query
      * range, because a `ts >= …` filter alone cannot prune a
      * `DAY=2020-01-03` directory.
      */
    prunePartitions: Seq[PrunePartition] = Nil,
)

/** A Delta-table partition pruning hint (kukur DeltaLakePartition):
  * origin "tag" or "timestamp"; for timestamp, `key` is the resolution
  * (YEAR|MONTH|DAY|HOUR), `column` overrides the partition column name
  * and `format` is the strftime rendering of the partition value.
  */
final case class PrunePartition(
    origin: String,
    key: String,
    format: Option[String] = None,
    column: Option[String] = None,
)

/** One nested dir-layout path level: the tag it encodes and whether the
  * path component is base64-encoded (kukur SourcePartition).
  */
final case class DirPartition(key: String, base64: Boolean = false)

final class ConfiguredSource(cfg: SourceConfig) {

  /** Reader options of this source's format; all of them shape the
    * loaded schema, so they key the [[SourceFrames]] memo.
    */
  private[graft] def readerOptions(spark: SparkSession, header: Boolean = cfg.csvHeader, infer: Boolean = false): Map[String, String] =
    if (cfg.fileFormat == "csv") {
      val base = Map("header" -> header.toString, "sep" -> cfg.csvSeparator)
      val enc = cfg.fileEncoding.fold(base) { e =>
        MetadataSource.enableJavaCharsets(spark, e)
        base + ("encoding" -> e)
      }
      if (infer) enc + ("inferSchema" -> "true") else enc
    } else Map.empty

  /** Load one path in this source's file format. CSV/parquet/JSON/ORC
    * go through `spark.read`; the Arrow IPC formats (`feather` = file
    * format, `arrows` = streaming format — kukur/source/feather +
    * kukur/source/arrows) decode distributed via [[ArrowIpcSource]].
    */
  private def loadPath(spark: SparkSession, path: String, header: Boolean = cfg.csvHeader, infer: Boolean = false): DataFrame =
    cfg.fileFormat match {
      case "feather" => ArrowIpcSource.read(spark, path)
      case "arrows"  => ArrowIpcSource.read(spark, path, streaming = true)
      case "delta"   => DeltaSource.read(spark, path)
      case "orc" if OrcInstantSource.needsInstantReader(spark, path) =>
        // pyarrow-written tz-aware ORC (TIMESTAMP_INSTANT) — the
        // reference's own fixtures — fails Spark's native footer
        // round-trip; same probe-and-reroute as Inspect.readDataset
        OrcInstantSource.read(spark, path)
      case _ => SourceFrames.load(spark, cfg.fileFormat, readerOptions(spark, header, infer), path)
    }

  private def stripBom(df: DataFrame): DataFrame = MetadataSource.stripBomHeader(df)

  private def mapped(name: String): String = cfg.columnMapping.getOrElse(name, name)

  /** Normalize the ts column: optional string parse with an explicit
    * format, optional timezone assumption (kukur cast_timestamp,
    * arrow.py:265).
    */
  private def normalizeTs(c: Column): Column = {
    val parsed = cfg.datetimeFormat match {
      case Some(fmt) => to_timestamp(c, fmt)
      case None      => c.cast("timestamp")
    }
    cfg.dataTimezone match {
      case Some(tz) => to_utc_timestamp(parsed, tz)
      case None     => parsed
    }
  }

  /** GOOD(1)/BAD(0) from the raw quality column. Each good value
    * compares as a TYPED literal (`col === lit(v)`, OR-folded), so an
    * integer good-list still matches a DOUBLE/FLOAT quality column via
    * numeric coercion (192 matches 192.0) and string codes compare as
    * strings — a string-cast comparison would render 192.0 as "192.0"
    * and silently mark every row BAD.
    */
  private def withQuality(df: DataFrame): DataFrame =
    if (cfg.qualityGood.isEmpty) df
    else {
      val raw = col(mapped("quality"))
      val isGood = cfg.qualityGood.map(v => raw === lit(v)).reduce(_ || _)
      df.withColumn("quality", when(isGood, lit(1)).otherwise(lit(0)).cast("int"))
    }

  /** Canonical read: one distributed frame with all series. */
  def read(spark: SparkSession): DataFrame = read(spark, Map.empty)

  /** [[read]] for a caller that filters it to `tags`: a per-file keyed
    * dir plans frames only for the files whose path names those tags.
    * Every other layout reads as [[read]] does, and its scan prunes on
    * the caller's filter itself.
    */
  private[sources] def read(spark: SparkSession, tags: Map[String, String]): DataFrame = {
    // metadata-only sources are searchable but carry no data
    // (kukur csv.py:299 InvalidSourceException)
    require(cfg.path.nonEmpty, "No data path configured.")
    cfg.dataFormat match {
      case "row"   => readRow(spark)
      case "pivot" => readPivot(spark)
      case "dir"   => readDir(spark, tags)
      case other   => throw new IllegalArgumentException(s"unknown data format: $other")
    }
  }

  /** Row layout: tag columns + ts + one column per field; fields are
    * unpivoted into (field, value) rows via `stack` so multi-field
    * sources land in the same canonical shape.
    */
  private def readRow(spark: SparkSession): DataFrame =
    canonicalRow(stripBom(loadPath(spark, cfg.path, infer = cfg.valueType == "auto")))

  private def canonicalRow(loaded: DataFrame): DataFrame = {
    // Headerless CSV names columns positionally: tags, ts, fields
    // (+ quality) — kukur/source/arrow.py:164's column_names order for
    // sources with header_row = false (the reference default).
    val raw =
      if (cfg.fileFormat == "csv" && !cfg.csvHeader && cfg.columnMapping.isEmpty) {
        val names = cfg.tagColumns ++ Seq("ts") ++ cfg.fieldColumns ++
          (if (cfg.qualityGood.nonEmpty) Seq("quality") else Nil)
        require(
          loaded.columns.length == names.length,
          s"headerless csv at ${cfg.path} has ${loaded.columns.length} columns; expected ${names.mkString(", ")}",
        )
        loaded.toDF(names: _*)
      } else loaded
    val tags = cfg.tagColumns.map(t => col(mapped(t)).as(t))
    val base = withQuality(raw).withColumn("ts", normalizeTs(col(mapped("ts"))))
    val target = resolveValueType(raw, cfg.fieldColumns.map(mapped))
    val stackExpr = cfg.fieldColumns
      .map(f => s"'$f', ${fieldSql(mapped(f), target)}")
      .mkString(s"stack(${cfg.fieldColumns.size}, ", ", ", ") as (field, value)")
    val cols = tags ++ Seq(expr(stackExpr), col("ts")) ++
      (if (cfg.qualityGood.nonEmpty) Seq(col("quality")) else Nil)
    base.select(cols: _*).select(
      (cfg.tagColumns.map(col) ++ Seq(col("field"), col("ts"), col("value")) ++
        (if (cfg.qualityGood.nonEmpty) Seq(col("quality")) else Nil)): _*
    )
  }

  /** The canonical value type for this read. Explicit "double"/"string"
    * win; "auto" resolves from the loaded schema with the reference's
    * concat promotion rule (kukur/source/arrow.py:235 + __init__.py:462
    * concat_tables): any string field ⇒ string, else double. A
    * decimal-point override forces numeric (arrow's ConvertOptions
    * parses those cells as floats regardless of inference).
    */
  private def resolveValueType(raw: DataFrame, fieldCols: Seq[String]): String = cfg.valueType match {
    case "auto" =>
      import org.apache.spark.sql.types.StringType
      if (cfg.decimalPoint.exists(_ != ".")) "double"
      else if (fieldCols.exists(f => raw.schema(f).dataType == StringType)) "string"
      else "double"
    case other => other
  }

  /** SQL fragment casting one raw field cell to the canonical value
    * type, translating a non-'.' decimal separator first.
    */
  private def fieldSql(fileCol: String, target: String): String = cfg.decimalPoint match {
    case Some(dp) if dp != "." && target == "double" =>
      s"cast(translate(cast(`$fileCol` as string), '$dp', '.') as double)"
    case _ => s"cast(`$fileCol` as $target)"
  }

  /** Pivot layout: first column is the timestamp, every other column is
    * one series (kukur arrow.py:285 filter_pivot_data) — unpivoted with
    * a single `stack`, so the conversion is a narrow map, no shuffle.
    */
  private def readPivot(spark: SparkSession): DataFrame = {
    // pivot ALWAYS reads the header: series names ARE the column names
    // (csv.py:430 _open_pivot_data never passes explicit column names)
    val raw = stripBom(loadPath(spark, cfg.path, header = true, infer = cfg.valueType == "auto"))
    val tsCol = cfg.columnMapping.getOrElse("ts", raw.columns.head)
    val seriesCols = raw.columns.filterNot(_ == tsCol)
    // the series column carries the CONFIGURED tag name (the reference
    // default is "series name" with the space — csv.py:59)
    val tag = cfg.tagColumns.head
    // concat promotion across series columns: a string series beside
    // numeric ones promotes the canonical value to string (the
    // reference's per-series reads keep native types — filter_pivot_data
    // + get_value_schema_type — which one shared column cannot)
    val target = resolveValueType(raw, seriesCols.toSeq)
    val stackExpr = seriesCols
      .map(c => s"'$c', ${fieldSql(c, target)}")
      .mkString(s"stack(${seriesCols.length}, ", ", ", s") as (`$tag`, value)")
    raw
      .withColumn("ts", normalizeTs(col(tsCol)))
      .select(expr(stackExpr), col("ts"))
      .select(col(tag), col("ts"), col("value"))
      .where(col("value").isNotNull)
  }

  /** Dir layout: the series key lives in the storage path. Re-expressed
    * as Spark partition discovery — `path/series_name=<v>/…` comes back
    * as a `series_name` column and single-series queries prune to one
    * directory (the 100 TB path: partition pruning, no full scan).
    */
  private def readDir(spark: SparkSession, tags: Map[String, String]): DataFrame = cfg.pathEncoding match {
    case Some("base64") => readDirKeyed(spark, base64 = true, tags)
    case Some("name")   => readDirKeyed(spark, base64 = false, tags)
    case Some(other)    => throw new IllegalArgumentException(s"unknown path encoding: $other")
    case None =>
      val raw = SourceFrames.load(spark, cfg.fileFormat, readerOptions(spark) + ("basePath" -> cfg.path), cfg.path)
      val base = withQuality(raw).withColumn("ts", normalizeTs(col(mapped("ts"))))
      val cols = cfg.tagColumns.map(col) ++ Seq(col("ts"), dirValue(raw)) ++
        (if (cfg.qualityGood.nonEmpty) Seq(col("quality")) else Nil)
      base.select(cols: _*)
  }

  private def dirValue(raw: DataFrame): Column = {
    val target = resolveValueType(raw, Seq(mapped("value")))
    expr(fieldSql(mapped("value"), target)).as("value")
  }

  /** The dir layout's path levels: configured `partitions`, or one
    * level keyed by the single tag with the source-level encoding
    * (the reference's default, arrow.py:83).
    */
  private def dirLevels(base64: Boolean): Seq[DirPartition] =
    if (cfg.partitions.nonEmpty) cfg.partitions
    else Seq(DirPartition(cfg.tagColumns.head, base64))

  /** Filename-keyed dir layouts: one file per series, the series key
    * in the path — plain (`<series>.<ext>`, the reference's default dir
    * layout, csv.py:393), base64-encoded (kukur/source/arrow.py:205), or
    * nested per-tag levels (`partitions`, `<tag 1>/…/<tag n>.<ext>`).
    * [[SeriesFileIndex.list]] is the one rule for which files are
    * series files and which tags each names, at any depth.
    *
    * Single-level dirs whose files share a schema by construction —
    * any CSV dir (headerless all-string columns can't conflict) and
    * base64 dirs of the spark-native formats (the graft-native layout,
    * written by this engine's own sinks with self-describing uniform
    * columns) — read as ONE scan over a [[SeriesFileIndex]]: one
    * partition per series file, the tag decoded from the file name once
    * on the driver. A tag predicate (`===`, `isin`, `Graft.filterTags`'
    * string cast) prunes the scan to the matching files, like the
    * reference's per-selector `open_child`; a full scan reads the files
    * with no per-row key work.
    *
    * Columnar containers of the "name" layout and nested layouts read
    * per file and promote-union: per-series schemas may genuinely
    * disagree (a string series beside a double series — the reference
    * reads one file per selector and never sees the conflict). `tags`
    * narrows the listing before any file's frame is planned, so a
    * selector opens only its series' files, or none. That per-file
    * plan is the REFERENCE-COMPAT path for modest series counts; the
    * Hive layout (`pathEncoding = None`) is the scale path. Arrow IPC
    * formats and pyarrow's instant-typed ORC decode through RDDs, with
    * no file index to key, so they read per file too.
    */
  private def readDirKeyed(spark: SparkSession, base64: Boolean, tags: Map[String, String]): DataFrame = {
    val levels = dirLevels(base64)
    // a tag value is matched against the decoded keys, never joined
    // into a path, yet one shaped like a path escape is rejected up
    // front, as the reference raises on traversal
    // (tests/source/test_json.py test_metadata_directory_traversal)
    for (l <- levels; v <- tags.get(l.key))
      require(
        !v.contains('/') && !v.contains('\\') && v != ".." && !v.startsWith("../") && !v.contains("/../"),
        s"series tag ${l.key} value is not a valid path component: $v",
      )
    val sparkNative = Set("csv", "parquet", "json", "orc").contains(cfg.fileFormat)
    if (
      levels.lengthCompare(1) == 0 && sparkNative && (cfg.fileFormat == "csv" || levels.head.base64) &&
      !(cfg.fileFormat == "orc" && OrcInstantSource.needsInstantReader(spark, cfg.path))
    ) {
      val level = levels.head
      canonicalKeyed(
        SourceFrames.loadSeriesFiles(spark, cfg.fileFormat, readerOptions(spark, infer = cfg.valueType == "auto"), cfg.path, level),
        level.key,
      )
    } else {
      val files = SourceFrames.seriesFiles(spark, cfg.path, levels)
      require(files.nonEmpty, s"dir source at ${cfg.path} has no series files")
      val keys = levels.map(_.key)
      val named = files.map { case (values, st) => keys.zip(values) -> st.getPath.toString }
        .filter { case (kv, _) => kv.forall { case (k, v) => tags.get(k).forall(_ == v) } }
      if (named.isEmpty) noSeries(spark, keys)
      else ConfiguredSource.promoteUnion(named.map { case (kv, path) => seriesFileFrame(spark, kv, path) })
    }
  }

  /** The canonical frame of keyed dir files read by name: `loaded`
    * holds the files' columns, then the decoded `tags` columns.
    * Headerless CSV columns are named by position — the reference's dir
    * read contract (csv.py:378): ts, value [, quality], the series key
    * lives only in the path.
    */
  private[graft] def canonicalKeyed(loaded: DataFrame, tags: String*): DataFrame = {
    val raw =
      if (cfg.fileFormat == "csv" && !cfg.csvHeader && cfg.columnMapping.isEmpty) {
        val names = Seq("ts", "value") ++ (if (cfg.qualityGood.nonEmpty) Seq("quality") else Nil)
        val fileCols = loaded.columns.length - tags.length
        require(
          fileCols == names.length,
          s"headerless dir csv at ${cfg.path} has $fileCols columns; expected ${names.mkString(", ")}",
        )
        loaded.toDF(names ++ tags: _*)
      } else stripBom(loaded)
    val cols = tags.map(col) ++ Seq(normalizeTs(col(mapped("ts"))).as("ts"), dirValue(raw)) ++
      (if (cfg.qualityGood.nonEmpty) Seq(col("quality")) else Nil)
    withQuality(raw).select(cols: _*)
  }

  /** One series file as a canonical frame. Column resolution mirrors
    * the reference's split: headered CSV (or CSV with a column
    * mapping) resolves BY NAME with `column_mapping` applied
    * (csv.py:375 `_read_directory_data` → `_map_columns`) through
    * [[canonicalKeyed]], as the one-scan layouts do; everything else
    * renames BY POSITION (arrow.py:216 `rename_columns` — a columnar
    * file's own schema never matters), value as double unless the file
    * holds strings (get_value_schema_type, arrow.py:235). Tag values
    * are literals.
    */
  private def seriesFileFrame(spark: SparkSession, tags: Seq[(String, String)], path: String): DataFrame = {
    import org.apache.spark.sql.types.StringType
    val loaded = loadPath(spark, path, infer = cfg.valueType == "auto")
    if (cfg.fileFormat == "csv" && (cfg.csvHeader || cfg.columnMapping.nonEmpty))
      return canonicalKeyed(tags.foldLeft(stripBom(loaded)) { case (d, (k, v)) => d.withColumn(k, lit(v)) }, tags.map(_._1): _*)
    val tagLits = tags.map { case (k, v) => lit(v).as(k) }
    val names = Seq("ts", "value") ++ (if (cfg.qualityGood.nonEmpty) Seq("quality") else Nil)
    require(
      loaded.columns.length >= names.length,
      s"series file $path has ${loaded.columns.length} columns; expected at least ${names.mkString(", ")}",
    )
    val raw = loaded.toDF(names ++ loaded.columns.drop(names.length).zipWithIndex.map { case (_, i) => s"__x$i" }: _*)
    val valueC = cfg.valueType match {
      case "string" => col("value").cast("string")
      case "double" => expr(fieldSql("value", "double"))
      case _ =>
        if (raw.schema("value").dataType == StringType && !cfg.decimalPoint.exists(_ != ".")) col("value")
        else expr(fieldSql("value", "double"))
    }
    withQuality(raw)
      .select(
        tagLits ++ Seq(normalizeTs(col("ts")).as("ts"), valueC.as("value")) ++
          (if (cfg.qualityGood.nonEmpty) Seq(col("quality")) else Nil): _*
      )
  }

  /** A per-file keyed dir's canonical frame for a selector that names
    * none of its files: no rows, and no file opened.
    */
  private def noSeries(spark: SparkSession, keys: Seq[String]): DataFrame = {
    val value = if (cfg.valueType == "string") "string" else "double"
    val ddl = keys.map(k => s"`$k` string").mkString("", ", ", s", ts timestamp, value $value") +
      (if (cfg.qualityGood.nonEmpty) ", quality int" else "")
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), org.apache.spark.sql.types.StructType.fromDDL(ddl))
  }

  /** Range read with Delta timestamp-partition pruning (kukur
    * delta_lake.py:305 `_format_timestamp_partition`): enumerate the
    * partition values covered by [start, end) per resolution and push
    * an IN-list on the partition column, so the scan prunes
    * `DAY=…`/`MONTH=…` directories a plain `ts` range predicate never
    * could. Returns None when this source has no timestamp partitions
    * (tag partitions prune through the selector's own equality filter).
    *
    * Divergence from the reference, on purpose: kukur caps the
    * enumeration (31 days, 12 months, 24 hours) and silently DROPS
    * data past the cap; graft skips the predicate instead — an
    * unpruned scan is slower, never wrong.
    */
  def readRangePruned(
      spark: SparkSession,
      start: java.sql.Timestamp,
      end: java.sql.Timestamp,
  ): Option[DataFrame] = {
    if (cfg.fileFormat != "delta" || cfg.dataFormat != "row") return None
    val tsParts = cfg.prunePartitions.filter(_.origin == "timestamp")
    if (tsParts.isEmpty) return None
    val loaded = loadPath(spark, cfg.path)
    val preds = tsParts.flatMap { p =>
      val columnName = p.column.getOrElse(p.key)
      if (!loaded.columns.contains(columnName)) None
      else
        timestampPartitionValues(p, start.toInstant, end.toInstant).map { vals =>
          import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
          val typed: Seq[Any] = loaded.schema(columnName).dataType match {
            case ByteType | ShortType | IntegerType | LongType =>
              // numeric partition column: compare with numeric
              // literals so partition pruning stays applicable (a
              // string IN-list would cast the attribute and block it)
              scala.util.Try(vals.map(_.toLong: Any)).getOrElse(vals)
            case _ => vals
          }
          col(columnName).isin(typed: _*)
        }
    }
    if (preds.isEmpty) None else Some(canonicalRow(preds.foldLeft(loaded)(_ where _)))
  }

  /** Partition values covered by [start, end) at one resolution —
    * the reference's enumeration (YEAR unbounded with strftime "%Y"
    * default; MONTH/DAY/HOUR default to the unpadded component).
    * None when the range exceeds the resolution's sane span (prune
    * nothing rather than mis-prune).
    */
  private def timestampPartitionValues(
      p: PrunePartition,
      start: java.time.Instant,
      end: java.time.Instant,
  ): Option[Seq[String]] = {
    import java.time.{ZonedDateTime, ZoneOffset}
    import java.time.temporal.ChronoUnit
    val startZ = start.atZone(ZoneOffset.UTC)
    val endZ = end.atZone(ZoneOffset.UTC)
    def render(fmt: Option[String], dflt: ZonedDateTime => String)(z: ZonedDateTime): String =
      fmt match {
        case Some(f) =>
          java.time.format.DateTimeFormatter.ofPattern(GraftConfig.strftimeToJava(f)).format(z)
        case None => dflt(z)
      }
    def enumerate(
        first: ZonedDateTime,
        step: ZonedDateTime => ZonedDateTime,
        max: Int,
        fmt: ZonedDateTime => String,
    ): Option[Seq[String]] = {
      val out = Seq.newBuilder[String]
      var cur = first
      var n = 0
      while (cur.isBefore(endZ)) {
        if (n >= max) return None
        out += fmt(cur)
        cur = step(cur)
        n += 1
      }
      Some(out.result().distinct)
    }
    p.key match {
      case "YEAR" =>
        enumerate(
          startZ.truncatedTo(ChronoUnit.DAYS).withDayOfYear(1),
          _.plusYears(1),
          max = 1000,
          render(p.format.orElse(Some("%Y")), _.getYear.toString),
        )
      case "MONTH" =>
        enumerate(
          startZ.truncatedTo(ChronoUnit.DAYS).withDayOfMonth(1),
          _.plusMonths(1),
          max = 12,
          render(p.format, _.getMonthValue.toString),
        )
      case "DAY" =>
        enumerate(
          startZ.truncatedTo(ChronoUnit.DAYS),
          _.plusDays(1),
          max = 31,
          render(p.format, _.getDayOfMonth.toString),
        )
      case "HOUR" =>
        enumerate(
          startZ.truncatedTo(ChronoUnit.HOURS),
          _.plusHours(1),
          max = 24,
          render(p.format, _.getHour.toString),
        )
      case other => throw new IllegalArgumentException(s"unknown timestamp partition resolution: $other")
    }
  }

  /** Series discovery over this source (kukur search): distinct tags ×
    * fields for row/dir, column names for pivot.
    */
  def search(spark: SparkSession): DataFrame = {
    import spark.implicits._
    cfg.dataFormat match {
      case "pivot" =>
        val raw = stripBom(loadPath(spark, cfg.path, header = true))
        val tsCol = cfg.columnMapping.getOrElse("ts", raw.columns.head)
        raw.columns.filterNot(_ == tsCol).toSeq.toDF(cfg.tagColumns.head).withColumn("field", lit("value"))
      case _ =>
        read(spark)
          .select(cfg.tagColumns.map(col): _*)
          .distinct()
          .crossJoin(broadcast(cfg.fieldColumns.toDF("field")))
    }
  }
}

/** A file-backed source: a [[ConfiguredSource]] plus its metadata
  * sidecars (the file's own metadata, then its `metadata_sources`),
  * which answer both its search and its metadata. Its data is the
  * source's one read, which [[getData]] narrows to a selector.
  */
final class FileSource(config: SourceConfig, metadata: Seq[MetadataConfig] = Nil) extends TimeSeriesSource {

  val data = new ConfiguredSource(config)
  private val sidecars = metadata.map(new MetadataSource(_))

  override def tagColumns: Seq[String] = config.tagColumns

  /** kukur's search answers FROM METADATA whenever the source has
    * metadata configured (csv.py:130: one Metadata per metadata row)
    * and scans the data only as the fallback — so a search carries the
    * fields a quality screen needs without touching the corpus.
    */
  def search(spark: SparkSession): DataFrame =
    if (sidecars.nonEmpty) MetadataSource.merge(MetadataSource.sharedTags(sidecars.map(_.tagColumns)), sidecars.map(_.read(spark)))
    else data.search(spark)

  override def ownMetadata(spark: SparkSession, selector: SeriesSelector): Option[DataFrame] =
    if (sidecars.isEmpty) None
    else Some(MetadataSource.layered(selector, sidecars.map(s => s.tagColumns -> s.read(spark))))

  /** One series over [start, end): the whole-source read narrowed to
    * the selector's field, tags and half-open range — one read path for
    * every layout, each filter reaching the scan where the layout
    * allows. A keyed dir opens only the selector's series files (the
    * one-scan index prunes on the tag filter; a per-file layout plans
    * only the files its tags name), and a Delta table with timestamp
    * partitions only the range's partitions.
    */
  def getData(spark: SparkSession, selector: SeriesSelector, start: Timestamp, end: Timestamp): DataFrame = {
    // Delta tables with timestamp partitions: derived partition IN-list
    // from the range so the scan prunes DAY/MONTH/… dirs (tag
    // partitions prune through filterTags below)
    val all = data.readRangePruned(spark, start, end).getOrElse(data.read(spark, selector.tags))
    // multi-field sources: a selector names ONE field of the series
    // (kukur csv.py:313 picks row_data[selector.field])
    val one =
      if (all.columns.contains("field")) all.where(col("field") === lit(selector.field))
      else all
    TimeSeriesOps.filterRange(TimeSeriesOps.filterTags(one, selector.tags), start, end)
  }

  /** Buckets [[getData]]'s slice, keyed by this source's own tags. */
  override def getPlotData(
      spark: SparkSession,
      selector: SeriesSelector,
      start: Timestamp,
      end: Timestamp,
      intervalCount: Int,
  ): DataFrame = TimeSeriesOps.plotData(getData(spark, selector, start, end), tagColumns, start, end, intervalCount)

  override def sourceStructure(spark: SparkSession): DataFrame =
    TimeSeriesOps.sourceStructure(data.read(spark), config.tagColumns, config.fieldColumns)
}

object ConfiguredSource {

  import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, IntegerType, LongType, ShortType, StringType}

  /** Value-type promotion when combining canonical frames from several
    * sources — kukur `concat_tables` (kukur/source/__init__.py:462):
    * any string value column ⇒ string, all integer ⇒ int64, else
    * float64. Frames carrying a `quality` column keep it; if any frame
    * has one, the others gain a null quality so the union aligns.
    *
    * A pure plan transformation (casts + unionByName): no shuffle, no
    * driver data — safe at any scale.
    */
  def promoteUnion(frames: Seq[DataFrame]): DataFrame = {
    require(frames.nonEmpty, "need at least one frame")
    val valueTypes = frames.map(_.schema("value").dataType)
    val target: DataType =
      if (valueTypes.contains(StringType)) StringType
      else if (valueTypes.forall(t => t == ByteType || t == ShortType || t == IntegerType || t == LongType)) LongType
      else DoubleType
    val anyQuality = frames.exists(_.columns.contains("quality"))
    frames
      .map { f =>
        val v = f.withColumn("value", col("value").cast(target))
        if (anyQuality && !v.columns.contains("quality")) v.withColumn("quality", lit(null).cast("int")) else v
      }
      .reduce(_.unionByName(_))
  }
}
