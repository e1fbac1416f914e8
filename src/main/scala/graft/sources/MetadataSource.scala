package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.SeriesSelector
import graft.operators.TimeSeriesOps

/** Sidecar metadata source (kukur/source/csv/csv.py metadata loader +
  * kukur/source/metadata.py MetadataMapper/MetadataValueMapper).
  *
  * Reads a per-series metadata table (CSV/parquet/JSON), applies
  * - field-name mapping (canonical name -> source column),
  * - value mapping (source value -> canonical value, per field),
  * - typed coercion (numeric limits parsed, invalid -> null, like the
  *   reference's `coerce_field` swallowing ValueError),
  * and joins dictionary label files from a dictionary directory.
  *
  * Canonical metadata columns: tag columns + description, unit,
  * limit_low_physical, limit_high_physical, limit_low_functional,
  * limit_high_functional, accuracy, accuracy_percentage,
  * interpolation_type, data_type, dictionary_name
  * (kukur/metadata/fields.py).
  */
final case class MetadataConfig(
    path: String,
    fileFormat: String = "csv",
    tagColumns: Seq[String] = Seq("series_name"),
    /** canonical field -> source column name (kukur metadata_mapping —
      * MetadataMapper.from_kukur, kukur/source/metadata.py:23)
      */
    fieldMapping: Map[String, String] = Map.empty,
    /** canonical field -> (source value -> canonical value) */
    valueMapping: Map[String, Map[String, String]] = Map.empty,
    /** directory of `<dictionary_name>.csv` files with code,label rows */
    dictionaryDir: Option[String] = None,
    csvSeparator: String = ",",
    /** when non-empty, the fields this source contributes — canonical
      * ones not listed read as null so merge precedence skips them
      * (kukur MetadataSource.fields, kukur/source/__init__.py:97-101),
      * and NON-canonical names are emitted as extra string columns
      * (kukur custom metadata fields, metadata/__init__.py coerce_field
      * fallthrough).
      */
    fields: Seq[String] = Nil,
    /** column_mapping applied AFTER fieldMapping — the reference's
      * `column_mapping.get(from_kukur(name))` chain (csv.py:244).
      */
    columnMapping: Map[String, String] = Map.empty,
    /** kukur metadata_field_column: the metadata table is keyed by
      * (tags, field); this column names the field each row describes.
      * Emitted as a `field` column.
      */
    fieldColumn: Option[String] = None,
    /** charset for CSV reads (kukur file_encoding, e.g. "cp1252") —
      * applies to the metadata table and the dictionary dir alike.
      */
    fileEncoding: Option[String] = None,
)

final class MetadataSource(cfg: MetadataConfig) {

  import MetadataSource._

  /** The tag columns this metadata table is keyed by. */
  def tagColumns: Seq[String] = cfg.tagColumns

  /** Resolve a canonical/tag/custom name to the source column, by the
    * reference's chain (csv.py:244 `_map_column_name`): metadata_mapping
    * first, then column_mapping — falling back through the kukur spaced
    * spelling and the graft snake spelling, so the same config reads
    * kukur's own metadata files (`functional lower limit`, …) and
    * graft-native snake-cased ones without per-file mapping noise.
    */
  private def candidates(name: String): Seq[String] = {
    val snake = canonicalName(name)
    val spellings = (Seq(name, snake) ++ spacedName(snake).toSeq).distinct
    val viaField = spellings.flatMap(n => cfg.fieldMapping.get(n)) ++ spellings
    viaField.flatMap(n => Seq(cfg.columnMapping.getOrElse(n, n), n)).distinct
  }

  private def resolve(raw: DataFrame, name: String): Option[String] =
    candidates(name).find(raw.columns.contains)

  /** One CASE over the ORIGINAL column value — folding when/otherwise
    * onto the accumulated column would re-match already-mapped values,
    * so a→b, b→c could chain into a→c depending on Map iteration order
    * (kukur MetadataValueMapper maps each source value exactly once).
    */
  private def valueMapped(field: String, c: Column): Column =
    cfg.valueMapping.get(field) match {
      case None                 => c
      case Some(m) if m.isEmpty => c
      case Some(m) =>
        m.tail
          .foldLeft(when(c === lit(m.head._1), lit(m.head._2))) { case (acc, (from, to)) =>
            acc.when(c === lit(from), lit(to))
          }
          .otherwise(c)
    }

  /** Parse a numeric field, null on garbage (kukur `_parse_float` /
    * `coerce_field` swallowing ValueError) — try_cast, since ANSI mode
    * would otherwise fail the whole query on one bad cell.
    */
  private def numeric(c: Column): Column = c.cast("string").try_cast("double")

  /** Enum-ish field (interpolation/data type): blank or whitespace-only
    * is ABSENT, not a value (kukur fields.py `_is_empty_string` in
    * `_interpolation_type_from_json` / `_data_type_from_json`).
    */
  private def enumNorm(c: Column): Column = {
    val s = c.cast("string")
    when(trim(s) === "", lit(null).cast("string")).otherwise(upper(s))
  }

  def read(spark: SparkSession): DataFrame = {
    val reader = spark.read.format(cfg.fileFormat)
    val raw0 =
      if (cfg.fileFormat == "json") {
        // kukur's json metadata layout (kukur/source/json): a DIRECTORY
        // of `<series>.json` files, each ONE object of spaced field
        // names — multiLine gives one record per file, the series key
        // decodes from the file name. A selector is a FILTER on the
        // resulting frame, so a path-traversal "series name" is inert
        // here (no per-selector file access to escape).
        require(cfg.tagColumns.size == 1, "json metadata dirs key exactly one tag column")
        val fileName = regexp_extract(input_file_name(), "([^/]+)\\.json$", 1)
        spark.read
          .option("multiLine", "true")
          // only the per-series files: the dir may also hold configs
          // (the reference fixtures keep json-examples.toml beside them)
          .json(s"${cfg.path.stripSuffix("/")}/*.json")
          .withColumn(cfg.tagColumns.head, url_decode(regexp_replace(fileName, "\\+", "%2B")))
      } else if (cfg.fileFormat == "csv") {
        val r = reader.option("header", "true").option("sep", cfg.csvSeparator)
        cfg.fileEncoding
          .fold(r) { e =>
            enableJavaCharsets(spark, e)
            r.option("encoding", e)
          }
          .load(cfg.path)
      } else reader.load(cfg.path)
    // a BOM'd header leaves `\uFEFF<first column>` — strip it so name
    // resolution sees the real name (kukur's utf-8-sig open does this)
    val raw = stripBomHeader(raw0)
    def colOrNull(name: String): Column =
      resolve(raw, name).map(col).getOrElse(lit(null).cast("string"))
    // tag columns are the JOIN KEY: an unresolvable one would emit
    // all-null tags that silently match nothing downstream (merge
    // full-outer joins, selector filters) — fail loudly instead, like
    // the reference's KeyError on a missing metadata column
    val tags = cfg.tagColumns.map { t =>
      val resolved = resolve(raw, t).getOrElse(
        throw new IllegalArgumentException(
          s"metadata at ${cfg.path} has no column resolving tag "
            + s""""$t" (columns: ${raw.columns.mkString(", ")})"""
        )
      )
      col(resolved).cast("string").as(t)
    }
    val fieldKey = cfg.fieldColumn.toSeq.map(fc => colOrNull(fc).cast("string").as("field"))
    // the canonical fields this source contributes (names normalized so
    // `"functional lower limit"` in a kukur config restricts
    // limit_low_functional), plus custom fields — any listed name
    // outside the canonical vocabulary, emitted as a string column
    val normalizedFields = cfg.fields.map(canonicalName)
    val customFields = cfg.fields.filterNot(f => CanonicalFields.contains(canonicalName(f)))
    val fields = Seq(
      valueMapped("description", colOrNull("description")).cast("string").as("description"),
      valueMapped("unit", colOrNull("unit")).cast("string").as("unit"),
      numeric(valueMapped("limit_low_physical", colOrNull("limit_low_physical"))).as("limit_low_physical"),
      numeric(valueMapped("limit_high_physical", colOrNull("limit_high_physical"))).as("limit_high_physical"),
      numeric(valueMapped("limit_low_functional", colOrNull("limit_low_functional"))).as("limit_low_functional"),
      numeric(valueMapped("limit_high_functional", colOrNull("limit_high_functional"))).as("limit_high_functional"),
      numeric(valueMapped("accuracy", colOrNull("accuracy"))).as("accuracy"),
      numeric(valueMapped("accuracy_percentage", colOrNull("accuracy_percentage"))).as("accuracy_percentage"),
      enumNorm(valueMapped("interpolation_type", colOrNull("interpolation_type"))).as("interpolation_type"),
      enumNorm(valueMapped("data_type", colOrNull("data_type"))).as("data_type"),
      valueMapped("dictionary_name", colOrNull("dictionary_name")).cast("string").as("dictionary_name"),
    ) ++ customFields.map(f => valueMapped(f, colOrNull(f)).cast("string").as(f))
    val selected = raw.select(tags ++ fieldKey ++ fields: _*)
    if (cfg.fields.isEmpty) selected
    else
      selected.columns
        .filterNot(cfg.tagColumns.contains)
        .filterNot(_ == "field")
        .filterNot(c => normalizedFields.contains(c) || customFields.contains(c))
        .foldLeft(selected)((d, f) => d.withColumn(f, lit(null).cast(d.schema(f).dataType)))
  }

  /** All dictionaries in the dictionary dir as one frame
    * `(dictionary_name, code, label)` — the set-name comes from the
    * file path (kukur csv.py __get_dictionary, one file per set).
    */
  def dictionaries(spark: SparkSession): DataFrame = {
    val dir = cfg.dictionaryDir.getOrElse(
      throw new IllegalArgumentException("no dictionary_dir configured")
    )
    val rd = spark.read
      .option("header", "false")
      .schema("code INT, label STRING")
    cfg.fileEncoding
      .fold(rd) { e =>
        enableJavaCharsets(spark, e)
        rd.option("encoding", e)
      }
      .csv(s"$dir/*.csv")
      .withColumn("dictionary_name", regexp_extract(input_file_name(), "([^/]+)\\.csv$", 1))
      .select(col("dictionary_name"), col("code"), col("label"))
  }
}

object MetadataSource {

  /** Strip a UTF-8 BOM remnant from the first column name — univocity
    * leaves `\uFEFF<first column>` when a header file starts with a
    * BOM. Shared by the metadata reader and ConfiguredSource.
    */
  private[sources] def stripBomHeader(df: DataFrame): DataFrame = {
    val cols = df.columns
    if (cols.nonEmpty && cols.head.startsWith("\uFEFF"))
      df.toDF((cols.head.stripPrefix("\uFEFF") +: cols.tail.toSeq): _*)
    else df
  }

  /** Charsets Spark's CSV reader accepts WITHOUT the legacy flag
    * (CharsetProvider.VALID_CHARSETS, SPARK-46411).
    */
  private val SparkNativeCharsets =
    Set("us-ascii", "iso-8859-1", "utf-8", "utf-16", "utf-16be", "utf-16le", "utf-32")

  /** A `file_encoding` outside Spark's shortlist (cp1252, …) needs
    * `spark.sql.legacy.javaCharsets=true` — a public dynamic conf that
    * re-opens the full JVM charset set. Flip it on demand so a kukur
    * config with `file_encoding = "cp1252"` just works.
    */
  private[sources] def enableJavaCharsets(spark: SparkSession, encoding: String): Unit =
    if (!SparkNativeCharsets.contains(encoding.toLowerCase(java.util.Locale.ROOT)))
      spark.conf.set("spark.sql.legacy.javaCharsets", "true")

  /** kukur's spaced field names (kukur/metadata/fields.py) -> graft's
    * snake-cased canonical columns; both spellings resolve everywhere.
    */
  val KukurNames: Map[String, String] = Map(
    "series name" -> "series_name",
    "physical lower limit" -> "limit_low_physical",
    "physical upper limit" -> "limit_high_physical",
    "functional lower limit" -> "limit_low_functional",
    "functional upper limit" -> "limit_high_functional",
    "accuracy percentage" -> "accuracy_percentage",
    "interpolation type" -> "interpolation_type",
    "data type" -> "data_type",
    "dictionary name" -> "dictionary_name",
  )

  private val SpacedNames: Map[String, String] = KukurNames.map(_.swap)

  val CanonicalFields: Set[String] = Set(
    "description", "unit", "limit_low_physical", "limit_high_physical",
    "limit_low_functional", "limit_high_functional", "accuracy",
    "accuracy_percentage", "interpolation_type", "data_type", "dictionary_name",
  )

  /** Normalize a kukur spaced name to the graft canonical snake name
    * (identity for names already canonical or custom).
    */
  def canonicalName(name: String): String = KukurNames.getOrElse(name, name)

  /** The kukur spaced spelling of a canonical snake name, if any. */
  def spacedName(snake: String): Option[String] = SpacedNames.get(snake)

  /** Merge metadata from several sources with precedence: earlier
    * frames win field-by-field; empty strings count as missing
    * (kukur/source/__init__.py:205 get_metadata merge semantics).
    * Implemented as a chain of full outer joins + per-field coalesce —
    * one small shuffle per source, metadata cardinality is per-series.
    */
  def merge(tagColumns: Seq[String], frames: Seq[DataFrame]): DataFrame = {
    require(frames.nonEmpty, "need at least one metadata frame")
    // field-keyed metadata (metadata_field_column): when every frame
    // carries the `field` key it joins as part of the series identity,
    // matching the reference's (tags, field) row match (csv.py:211)
    val keyCols =
      if (frames.forall(_.columns.contains("field"))) tagColumns :+ "field" else tagColumns
    // custom metadata fields make schemas heterogeneous (one source
    // contributes `location`, another `process type`): align on the
    // union, missing columns read as null strings so precedence falls
    // through them exactly like an unlisted canonical field
    val fieldsUnion = frames.flatMap(_.columns).distinct.filterNot(keyCols.contains)
    val aligned = frames.map { f =>
      fieldsUnion.foldLeft(f)((d, c) => if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast("string")))
    }
    val fields = fieldsUnion
    aligned.reduce { (hi, lo) =>
      val loRen = fields.foldLeft(lo)((d, f) => d.withColumnRenamed(f, s"__lo_$f"))
      val joined = hi.join(loRen, keyCols, "full_outer")
      fields
        .foldLeft(joined) { (d, f) =>
          val hiC = col(f)
          val hiNonEmpty = when(hiC.isNotNull && hiC.cast("string") =!= "", hiC)
          d.withColumn(f, coalesce(hiNonEmpty, col(s"__lo_$f")))
        }
        .drop(fields.map(f => s"__lo_$f"): _*)
    }
  }

  /** The tag columns every layer is keyed by, in the first layer's
    * order: the merge key of layers keyed by different tag sets (an
    * extra keyed by (series name, location) over a source keyed by
    * series name joins on series name; two such extras on both).
    */
  def sharedTags(keys: Seq[Seq[String]]): Seq[String] = {
    val shared = keys.reduce((a, b) => a.filter(b.contains))
    require(shared.nonEmpty, s"metadata layers share no tag column: ${keys.map(_.mkString("(", ", ", ")")).mkString(" ")}")
    shared
  }

  /** kukur's factory-wrapper merge for one selector (source/__init__.py:
    * 205): `layers` in precedence order, each with the tag columns it is
    * keyed by, merged on [[sharedTags]] and filtered to the selector's
    * tags. Field-keyed metadata (metadata_field_column) names one
    * (tags, field) row (csv.py:221-228), so the selector's field
    * filters too — but only when every layer is field-keyed: in a mixed
    * merge `field` is an ordinary data column, null in the plain
    * layers, and an equality filter would silently drop their rows.
    */
  def layered(selector: SeriesSelector, layers: Seq[(Seq[String], DataFrame)]): DataFrame = {
    val frames = layers.map(_._2)
    val tagged = TimeSeriesOps.filterTags(merge(sharedTags(layers.map(_._1)), frames), selector.tags)
    if (frames.forall(_.columns.contains("field"))) tagged.where(col("field") === lit(selector.field))
    else tagged
  }

  /** Derived accuracy (kukur/metadata/fields.py:125-146
    * `_calculate_accuracy`): an explicit accuracy wins; otherwise
    * `(high − low) · pct / 100` with `pct` valid only in [0, 100] and
    * each limit falling back physical → functional; null whenever any
    * needed part is missing. Pure per-row column arithmetic.
    */
  def calculatedAccuracy(
      accuracy: Column,
      accuracyPercentage: Column,
      limitLowPhysical: Column,
      limitLowFunctional: Column,
      limitHighPhysical: Column,
      limitHighFunctional: Column,
  ): Column = {
    val pct = when(accuracyPercentage >= 0.0 && accuracyPercentage <= 100.0, accuracyPercentage)
    val low = coalesce(limitLowPhysical, limitLowFunctional)
    val high = coalesce(limitHighPhysical, limitHighFunctional)
    coalesce(accuracy, (high - low) * pct / lit(100.0))
  }
}
