package graft.model

/** Core identifiers and metadata for the graft time-series engine.
  *
  * Mirrors the reference data model (kukur/base.py:76 SeriesSelector,
  * kukur/base.py:145 InterpolationType, kukur/base.py:152 DataType,
  * kukur/base.py:12 Dictionary, kukur/base.py:169 SourceStructure,
  * kukur/metadata/fields.py) re-expressed as plain Scala case classes.
  * Unlike the reference, a "series" here is a *partition key* of one
  * distributed canonical DataFrame, never a driver-side object holding
  * data.
  */
final case class SeriesSelector(
    source: String,
    tags: Map[String, String] = Map.empty,
    field: String = "value",
) {

  /** Series name encoding used by the reference: `name,tag=v::field`
    * (kukur/base.py:127).
    */
  def name: String = {
    val seriesName = tags.get(SeriesSelector.SeriesNameTag).toList
    val rest = tags.view
      .filterKeys(_ != SeriesSelector.SeriesNameTag)
      .map { case (k, v) => s"$k=$v" }
      .toList
      .sorted
    val base = (seriesName ++ rest).mkString(",")
    if (field == "value") base else s"$base::$field"
  }

  /** The series name of a source keyed by name alone: kukur's spaced
    * `series name` tag, or graft's `series_name`.
    */
  def seriesName: String =
    tags.getOrElse(
      SeriesSelector.SeriesNameTag,
      tags.getOrElse("series_name", throw new IllegalArgumentException("selector needs a series name tag")),
    )
}

object SeriesSelector {
  val SeriesNameTag = "series name"

  def fromName(source: String, encoded: String): SeriesSelector = {
    // kukur strips surrounding whitespace (base.py from_name,
    // tests/test_selector.py test_from_name_strip_whitespace)
    val trimmed = encoded.trim
    val (body, field) = trimmed.split("::", 2) match {
      case Array(b, f) => (b, f)
      case _           => (trimmed, "value")
    }
    val tags = body.split(",").toList.map { part =>
      part.split("=", 2) match {
        case Array(k, v) => k -> v
        case _           => SeriesNameTag -> part
      }
    }.toMap
    SeriesSelector(source, tags, field)
  }
}

sealed abstract class InterpolationType(val name: String)
object InterpolationType {
  case object Linear extends InterpolationType("LINEAR")
  case object Stepped extends InterpolationType("STEPPED")
}

sealed abstract class SeriesDataType(val name: String)
object SeriesDataType {
  case object Float32 extends SeriesDataType("FLOAT32")
  case object Float64 extends SeriesDataType("FLOAT64")
  case object Str extends SeriesDataType("STRING")
  case object Dict extends SeriesDataType("DICTIONARY")
  case object Categorical extends SeriesDataType("CATEGORICAL")
}

/** Maps integer series values to labels (kukur/base.py:12). */
final case class SeriesDictionary(mapping: Map[Int, String])

/** Tag/field structure of a source (kukur/base.py:169). */
final case class SourceStructure(
    fields: Seq[String],
    tagKeys: Seq[String],
    tagValues: Map[String, Seq[String]],
)

/** Static per-series metadata (kukur/metadata/fields.py). */
final case class SeriesMetadata(
    series: SeriesSelector,
    description: Option[String] = None,
    unit: Option[String] = None,
    limitLowPhysical: Option[Double] = None,
    limitHighPhysical: Option[Double] = None,
    limitLowFunctional: Option[Double] = None,
    limitHighFunctional: Option[Double] = None,
    accuracy: Option[Double] = None,
    accuracyPercentage: Option[Double] = None,
    interpolationType: Option[InterpolationType] = None,
    dataType: Option[SeriesDataType] = None,
    dictionaryName: Option[String] = None,
    dictionary: Option[SeriesDictionary] = None,
)
