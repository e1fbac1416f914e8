package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model.SeriesSelector
import graft.sources.{GraftConfig, MetadataSource}

/** Conformance against the REFERENCE'S OWN shipped fixtures: the engine
  * loads kukur's real `tests/test_data/Kukur.toml` (native TOML, with
  * its `[[include]]` glob pulling in `csv-examples.toml` and a dozen
  * configs for source types this build has no connector for — which
  * must load and only fail on access, like SourceFactory's lazy type
  * resolution) and answers the same queries
  * `/root/reference/tests/source/test_csv.py:42-474` pins: row/pivot/
  * dir layouts, header and column-mapping variants, BOM'd and cp1252
  * metadata, dictionaries, metadata mapping + value mapping, custom
  * fields, extra metadata sources, tags/fields selectors, quality
  * mappings (string codes and integer ranges), strftime datetime
  * formats, naive-timestamp timezones, decimal commas and semicolon
  * separators.
  *
  * The reference repo is READ-ONLY; kukur resolves config paths
  * against the process CWD, so a sandbox dir symlinks `tests/` and the
  * root `Kukur.toml` to give relative paths the same meaning here.
  */
class ReferenceFixturesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  private lazy val RefRoot = ReferenceCheckout.root
  private var g: Graft = _
  private var configPath: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    val sandbox = Files.createTempDirectory("graft-ref-fixtures")
    Files.createSymbolicLink(sandbox.resolve("tests"), Paths.get(s"$RefRoot/tests"))
    Files.createSymbolicLink(sandbox.resolve("Kukur.toml"), Paths.get(s"$RefRoot/tests/test_data/Kukur.toml"))
    configPath = sandbox.resolve("Kukur.toml").toString
    g = Graft.fromConfig(spark, configPath)
  }

  // test_csv.py's START_DATE/END_DATE
  private val Start = Timestamp.from(Instant.parse("2020-01-01T00:00:00Z"))
  private val End = Timestamp.from(Instant.parse("2020-11-01T00:00:00Z"))

  private def tag1(name: String) = SeriesSelector("", Map(SeriesSelector.SeriesNameTag -> name))

  private def data(src: String, name: String = "test-tag-1", field: String = "value"): Array[Row] =
    g.getData(src, tag1(name).copy(field = field), Start, End).orderBy("ts").collect()

  private def ts(r: Row): Instant = r.getAs[Timestamp]("ts").toInstant
  private def dbl(r: Row): Double = r.getAs[Any]("value") match {
    case d: Double => d
    case s: String => s.toDouble
    case other     => other.toString.toDouble
  }

  private def meta(src: String, name: String): Row = {
    val rows = g.getMetadata(src, tag1(name)).collect()
    assert(rows.length == 1, s"expected one metadata row for $src/$name, got ${rows.length}")
    rows.head
  }

  // ---- config load ------------------------------------------------------

  test("the reference's root Kukur.toml loads: includes merge, unsupported types resolve lazily") {
    assert(g.listSources.contains("row"))
    assert(g.listSources.contains("dir_semicolon_separator"))
    // configs for connectors this build lacks (odbc driver-manager
    // sources, …) loaded without error; touching one fails like
    // SourceFactory.get_source. (delta moved OFF this list in round 8 —
    // DeltaSource reads the log natively, see ReferenceDeltaFixturesSpec)
    assert(g.listSources.contains("row-delta"))
    assert(g.listSources.contains("sql"))
    val e = intercept[IllegalArgumentException](g.search("sql"))
    assert(e.getMessage.contains("unsupported type odbc"))
  }

  // ---- data: layouts (test_dir/test_row/test_pivot + quality) -----------

  test("test_dir: filename-keyed dir layout") {
    val rows = data("dir", name = "test-tag-1")
    assert(rows.length == 5)
    assert(ts(rows.head) == Start.toInstant)
    assert(dbl(rows.head) == 1.0)
  }

  test("test_dir_quality: integer-range quality mapping (opc_mapping_ranges)") {
    val rows = data("dir-quality")
    assert(rows.length == 5)
    assert(dbl(rows.head) == 1.0)
    assert(rows.map(_.getAs[Int]("quality")).toSeq.take(4) == Seq(1, 1, 0, 1))
  }

  test("test_search_row: headerless row source enumerates 5 series from data") {
    val series = g.search("row_no_metadata").collect()
    assert(series.length == 5)
    assert(series.exists(_.getAs[String](SeriesSelector.SeriesNameTag) == "test-tag-1"))
  }

  test("test_row: headerless row layout with positional columns") {
    val rows = data("row")
    assert(rows.length == 5)
    assert(ts(rows.head) == Start.toInstant)
    assert(dbl(rows.head) == 1.0)
  }

  test("test_row_quality: string-code quality mapping (opc_mapping_strings)") {
    val rows = data("row_quality")
    assert(rows.length == 5)
    assert(dbl(rows.head) == 1.0)
    assert(rows(0).getAs[Int]("quality") == 1 && rows(2).getAs[Int]("quality") == 0)
  }

  test("test_search_pivot: pivot source enumerates its value columns") {
    assert(g.search("pivot_no_metadata").collect().length == 2)
  }

  test("test_pivot: pivot layout unpivots header series") {
    val rows = data("pivot")
    assert(rows.length == 7)
    assert(ts(rows.head) == Start.toInstant)
    assert(dbl(rows.head) == 1.0)
  }

  test("test_pivot_column_mapping: mapped ts column in last position") {
    val rows = data("pivot_column_mapping")
    assert(rows.length == 7)
    assert(ts(rows.head) == Start.toInstant && dbl(rows.head) == 1.0)
  }

  // ---- header/mapping variants ------------------------------------------

  test("test_row_format_with_header / test_row_column_mapping") {
    for (src <- Seq("row_header", "row_column_mapping")) {
      val rows = data(src)
      assert(rows.length == 5, src)
      assert(ts(rows.head) == Start.toInstant && dbl(rows.head) == 1.0, src)
    }
  }

  test("test_dir_header / test_dir_mapping") {
    for (src <- Seq("dir-header", "dir-mapping")) {
      val rows = data(src)
      assert(rows.length == 5, src)
      assert(ts(rows.head) == Start.toInstant && dbl(rows.head) == 1.0, src)
    }
  }

  // ---- metadata (test_row_metadata + mapping + dictionary) --------------

  test("test_row_metadata + accuracy percentage: kukur spaced headers resolve") {
    val md = meta("row", "test-tag-1")
    assert(md.getAs[String]("unit") == "m")
    assert(md.getAs[Double]("limit_low_functional") == 0.0)
    assert(md.getAs[Double]("limit_high_functional") == 10.0)
    assert(md.getAs[Double]("limit_low_physical") == 0.0)
    assert(md.getAs[Double]("limit_high_physical") == 10.0)
    assert(md.getAs[Double]("accuracy_percentage") == 2.0)
    // fields.Accuracy is DERIVED for this row: 2% of physical [0, 10]
    val derived = g
      .getMetadata("row", tag1("test-tag-1"))
      .select(
        MetadataSource
          .calculatedAccuracy(
            col("accuracy"),
            col("accuracy_percentage"),
            col("limit_low_physical"),
            col("limit_low_functional"),
            col("limit_high_physical"),
            col("limit_high_functional"),
          )
          .as("acc")
      )
      .collect()
      .head
      .getAs[Double]("acc")
    assert(math.abs(derived - 0.2) < 1e-9)
  }

  test("test_search_metadata_accuracy_percentage: search answers from metadata when configured") {
    val rows = g.search("row").collect()
    val r1 = rows.find(_.getAs[String](SeriesSelector.SeriesNameTag) == "test-tag-1").get
    assert(r1.getAs[Double]("accuracy_percentage") == 2.0)
    assert(r1.getAs[Double]("limit_low_physical") == 0.0 && r1.getAs[Double]("limit_high_physical") == 10.0)
  }

  test("test_row_metadata_dictionary: DICTIONARY type, name and label set") {
    val md = meta("row", "test-tag-6")
    assert(md.getAs[String]("data_type") == "DICTIONARY")
    assert(md.getAs[String]("dictionary_name") == "Active")
    // the dictionary itself, from the configured dictionary_dir
    val decl = GraftConfig
      .load(configPath)
      .collectFirst { case GraftConfig.DeclaredFile("row", _, md +: _) => md }
      .get
    val dict = new MetadataSource(decl)
      .dictionaries(spark)
      .where(col("dictionary_name") === "Active")
      .collect()
      .map(r => r.getAs[Int]("code") -> r.getAs[String]("label"))
      .toMap
    assert(dict == Map(0 -> "OFF", 1 -> "ON"))
  }

  test("test_metadata_mapping(+multiple): ip21 column mapping and value mapping") {
    val md = meta("mapping", "test-tag-1")
    assert(md.getAs[String]("unit") == "kg")
    assert(md.getAs[Double]("limit_low_functional") == 1.0)
    assert(md.getAs[String]("interpolation_type") == "LINEAR")
    assert(md.getAs[String]("data_type") == "FLOAT64") // int16 -> FLOAT64 via list value mapping
    assert(meta("mapping", "test-tag-4").getAs[String]("data_type") == "FLOAT64") // int32
  }

  // ---- custom fields -----------------------------------------------------

  test("test_custom_fields_search/metadata: listed custom fields only") {
    val rows = g.search("custom-fields-simple").collect()
    assert(rows.length == 1)
    val md = rows.head
    assert(md.getAs[String]("description") == "Test for custom metadata fields")
    assert(md.getAs[String]("location") == "Antwerp")
    assert(!md.schema.fieldNames.contains("plant")) // present in the file, not in metadata_fields
    assert(md.getAs[Double]("limit_low_functional") == 1.0) // via "functional lower limit" = "limitlow"
  }

  test("test_custom_fields_extra_metadata: extra metadata source merges custom fields") {
    val md = meta("custom-fields", "test-tag-custom")
    assert(md.getAs[String]("description") == "Test for custom metadata fields")
    assert(md.getAs[String]("location") == "Antwerp")
    assert(md.getAs[String]("process type") == "BATCH") // "batch" -> BATCH via custom value mapping
    assert(!md.schema.fieldNames.contains("plant"))
    // and the same through search (test_custom_fields_search_extra_metadata)
    val viaSearch = g.search("custom-fields").collect().head
    assert(viaSearch.getAs[String]("process type") == "BATCH")
  }

  // ---- encodings ---------------------------------------------------------

  test("test_metadata_with_different_encoding: cp1252 metadata reads the degree sign") {
    val md = meta("cp1252-encoding", "test-tag-3")
    assert(md.getAs[String]("unit") == "°C")
    assert(md.getAs[Double]("limit_low_functional") == 0.0)
    assert(md.getAs[String]("interpolation_type") == "LINEAR")
  }

  test("test_metadata_with_bom: a BOM'd metadata header still resolves") {
    val rows = g.search("bom").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("location") == "bom")
  }

  // ---- datetime formats and timezones ------------------------------------

  test("strftime data_datetime_format with %z offset (dir/pivot/row)") {
    for (src <- Seq("dir_datetime", "pivot_datetime", "row_datetime")) {
      val rows = data(src)
      assert(rows.length == 5, src)
      assert(ts(rows.head) == Start.toInstant, s"$src first ts ${ts(rows.head)}")
    }
  }

  test("naive timestamps localized via data_timezone (dir/pivot/row)") {
    for (src <- Seq("dir_datetime_naive", "pivot_datetime_naive", "row_datetime_naive")) {
      val rows = data(src)
      assert(rows.length == 5, src)
      assert(ts(rows.head) == Start.toInstant, s"$src first ts ${ts(rows.head)}")
    }
  }

  // ---- tags + fields ------------------------------------------------------

  test("test_row_tags_search: tag-column source enumerates tags x fields") {
    val rows = g.search("row_tags").collect()
    assert(rows.length == 8)
    val keys = rows.map(r => (r.getAs[String]("location"), r.getAs[String]("plant"), r.getAs[String]("field"))).toSet
    assert(keys.contains(("Antwerp", "P1", "value")))
    assert(keys.contains(("Antwerp", "P1", "product")))
  }

  test("test_row_tags_data + string field: per-field selector slices") {
    val sel = SeriesSelector("", Map("location" -> "Antwerp", "plant" -> "P1"))
    val vals = g.getData("row_tags", sel, Start, End).orderBy("ts").collect()
    assert(vals.map(dbl).toSeq == Seq(1.0, 2.0, 1.0))
    val prod = g.getData("row_tags", sel.copy(field = "product"), Start, End).orderBy("ts").collect()
    assert(prod.map(_.getAs[String]("value")).toSeq == Seq("A", "A", "B"))
  }

  test("getPlotData slices the selector's field like getData (multi-field sources)") {
    val sel = SeriesSelector("", Map("location" -> "Antwerp", "plant" -> "P1"))
    // product is a STRING field: if value rows leaked into the same
    // buckets the min/max aggregates would mix numeric strings in
    val plot = g
      .getPlotData("row_tags", sel.copy(field = "product"), Start, End, intervalCount = 1)
      .collect()
    assert(plot.nonEmpty)
    val vals = plot.map(_.getAs[Any]("value").toString).toSet
    assert(vals.subsetOf(Set("A", "B")), s"value rows leaked into the product plot: $vals")
  }

  test("test_row_tags_quality: mapped quality beside tag columns") {
    val sel = SeriesSelector("", Map("location" -> "Antwerp", "plant" -> "P1"))
    val rows = g.getData("row_tags_quality", sel, Start, End).orderBy("ts").collect()
    assert(rows.map(dbl).toSeq == Seq(1.0, 2.0, 1.0))
    assert(rows.map(_.getAs[Int]("quality")).toSeq == Seq(1, 0, 1))
  }

  test("test_row_tags_custom(+field): tag-keyed and field-keyed custom metadata") {
    val sel = SeriesSelector("", Map("location" -> "Antwerp", "plant" -> "P2"), field = "product")
    assert(g.getMetadata("row_tags_custom", sel).collect().head.getAs[String]("street") == "Scheldelaan")
    assert(g.getMetadata("row_tags_custom_field", sel).collect().head.getAs[String]("street") == "Scheldelaan")
  }

  test("test_row_tags_custom_field_search: metadata_field_column keys search rows by field") {
    val rows = g.search("row_tags_custom_field_search").collect()
    assert(rows.length == 2)
    val byField = rows.map(r => r.getAs[String]("field") -> r.getAs[String]("street")).toMap
    assert(byField == Map("value" -> "Meir", "product" -> "Scheldelaan"))
  }

  // ---- json metadata dirs (test_json.py) ----------------------------------

  test("test_json search/metadata: a directory of per-series json objects") {
    val rows = g.search("json").collect()
    assert(rows.length == 2)
    val byName = rows.map(r => r.getAs[String](SeriesSelector.SeriesNameTag) -> r).toMap
    assert(byName("test-tag-1").getAs[String]("description") == "hello")
    assert(byName("test-tag-1").getAs[Double]("limit_low_functional") == 42.0)
    assert(byName("test-tag-2").getAs[String]("description") == "world")
    assert(byName("test-tag-2").getAs[String]("data_type") == "FLOAT64")
    // unknown series: no metadata rows (the reference returns an empty
    // Metadata); a traversal-shaped name is an inert filter value here
    assert(g.getMetadata("json", tag1("test-tag-0")).collect().isEmpty)
    assert(g.getMetadata("json", tag1("../../../test-tag-1")).collect().isEmpty)
    // test_data_unsupported: metadata-only source has no data path
    val e = intercept[IllegalArgumentException](g.getData("json", tag1("test-tag-1"), Start, End))
    assert(e.getMessage.contains("No data path configured"))
  }

  // ---- decimal commas and separators --------------------------------------

  test("test_row_comma / test_pivot_comma: data_decimal_point parses quoted decimals") {
    val rows = data("row_comma", name = "test-tag-3")
    assert(rows.length == 30)
    assert(math.abs(dbl(rows(7)) - 5.6) < 1e-9)
    val pivot = data("pivot_comma")
    assert(pivot.length == 7)
    assert(dbl(pivot.head) == 1.0)
  }

  test("semicolon separators: row/pivot/dir search + data + metadata") {
    assert(g.search("row_semicolon_separator").collect().length == 5)
    val rows = data("row_semicolon_separator", name = "test-tag-3")
    assert(rows.length == 30 && math.abs(dbl(rows(7)) - 5.6) < 1e-9)

    assert(g.search("pivot_semicolon_separator").collect().length == 2)
    val pivot = data("pivot_semicolon_separator")
    assert(pivot.length == 7 && dbl(pivot(6)) == 3.0)

    assert(g.search("dir_semicolon_separator").collect().length == 2)
    val dir = data("dir_semicolon_separator")
    assert(dir.length == 5 && dbl(dir(1)) == 2.0)
    val md = meta("dir_semicolon_separator", "test-tag-1")
    assert(math.abs(md.getAs[Double]("accuracy") - 0.1) < 1e-9)
  }
}
