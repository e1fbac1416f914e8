package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.input_file_name
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model.SeriesSelector

/** Conformance over the reference's shipped DELTA LAKE fixtures — the
  * cases `/root/reference/tests/source/test_delta.py:33-295` pins on
  * `delta-examples.toml`, read WITHOUT delta-spark: graft resolves the
  * `_delta_log` itself (DeltaSource) and hands the active files to the
  * native parquet reader. Covers row/pivot formats, string-code
  * quality mapping, timestamp_ntz tables (reader version 3 feature),
  * numeric tag columns, multi-tag + multi-field layouts, and every
  * partition layout the reference tests: tag partitions (with spaces
  * in the partition column name), strftime-formatted and component
  * timestamp partitions, and nested tag+timestamp trees — plus
  * pruning proof: the derived partition predicate reads strictly
  * fewer files than the table holds.
  */
class ReferenceDeltaFixturesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  private lazy val RefRoot = ReferenceCheckout.root
  private var g: Graft = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    val sandbox = Files.createTempDirectory("graft-ref-delta")
    Files.createSymbolicLink(sandbox.resolve("tests"), Paths.get(s"$RefRoot/tests"))
    Files.createSymbolicLink(sandbox.resolve("Kukur.toml"), Paths.get(s"$RefRoot/tests/test_data/Kukur.toml"))
    g = Graft.fromConfig(spark, sandbox.resolve("Kukur.toml").toString)
  }

  private val Start = Timestamp.from(Instant.parse("2020-01-01T00:00:00Z"))
  private val End = Timestamp.from(Instant.parse("2020-11-01T00:00:00Z"))

  private def sel(tags: Map[String, String], field: String = "value") =
    SeriesSelector("", tags, field)

  private def tag1(name: String) = sel(Map(SeriesSelector.SeriesNameTag -> name))

  private def data(
      src: String,
      selector: SeriesSelector = tag1("test-tag-1"),
      start: Timestamp = Start,
      end: Timestamp = End,
  ): Array[Row] =
    g.getData(src, selector, start, end).orderBy("ts").collect()

  /** Tolerant instant getter: tz tables yield Timestamp, timestamp_ntz
    * tables yield LocalDateTime (interpreted as UTC, like the
    * reference's naive-equals-aware assertion).
    */
  private def ts(r: Row): Instant = r.getAs[Any]("ts") match {
    case t: Timestamp => t.toInstant
    case l: java.time.LocalDateTime => l.toInstant(java.time.ZoneOffset.UTC)
    case other => Instant.parse(other.toString)
  }

  private def dbl(r: Row): Double = r.getAs[Any]("value") match {
    case d: Double => d
    case l: Long   => l.toDouble
    case s: String => s.toDouble
    case other     => other.toString.toDouble
  }

  // ---- plain tables ---------------------------------------------------

  test("test_row: 5 rows, first value 1.0 at the range start") {
    val rows = data("row-delta")
    assert(rows.length == 5)
    assert(ts(rows.head) == Start.toInstant)
    assert(dbl(rows.head) == 1.0)
  }

  test("test_row_quality: string quality codes map through opc_mapping_strings") {
    val rows = data("row-delta-quality")
    assert(rows.length == 5)
    assert(ts(rows.head) == Start.toInstant && dbl(rows.head) == 1.0)
    assert(rows.head.getAs[Int]("quality") == 1)
  }

  test("test_row_no_tz: timestamp_ntz table (reader feature timestampNtz)") {
    val rows = data("row-delta-notz")
    assert(rows.length == 5)
    assert(ts(rows.head) == Start.toInstant)
    assert(dbl(rows.head) == 1.0)
  }

  test("test_pivot / test_pivot_string: mixed-type pivot columns") {
    val rows = data("pivot-delta")
    assert(rows.length == 7)
    assert(ts(rows.head) == Start.toInstant)
    assert(dbl(rows.head) == 1.0)
    val str = data("pivot-delta", tag1("test-tag-5"))
    assert(str.length == 7)
    assert(str.head.getAs[Any]("value").toString == "A")
  }

  test("test_unordered: sort_by_timestamp yields ascending ts") {
    val rows = data("unordered-delta")
    assert(rows.length == 5)
    assert(rows.sliding(2).forall(p => ts(p(0)).isBefore(ts(p(1)))))
    assert(dbl(rows.head) == 1.0)
  }

  test("test_numerical_tags: integer tag column matched from a string selector") {
    val rows = data("numerical-delta", sel(Map("series_id" -> "42")))
    assert(rows.length == 5)
    assert(ts(rows.head) == Start.toInstant)
    assert(ts(rows(4)) == Start.toInstant.plus(java.time.Duration.ofDays(4)))
    assert(dbl(rows.head) == 1.0 && dbl(rows(4)) == 5.0)
  }

  test("test_row_tags_search: tag combinations x fields = 8 series") {
    val series = g.search("row-delta-tags").collect()
    assert(series.length == 8)
    assert(series.exists(r =>
      r.getAs[String]("location") == "Antwerp" && r.getAs[String]("plant") == "P1" &&
        r.getAs[String]("field") == "value"))
    assert(series.exists(r =>
      r.getAs[String]("location") == "Antwerp" && r.getAs[String]("plant") == "P1" &&
        r.getAs[String]("field") == "product"))
  }

  test("test_row_tags_value: multi-tag selector") {
    val rows = data("row-delta-tags", sel(Map("location" -> "Antwerp", "plant" -> "P1")))
    assert(rows.length == 3)
    assert(Seq(dbl(rows(0)), dbl(rows(1)), dbl(rows(2))) == Seq(1.0, 2.0, 1.0))
  }

  test("test_row_tags_second_field: a second field column") {
    val rows = data("row-delta-tags", sel(Map("location" -> "Barcelona", "plant" -> "P1"), field = "product"))
    assert(rows.length == 3)
    assert(rows.map(_.getAs[Any]("value").toString).toSeq == Seq("A", "A", "B"))
  }

  // ---- partitioned tables ---------------------------------------------

  private def t(s: String) = Timestamp.from(Instant.parse(s))

  test("test_name_partition: tag partition named 'series name'") {
    val rows = data("partition-name", start = t("2023-01-01T00:00:00Z"), end = t("2023-03-20T00:00:00Z"))
    assert(rows.length == 12)
  }

  test("test_location_name_partition: two nested tag partitions") {
    val rows = data(
      "partition-location-name",
      sel(Map(SeriesSelector.SeriesNameTag -> "test-tag-1", "location" -> "Antwerp")),
      start = t("2023-01-01T00:00:00Z"),
      end = t("2023-03-20T00:00:00Z"),
    )
    assert(rows.length == 12)
  }

  private def antwerp1 = sel(Map(SeriesSelector.SeriesNameTag -> "test-tag-1", "location" -> "Antwerp"))

  test("test_year_partition: YEAR resolution, default %Y format") {
    val rows = data("partition-year", antwerp1, t("2021-01-01T00:00:00Z"), t("2022-12-31T23:59:00Z"))
    assert(rows.length == 12)
  }

  test("test_year_partition_format: custom strftime '%y-year'") {
    val rows = data("partition-year-custom", antwerp1, t("2021-01-01T00:00:00Z"), t("2022-12-31T23:59:00Z"))
    assert(rows.length == 12)
  }

  test("test_month_partition: MONTH resolution with '%Y-%m'") {
    val rows = data("partition-month", antwerp1, t("2020-11-01T00:00:00Z"), t("2021-01-31T23:59:00Z"))
    assert(rows.length == 23)
  }

  test("test_day_partition: DAY resolution with '%Y-%m-%d'") {
    val rows = data("partition-day", antwerp1, t("2020-01-02T00:00:00Z"), t("2020-01-03T23:59:00Z"))
    assert(rows.length == 12)
  }

  test("test_month_location_partition: timestamp then tag partition") {
    val rows = data("partition-month-location", antwerp1, t("2020-08-01T00:00:00Z"), t("2020-10-01T00:00:00Z"))
    assert(rows.length == 8)
  }

  test("test_location_month_partition: tag then timestamp partition") {
    val rows = data("partition-location-month", antwerp1, t("2020-08-01T00:00:00Z"), t("2020-11-01T00:00:00Z"))
    assert(rows.length == 12)
  }

  test("test_location_year_month_partition: component YEAR/MONTH columns") {
    val rows = data("partition-location-year-month", antwerp1, t("2020-08-01T00:00:00Z"), t("2020-11-01T00:00:00Z"))
    assert(rows.length == 12)
  }

  test("test_location_year_month_day_hour_partition: four nested levels") {
    val rows =
      data("partition-location-year-month-day-hour", antwerp1, t("2020-08-01T00:00:00Z"), t("2020-11-01T00:00:00Z"))
    assert(rows.length == 12)
  }

  // ---- pruning proof ----------------------------------------------------

  test("timestamp-partition pruning reads strictly fewer files") {
    // partition-day holds 4 DAY dirs; a 2-day range must touch exactly 2
    val pruned = g
      .getData("partition-day", antwerp1, t("2020-01-02T00:00:00Z"), t("2020-01-03T23:59:00Z"))
      .select(input_file_name()).distinct().count()
    assert(pruned == 2L)
  }

  test("tag-partition pruning through the selector filter") {
    // partitions/name holds 3 'series name=…' dirs; one selector → 1 file
    val files = g
      .getData("partition-name", tag1("test-tag-1"), t("2023-01-01T00:00:00Z"), t("2023-03-20T00:00:00Z"))
      .select(input_file_name()).distinct().count()
    assert(files == 1L)
  }
}
