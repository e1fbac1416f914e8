package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.Row
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model.SeriesSelector

/** Conformance over the reference's shipped PARQUET fixtures — the
  * cases `/root/reference/tests/source/test_parquet.py:33-230` pins on
  * `parquet-examples.toml`: positional dir reads (the reference renames
  * dir columns BY POSITION, so a file's own header never matters —
  * arrow.py:216), per-series schema divergence (a string series beside
  * a double series in one dir — only per-file reads ever work),
  * `metadata_type` sidecar format override, strftime formats with
  * literal letters (`%dT%H` must quote the T), native/naive parquet
  * timestamps, nested `[[partitions]]` layouts with per-level base64,
  * and tag/field column mapping on native types.
  */
class ReferenceParquetFixturesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  private lazy val RefRoot = ReferenceCheckout.root
  private var g: Graft = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    val sandbox = Files.createTempDirectory("graft-ref-parquet")
    Files.createSymbolicLink(sandbox.resolve("tests"), Paths.get(s"$RefRoot/tests"))
    Files.createSymbolicLink(sandbox.resolve("Kukur.toml"), Paths.get(s"$RefRoot/tests/test_data/Kukur.toml"))
    g = Graft.fromConfig(spark, sandbox.resolve("Kukur.toml").toString)
  }

  private val Start = Timestamp.from(Instant.parse("2020-01-01T00:00:00Z"))
  private val End = Timestamp.from(Instant.parse("2020-11-01T00:00:00Z"))

  private def tag1(name: String) = SeriesSelector("", Map(SeriesSelector.SeriesNameTag -> name))

  private def data(src: String, name: String = "test-tag-1"): Array[Row] =
    g.getData(src, tag1(name), Start, End).orderBy("ts").collect()

  private def ts(r: Row): Instant = r.getAs[Timestamp]("ts").toInstant
  private def dbl(r: Row): Double = r.getAs[Any]("value") match {
    case d: Double => d
    case l: Long   => l.toDouble
    case s: String => s.toDouble
    case other     => other.toString.toDouble
  }

  test("test_dir: positional rename ignores the file's own column names") {
    // dir/test-tag-1.parquet's columns are IP_TREND_TIME/IP_TREND_VALUE
    // with NO mapping configured — position decides, like rename_columns
    val rows = data("dir-parquet")
    assert(rows.length == 5)
    assert(ts(rows.head) == Start.toInstant)
    assert(dbl(rows.head) == 1.0)
  }

  test("test_dir_string: a string series lives beside a double series in one dir") {
    val rows = data("dir-parquet", name = "test-tag-5")
    assert(rows.length == 7)
    assert(ts(rows.head) == Start.toInstant)
    assert(rows.head.getAs[Any]("value").toString == "A")
  }

  test("test_dir_quality: quality column mapped through opc ranges") {
    val rows = data("dir-parquet-quality")
    assert(rows.length == 5)
    assert(dbl(rows.head) == 1.0)
    assert(rows.head.getAs[Int]("quality") == 1)
  }

  test("test_dir_mapping: column_mapping is irrelevant to positional dir reads") {
    val rows = data("dir-parquet-mapping")
    assert(rows.length == 5)
    assert(ts(rows.head) == Start.toInstant && dbl(rows.head) == 1.0)
  }

  test("test_search_row / test_row: native parquet row layout") {
    val series = g.search("row-parquet").collect()
    assert(series.length == 3)
    assert(series.exists(_.getAs[String](SeriesSelector.SeriesNameTag) == "test-tag-1"))
    val rows = data("row-parquet")
    assert(rows.length == 5)
    assert(ts(rows.head) == Start.toInstant && dbl(rows.head) == 1.0)
  }

  test("test_row_quality: string ts column + string quality codes on parquet") {
    val rows = data("row-parquet-quality")
    assert(rows.length == 5)
    assert(ts(rows.head) == Start.toInstant && dbl(rows.head) == 1.0)
    assert(rows.head.getAs[Int]("quality") == 1)
  }

  test("test_search_pivot / test_pivot / test_pivot_string: mixed-type pivot columns") {
    assert(g.search("pivot-parquet").collect().length == 3)
    // test-tag-5 is a STRING column: the canonical frame promotes, the
    // numeric series stay parseable, the string series stays verbatim
    val num = data("pivot-parquet")
    assert(num.length == 7)
    assert(ts(num.head) == Start.toInstant && dbl(num.head) == 1.0)
    val str = data("pivot-parquet", name = "test-tag-5")
    assert(str.length == 7)
    assert(str.head.getAs[Any]("value").toString == "A")
  }

  test("test_pivot_column_mapping: metadata sidecar is parquet, ts column mapped") {
    val rows = data("pivot-parquet-column-mapping")
    assert(rows.length == 7)
    assert(ts(rows.head) == Start.toInstant && dbl(rows.head) == 1.0)
  }

  test("strftime with literal letters: %Y/%m/%dT%H:%M%z (dir/pivot/row)") {
    for (src <- Seq("dir-parquet-datetime", "pivot-parquet-datetime", "row-parquet-datetime")) {
      val rows = data(src)
      assert(rows.length == 5, src)
      assert(ts(rows.head) == Start.toInstant, s"$src first ts ${ts(rows.head)}")
    }
  }

  test("naive string timestamps + data_timezone (dir/pivot/row)") {
    for (src <- Seq("dir-parquet-datetime-naive", "pivot-parquet-datetime-naive", "row-parquet-datetime-naive")) {
      val rows = data(src)
      assert(rows.length == 5, src)
      assert(ts(rows.head) == Start.toInstant, s"$src first ts ${ts(rows.head)}")
    }
  }

  test("test_row_timestamp(+naive): native parquet timestamps, tz'd and naive") {
    val tzd = data("row-parquet-timestamp")
    assert(tzd.length == 5 && ts(tzd.head) == Start.toInstant)
    val naive = data("row-parquet-timestamp-naive")
    assert(naive.length == 5 && ts(naive.head) == Start.toInstant)
  }

  test("test_partitions: nested [[partitions]] with per-level base64 prunes to one file") {
    val sel = SeriesSelector(
      "",
      Map("location" -> "Antwerp", "plant" -> "PlantA", SeriesSelector.SeriesNameTag -> "test-tag-1"),
    )
    val rows = g.getData("partitioned-parquet", sel, Start, End).orderBy("ts").collect()
    assert(rows.length == 5)
    assert(ts(rows.head) == Start.toInstant && dbl(rows.head) == 1.0)
    // readAll decodes every level: both plants come back with their tags
    val all = g.readAll("partitioned-parquet")
    val tags = all
      .select("location", "plant", s"`${SeriesSelector.SeriesNameTag}`")
      .distinct()
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    assert(tags.contains(("Antwerp", "PlantA", "test-tag-1")))
    assert(tags.contains(("Barcelona", "PlantB", "test-tag-5")))
  }

  test("test_partitions_string: a STRING series rides the same partitioned layout") {
    val sel = SeriesSelector(
      "",
      Map("location" -> "Barcelona", "plant" -> "PlantB", SeriesSelector.SeriesNameTag -> "test-tag-5"),
    )
    val rows = g.getData("partitioned-parquet", sel, Start, End).orderBy("ts").collect()
    assert(rows.length == 7)
    assert(ts(rows.head) == Start.toInstant)
    assert(rows.head.getAs[Any]("value").toString == "A")
  }

  test("test_partitions_traversal: a traversal-shaped series name raises") {
    val sel = SeriesSelector(
      "",
      Map("location" -> "Antwerp", "plant" -> "PlantA", SeriesSelector.SeriesNameTag -> "../../../dir/test-tag-5"),
    )
    // the reference raises InvalidDataError (source_or_metadata.py path
    // containment check); graft rejects the path component up front
    val e = intercept[IllegalArgumentException] {
      g.getData("partitioned-parquet", sel, Start, End).collect()
    }
    assert(e.getMessage.contains("not a valid path component"))
  }

  test("test_arrow.py row-tags analog: native-typed tag/field columns with mapping") {
    val sel = SeriesSelector("", Map("location" -> "Antwerp", "plant" -> "P1"))
    val vals = g.getData("row-parquet-tags", sel, Start, End).orderBy("ts").collect()
    assert(vals.nonEmpty)
    assert(vals.forall(r => dbl(r) == math.floor(dbl(r)))) // Value is int64
    val prod = g.getData("row-parquet-tags", sel.copy(field = "product"), Start, End).orderBy("ts").collect()
    assert(prod.nonEmpty)
    assert(prod.forall(r => Set("A", "B").contains(r.getAs[Any]("value").toString)))
  }
}
