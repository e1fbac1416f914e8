package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.Row
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model.SeriesSelector

/** Conformance over the reference's shipped FEATHER (Arrow IPC file,
  * LZ4-compressed by pyarrow's default writer) and ARROWS (IPC
  * streaming) fixtures — the cases
  * `/root/reference/tests/source/test_feather.py:31-299` and
  * `test_arrows.py:30-43` pin on `feather-examples.toml` /
  * `arrows-examples.toml`. Exercises [[graft.sources.ArrowIpcSource]]
  * as a `ConfiguredSource` file format: row/pivot/dir layouts, mixed
  * per-series schemas, strftime formats, native second-resolution and
  * naive timestamps, multi-tag multi-field selectors, and sources whose
  * tag/field columns carry none of the default names.
  */
class ReferenceFeatherFixturesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  private lazy val RefRoot = ReferenceCheckout.root
  private var g: Graft = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    val sandbox = Files.createTempDirectory("graft-ref-feather")
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

  test("test_dir / test_dir_string / test_dir_quality: keyed dir of compressed IPC files") {
    val rows = data("dir-feather")
    assert(rows.length == 5)
    assert(ts(rows.head) == Start.toInstant && dbl(rows.head) == 1.0)
    val str = data("dir-feather", name = "test-tag-5")
    assert(str.length == 7)
    assert(str.head.getAs[Any]("value").toString == "A")
    val q = data("dir-feather-quality")
    assert(q.length == 5 && q.head.getAs[Int]("quality") == 1)
  }

  test("test_search_row / test_row / test_row_quality / test_row_map_columns") {
    assert(g.search("row-feather").collect().length == 3)
    val rows = data("row-feather")
    assert(rows.length == 5)
    assert(ts(rows.head) == Start.toInstant && dbl(rows.head) == 1.0)
    val q = data("row-feather-quality")
    assert(q.length == 5 && q.head.getAs[Int]("quality") == 1)
    val mapped = data("row-feather-map-columns")
    assert(mapped.length == 5 && ts(mapped.head) == Start.toInstant)
  }

  test("test_search_pivot / test_pivot / test_pivot_string / test_pivot_column_mapping") {
    assert(g.search("pivot-feather").collect().length == 3)
    val num = data("pivot-feather")
    assert(num.length == 7)
    assert(ts(num.head) == Start.toInstant && dbl(num.head) == 1.0)
    val str = data("pivot-feather", name = "test-tag-5")
    assert(str.length == 7 && str.head.getAs[Any]("value").toString == "A")
    val cm = data("pivot-feather-column-mapping")
    assert(cm.length == 7 && dbl(cm.head) == 1.0)
  }

  test("test_dir_map_columns: positional dir read with a mapping configured") {
    val rows = data("dir-feather-mapping")
    assert(rows.length == 5)
    assert(ts(rows.head) == Start.toInstant && dbl(rows.head) == 1.0)
  }

  test("strftime + naive-timezone datetime variants (dir/pivot/row)") {
    for (
      src <- Seq(
        "dir-feather-datetime",
        "pivot-feather-datetime",
        "row-feather-datetime",
        "dir-feather-datetime-naive",
        "pivot-feather-datetime-naive",
        "row-feather-datetime-naive",
      )
    ) {
      val rows = data(src)
      assert(rows.length == 5, src)
      assert(ts(rows.head) == Start.toInstant, s"$src first ts ${ts(rows.head)}")
    }
  }

  test("test_row_timestamp(+naive, +string-naive-us): native and string timestamps") {
    for (src <- Seq("row-feather-timestamp", "row-feather-timestamp-naive", "row-feather-timestamp-string-naive-us")) {
      val rows = data(src)
      assert(rows.length == 5, src)
      assert(ts(rows.head) == Start.toInstant, s"$src first ts ${ts(rows.head)}")
    }
  }

  test("test_row_tags_search/value/second_field: second-resolution timestamps, tags + fields") {
    val series = g.search("row-feather-tags").collect()
    assert(series.length == 8)
    val sel = SeriesSelector("", Map("location" -> "Antwerp", "plant" -> "P1"))
    val vals = g.getData("row-feather-tags", sel, Start, End).orderBy("ts").collect()
    assert(vals.map(dbl).toSeq == Seq(1.0, 2.0, 1.0))
    val sel2 = SeriesSelector("", Map("location" -> "Barcelona", "plant" -> "P1"), field = "product")
    val prod = g.getData("row-feather-tags", sel2, Start, End).orderBy("ts").collect()
    assert(prod.map(_.getAs[Any]("value").toString).toSeq == Seq("A", "A", "B"))
  }

  test("test_row_no_mapping: tag/field columns carry none of the default names") {
    assert(g.search("row-feather-no-mapping").collect().length == 2)
    val sel = SeriesSelector("", Map("name" -> "name", "location" -> "location"), field = "pressure")
    val rows = g.getData("row-feather-no-mapping", sel, Start, End).collect()
    assert(rows.length == 1)
    assert(dbl(rows.head) == 42.0)
  }

  test("arrows: the IPC STREAMING format reads through the same source layer") {
    assert(g.search("row-arrows").collect().length == 3)
    val rows = data("row-arrows")
    assert(rows.length == 5)
    assert(ts(rows.head) == Start.toInstant && dbl(rows.head) == 1.0)
  }
}
