package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.SeriesSelector
import graft.operators.TimeSeriesOps
import graft.sources.{DirPartition, FileSource, SourceConfig}

/** One series-file rule for keyed dir sources: a file source's getData
  * is its whole-source read filtered to the selector, so both name the
  * same series files, decode the same tags and resolve the same
  * columns — at one path level and at several.
  */
class SeriesFileRuleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val (start, end) = (Timestamp.valueOf("2024-01-01 00:00:00"), Timestamp.valueOf("2024-01-02 00:00:00"))

  private def tmp(): Path = Files.createTempDirectory("graft-series-rule")
  private def b64(s: String): String = java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def write(file: Path, body: String): Unit = {
    Files.createDirectories(file.getParent)
    Files.writeString(file, body)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** `getData` for `tags` and the whole-source read filtered to them,
    * row for row; returns the rows.
    */
  private def assertAgree(src: FileSource, tags: Map[String, String]): Seq[String] = {
    val viaGetData = rows(src.getData(spark, SeriesSelector("s", tags), start, end))
    val viaRead = rows(TimeSeriesOps.filterRange(TimeSeriesOps.filterTags(src.data.read(spark), tags), start, end))
    assert(viaGetData == viaRead, tags)
    viaGetData
  }

  private def csvDir(dir: Path, partitions: Seq[DirPartition] = Nil): FileSource =
    new FileSource(
      SourceConfig(
        path = dir.toString,
        fileFormat = "csv",
        dataFormat = "dir",
        datetimeFormat = Some("yyyy-MM-dd HH:mm:ss"),
        csvHeader = false,
        pathEncoding = Some("name"),
        partitions = partitions,
      )
    )

  test("a base64 parquet series whose file holds (value, ts) reads its columns by name") {
    val dir = tmp()
    val stage = tmp().resolve("p")
    Seq((1.5, Timestamp.valueOf("2024-01-01 00:00:00")), (2.5, Timestamp.valueOf("2024-01-01 01:00:00")))
      .toDF("value", "ts")
      .coalesce(1).write.parquet(stage.toString)
    val part = Files.list(stage).filter(_.toString.endsWith(".parquet")).findFirst().get
    for (s <- Seq("s1", "s2")) Files.copy(part, dir.resolve(s"${b64(s)}.parquet"))
    val src = new FileSource(SourceConfig(path = dir.toString, dataFormat = "dir", pathEncoding = Some("base64")))
    assert(assertAgree(src, Map("series_name" -> "s1")).length == 2)
  }

  test("an empty series file reads no rows, like the whole-source read") {
    val dir = tmp()
    write(dir.resolve("s1.csv"), "2024-01-01 00:00:00,1.0\n")
    write(dir.resolve("empty.csv"), "")
    val src = csvDir(dir)
    assert(assertAgree(src, Map("series_name" -> "empty")).isEmpty)
    assert(assertAgree(src, Map("series_name" -> "s1")).length == 1)
  }

  test("a file without an alphanumeric extension reads under the empty key, not its name") {
    val dir = tmp()
    write(dir.resolve("s1.csv"), "2024-01-01 00:00:00,1.0\n")
    write(dir.resolve("odd.csv~"), "2024-01-01 00:00:01,2.0\n")
    val src = csvDir(dir)
    assert(assertAgree(src, Map("series_name" -> "odd")).isEmpty)
    assert(assertAgree(src, Map("series_name" -> "")).length == 1)
  }

  test("a `_`-prefixed file is no series file") {
    val dir = tmp()
    write(dir.resolve("s1.csv"), "2024-01-01 00:00:00,1.0\n")
    write(dir.resolve("_u.csv"), "2024-01-01 00:00:01,2.0\n")
    assert(assertAgree(csvDir(dir), Map("series_name" -> "_u")).isEmpty)
  }

  test("nested CSV partitions with a base64 leaf: a tag filter reads only its series, empty and `_` siblings are ignored") {
    val dir = tmp()
    val levels = Seq(DirPartition("plant"), DirPartition("series_name", base64 = true))
    write(dir.resolve(s"PlantA/${b64("t1")}.csv"), "2024-01-01 00:00:00,1.0\n2024-01-01 00:00:01,1.5\n")
    write(dir.resolve(s"PlantA/${b64("t2")}.csv"), "2024-01-01 00:00:02,2.0\n")
    write(dir.resolve(s"PlantB/${b64("t1")}.csv"), "2024-01-01 00:00:03,3.0\n")
    write(dir.resolve(s"PlantB/${b64("empty")}.csv"), "")
    write(dir.resolve("PlantB/_SUCCESS.csv"), "not,a,series,file\n")
    write(dir.resolve(s"_temporary/${b64("t9")}.csv"), "not,a,series,file\n")
    val src = csvDir(dir, levels)
    val all = src.data.read(spark).select("plant", "series_name").as[(String, String)].collect().toSeq
    assert(all.sorted == Seq(("PlantA", "t1"), ("PlantA", "t1"), ("PlantA", "t2"), ("PlantB", "t1")))
    val one = Map("plant" -> "PlantA", "series_name" -> "t1")
    val got = assertAgree(src, one)
    assert(got.forall(_.startsWith("PlantA|t1|")) && got.map(_.split('|').last) == Seq("1.0", "1.5"))
    // a partial selector narrows on the level it names
    assert(assertAgree(src, Map("series_name" -> "t1")).length == 3)
    assert(assertAgree(src, Map("plant" -> "PlantB", "series_name" -> "empty")).isEmpty)
    // a one-column sibling fails any read that plans its frame; the
    // selector's tags narrow the listing first, so getData never does
    write(dir.resolve(s"PlantB/${b64("t3")}.csv"), "one column\n")
    intercept[IllegalArgumentException](src.data.read(spark))
    val narrowed = src.getData(spark, SeriesSelector("s", one), start, end)
    val opened = narrowed.inputFiles.toSeq
    assert(opened.map(f => new org.apache.hadoop.fs.Path(f).getName) == Seq(s"${b64("t1")}.csv") && opened.head.contains("PlantA"))
    assert(narrowed.count() == 2)
  }

  test("base64 directory levels decode like file stems: outside-alphabet characters skipped, UTF-8 required") {
    val dir = tmp()
    val levels = Seq(DirPartition("site", base64 = true), DirPartition("series_name", base64 = true))
    write(dir.resolve(s"${b64("SiteA")}/${b64("t1")}.csv"), "2024-01-01 00:00:00,1.0\n")
    // a space is outside the base64 alphabet, so the decoder skips it
    val spaced = b64("SiteB").patch(4, " ", 0)
    write(dir.resolve(s"$spaced/${b64("t1")}.csv"), "2024-01-01 00:00:01,2.0\n")
    val src = csvDir(dir, levels)
    val keys = src.data.read(spark).select("site", "series_name").as[(String, String)].collect().toSeq.sorted
    assert(keys == Seq(("SiteA", "t1"), ("SiteB", "t1")))
    assert(assertAgree(src, Map("site" -> "SiteB", "series_name" -> "t1")).length == 1)
    // bytes that are no UTF-8 fail the read and name the path
    val notUtf8 = java.util.Base64.getEncoder.encodeToString(Array(0xc3, 0x28).map(_.toByte))
    write(dir.resolve(s"$notUtf8/${b64("t1")}.csv"), "2024-01-01 00:00:02,3.0\n")
    val e = intercept[IllegalArgumentException](csvDir(dir, levels).data.read(spark))
    assert(e.getMessage.contains(notUtf8))
  }
}
