package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.SeriesSelector
import graft.operators.TimeSeriesOps
import graft.sources.{Inspect, MetadataConfig, MetadataSource, SourceConfig, TimeSeriesSource}

class GraftFacadeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def t(s: String): Timestamp = Timestamp.from(Instant.parse(s))

  private def writeData(): String = {
    val dir = Files.createTempDirectory("graft-facade").toString
    Seq(
      ("temp", t("2024-01-01T00:00:00Z"), 20.0),
      ("temp", t("2024-01-01T01:00:00Z"), 21.0),
      ("temp", t("2024-01-01T02:00:00Z"), 19.0),
      ("pressure", t("2024-01-01T00:30:00Z"), 1.2),
    ).toDF("series_name", "ts", "value").write.mode("overwrite").parquet(s"$dir/data")
    Seq(
      ("temp", "Temperature", "degC", "0", "100", "lin"),
      ("pressure", "Pressure", "bar", "0.5", "9", "step"),
    ).toDF("name", "descr", "eng_unit", "low", "high", "interp")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$dir/meta")
    dir
  }

  private def facade(dir: String): Graft =
    new Graft(spark).registerSource(
      "demo",
      SourceConfig(path = s"$dir/data", dataFormat = "row", tagColumns = Seq("series_name")),
      metadata = Seq(
        MetadataConfig(
          path = s"$dir/meta",
          fieldMapping = Map(
            "series_name" -> "name", "description" -> "descr", "unit" -> "eng_unit",
            "limit_low_physical" -> "low", "limit_high_physical" -> "high",
            "interpolation_type" -> "interp",
          ),
          valueMapping = Map("interpolation_type" -> Map("lin" -> "LINEAR", "step" -> "STEPPED")),
        )
      ),
    )

  test("facade mirrors the reference client surface") {
    val dir = writeData()
    val g = facade(dir)
    assert(g.listSources == Seq("demo"))
    assert(g.search("demo").collect().length == 2)
    val data = g
      .getData("demo", SeriesSelector("demo", Map("series_name" -> "temp")), t("2024-01-01T00:00:00Z"), t("2024-01-01T02:00:00Z"))
      .orderBy("ts")
      .collect()
    assert(data.map(_.getAs[Double]("value")).toSeq == Seq(20.0, 21.0)) // half-open range
    val md = g.getMetadata("demo", SeriesSelector("demo", Map("series_name" -> "temp"))).collect().head
    assert(md.getAs[String]("description") == "Temperature")
    assert(md.getAs[Double]("limit_high_physical") == 100.0)
    assert(md.getAs[String]("interpolation_type") == "LINEAR")
    val structure = g.getSourceStructure("demo").collect()
    assert(structure.exists(r => r.getString(0) == "tag" && r.getString(2) == "pressure"))
    val plot = g.getPlotData("demo", SeriesSelector("demo", Map("series_name" -> "temp")), t("2024-01-01T00:00:00Z"), t("2024-01-01T03:00:00Z"), 1)
    assert(plot.collect().length == 4) // min/max/first/last of one bucket
  }

  test("testSource probes search/metadata/data/plot and reports per-action status") {
    val dir = writeData()
    val g = facade(dir)
    val out = g
      .testSource("demo", t("2024-01-01T00:00:00Z"), t("2024-01-01T03:00:00Z"), intervalCount = 10)
      .collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getLong(2))))
      .toMap
    assert(out.keySet == Set("search", "metadata", "data", "plot"))
    assert(out("search") == ((true, 2L)))
    assert(out("metadata") == ((true, 1L))) // filtered to the probed series
    // first series alphabetically is "pressure": one point in range
    assert(out("data") == ((true, 1L)))
    assert(out("plot")._1 && out("plot")._2 > 0L)
    // an unregistered source fails the search probe but still returns rows
    val bad = new Graft(spark)
      .registerSource("other", graft.sources.SourceConfig(path = s"$dir/data", dataFormat = "row", tagColumns = Seq("series_name")))
    val probe = bad.testSource("missing", t("2024-01-01T00:00:00Z"), t("2024-01-01T03:00:00Z"))
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
    assert(probe("search") == false && probe("data") == false)
  }

  test("testSource probes sources keyed by kukur's spaced default tag") {
    // a config-declared source defaults to tag "series name" (with the
    // space) — the probe must key on the source's own tag columns, not
    // a hardcoded series_name
    val dir = Files.createTempDirectory("graft-spacedtag").toString
    Seq(("a", t("2024-01-01T00:30:00Z"), 1.0), ("b", t("2024-01-01T01:30:00Z"), 2.0))
      .toDF("series name", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/data")
    val g = new Graft(spark).registerSource(
      "sp",
      SourceConfig(path = s"$dir/data", dataFormat = "row", tagColumns = Seq("series name")),
    )
    val out = g
      .testSource("sp", t("2024-01-01T00:00:00Z"), t("2024-01-01T02:00:00Z"))
      .collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getLong(2))))
      .toMap
    assert(out("search") == ((true, 2L)))
    assert(out("data") == ((true, 1L))) // series "a", one point in range
    assert(out("plot")._1)
  }

  test("a source with only search and getData gets the plot fallback and metadata_sources layering") {
    val points = Seq(
      ("temp", t("2024-01-01T00:00:00Z"), 20L),
      ("temp", t("2024-01-01T00:20:00Z"), 23L),
      ("temp", t("2024-01-01T01:10:00Z"), 19L),
      ("temp", t("2024-01-01T01:40:00Z"), 21L),
      ("pressure", t("2024-01-01T00:30:00Z"), 1L),
    ).toDF("series name", "ts", "value")
    val memory = new TimeSeriesSource {
      def search(spark: SparkSession): DataFrame = points.select("series name").distinct()
      def getData(spark: SparkSession, selector: SeriesSelector, start: Timestamp, end: Timestamp): DataFrame =
        TimeSeriesOps.filterRange(points.where(col("series name") === selector.seriesName), start, end).select("ts", "value")
    }
    val dir = Files.createTempDirectory("graft-memory-meta").toString
    Files.writeString(
      java.nio.file.Path.of(dir, "meta.csv"),
      "series name,description,unit\ntemp,Temperature,degC\npressure,Pressure,bar\n",
    )
    val g = new Graft(spark).register("mem", memory, metadata = Seq(MetadataConfig(path = s"$dir/meta.csv", tagColumns = Seq("series name"))))
    val sel = SeriesSelector("mem", Map("series name" -> "temp"))
    val (start, end) = (t("2024-01-01T00:00:00Z"), t("2024-01-01T02:00:00Z"))

    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val expected = TimeSeriesOps.plotData(
      memory.getData(spark, sel, start, end).withColumn("value", col("value").cast("double")).withColumn("series_name", lit("temp")),
      Seq("series_name"), start, end, 2)
    val plot = g.getPlotData("mem", sel, start, end, 2)
    assert(plot.schema("value").dataType == org.apache.spark.sql.types.DoubleType)
    assert(rows(plot) == rows(expected) && rows(plot).length == 8)

    val md = g.getMetadata("mem", sel).collect()
    assert(md.length == 1)
    assert(md.head.getAs[String]("series name") == "temp")
    assert(md.head.getAs[String]("description") == "Temperature" && md.head.getAs[String]("unit") == "degC")
    // without extras the source has no metadata of its own
    intercept[IllegalArgumentException](new Graft(spark).register("bare", memory).getMetadata("bare", sel))

    // a source WITH metadata of its own is the first layer: its fields
    // win, the extra fills what it leaves empty
    val described = new TimeSeriesSource {
      def search(spark: SparkSession): DataFrame = memory.search(spark)
      def getData(spark: SparkSession, selector: SeriesSelector, start: Timestamp, end: Timestamp): DataFrame =
        memory.getData(spark, selector, start, end)
      override def ownMetadata(spark: SparkSession, selector: SeriesSelector): Option[DataFrame] =
        Some(Seq((selector.seriesName, "Own", null.asInstanceOf[String])).toDF("series name", "description", "unit"))
    }
    val own = new Graft(spark)
      .register("own", described, metadata = Seq(MetadataConfig(path = s"$dir/meta.csv", tagColumns = Seq("series name"))))
      .getMetadata("own", sel)
      .collect()
    assert(own.length == 1)
    assert(own.head.getAs[String]("description") == "Own" && own.head.getAs[String]("unit") == "degC")
  }

  test("metadata merge: earlier sources win, empty values fall through") {
    val hi = Seq(("s1", "High desc", null.asInstanceOf[String])).toDF("series_name", "description", "unit")
    val lo = Seq(("s1", "Low desc", "degC"), ("s2", "Only low", "bar")).toDF("series_name", "description", "unit")
    val merged = MetadataSource.merge(Seq("series_name"), Seq(hi, lo)).orderBy("series_name").collect()
    assert(merged(0).getAs[String]("description") == "High desc")
    assert(merged(0).getAs[String]("unit") == "degC") // fell through
    assert(merged(1).getAs[String]("description") == "Only low")
  }

  test("value mapping applies each source value exactly once, never chained") {
    val dir = Files.createTempDirectory("graft-valuemap").toString
    Seq(("s1", "a"), ("s2", "b"), ("s3", "x"))
      .toDF("series_name", "unit")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$dir/meta")
    // overlapping mapping: a→b and b→c — a must land on b, NOT chain to c
    val md = new MetadataSource(
      MetadataConfig(path = s"$dir/meta", valueMapping = Map("unit" -> Map("a" -> "b", "b" -> "c")))
    )
    val units = md.read(spark).orderBy("series_name").collect().map(_.getAs[String]("unit")).toSeq
    assert(units == Seq("b", "c", "x"))
  }

  test("blank metadata cells coerce to absent, mirroring tests/test_metadata.py") {
    // test_*_coerce_empty: " " is ABSENT for typed fields (fields.py
    // _is_empty_string) — interpolation/data type, accuracy, limits
    val dir = Files.createTempDirectory("graft-blankmeta").toString
    Files.writeString(
      java.nio.file.Path.of(dir, "meta.csv"),
      "series name,interpolation type,data type,accuracy,physical lower limit\n" +
        "blank, , , , \n" +
        "full,STEPPED,DICTIONARY,0.2,0\n",
    )
    val rows = new MetadataSource(MetadataConfig(path = s"$dir/meta.csv"))
      .read(spark)
      .orderBy("series_name")
      .collect()
    val blank = rows(0)
    for (f <- Seq("interpolation_type", "data_type", "accuracy", "limit_low_physical"))
      assert(blank.isNullAt(blank.fieldIndex(f)), s"$f should be absent for a blank cell")
    val full = rows(1)
    assert(full.getAs[String]("interpolation_type") == "STEPPED")
    assert(full.getAs[String]("data_type") == "DICTIONARY")
    assert(full.getAs[Double]("accuracy") == 0.2)
    assert(full.getAs[Double]("limit_low_physical") == 0.0)
  }

  test("inspect lists and previews datasets") {
    val dir = writeData()
    val listing = Inspect.listPath(spark, dir).collect()
    assert(listing.length == 2 && listing.forall(_.getString(1) == "directory"))
    val preview = Inspect.preview(spark, s"$dir/data", 2)
    assert(preview.collect().length == 2)
    assert(preview.columns.contains("series_name"))
  }

  test("dictionary dir loads one dictionary per file") {
    val dir = Files.createTempDirectory("graft-dict").toString
    Files.writeString(java.nio.file.Path.of(dir, "onoff.csv"), "0,OFF\n1,ON\n")
    Files.writeString(java.nio.file.Path.of(dir, "mode.csv"), "0,AUTO\n1,MANUAL\n2,HOLD\n")
    val md = new MetadataSource(MetadataConfig(path = "unused", dictionaryDir = Some(dir)))
    val dicts = md.dictionaries(spark).collect()
    assert(dicts.length == 5)
    assert(dicts.filter(_.getString(0) == "mode").map(_.getString(2)).sorted.toSeq == Seq("AUTO", "HOLD", "MANUAL"))
  }
}
