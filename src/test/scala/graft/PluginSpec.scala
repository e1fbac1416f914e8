package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.model.SeriesSelector
import graft.sources.{ArrowIpcSource, MetadataConfig, PluginSource, SeriesKey}

class PluginSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def t(s: String): Timestamp = Timestamp.from(Instant.parse(s))

  /** Stage a demo plugin: per-series Arrow IPC stream files plus a
    * shell script that answers search/metadata from literals and data
    * by extracting the series name from the request JSON.
    */
  private lazy val pluginDir: String = {
    val dir = Files.createTempDirectory("graft-plugin").toString
    val a = Seq((t("2024-01-01T00:00:00Z"), 1.5), (t("2024-01-01T00:01:00Z"), 2.5)).toDF("ts", "value")
    val b = Seq((t("2024-01-01T00:00:30Z"), 9.0)).toDF("ts", "value")
    ArrowIpcSource.write(a.repartition(1), s"$dir/data_a")
    ArrowIpcSource.write(b.repartition(1), s"$dir/data_b")
    val script = s"""#!/bin/sh
                    |action="$$1"
                    |req=$$(cat)
                    |case "$$action" in
                    |  search) printf '%s' '{"series":[{"source":"plugin","tags":{"series name":"a"},"field":"value"},{"source":"plugin","tags":{"series name":"b"}}],"metadata":[{"series":{"source":"plugin","tags":{"series name":"a"}},"description":"series a","unit":"m"}]}' ;;
                    |  metadata) printf '%s' '{"description":"demo series","unit":"m/s"}' ;;
                    |  data)
                    |    s=$$(printf '%s' "$$req" | sed -n 's/.*"series name":"\\([^"]*\\)".*/\\1/p')
                    |    cat "$dir/data_$$s"/*.arrows ;;
                    |  *) echo "unknown action $$action" >&2; exit 2 ;;
                    |esac
                    |""".stripMargin
    Files.writeString(Paths.get(s"$dir/plugin.sh"), script)
    new java.io.File(s"$dir/plugin.sh").setExecutable(true)
    dir
  }

  test("plugin search parses the series list") {
    val rows = PluginSource(Seq(s"$pluginDir/plugin.sh")).search(spark).collect()
    assert(rows.map(_.getString(1)).sorted.toSeq == Seq("a", "b"))
    assert(rows.forall(_.getString(0) == "plugin"))
    assert(rows.forall(_.getString(2) == "value")) // missing field defaults
  }

  test("plugin metadata returns the JSON object as a row") {
    val md = PluginSource(Seq(s"$pluginDir/plugin.sh")).metadata(spark, "a").collect().head
    assert(md.getAs[String]("description") == "demo series")
    assert(md.getAs[String]("unit") == "m/s")
  }

  test("plugin metadata is the first layer under metadata_sources extras") {
    val dir = Files.createTempDirectory("graft-plugin-md").toString
    Files.writeString(Paths.get(s"$dir/meta.csv"), "series_name,description,dictionary_name\na,extra,colors\nb,other,shapes\n")
    // the plugin's metadata JSON carries no tags: the layer is keyed by
    // the selector it answered for
    val md = new Graft(spark)
      .register("p", PluginSource(Seq(s"$pluginDir/plugin.sh")), Seq(MetadataConfig(path = s"$dir/meta.csv")))
      .getMetadata("p", SeriesSelector("p", Map("series_name" -> "a")))
      .collect()
    assert(md.length == 1)
    assert(md.head.getAs[String]("series_name") == "a")
    assert(md.head.getAs[String]("description") == "demo series" && md.head.getAs[String]("unit") == "m/s")
    assert(md.head.getAs[String]("dictionary_name") == "colors")
  }

  test("plugin data distributes one request per series and decodes arrow streams") {
    val df = PluginSource(Seq(s"$pluginDir/plugin.sh"))
      .data(spark, Seq("a", "b"), t("2024-01-01T00:00:00Z"), t("2024-01-02T00:00:00Z"))
    assert(df.schema.fieldNames.toSeq == Seq("series_name", "ts", "value"))
    val rows = df.collect()
    assert(rows.length == 3)
    val bRow = rows.find(_.getString(0) == "b").get
    assert(bRow.getTimestamp(1) == t("2024-01-01T00:00:30Z"))
    assert(bRow.getDouble(2) == 9.0)
    assert(rows.count(_.getString(0) == "a") == 2)
  }

  test("plugin search also yields plugin-provided metadata items") {
    val md = PluginSource(Seq(s"$pluginDir/plugin.sh")).searchMetadata(spark).collect()
    assert(md.length == 1)
    val row = md.head
    assert(row.getAs[String]("series_name") == "a")
    assert(row.getAs[String]("source") == "plugin")
    assert(row.getAs[String]("description") == "series a")
    assert(row.getAs[String]("unit") == "m")
  }

  /** A plugin that records every request to a log file and answers
    * `plot` with pre-bucketed data, `data` with raw points.
    */
  private def loggingPlugin(features: Boolean): (String, String) = {
    val dir = Files.createTempDirectory("graft-plugin-plot").toString
    val raw = Seq(
      (t("2024-01-01T00:00:00Z"), 1.0),
      (t("2024-01-01T00:01:00Z"), 5.0),
      (t("2024-01-01T00:02:00Z"), 3.0),
    ).toDF("ts", "value")
    val buckets = Seq((t("2024-01-01T00:00:00Z"), 1.0, 5.0)).toDF("ts", "min_value", "max_value")
    ArrowIpcSource.write(raw.repartition(1), s"$dir/raw")
    ArrowIpcSource.write(buckets.repartition(1), s"$dir/buckets")
    val script = s"""#!/bin/sh
                    |action="$$1"
                    |req=$$(cat)
                    |printf '%s %s\\n' "$$action" "$$req" >> "$dir/requests.log"
                    |case "$$action" in
                    |  plot) cat "$dir/buckets"/*.arrows ;;
                    |  data) cat "$dir/raw"/*.arrows ;;
                    |  *) echo "unknown action $$action" >&2; exit 2 ;;
                    |esac
                    |""".stripMargin
    Files.writeString(Paths.get(s"$dir/plugin.sh"), script)
    new java.io.File(s"$dir/plugin.sh").setExecutable(true)
    val config = if (features) """{"features":{"plot":true}}""" else "{}"
    (dir, config)
  }

  test("plugin plot uses the plot action when features.plot is advertised") {
    val (dir, config) = loggingPlugin(features = true)
    val df = PluginSource(Seq(s"$dir/plugin.sh"), config).plotData(
      spark,
      Seq(SeriesKey("a")),
      t("2024-01-01T00:00:00Z"),
      t("2024-01-02T00:00:00Z"),
      intervalCount = 200,
    )
    assert(df.schema.fieldNames.toSeq == Seq("series_name", "ts", "min_value", "max_value"))
    val rows = df.collect()
    assert(rows.length == 1 && rows.head.getDouble(3) == 5.0)
    val log = Files.readString(Paths.get(s"$dir/requests.log"))
    assert(log.linesIterator.forall(_.startsWith("plot ")))
    assert(log.contains(""""intervalCount":200"""))
  }

  test("plugin plot falls back to the data action without features.plot") {
    val (dir, config) = loggingPlugin(features = false)
    val df = PluginSource(Seq(s"$dir/plugin.sh"), config).plotData(
      spark,
      Seq(SeriesKey("a")),
      t("2024-01-01T00:00:00Z"),
      t("2024-01-02T00:00:00Z"),
      intervalCount = 200,
    )
    assert(df.collect().length == 3)
    val log = Files.readString(Paths.get(s"$dir/requests.log"))
    assert(log.linesIterator.forall(_.startsWith("data ")))
    assert(log.contains(""""intervalCount":200""")) // sent on the fallback too
  }

  test("plugin requests carry arbitrary tag maps and fields") {
    val (dir, config) = loggingPlugin(features = false)
    val key = SeriesKey(Map("series name" -> "a", "location" -> "plant-1"), field = "max")
    val df = PluginSource(Seq(s"$dir/plugin.sh"), config)
      .dataForKeys(spark, Seq(key), t("2024-01-01T00:00:00Z"), t("2024-01-02T00:00:00Z"))
    assert(df.collect().forall(_.getString(0) == "a,location=plant-1::max"))
    val log = Files.readString(Paths.get(s"$dir/requests.log"))
    assert(log.contains(""""tags":{"location":"plant-1","series name":"a"}"""))
    assert(log.contains(""""field":"max""""))
  }

  test("plugin schema probe reuses its response — one invocation per task") {
    val (dir, _) = loggingPlugin(features = false)
    val df = PluginSource(Seq(s"$dir/plugin.sh"))
      .data(spark, Seq("a", "b"), t("2024-01-01T00:00:00Z"), t("2024-01-02T00:00:00Z"))
    assert(df.collect().length == 6) // 3 raw rows per series
    val log = Files.readString(Paths.get(s"$dir/requests.log"))
    assert(log.linesIterator.size == 2) // probe served series a; only b re-ran
  }

  test("plugin failures surface the exit code and stderr") {
    val dir = Files.createTempDirectory("graft-plugin-fail").toString
    Files.writeString(Paths.get(s"$dir/fail.sh"), "#!/bin/sh\ncat > /dev/null\necho boom >&2\nexit 3\n")
    new java.io.File(s"$dir/fail.sh").setExecutable(true)
    val e = intercept[RuntimeException] {
      PluginSource(Seq(s"$dir/fail.sh")).metadata(spark, "a")
    }
    assert(e.getMessage.contains("exited 3") && e.getMessage.contains("boom"))
  }
}
