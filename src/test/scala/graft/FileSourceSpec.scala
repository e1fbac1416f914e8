package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.SeriesSelector
import graft.sources.{DeltaSource, PrunePartition, SourceConfig}

/** A file source's plot buckets exactly the slice its getData reads:
  * the same timestamp-partition pruning and the same field slice.
  */
class FileSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def t(s: String): Timestamp = Timestamp.from(Instant.parse(s))

  /** The file scans of `df`'s executed plan. */
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec    => Seq(s)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec        => scans(q.plan)
    case other                    => other.children.flatMap(scans)
  }

  /** Rows of `df` and the files its scans opened, read off the
    * `numFiles` metric once `df` ran.
    */
  private def filesOpened(df: DataFrame): (Seq[Row], Long) = {
    val out = df.collect().toSeq
    (out, scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum)
  }

  test("a Delta table's plot prunes its DAY partitions like getData") {
    val path = Files.createTempDirectory("graft-plot-day").resolve("table").toString
    val days = Seq("2020-01-01", "2020-01-02", "2020-01-03", "2020-01-04")
    val rows = for (d <- days; h <- Seq(0, 6, 12, 18))
      yield ("s1", t(s"${d}T%02d:00:00Z".format(h)), h.toDouble + days.indexOf(d), d)
    DeltaSource.write(rows.toDF("series_name", "ts", "value", "DAY").coalesce(1), path, partitionBy = Seq("DAY"))
    val tableFiles = DeltaSource.read(spark, path).inputFiles.length
    assert(tableFiles == days.size)

    val g = new Graft(spark).registerSource(
      "d",
      SourceConfig(
        path = path,
        fileFormat = "delta",
        prunePartitions = Seq(PrunePartition("timestamp", "DAY", format = Some("%Y-%m-%d"))),
      ),
    )
    val sel = SeriesSelector("d", Map("series_name" -> "s1"))
    val (start, end) = (t("2020-01-02T00:00:00Z"), t("2020-01-04T00:00:00Z"))
    val (data, dataFiles) = filesOpened(g.getData("d", sel, start, end))
    assert(data.length == 8)
    val (plot, plotFiles) = filesOpened(g.getPlotData("d", sel, start, end, intervalCount = 2))
    assert(plot.length == 8) // min/max/first/last of two day buckets
    assert(plotFiles == dataFiles && plotFiles < tableFiles, s"plot opened $plotFiles, data $dataFiles of $tableFiles")
  }

  test("a multi-field source's plot slices the selector's field like getData") {
    val path = Files.createTempDirectory("graft-plot-field").resolve("data").toString
    Seq(
      ("Antwerp", "P1", t("2020-01-01T00:00:00Z"), 1.0, "A"),
      ("Antwerp", "P1", t("2020-01-01T01:00:00Z"), 2.0, "A"),
      ("Antwerp", "P1", t("2020-01-01T02:00:00Z"), 1.0, "B"),
      ("Antwerp", "P2", t("2020-01-01T00:00:00Z"), 9.0, "C"),
    ).toDF("location", "plant", "ts", "value", "product").write.parquet(path)
    val g = new Graft(spark).registerSource(
      "row_tags",
      SourceConfig(
        path = path,
        tagColumns = Seq("location", "plant"),
        fieldColumns = Seq("value", "product"),
        valueType = "string",
      ),
    )
    val sel = SeriesSelector("", Map("location" -> "Antwerp", "plant" -> "P1"), field = "product")
    val (start, end) = (t("2020-01-01T00:00:00Z"), t("2020-01-02T00:00:00Z"))
    // product is a STRING field: if value rows leaked into the same
    // buckets the min/max aggregates would mix numeric strings in
    val plot = g.getPlotData("row_tags", sel, start, end, intervalCount = 1).collect()
    val byRole = plot.map(r => r.getAs[String]("role") -> r.getAs[String]("value")).toMap
    assert(byRole == Map("min" -> "A", "max" -> "B", "first" -> "A", "last" -> "B"))
    assert(g.getData("row_tags", sel, start, end).collect().map(_.getAs[String]("value")).sorted.toSeq == Seq("A", "A", "B"))
  }
}
