package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GpxSource

class GpxSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def writeTrack(dir: String, name: String): Unit = {
    val gpx =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<gpx version="1.1" xmlns="http://www.topografix.com/GPX/1/1"
        |     xmlns:gpxtpx="http://www.garmin.com/xmlschemas/TrackPointExtension/v1">
        | <trk><name>morning run</name><type>running</type>
        |  <trkseg>
        |   <trkpt lat="51.0000000" lon="5.0000000">
        |    <ele>50.0</ele><time>2024-05-01T08:00:00Z</time>
        |    <extensions><gpxtpx:TrackPointExtension><gpxtpx:hr>100</gpxtpx:hr><gpxtpx:cad>80</gpxtpx:cad></gpxtpx:TrackPointExtension></extensions>
        |   </trkpt>
        |   <trkpt lat="51.0001000" lon="5.0000000">
        |    <ele>51.0</ele><time>2024-05-01T08:00:10Z</time>
        |    <extensions><gpxtpx:TrackPointExtension><gpxtpx:hr>110</gpxtpx:hr><gpxtpx:cad>82</gpxtpx:cad></gpxtpx:TrackPointExtension></extensions>
        |   </trkpt>
        |   <trkpt lat="51.0002000" lon="5.0000000">
        |    <time>2024-05-01T08:00:20Z</time>
        |   </trkpt>
        |  </trkseg>
        | </trk>
        |</gpx>""".stripMargin
    Files.writeString(Path.of(dir, s"$name.gpx"), gpx)
  }

  test("gpx source parses trackpoints and derives distance/time/speed") {
    val dir = Files.createTempDirectory("graft-gpx").toString
    writeTrack(dir, "run1")
    val df = GpxSource.read(spark, dir).orderBy("seq")
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[Double]("lat") == 51.0)
    assert(rows(0).getAs[Double]("hr") == 100.0)
    assert(rows(1).getAs[Double]("ele") == 51.0)
    assert(rows(2).isNullAt(rows(2).fieldIndex("ele"))) // missing ele -> null
    // ~11m per 0.0001 deg lat; distance should be positive and plausible
    val d1 = rows(1).getAs[Double]("calc_distance")
    assert(d1 > 5 && d1 < 20, s"distance $d1")
    assert(rows(2).getAs[Double]("calc_total_distance") > d1)
    assert(rows(1).getAs[Double]("calc_time") == 10.0)
    val speed = rows(1).getAs[Double]("calc_speed")
    assert(speed > 1 && speed < 10, s"speed $speed") // km/h
  }

  test("reference fixture: the real Strava track parses to the reference's table") {
    // tests/source/test_gpx.py pins len == 2263 with ele/lon/lat
    // columns; the derived totals below re-run the reference's own
    // ECEF-chord/cumsum formula (kukur/source/gpx/__init__.py:131-166)
    // over the same fixture
    val df = GpxSource.read(spark, s"${ReferenceCheckout.root}/tests/test_data/gpx").orderBy("seq")
    val rows = df.collect()
    assert(rows.length == 2263)
    assert(df.columns.toSet.intersect(Set("ele", "lon", "lat")) == Set("ele", "lon", "lat"))
    val first = rows.head
    assert(first.getAs[Double]("lat") == 51.217777)
    assert(first.getAs[Double]("lon") == 5.298671)
    assert(first.getAs[Double]("ele") == 50.4)
    assert(first.getAs[java.sql.Timestamp]("ts").toInstant == java.time.Instant.parse("2024-05-01T08:15:02Z"))
    assert(rows.forall(r => !r.isNullAt(r.fieldIndex("hr")) && !r.isNullAt(r.fieldIndex("cad"))))
    val last = rows.last
    assert(last.getAs[Double]("ele") == 49.8)
    assert(math.abs(last.getAs[Double]("calc_total_distance") - 7930.086) < 0.01)
    assert(last.getAs[Double]("calc_time") == 2262.0)
    // cumulative columns are monotone non-decreasing in sequence order
    val totals = rows.map(_.getAs[Double]("calc_total_distance"))
    assert(totals.zip(totals.tail).forall { case (a, b) => b >= a })
  }

  test("gpx canonical melt yields one series per field, tracks in parallel") {
    val dir = Files.createTempDirectory("graft-gpx2").toString
    writeTrack(dir, "a")
    writeTrack(dir, "b")
    val c = GpxSource.canonical(spark, dir)
    assert(c.columns.toSeq == Seq("series_name", "field", "ts", "value"))
    val byTrack = c.groupBy("series_name").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTrack.keySet == Set("a", "b"))
    val fields = c.select("field").distinct().collect().map(_.getString(0)).toSet
    assert(Set("lat", "lon", "ele", "hr", "calc_speed").subsetOf(fields))
  }
}
