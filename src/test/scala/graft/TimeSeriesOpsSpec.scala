package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.SeriesDictionary
import graft.operators.TimeSeriesOps

class TimeSeriesOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def t(s: String): Timestamp = Timestamp.from(Instant.parse(s))

  private lazy val series = Seq(
    ("a", t("2024-01-01T00:00:00Z"), 1.0),
    ("a", t("2024-01-01T01:30:00Z"), 3.0),
    ("a", t("2024-01-01T03:00:00Z"), 2.0),
    ("b", t("2024-01-01T00:30:00Z"), 10.0),
    ("b", t("2024-01-01T02:00:00Z"), 20.0),
  ).toDF("series_name", "ts", "value")

  test("filterRange is half-open [start, end)") {
    val out = TimeSeriesOps
      .filterRange(series, t("2024-01-01T00:30:00Z"), t("2024-01-01T02:00:00Z"))
      .collect()
    assert(out.map(_.getDouble(2)).sorted.toSeq == Seq(3.0, 10.0))
  }

  test("searchSeries enumerates distinct tags x fields") {
    val out = TimeSeriesOps.searchSeries(series, Seq("series_name"), Seq("value", "quality")).collect()
    assert(out.length == 4)
  }

  test("latest picks max ts with value tiebreak") {
    val dup = series.unionAll(Seq(("a", t("2024-01-01T03:00:00Z"), 5.0)).toDF("series_name", "ts", "value"))
    val out = TimeSeriesOps.latest(dup, Seq("series_name")).where($"series_name" === "a").collect()
    assert(out.head.getDouble(2) == 5.0)
  }

  test("plotData keeps min/max/first/last per bucket") {
    val out = TimeSeriesOps
      .plotData(series, Seq("series_name"), t("2024-01-01T00:00:00Z"), t("2024-01-01T04:00:00Z"), 1)
      .where($"series_name" === "a")
      .collect()
    val byRole = out.map(r => r.getString(2) -> (r.getTimestamp(3), r.getDouble(4))).toMap
    assert(byRole("min")._2 == 1.0)
    assert(byRole("max")._2 == 3.0)
    assert(byRole("first")._1 == t("2024-01-01T00:00:00Z"))
    assert(byRole("last")._1 == t("2024-01-01T03:00:00Z"))
  }

  test("plotData buckets µs-exactly: a point before a sub-millisecond window end stays in the last bucket") {
    // end x.000999: truncated to x.000, the span shrank and the point at
    // x.000500 landed in bucket `intervalCount`, one past the last
    val pts = Seq(
      ("a", t("2024-01-01T00:00:00Z"), 2.0),
      ("a", t("2024-01-01T00:00:01.000500Z"), 1.0),
    ).toDF("series_name", "ts", "value")
    val out = TimeSeriesOps
      .plotData(pts, Seq("series_name"), t("2024-01-01T00:00:00Z"), t("2024-01-01T00:00:01.000999Z"), 4)
      .collect()
    val buckets = out.map(r => r.getTimestamp(3) -> r.getLong(1)).toMap
    assert(buckets.values.forall(b => b >= 0 && b < 4), buckets)
    assert(buckets(t("2024-01-01T00:00:01.000500Z")) == 3L)
  }

  test("resampleStepped carries last value forward, null before first point") {
    val out = TimeSeriesOps
      .resampleStepped(series.where($"series_name" === "a"), Seq("series_name"), t("2023-12-31T23:00:00Z"), t("2024-01-01T04:00:00Z"), 3600L)
      .orderBy("ts")
      .collect()
    assert(out.length == 5)
    assert(out(0).isNullAt(2)) // 23:00, before first point
    assert(out(1).getDouble(2) == 1.0) // 00:00 exact hit
    assert(out(2).getDouble(2) == 1.0) // 01:00 carried
    assert(out(3).getDouble(2) == 3.0) // 02:00 carried from 01:30
    assert(out(4).getDouble(2) == 2.0) // 03:00 exact hit
  }

  test("resampleLinear interpolates between neighbours, exact on samples") {
    val out = TimeSeriesOps
      .resampleLinear(series.where($"series_name" === "a"), Seq("series_name"), t("2024-01-01T00:00:00Z"), t("2024-01-01T04:00:00Z"), 3600L)
      .orderBy("ts")
      .collect()
    assert(out(0).getDouble(2) == 1.0)
    assert(math.abs(out(1).getDouble(2) - (1.0 + 2.0 * (60.0 / 90.0))) < 1e-12) // 01:00 between 00:00(1) and 01:30(3)
    assert(math.abs(out(2).getDouble(2) - (3.0 - 1.0 * (30.0 / 90.0))) < 1e-12) // 02:00 between 01:30(3) and 03:00(2)
    assert(out(3).getDouble(2) == 2.0)
  }

  test("asofJoin aligns most recent right value, inclusive at equality") {
    val left = Seq((1L, t("2024-01-01T01:00:00Z"), 5.0), (1L, t("2024-01-01T00:10:00Z"), 6.0)).toDF("user_id", "ts", "value")
    val right = Seq((1L, t("2024-01-01T00:10:00Z"), 100.0), (1L, t("2024-01-01T00:30:00Z"), 200.0)).toDF("user_id", "ts", "value")
    val out = TimeSeriesOps.asofJoin(left, right, Seq("user_id")).orderBy("ts").collect()
    assert(out(0).getDouble(3) == 100.0) // equality included
    assert(out(1).getDouble(3) == 200.0)
  }

  test("asofJoinTolerance nulls out stale right values") {
    val left = Seq((1L, t("2024-01-01T02:00:00Z"), 5.0), (1L, t("2024-01-01T00:20:00Z"), 6.0)).toDF("user_id", "ts", "value")
    val right = Seq((1L, t("2024-01-01T00:10:00Z"), 100.0)).toDF("user_id", "ts", "value")
    val out = TimeSeriesOps
      .asofJoinTolerance(left, right, Seq("user_id"), toleranceSeconds = 1800.0)
      .orderBy("ts").collect()
    assert(out(0).getDouble(3) == 100.0) // 10 min old: within tolerance
    assert(out(1).isNullAt(3)) // ~2h old: stale
  }

  test("ohlc computes open/high/low/close per bucket") {
    val out = TimeSeriesOps
      .ohlc(series, Seq("series_name"), org.apache.spark.sql.functions.lit(0).as("bucket"))
      .where($"series_name" === "a").collect().head
    assert(out.getAs[Double]("open") == 1.0)
    assert(out.getAs[Double]("high") == 3.0)
    assert(out.getAs[Double]("low") == 1.0)
    assert(out.getAs[Double]("close") == 2.0)
    assert(out.getAs[Long]("n") == 3L)
  }

  test("gapDetect flags deltas above threshold") {
    val out = TimeSeriesOps
      .gapDetect(series.withColumn("event_id", monotonically_increasing_id()), Seq("series_name"), "event_id", 5000.0)
      .collect()
    assert(out.map(_.getString(0)).toSeq.sorted == Seq("a", "a", "b")) // two 90min gaps in a, one in b
  }

  test("qualityMap maps good set to 1") {
    val df = Seq(1, 5, 99).toDF("q").withColumn("quality", TimeSeriesOps.qualityMap(col("q"), Seq(0, 1, 5)))
    assert(df.collect().map(_.getInt(1)).toSeq == Seq(1, 1, 0))
  }

  test("dictionaryDecode joins labels via broadcast") {
    val df = Seq((1L, 0), (2L, 3), (3L, 9)).toDF("id", "code")
    val out = TimeSeriesOps
      .dictionaryDecode(df, col("code"), SeriesDictionary(Map(0 -> "OFF", 3 -> "FAULT")))
      .orderBy("id")
      .collect()
    assert(out.map(r => Option(r.getString(2))).toSeq == Seq(Some("OFF"), Some("FAULT"), None))
  }

  test("resampleByMetadata interpolates declared-LINEAR series and defaults the rest to STEPPED") {
    val pts = Seq(
      ("a", t("2024-01-01T00:00:00Z"), 0.0),
      ("a", t("2024-01-01T02:00:00Z"), 4.0),
      ("b", t("2024-01-01T00:00:00Z"), 10.0),
      ("b", t("2024-01-01T02:00:00Z"), 20.0),
    ).toDF("series_name", "ts", "value")
    val meta = Seq(("a", "LINEAR")).toDF("series_name", "interpolation_type") // b undeclared -> stepped
    val out = TimeSeriesOps
      .resampleByMetadata(pts, meta, Seq("series_name"), t("2024-01-01T00:00:00Z"), t("2024-01-01T03:00:00Z"), 3600L)
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toInstant.toString, Option(r.get(2)).map(_.asInstanceOf[Double])))
      .toSet
    assert(out(("a", "2024-01-01T01:00:00Z", Some(2.0)))) // midpoint interpolated
    assert(out(("b", "2024-01-01T01:00:00Z", Some(10.0)))) // carried forward
  }

  test("counterReset rebuilds the monotone total across wraps") {
    val pts = Seq(
      ("c", t("2024-01-01T00:00:00Z"), 0.0, 1L),
      ("c", t("2024-01-01T00:01:00Z"), 5.0, 2L),
      ("c", t("2024-01-01T00:02:00Z"), 8.0, 3L),
      ("c", t("2024-01-01T00:03:00Z"), 2.0, 4L), // wrap: 8 -> 2
      ("c", t("2024-01-01T00:04:00Z"), 4.0, 5L),
      ("c", t("2024-01-01T00:05:00Z"), 1.0, 6L), // wrap: 4 -> 1
    ).toDF("series_name", "ts", "value", "event_id")
    val out = TimeSeriesOps
      .counterReset(pts, Seq("series_name"), "event_id")
      .orderBy("ts")
      .collect()
      .map(_.getDouble(3))
    assert(out.toSeq == Seq(0.0, 5.0, 8.0, 10.0, 12.0, 13.0))
  }

  test("autocorr is exactly 1 on a linear ramp and NaN-free on constants") {
    val ramp = (1 to 5).map(i => ("a", t(f"2024-01-01T00:0$i:00Z"), i.toDouble, i.toLong))
      .toDF("series_name", "ts", "value", "event_id")
    val r = TimeSeriesOps.autocorr(ramp, Seq("series_name"), "event_id", lagK = 1).collect().head
    assert(r.getLong(1) == 4L) // 5 points, 4 lagged pairs
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
  }

  test("valueHistogram clamps under/overflow into edge bins") {
    val pts = Seq(("a", t("2024-01-01T00:00:00Z"), -5.0), ("a", t("2024-01-01T00:01:00Z"), 30.0), ("a", t("2024-01-01T00:02:00Z"), 505.0))
      .toDF("series_name", "ts", "value")
    val out = TimeSeriesOps
      .valueHistogram(pts, Seq("series_name"), lo = 0.0, hi = 500.0, bins = 20)
      .collect()
      .map(r => r.getInt(1) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    assert(out == Map(0 -> ((0.0, 1L)), 1 -> ((25.0, 1L)), 19 -> ((475.0, 1L))))
  }

  test("dedupPoints: the highest write sequence wins per (series, ts)") {
    val rows = Seq(
      ("a", t("2024-01-01T00:00:00Z"), 1L, 10.0), // overwritten twice
      ("a", t("2024-01-01T00:00:00Z"), 5L, 11.0),
      ("a", t("2024-01-01T00:00:00Z"), 3L, 12.0), // NOT the winner despite later arrival order
      ("a", t("2024-01-01T01:00:00Z"), 2L, 20.0), // single write
      ("b", t("2024-01-01T00:00:00Z"), 4L, 30.0), // other series, same ts
    ).toDF("series_name", "ts", "event_id", "value")
    val out = TimeSeriesOps
      .dedupPoints(rows, Seq("series_name"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) -> ((r.getDouble(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out(("a", t("2024-01-01T00:00:00Z"))) == ((11.0, 5L, 3L))) // value of max event_id, 3 writes
    assert(out(("a", t("2024-01-01T01:00:00Z"))) == ((20.0, 2L, 1L)))
    assert(out(("b", t("2024-01-01T00:00:00Z"))) == ((30.0, 4L, 1L)))
  }

  test("patternSearch finds the planted motif at distance 0, ranked first") {
    val motif = Seq(1.0, 2.0, 3.0, 2.0)
    // series 'hit' embeds the motif exactly at offset 2; 'miss' is flat
    val hit = Seq(9.0, 9.0) ++ motif ++ Seq(9.0, 9.0)
    val rows =
      hit.zipWithIndex.map { case (v, i) => ("hit", t(f"2024-01-01T00:0$i:00Z"), i.toLong, v) } ++
        (0 until 8).map(i => ("miss", t(f"2024-01-01T00:0$i:00Z"), (100 + i).toLong, 50.0))
    val df = rows.toDF("series_name", "ts", "event_id", "value")
    val out = TimeSeriesOps.patternSearch(df, Seq("series_name"), motif, k = 3).collect()
    // best window: exact match, SSD 0, at the planted offset
    assert(out.head.getString(0) == "hit")
    assert(out.head.getTimestamp(1) == t("2024-01-01T00:02:00Z"))
    assert(out.head.getLong(2) == 0L)
    // ranking is ascending by distance
    val dists = out.map(_.getLong(2)).toSeq
    assert(dists == dists.sorted)
    // null values are excluded before windowing, not silently misaligned
    val withNull = (rows :+ (("hit", t("2024-01-01T00:08:00Z"), 8L, null.asInstanceOf[java.lang.Double]: Any)))
      .map { case (s, ts, id, v) => (s, ts, id, Option(v).map(_.asInstanceOf[Double])) }
      .toDF("series_name", "ts", "event_id", "value")
    val out2 = TimeSeriesOps.patternSearch(withNull, Seq("series_name"), motif, k = 3).collect()
    assert(out2.head.getLong(2) == 0L)
  }
}
