package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Time.micros
import graft.operators.TimeSeriesOps

/** `TimeSeriesOps.resampleStepped` / `resampleLinear` plan the
  * ResampleAlignExec operator; [[ResampleReference]] holds the window
  * formulation they must equal.
  */
class ResampleExecSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def t(s: String): Timestamp = Timestamp.from(Instant.parse(s))

  private def canonical(df: DataFrame) =
    df.select("series_name", "ts", "value")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
      .sortBy(x => (x._1, micros(x._2)))
      .toSeq

  private def physical(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("exec operator matches the window-based linear resample on real data") {
    val ev = Tables.canonicalEvents(spark, "/root/testdata/sf0.001")
      .select(col("series_name"), col("ts"), col("value"))
    val start = t("2024-01-08T00:00:00Z"); val end = t("2024-01-15T00:00:00Z")
    val viaWindows = ResampleReference.linear(ev, Seq("series_name"), start, end, 3600L)
    val viaExec = TimeSeriesOps.resampleLinear(ev, Seq("series_name"), start, end, 3600L)
    assert(canonical(viaExec) == canonical(viaWindows))
  }

  test("exec operator matches the window-based stepped resample on real data") {
    val ev = Tables.canonicalEvents(spark, "/root/testdata/sf0.001")
      .where(col("ts") < lit(t("2024-01-15T00:00:00Z")))
      .select(col("series_name"), col("ts"), col("value"))
    val start = t("2024-01-08T00:00:00Z"); val end = t("2024-01-15T00:00:00Z")
    val viaWindows = ResampleReference.stepped(ev, Seq("series_name"), start, end, 3600L)
    val viaExec = TimeSeriesOps.resampleStepped(ev, Seq("series_name"), start, end, 3600L)
    assert(canonical(viaExec) == canonical(viaWindows))
  }

  test("exec operator handles duplicate timestamps, exact hits and out-of-range nulls") {
    val data = Seq(
      ("a", t("2024-01-01T01:00:00Z"), 1.0),
      ("a", t("2024-01-01T01:00:00Z"), 3.0), // dup ts: max wins
      ("a", t("2024-01-01T02:30:00Z"), 6.0),
      ("b", t("2024-01-01T05:00:00Z"), 9.0), // entirely after the grid
    ).toDF("series_name", "ts", "value")
    val out = TimeSeriesOps
      .resampleLinear(data, Seq("series_name"), t("2024-01-01T00:00:00Z"), t("2024-01-01T04:00:00Z"), 3600L)
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), Option(r.get(2))))
      .sortBy(x => (x._1, micros(x._2)))
    assert(out.length == 8) // two series x 4 grid points
    val a = out.filter(_._1 == "a").map(_._3)
    assert(a(0).isEmpty) // 00:00 before first
    assert(a(1).contains(3.0)) // 01:00 exact hit, dup collapsed to max
    assert(a(2).contains(3.0 + 3.0 * (60.0 / 90.0))) // 02:00 interpolated
    assert(a(3).isEmpty) // 03:00 after last
    assert(out.filter(_._1 == "b").forall(_._3.isEmpty)) // next exists but no prev
  }

  test("null values are skipped like last(ignoreNulls), never coerced to 0.0") {
    val data = Seq(
      ("a", t("2024-01-01T01:00:00Z"), Some(2.0)),
      ("a", t("2024-01-01T01:30:00Z"), None), // must NOT become prev=0.0
      ("a", t("2024-01-01T02:30:00Z"), Some(8.0)),
      ("a", t("2024-01-01T03:00:00Z"), None), // dup group below collapses over non-null only
      ("a", t("2024-01-01T03:00:00Z"), Some(4.0)),
      ("b", t("2024-01-01T01:00:00Z"), None), // all-null series: no neighbours at all
    ).toDF("series_name", "ts", "value")
    val out = TimeSeriesOps
      .resampleLinear(data, Seq("series_name"), t("2024-01-01T00:00:00Z"), t("2024-01-01T04:00:00Z"), 3600L)
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
      .sortBy(x => (x._1, micros(x._2)))
    val a = out.filter(_._1 == "a").map(_._3)
    assert(a(0).isEmpty) // 00:00 before first point
    assert(a(1).contains(2.0)) // 01:00 exact hit
    // 02:00 interpolates 01:00(2.0) -> 02:30(8.0), the null at 01:30 is invisible
    assert(a(2).contains(2.0 + 6.0 * (60.0 / 90.0)))
    assert(a(3).contains(4.0)) // 03:00 exact hit; dup (null, 4.0) collapses to 4.0
    assert(out.filter(_._1 == "b").forall(_._3.isEmpty))
    // the window formulation agrees on the same frame
    val viaWindows = canonical(
      ResampleReference.linear(data, Seq("series_name"), t("2024-01-01T00:00:00Z"), t("2024-01-01T04:00:00Z"), 3600L)
    )
    assert(out.toSeq == viaWindows)
  }

  test("physical plan has exactly one exchange and one sort") {
    val ev = Tables.canonicalEvents(spark, "/root/testdata/sf0.001")
      .select(col("series_name"), col("ts"), col("value"))
    val (start, end) = (t("2024-01-08T00:00:00Z"), t("2024-01-15T00:00:00Z"))
    for (
      resampled <- Seq(
        TimeSeriesOps.resampleLinear(ev, Seq("series_name"), start, end, 3600L),
        TimeSeriesOps.resampleStepped(ev, Seq("series_name"), start, end, 3600L),
      )
    ) {
      val plan = physical(resampled)
      assert("(?i)exchange".r.findAllIn(plan).size == 1, plan)
      assert(plan.split("\n").count(_.contains("Sort ")) == 1, plan)
      assert(plan.contains("ResampleAlign"), plan)
    }
  }

  test("resampleByMetadata plans one ResampleAlign per branch, each over one exchange and one sort") {
    val pts = Seq(
      ("a", t("2024-01-01T00:30:00Z"), 1.0),
      ("b", t("2024-01-01T01:30:00Z"), 2.0),
    ).toDF("series_name", "ts", "value")
    val meta = Seq(("a", "LINEAR")).toDF("series_name", "interpolation_type")
    val plan = physical(
      TimeSeriesOps.resampleByMetadata(pts, meta, Seq("series_name"), t("2024-01-01T00:00:00Z"), t("2024-01-01T04:00:00Z"), 3600L)
    )
    val lines = plan.split("\n")
    assert(lines.count(_.contains("ResampleAlign")) == 2, plan)
    // the semi/anti joins broadcast the metadata keys; the data side
    // shuffles once per branch
    assert(lines.count(l => "\\bExchange hashpartitioning".r.findFirstIn(l).isDefined) == 2, plan)
    assert(lines.count(_.contains("Sort ")) == 2, plan)
    assert(!plan.contains("Window"), plan)
  }

  /** Random windows whose bounds carry µs offsets (sub-millisecond
    * included), random steps and point sets with duplicate timestamps,
    * exact grid hits, nulls and points outside the window.
    */
  private final case class Case(startUs: Long, endUs: Long, step: Long, points: Seq[(String, Long, Option[Double])])

  private val caseGen: Gen[Case] = for {
    startUs <- Gen.choose(0L, 86400000000L).map(micros(t("2024-01-01T00:00:00Z")) + _)
    step <- Gen.choose(1L, 900L)
    spanUs <- Gen.choose(1L, 30L * step * 1000000L)
    n <- Gen.choose(0, 40)
    points <- Gen.listOfN(
      n,
      for {
        series <- Gen.oneOf("a", "b", "c")
        onGrid <- Gen.choose(0, 3)
        k <- Gen.choose(-3L, 33L)
        jitter <- Gen.choose(-2L * spanUs, 2L * spanUs)
        value <- Gen.option(Gen.choose(-1000, 1000).map(_ / 8.0))
      } yield (series, if (onGrid == 0) startUs + k * step * 1000000L else startUs + jitter, value),
    )
    dups <- Gen.someOf(points)
  } yield Case(startUs, startUs + spanUs, step, points ++ dups.map { case (s, us, v) => (s, us, v.map(_ + 1.0)) })

  test("random µs-offset windows: resampleLinear and resampleStepped equal the window reference") {
    def ts(us: Long) = Timestamp.from(Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS))
    val prop = Prop.forAll(caseGen) { c =>
      val df = c.points.map { case (s, us, v) => (s, ts(us), v) }.toDF("series_name", "ts", "value")
      val (start, end) = (ts(c.startUs), ts(c.endUs))
      val tags = Seq("series_name")
      canonical(TimeSeriesOps.resampleLinear(df, tags, start, end, c.step)) ==
        canonical(ResampleReference.linear(df, tags, start, end, c.step)) &&
        canonical(TimeSeriesOps.resampleStepped(df, tags, start, end, c.step)) ==
        canonical(ResampleReference.stepped(df, tags, start, end, c.step))
    }
    val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(16).withInitialSeed(Seed(20261017L)), prop)
    assert(result.passed, result.status.toString)
  }
}
