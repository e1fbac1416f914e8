package graft

import java.sql.Timestamp
import java.time.Instant

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{PluginSource, SeriesKey}

/** Interop conformance against the REFERENCE'S OWN plugin executable
  * (`/root/reference/tests/test_data/plugin/plugin.py` — a
  * self-contained script speaking the binary-plugin protocol over
  * stdin/stdout JSON + Arrow IPC): the cases
  * `tests/source/test_plugin.py:37-120` pins, driven through OUR
  * [[PluginSource]]. This is the strongest possible protocol evidence —
  * the two implementations were written independently against
  * kukur/source/plugin/plugin.py:24-111, and here they talk to each
  * other. Cancels (not fails) if the container lacks python3+pyarrow,
  * which the plugin needs to emit its IPC responses.
  */
class ReferencePluginFixtureSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  private lazy val Script = s"${ReferenceCheckout.root}/tests/test_data/plugin/plugin.py"

  override def beforeAll(): Unit = {
    super.beforeAll()
    ReferenceCheckout.root
  }

  private def pythonWithPyarrow: Boolean =
    try {
      val p = new ProcessBuilder("python3", "-c", "import pyarrow").start()
      p.waitFor() == 0
    } catch { case _: Exception => false }

  private def plugin(config: String = """{"features":{"plot":true}}"""): PluginSource =
    PluginSource(
      Seq("python3", Script),
      config,
      source = "Plugin",
      qualityGood = Seq("GOOD"), // the test's plugin_quality mapping
    )

  private val Start = Timestamp.from(Instant.parse("2022-01-01T00:00:00Z"))
  private val End = Timestamp.from(Instant.parse("2022-01-02T00:00:00Z"))

  test("test_search: the reference plugin's mixed series+metadata response parses") {
    assume(pythonWithPyarrow, "python3+pyarrow not available")
    val src = plugin()
    val series = src.search(spark).collect()
    assert(series.length == 1)
    assert(series.head.getAs[String]("series_name") == "test-2")
    val md = src.searchMetadata(spark).collect()
    assert(md.length == 1)
    assert(md.head.getAs[String]("series_name") == "test")
    assert(md.head.getAs[String]("description") == "Test series")
  }

  test("test_metadata: per-series metadata round trip") {
    assume(pythonWithPyarrow, "python3+pyarrow not available")
    val md = plugin().metadata(spark, "test").collect()
    assert(md.length == 1)
    assert(md.head.getAs[String]("description") == "Description of test (Plugin)")
  }

  test("test_data: Arrow IPC data decode + quality mapping") {
    assume(pythonWithPyarrow, "python3+pyarrow not available")
    val rows = plugin().data(spark, Seq("test"), Start, End).orderBy("ts").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Timestamp]("ts").toInstant).toSeq == Seq(Start.toInstant, End.toInstant))
    assert(rows.map(_.getAs[Long]("value")).toSeq == Seq(0L, 42L))
    assert(rows.map(_.getAs[Int]("quality")).toSeq == Seq(0, 1)) // BAD/GOOD via plugin_quality
  }

  test("test_plot_data: features.plot routes to the plot action") {
    assume(pythonWithPyarrow, "python3+pyarrow not available")
    val rows = plugin()
      .plotData(spark, Seq(SeriesKey("test")), Start, End, intervalCount = 200)
      .orderBy("ts")
      .collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Long]("value")).toSeq == Seq(0L, 47L))
    assert(rows.map(_.getAs[Int]("quality")).toSeq == Seq(0, 1))
  }
}
