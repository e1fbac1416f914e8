package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.SeriesSelector
import graft.sources.{ConfiguredSource, FileSource, Simulators, SimulatorSignal, SourceConfig}

class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def t(s: String): Timestamp = Timestamp.from(Instant.parse(s))
  private def tmp(): String = Files.createTempDirectory("graft-src").toString

  private val (day, dayEnd) = (t("2024-01-01T00:00:00Z"), t("2024-01-02T00:00:00Z"))
  private def series(name: String) = SeriesSelector("d", Map("series_name" -> name))

  test("getData opens only its series' file: a corrupt neighbor never loads") {
    // the dir layout's partition-pruning proof: a selector's read must
    // open only <series>.parquet — a deliberately corrupt file beside it
    // stays untouched, while the whole-source read (which by design
    // unions every file) trips over it
    val dir = tmp()
    // dir files carry (ts, value) positionally; the series key is the
    // file name only
    Seq((t("2024-01-01T00:00:00Z"), 1.0), (t("2024-01-01T01:00:00Z"), 2.0))
      .toDF("ts", "value")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/stage")
    val part = new java.io.File(s"$dir/stage").listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/data"))
    Files.copy(part.toPath, java.nio.file.Paths.get(s"$dir/data/good.parquet"))
    Files.write(java.nio.file.Paths.get(s"$dir/data/broken.parquet"), "not a parquet file".getBytes)
    val src = new FileSource(
      SourceConfig(
        path = s"$dir/data",
        fileFormat = "parquet",
        dataFormat = "dir",
        tagColumns = Seq("series_name"),
        pathEncoding = Some("name"),
      )
    )
    val good = src.getData(spark, series("good"), day, dayEnd)
    assert(good.inputFiles.map(new org.apache.hadoop.fs.Path(_).getName).toSeq == Seq("good.parquet"))
    val pruned = good.orderBy("ts").collect()
    assert(pruned.map(_.getAs[Double]("value")).toSeq == Seq(1.0, 2.0))
    assert(pruned.forall(_.getAs[String]("series_name") == "good"))
    intercept[Exception](src.data.read(spark).collect()) // whole-source read must hit the corrupt file
    // a traversal-shaped series name must be rejected, not resolved
    // into a path outside the source dir (the reference raises too)
    val e = intercept[IllegalArgumentException](src.getData(spark, series("../../../etc/passwd"), day, dayEnd))
    assert(e.getMessage.contains("not a valid path component"))
    // an unknown series reads 0 rows and opens no file: broken.parquet,
    // which fails any read that opens it, stays unopened
    val nope = src.getData(spark, series("nope"), day, dayEnd)
    assert(nope.inputFiles.isEmpty && nope.collect().isEmpty)
  }

  test("getData reads headered dir csv BY NAME, and any alphanumeric extension") {
    val dir = tmp()
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/data"))
    // header order is value,ts — a positional rename would read the
    // timestamp column as the value (csv.py:375 resolves by name)
    Files.writeString(java.nio.file.Paths.get(s"$dir/data/s1.csv"), "value,ts\n7.5,2024-01-01T00:00:00Z\n8.5,2024-01-01T01:00:00Z\n")
    val src = new FileSource(
      SourceConfig(
        path = s"$dir/data",
        fileFormat = "csv",
        dataFormat = "dir",
        tagColumns = Seq("series_name"),
        pathEncoding = Some("name"),
        csvHeader = true,
      )
    )
    val pruned = src.getData(spark, series("s1"), day, dayEnd).orderBy("ts").collect()
    assert(pruned.map(_.getAs[Double]("value")).toSeq == Seq(7.5, 8.5))
    assert(pruned.map(_.getAs[Timestamp]("ts").toInstant).head == Instant.parse("2024-01-01T00:00:00Z"))
    // the whole-source read agrees with the series read on the same source
    val full = src.data.read(spark).orderBy("ts").collect()
    assert(full.map(_.getAs[Double]("value")).toSeq == Seq(7.5, 8.5))
    // a series file with a non-default extension reads under its stem
    Files.writeString(java.nio.file.Paths.get(s"$dir/data/s2.txt"), "value,ts\n1.0,2024-01-01T00:00:00Z\n")
    val odd = src.getData(spark, series("s2"), day, dayEnd).collect()
    assert(odd.map(_.getAs[Double]("value")).toSeq == Seq(1.0))
  }

  test("config-declared orc source reads the reference's TIMESTAMP_INSTANT fixture") {
    // pyarrow's tz-aware ORC fails spark.read.orc outright; the
    // configured source must reroute through OrcInstantSource just
    // like Inspect does
    val src = new ConfiguredSource(
      SourceConfig(
        path = s"${ReferenceCheckout.root}/tests/test_data/orc/row.orc",
        fileFormat = "orc",
        dataFormat = "row",
        tagColumns = Seq("series name"),
      )
    )
    val rows = src.read(spark).collect()
    assert(rows.length == 47)
    assert(rows.exists(r => r.getAs[String]("series name") == "test-tag-1"))
  }

  test("row CSV source: column mapping, datetime format, quality mapping") {
    val dir = tmp()
    Seq(
      ("s1", "2024-01-01 00:00:00.000000", 1.5, 192),
      ("s1", "2024-01-01 00:01:00.000000", 2.5, 0),
      ("s2", "2024-01-01 00:00:30.000000", 9.0, 192),
    ).toDF("tag", "when", "reading", "q")
      .write.mode("overwrite").option("header", "true").csv(dir)
    val src = new ConfiguredSource(
      SourceConfig(
        path = dir,
        fileFormat = "csv",
        dataFormat = "row",
        tagColumns = Seq("series_name"),
        columnMapping = Map("series_name" -> "tag", "ts" -> "when", "value" -> "reading", "quality" -> "q"),
        datetimeFormat = Some("yyyy-MM-dd HH:mm:ss.SSSSSS"),
        qualityGood = Seq(192),
      )
    )
    val rows = src.read(spark).orderBy("series_name", "ts").collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[String]("series_name") == "s1")
    assert(rows(0).getAs[Timestamp]("ts") == t("2024-01-01T00:00:00Z"))
    assert(rows(0).getAs[Double]("value") == 1.5)
    assert(rows(0).getAs[Int]("quality") == 1)
    assert(rows(1).getAs[Int]("quality") == 0)
  }

  test("promoteUnion follows concat_tables promotion: any-string, all-int, else double") {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    val ints = Seq(("a", t("2024-01-01T00:00:00Z"), 1)).toDF("series_name", "ts", "value")
    val longs = Seq(("b", t("2024-01-01T00:00:00Z"), 5L)).toDF("series_name", "ts", "value")
    val dbls = Seq(("c", t("2024-01-01T00:00:00Z"), 1.5)).toDF("series_name", "ts", "value")
    val strs = Seq(("d", t("2024-01-01T00:00:00Z"), "ON")).toDF("series_name", "ts", "value")

    val allInt = ConfiguredSource.promoteUnion(Seq(ints, longs))
    assert(allInt.schema("value").dataType == LongType)
    assert(allInt.count() == 2)

    val mixedNum = ConfiguredSource.promoteUnion(Seq(ints, dbls))
    assert(mixedNum.schema("value").dataType == DoubleType)

    val withStr = ConfiguredSource.promoteUnion(Seq(ints, dbls, strs))
    assert(withStr.schema("value").dataType == StringType)
    assert(withStr.orderBy("series_name").collect().map(_.getString(2)).toSeq == Seq("1", "1.5", "ON"))

    // quality alignment: frames without quality gain a null column
    val withQ = Seq(("e", t("2024-01-01T00:00:00Z"), 2.0, 1)).toDF("series_name", "ts", "value", "quality")
    val aligned = ConfiguredSource.promoteUnion(Seq(withQ, dbls))
    assert(aligned.columns.contains("quality"))
    assert(aligned.where(col("series_name") === "c").collect().head.isNullAt(3))
  }

  test("string quality codes map through the good-list") {
    val dir = tmp()
    Seq(
      ("s1", "2024-01-01 00:00:00", 1.5, "OK"),
      ("s1", "2024-01-01 00:01:00", 2.5, "SUSPECT"),
    ).toDF("series_name", "ts", "value", "quality")
      .write.mode("overwrite").option("header", "true").csv(dir)
    val src = new ConfiguredSource(
      SourceConfig(
        path = dir, fileFormat = "csv", dataFormat = "row",
        datetimeFormat = Some("yyyy-MM-dd HH:mm:ss"),
        qualityGood = Seq("OK"),
      )
    )
    val rows = src.read(spark).orderBy("ts").collect()
    assert(rows.map(_.getAs[Int]("quality")).toSeq == Seq(1, 0))
  }

  test("base64 dir layout decodes the series key from the file name") {
    val dir = tmp()
    def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    assert(b64("~~~").contains("+")) // guard: the '+'-alphabet case stays covered
    Files.writeString(java.nio.file.Path.of(dir, s"${b64("temp")}.csv"), "ts,value\n2024-01-01 00:00:00,1.5\n")
    Files.writeString(java.nio.file.Path.of(dir, s"${b64("unit one")}.csv"), "ts,value\n2024-01-01 00:01:00,9.0\n")
    Files.writeString(java.nio.file.Path.of(dir, s"${b64("~~~")}.csv"), "ts,value\n2024-01-01 00:02:00,4.0\n")
    val src = new ConfiguredSource(
      SourceConfig(
        path = dir, fileFormat = "csv", dataFormat = "dir",
        datetimeFormat = Some("yyyy-MM-dd HH:mm:ss"),
        pathEncoding = Some("base64"),
      )
    )
    val rows = src.read(spark).orderBy("ts").collect()
    assert(rows.map(_.getAs[String]("series_name")).toSeq == Seq("temp", "unit one", "~~~"))
    assert(rows.map(_.getAs[Double]("value")).toSeq == Seq(1.5, 9.0, 4.0))
  }

  test("integer good-list matches a double-typed quality column") {
    val dir = tmp()
    Seq(
      ("s1", t("2024-01-01T00:00:00Z"), 1.5, 192.0),
      ("s1", t("2024-01-01T00:01:00Z"), 2.5, 0.0),
    ).toDF("series_name", "ts", "value", "quality")
      .write.mode("overwrite").parquet(dir)
    val src = new ConfiguredSource(SourceConfig(path = dir, dataFormat = "row", qualityGood = Seq(192)))
    val rows = src.read(spark).orderBy("ts").collect()
    assert(rows.map(_.getAs[Int]("quality")).toSeq == Seq(1, 0))
  }

  test("row source with data timezone converts to UTC") {
    val dir = tmp()
    Seq(("s1", "2024-06-01 12:00:00", 1.0)).toDF("series_name", "ts", "value")
      .write.mode("overwrite").option("header", "true").csv(dir)
    val src = new ConfiguredSource(
      SourceConfig(
        path = dir, fileFormat = "csv", dataFormat = "row",
        datetimeFormat = Some("yyyy-MM-dd HH:mm:ss"),
        dataTimezone = Some("Europe/Brussels"),
      )
    )
    val ts = src.read(spark).collect().head.getAs[Timestamp]("ts")
    assert(ts == t("2024-06-01T10:00:00Z")) // CEST = UTC+2
  }

  test("pivot source unpivots columns to series") {
    val dir = tmp()
    Seq(
      (t("2024-01-01T00:00:00Z"), Some(1.0), Some(10.0)),
      (t("2024-01-01T00:01:00Z"), Some(2.0), None),
    ).toDF("ts", "temp", "pressure")
      .write.mode("overwrite").parquet(dir)
    val src = new ConfiguredSource(SourceConfig(path = dir, dataFormat = "pivot"))
    val rows = src.read(spark).orderBy("series_name", "ts").collect()
    assert(rows.map(r => (r.getString(0), r.getDouble(2))).toSeq ==
      Seq(("pressure", 10.0), ("temp", 1.0), ("temp", 2.0)))
    val found = src.search(spark).collect().map(_.getString(0)).sorted.toSeq
    assert(found == Seq("pressure", "temp"))
  }

  test("dir source discovers series from the path and prunes partitions") {
    val dir = tmp()
    Seq(
      ("a", t("2024-01-01T00:00:00Z"), 1.0),
      ("b", t("2024-01-01T00:00:00Z"), 2.0),
    ).toDF("series_name", "ts", "value")
      .write.mode("overwrite").partitionBy("series_name").parquet(dir)
    val src = new ConfiguredSource(SourceConfig(path = dir, dataFormat = "dir"))
    val one = src.read(spark).where($"series_name" === "a")
    assert(one.collect().map(_.getAs[Double]("value")).toSeq == Seq(1.0))
    val plan = one.queryExecution.executedPlan.toString
    assert(!plan.contains("series_name=b") || plan.contains("PartitionFilters"))
  }

  test("string-valued series keep text values (kukur STRING data type)") {
    val dir = tmp()
    Seq(
      ("valve1", "2024-01-01 00:00:00", "OPEN"),
      ("valve1", "2024-01-01 00:01:00", "CLOSED"),
    ).toDF("series_name", "ts", "state")
      .write.mode("overwrite").option("header", "true").csv(dir)
    val src = new ConfiguredSource(
      SourceConfig(
        path = dir, fileFormat = "csv", dataFormat = "row",
        fieldColumns = Seq("state"),
        datetimeFormat = Some("yyyy-MM-dd HH:mm:ss"),
        valueType = "string",
      )
    )
    val rows = src.read(spark).orderBy("ts").collect()
    assert(rows.map(_.getAs[String]("value")).toSeq == Seq("OPEN", "CLOSED"))
    assert(rows.head.getAs[String]("field") == "state")
  }

  test("ORC row source round-trips") {
    val dir = tmp()
    Seq(("s1", t("2024-01-01T00:00:00Z"), 4.5)).toDF("series_name", "ts", "value")
      .write.mode("overwrite").orc(dir)
    val src = new ConfiguredSource(SourceConfig(path = dir, fileFormat = "orc", dataFormat = "row"))
    val rows = src.read(spark).collect()
    assert(rows.length == 1 && rows.head.getAs[Double]("value") == 4.5)
  }

  test("simulator counter is periodic and epoch-aligned") {
    val out = Simulators
      .counter(spark, t("2024-01-01T00:00:00Z"), t("2024-01-01T01:00:00Z"), 0.0, 100.0, 5.0, 60L)
      .orderBy("ts")
      .collect()
    assert(out.length == 61)
    assert(out(0).getDouble(1) == 0.0) // midnight is period-aligned (86400 % 1200 == 0)
    assert(out(1).getDouble(1) == 5.0)
    assert(out(20).getDouble(1) == 0.0) // reset after 20 steps
  }

  test("simulators start µs-exactly: no point before a sub-millisecond start") {
    // start x.000500: truncated to x.000, the `us >= start` filter
    // admitted the tick at x.000, which lies before the window
    val (start, end) = (t("2024-01-01T00:00:00.000500Z"), t("2024-01-01T00:00:05Z"))
    val signals = Seq(
      "counter" -> Simulators.counter(spark, start, end, 0.0, 100.0, 5.0, 1L),
      "sine" -> Simulators.sine(spark, start, end, 60.0, 0.0, 1.0, 0.0, 1L),
      "white noise" -> Simulators.whiteNoise(spark, start, end, 50.0, 10.0, 1L),
    )
    for ((name, df) <- signals) {
      val ts = df.collect().map(_.getTimestamp(0))
      assert(ts.length == 5, s"$name: ${ts.toSeq}")
      assert(ts.forall(!_.before(start)), s"$name: ${ts.toSeq}")
    }
  }

  test("simulator white noise is deterministic with plausible moments") {
    val a = Simulators.whiteNoise(spark, t("2024-01-01T00:00:00Z"), t("2024-01-03T00:00:00Z"), 50.0, 10.0, 60L).collect()
    val b = Simulators.whiteNoise(spark, t("2024-01-01T00:00:00Z"), t("2024-01-03T00:00:00Z"), 50.0, 10.0, 60L).collect()
    assert(a.map(_.getDouble(1)).toSeq == b.map(_.getDouble(1)).toSeq) // deterministic
    val xs = a.map(_.getDouble(1))
    val m = xs.sum / xs.length
    val sd = math.sqrt(xs.map(x => (x - m) * (x - m)).sum / xs.length)
    assert(math.abs(m - 50.0) < 1.0, s"mean $m")
    assert(math.abs(sd - 10.0) < 1.0, s"sd $sd")
    // sub-range regeneration matches the full run (per-point hashing)
    val sub = Simulators.whiteNoise(spark, t("2024-01-02T00:00:00Z"), t("2024-01-03T00:00:00Z"), 50.0, 10.0, 60L).collect()
    val fullTail = a.filter(!_.getTimestamp(0).before(t("2024-01-02T00:00:00Z")))
    assert(sub.map(_.getDouble(1)).toSeq == fullTail.map(_.getDouble(1)).toSeq)
  }

  test("simulator step walks discrete levels within bounds, deterministic") {
    val out = Simulators.step(spark, t("2024-01-01T00:00:00Z"), t("2024-01-02T00:00:00Z"), 0.0, 100.0, 10, 600L).orderBy("ts").collect()
    assert(out.length == 144) // one day at 10 min
    val vals = out.map(_.getDouble(1))
    assert(vals.forall(v => v >= 0.0 && v <= 100.0))
    assert(vals.forall(v => (v / 10.0) == math.floor(v / 10.0))) // on-grid levels
    assert(vals.distinct.length > 3) // actually walks
    val again = Simulators.step(spark, t("2024-01-01T00:00:00Z"), t("2024-01-02T00:00:00Z"), 0.0, 100.0, 10, 600L).orderBy("ts").collect()
    assert(again.map(_.getDouble(1)).toSeq == vals.toSeq)
  }

  test("simulator sine hits amplitude and shift") {
    val out = Simulators
      .sine(spark, t("2024-01-01T00:00:00Z"), t("2024-01-02T00:00:00Z"), 86400.0, 0.0, 10.0, 50.0, 3600L)
      .collect()
      .map(_.getDouble(1))
    assert(math.abs(out.max - 60.0) < 0.5)
    assert(math.abs(out.min - 40.0) < 0.5)
  }

  test("simulator consistency: a narrower window is the wide window restricted") {
    // tests/source/test_simulator.py test_*_consistency: generation is
    // time-keyed, so [start+d, end-d) equals the full run dropped to
    // that window — for every generator
    val s0 = t("2024-01-01T00:00:00Z")
    val e0 = t("2024-01-08T00:00:00Z")
    val s1 = t("2024-01-03T00:00:00Z")
    val e1 = t("2024-01-06T00:00:00Z")
    def both(gen: (Timestamp, Timestamp) => org.apache.spark.sql.DataFrame): Unit = {
      val wide = gen(s0, e0).where(col("ts") >= lit(s1) && col("ts") < lit(e1)).orderBy("ts").collect()
      val narrow = gen(s1, e1).where(col("ts") < lit(e1)).orderBy("ts").collect()
      assert(wide.nonEmpty)
      assert(wide.toSeq == narrow.toSeq)
    }
    both((a, b) => Simulators.counter(spark, a, b, 0.0, 100.0, 10.0, 600L))
    both((a, b) => Simulators.whiteNoise(spark, a, b, 0.0, 1.0, 3600L, seed = 7L))
    both((a, b) => Simulators.step(spark, a, b, 0.0, 100.0, 10, 600L, seed = 7L))
    both((a, b) => Simulators.sine(spark, a, b, 86400.0, 0.0, 10.0, 50.0, 3600L))
  }

  test("step simulator string data type emits string_<value>, unknown type fails") {
    // test_step_signal_generator_produces_same_data_for_string /
    // test_step_signal_generator_wrong_data_type
    val sig = SimulatorSignal(
      "s", "step", intervalSeconds = 600L, minValue = 0.0, maxValue = 100.0,
      numberOfSteps = 10, dataType = "string",
    )
    val out = Simulators
      .generate(spark, sig, t("2024-01-01T00:00:00Z"), t("2024-01-02T00:00:00Z"))
      .collect()
    assert(out.length == 144)
    assert(out.forall(_.getAs[String]("value").matches("string_\\d+\\.\\d+")))
    val again = Simulators
      .generate(spark, sig, t("2024-01-01T00:00:00Z"), t("2024-01-02T00:00:00Z"))
      .collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    intercept[IllegalArgumentException] {
      Simulators.generate(spark, sig.copy(dataType = "foofoo"), t("2024-01-01T00:00:00Z"), t("2024-01-02T00:00:00Z"))
    }
  }

  test("calculatedAccuracy: explicit wins, pct validated, limits fall back physical->functional") {
    import spark.implicits._
    val d = Seq(
      ("a", Some(0.5), Some(2.0), Some(0.0), None: Option[Double], Some(100.0), None: Option[Double]),
      ("b", None: Option[Double], Some(2.5), Some(0.0), None, Some(100.0), None),
      ("c", None: Option[Double], Some(10.0), None, Some(20.0), Some(120.0), None),
      ("d", None: Option[Double], Some(150.0), Some(0.0), None, Some(100.0), None),
      ("e", None: Option[Double], Some(5.0), None, None, None, None),
    ).toDF("name", "acc", "pct", "lowp", "lowf", "highp", "highf")
    val out = d
      .withColumn(
        "calc",
        graft.sources.MetadataSource.calculatedAccuracy(col("acc"), col("pct"), col("lowp"), col("lowf"), col("highp"), col("highf")),
      )
      .collect()
      .map(r => r.getString(0) -> Option(r.get(7)).map(_.asInstanceOf[Double]))
      .toMap
    assert(out == Map("a" -> Some(0.5), "b" -> Some(2.5), "c" -> Some(10.0), "d" -> None, "e" -> None))
  }
}
