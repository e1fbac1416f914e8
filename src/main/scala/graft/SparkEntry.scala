package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{BpeFunctions, CorpusFunctions, DedupFunctions, TextFunctions, UnigramLm, VectorFunctions}
import graft.model.SeriesDictionary
import graft.multimodal.Multimodal
import graft.operators.{Downsample, TimeSeriesOps}
import graft.sources.{ConfiguredSource, Inspect, MetadataConfig, MetadataSource, Simulators, SourceConfig}

/** Driver contract — one `queries` entry (+ DuckDB oracle where
  * SQL-expressible) per operator in SURVEY.md §2.
  */
object SparkEntry {

  // ---- shared constants -------------------------------------------------

  private def ts(s: String): Timestamp = Timestamp.from(Instant.parse(s))

  private val Start = ts("2024-01-08T00:00:00Z")
  private val End = ts("2024-01-15T00:00:00Z")
  private val MonthStart = ts("2024-01-01T00:00:00Z")
  private val MonthEnd = ts("2024-02-01T00:00:00Z")
  private val PlotBuckets = 100

  /** Order-independent exact sum of a double expression: scaled to µ-units,
    * summed as integers, descaled. Bit-identical across engines and
    * partitionings — see SURVEY.md float-determinism policy.
    *
    * The accumulator is decimal(38,0), not long: at 100 TB a whole-table
    * sum of µ-scaled values (~5·10¹⁹) silently wraps a 64-bit
    * accumulator. The DuckDB oracle already sums into a 128-bit
    * hugeint, and both engines round the same exact integer to double,
    * so results stay bit-identical.
    */
  private def exactSum(c: Column): Column =
    sum(floor(c * lit(1000000.0)).cast("decimal(38,0)")).cast("double") / lit(1000000.0)

  /** SQL rendering of [[exactSum]] for the DuckDB oracle. */
  private def exactSumSql(e: String): String =
    s"SUM(CAST(FLOOR(($e) * 1000000) AS BIGINT)) / 1000000.0"

  /** Cast timestamp columns to NTZ at the query boundary so dumped
    * parquet carries naive µs timestamps, matching DuckDB's TIMESTAMP.
    */
  private def ntz(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType.typeName == "timestamp") d.withColumn(f.name, col(f.name).cast("timestamp_ntz"))
      else d
    }

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.canonicalEvents(s, dir)

  /** Range-pushdown canonical events — predicate reaches the scan. */
  private def evRange(s: SparkSession, dir: String, start: Timestamp, end: Timestamp): DataFrame =
    Tables.canonicalEventsInRange(s, dir, start, end)

  /** Deterministic scratch dir for source-layer round-trip demos.
    * The version segment invalidates staged fixtures whenever a fixture
    * definition changes — bump it together with any edit to a
    * `fixture(...)` block.
    */
  private def tmpPath(sfDir: String, name: String): String =
    s"/tmp/graft_src_demo/v4/${name}_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}"

  /** Stage a source-layer fixture once per (name, sfDir). These queries
    * measure the source READ operator; the export that stages the
    * fixture (parquet → csv/json/pivot) is setup, not the operator
    * under test, so a marker file gates it — repeated bench runs time
    * only the read path. The fixture is a pure function of the static
    * test data; delete /tmp/graft_src_demo to force a re-stage.
    */
  private def fixture(sfDir: String, name: String)(write: String => Unit): String = {
    val path = tmpPath(sfDir, name)
    val marker = new java.io.File(path + "_READY")
    if (!marker.exists()) {
      write(path)
      marker.getParentFile.mkdirs()
      marker.createNewFile()
    }
    path
  }

  // ---- flagship ---------------------------------------------------------

  /** Flagship: plot-data downsampling over the canonical events frame. */
  def entry(spark: SparkSession): DataFrame =
    ntz(
      TimeSeriesOps.plotData(
        evRange(spark, "/root/testdata/sf0.001", MonthStart, MonthEnd),
        Seq("series_name"),
        MonthStart,
        MonthEnd,
        PlotBuckets,
      )
    )

  // ---- queries ----------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1: series discovery (kukur search)
    "ts_search" -> { (s, dir) =>
      TimeSeriesOps.searchSeries(ev(s, dir), Seq("series_name", "user_id"), Seq("value"))
    },
    // A2: single-series range query
    "ts_get_data" -> { (s, dir) =>
      ntz(
        TimeSeriesOps
          .filterRange(evRange(s, dir, Start, End).where(col("series_name") === "click" && col("user_id") === 7), Start, End)
          .select(col("ts"), col("value"))
      )
    },
    // A3: multi-series range query
    "ts_get_data_multi" -> { (s, dir) =>
      ntz(
        TimeSeriesOps
          .filterRange(evRange(s, dir, Start, End).where(col("series_name").isin("click", "error")), Start, End)
          .select(col("series_name"), col("user_id"), col("ts"), col("value"))
      )
    },
    // A4: source structure (tag keys/values + fields)
    "ts_source_structure" -> { (s, dir) =>
      TimeSeriesOps.sourceStructure(ev(s, dir), Seq("series_name", "user_id"), Seq("value"))
    },
    // A5: plot-data downsampling
    "ts_plot_data" -> { (s, dir) =>
      ntz(TimeSeriesOps.plotData(evRange(s, dir, MonthStart, MonthEnd), Seq("series_name"), MonthStart, MonthEnd, PlotBuckets))
    },
    // A6b: per-series quality ratio — the health summary a provider
    // surfaces per series (fraction of GOOD points)
    "ts_quality_ratio" -> { (s, dir) =>
      val k = regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int")
      ev(s, dir)
        .withColumn("quality", TimeSeriesOps.qualityMap(k, 0 until 50))
        .groupBy(col("series_name"))
        .agg(count(lit(1)).as("n"), sum(col("quality").cast("long")).as("n_good"))
        .withColumn("good_ratio", col("n_good").cast("double") / col("n").cast("double"))
    },
    // A6: quality mapping from a raw source code to GOOD/BAD
    "ts_quality_map" -> { (s, dir) =>
      val k = regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int")
      ev(s, dir)
        .withColumn("k", k)
        .withColumn("quality", TimeSeriesOps.qualityMap(col("k"), 0 until 50))
        .select(col("event_id"), col("k"), col("quality"))
    },
    // A7: dictionary decode of a discrete-valued series (broadcast join)
    "ts_dictionary_decode" -> { (s, dir) =>
      val dict = SeriesDictionary(Map(0 -> "OFF", 1 -> "ON", 2 -> "IDLE", 3 -> "FAULT"))
      val code = pmod(regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int"), lit(4))
      TimeSeriesOps
        .dictionaryDecode(ev(s, dir).withColumn("code", code), col("code"), dict)
        .select(col("event_id"), col("code"), col("label"))
    },
    // A8: computed per-series metadata
    "ts_metadata_agg" -> { (s, dir) =>
      ntz(TimeSeriesOps.metadataAgg(ev(s, dir), Seq("series_name", "user_id")))
    },
    // A8b: per-series value distribution (exact percentiles; at 100 TB
    // swap for approx_percentile — same plan shape)
    "ts_percentiles" -> { (s, dir) =>
      ev(s, dir)
        .groupBy(col("series_name"))
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.95)").as("p95"),
        )
    },
    // A9: latest point per series
    "ts_latest" -> { (s, dir) =>
      ntz(TimeSeriesOps.latest(ev(s, dir), Seq("series_name", "user_id")))
    },
    // A12: deterministic counter simulator
    "ts_simulator_counter" -> { (s, _) =>
      ntz(Simulators.counter(s, Start, End, minValue = 0.0, maxValue = 100.0, increase = 5.0, intervalSeconds = 60L))
    },
    // A13: deterministic sine simulator
    "ts_simulator_sine" -> { (s, _) =>
      ntz(Simulators.sine(s, Start, End, periodSeconds = 86400.0, phaseSeconds = 3600.0, amplitude = 10.0, shift = 50.0, intervalSeconds = 60L))
    },
    // A13b: the same sine via the DataSource V2 connector (ts-range
    // pushdown into the generator, column pruning) — same oracle
    "ts_simulator_v2" -> { (s, _) =>
      ntz(
        s.read
          .format("graft-simulator")
          .option("type", "sine")
          .option("start", "2024-01-08T00:00:00Z")
          .option("end", "2024-01-15T00:00:00Z")
          .option("intervalSeconds", "60")
          .option("periodSeconds", "86400")
          .option("phaseSeconds", "3600")
          .option("amplitude", "10")
          .option("shift", "50")
          .load()
          .select(col("ts"), col("value"))
      )
    },
    // A12b: white-noise simulator (hash-derived Box-Muller → rows-only)
    "ts_simulator_noise" -> { (s, _) =>
      ntz(Simulators.whiteNoise(s, Start, End, mean = 50.0, stdDev = 10.0, intervalSeconds = 60L))
    },
    // A12c: step simulator (per-day random walk → rows-only)
    "ts_simulator_step" -> { (s, _) =>
      ntz(Simulators.step(s, Start, End, minValue = 0.0, maxValue = 100.0, numberOfSteps = 10, intervalSeconds = 600L))
    },
    // A10: stepped resample onto a 1h grid
    "ts_resample_stepped" -> { (s, dir) =>
      ntz(
        TimeSeriesOps.resampleStepped(
          evRange(s, dir, new Timestamp(0L), End).select(col("series_name"), col("ts"), col("value")),
          Seq("series_name"), Start, End, stepSeconds = 3600L)
      )
    },
    // A11: linear-interpolation resample onto a 1h grid
    "ts_resample_linear" -> { (s, dir) =>
      ntz(
        TimeSeriesOps.resampleLinear(
          ev(s, dir).select(col("series_name"), col("ts"), col("value")),
          Seq("series_name"), Start, End, stepSeconds = 3600L)
      )
    },
    // A11c: metadata-driven resample — each series interpolates per its
    // declared InterpolationType; undeclared series default to STEPPED
    "ts_resample_metadata" -> { (s, dir) =>
      import s.implicits._
      val meta = Seq(("click", "LINEAR"), ("view", "LINEAR"), ("purchase", "LINEAR"))
        .toDF("series_name", "interpolation_type")
      ntz(
        TimeSeriesOps.resampleByMetadata(
          ev(s, dir).select(col("series_name"), col("ts"), col("value")),
          meta, Seq("series_name"), Start, End, stepSeconds = 3600L)
      )
    },
    // A10b/A11b: the A10/A11 resamples under their historical `_exec`
    // names — both now plan the same ResampleAlignExec operator; the
    // entries stay so the oracle counts remain comparable
    "ts_resample_stepped_exec" -> { (s, dir) =>
      ntz(
        TimeSeriesOps.resampleStepped(
          evRange(s, dir, new Timestamp(0L), End).select(col("series_name"), col("ts"), col("value")),
          Seq("series_name"), Start, End, stepSeconds = 3600L)
      )
    },
    "ts_resample_linear_exec" -> { (s, dir) =>
      ntz(
        TimeSeriesOps.resampleLinear(
          ev(s, dir).select(col("series_name"), col("ts"), col("value")),
          Seq("series_name"), Start, End, stepSeconds = 3600L)
      )
    },
    // A18: metadata-driven physical-limit outlier screen
    "ts_outlier_limits" -> { (s, dir) =>
      import s.implicits._
      val limits = Seq(
        ("click", 0.5, 300.0), ("view", 0.5, 300.0), ("purchase", 1.0, 480.0),
        ("signup", 0.2, 200.0), ("error", 0.1, 100.0),
      ).toDF("series_name", "limit_low", "limit_high")
      ntz(
        TimeSeriesOps
          .outsideLimits(ev(s, dir), limits, Seq("series_name"))
          .select(col("series_name"), col("ts"), col("value"), col("violation"))
      )
    },
    // A19: as-of join — last click value before each purchase, per user
    "ts_asof_join" -> { (s, dir) =>
      val e = ev(s, dir)
      ntz(
        TimeSeriesOps.asofJoin(
          e.where(col("series_name") === "purchase"),
          e.where(col("series_name") === "click"),
          keyCols = Seq("user_id"),
          rightOut = "last_click_value",
        )
      )
    },
    // A25: trailing-window z-score anomaly detection
    "ts_zscore_anomaly" -> { (s, dir) =>
      ntz(TimeSeriesOps.zscoreAnomalies(ev(s, dir).where(col("series_name") === "view"), Seq("series_name"), "event_id", nPoints = 50, zThreshold = 3.0))
    },
    // A21: OHLC bars per series-hour
    "ts_ohlc" -> { (s, dir) =>
      ntz(
        TimeSeriesOps.ohlc(ev(s, dir), Seq("series_name"), date_trunc("hour", col("ts")).as("bucket"))
      )
    },
    // A22: per-point derivative (rate of change per second)
    "ts_derivative" -> { (s, dir) =>
      ntz(TimeSeriesOps.derivative(ev(s, dir).where(col("series_name") === "error"), Seq("series_name"), "event_id"))
    },
    // A23: trailing 10-point moving average (exact scaled-int sums)
    "ts_moving_avg" -> { (s, dir) =>
      ntz(TimeSeriesOps.movingAvg(ev(s, dir).where(col("series_name") === "signup"), Seq("series_name"), "event_id", nPoints = 10))
    },
    // A33: last-write-wins point dedup — out-of-order/corrected
    // ingest cleanup: highest event_id wins per (series, ts)
    "ts_dedup_points" -> { (s, dir) =>
      ntz(TimeSeriesOps.dedupPoints(ev(s, dir), Seq("series_name", "user_id")))
    },
    // A32: subsequence pattern search — top-k windows closest to a
    // query motif by integer-exact SSD (EDBT 2019 similarity search)
    "ts_pattern_search" -> { (s, dir) =>
      ntz(
        TimeSeriesOps.patternSearch(
          ev(s, dir),
          Seq("series_name", "user_id"),
          pattern = Seq(0.0, 0.5, 1.0, 0.5, 0.0, -0.5, -1.0, -0.5),
        )
      )
    },
    // A26: counter-wrap correction (monotone running total of a
    // resetting counter; every decrease treated as a reset)
    "ts_counter_reset" -> { (s, dir) =>
      ntz(
        TimeSeriesOps
          .counterReset(ev(s, dir).where(col("series_name") === "click"), Seq("series_name", "user_id"), "event_id")
      )
    },
    // A27: per-series lag-1 autocorrelation (exact integer moment sums)
    "ts_autocorr" -> { (s, dir) =>
      TimeSeriesOps.autocorr(ev(s, dir), Seq("series_name"), "event_id", lagK = 1)
    },
    // A30: trapezoidal time integral per series (value·seconds)
    "ts_integral" -> { (s, dir) =>
      TimeSeriesOps.integral(ev(s, dir), Seq("series_name"), "event_id")
    },
    // A31: cross-correlation of two series' hourly activity (Pearson r
    // over hour-aligned counts; integer moment sums, exact at scale)
    "ts_cross_corr" -> { (s, dir) =>
      val hourly = ev(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("series_name"))
        .agg(count(lit(1)).as("c"))
      val a = hourly.where(col("series_name") === "click").select(col("hour"), col("c").as("x"))
      val b = hourly.where(col("series_name") === "view").select(col("hour"), col("c").as("y"))
      val dec = (c: Column) => sum(c.cast("decimal(38,0)")).cast("double")
      a.join(b, "hour")
        .agg(
          count(lit(1)).as("n"),
          dec(col("x")).as("sx"),
          dec(col("y")).as("sy"),
          dec(col("x") * col("y")).as("sxy"),
          dec(col("x") * col("x")).as("sxx"),
          dec(col("y") * col("y")).as("syy"),
        )
        .withColumn("nd", col("n").cast("double"))
        .select(
          col("n"),
          ((col("nd") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("nd") * col("sxx") - col("sx") * col("sx")) * (col("nd") * col("syy") - col("sy") * col("sy"))))
            .as("r"),
        )
    },
    // A28: fixed-range value histogram (20 × 25-wide buckets over [0, 500))
    "ts_histogram" -> { (s, dir) =>
      TimeSeriesOps.valueHistogram(ev(s, dir), Seq("series_name"), lo = 0.0, hi = 500.0, bins = 20)
    },
    // A29: LTTB plot downsampling (Steinarsson 2013) — sequential
    // within a series, parallel across series. HASH-ORACLED via a
    // DuckDB recursive CTE that replays the per-bucket argmax walk
    // (anchors as explicitly-ordered list_reduce folds, so the
    // >2^53-magnitude micros sums round identically) + DownsampleSpec
    "ts_downsample_lttb" -> { (s, dir) =>
      ntz(Downsample.lttb(ev(s, dir).select(col("series_name"), col("ts"), col("value")), "series_name", nOut = 200))
    },
    // A24: as-of join with 1h staleness tolerance
    "ts_asof_tolerance" -> { (s, dir) =>
      val e = ev(s, dir)
      ntz(
        TimeSeriesOps.asofJoinTolerance(
          e.where(col("series_name") === "purchase"),
          e.where(col("series_name") === "click"),
          keyCols = Seq("user_id"),
          toleranceSeconds = 3600.0,
          rightOut = "last_click_value",
        )
      )
    },
    // A20: gap detection (> 1h between points of a series)
    "ts_gap_detect" -> { (s, dir) =>
      ntz(TimeSeriesOps.gapDetect(ev(s, dir), Seq("series_name"), "event_id", thresholdSeconds = 3600.0))
    },
    // A14: pivot-layout source → canonical rows (stack unpivot)
    "ts_pivot_read" -> { (s, dir) =>
      val tmp = fixture(dir, "pivot") { p =>
        Tables
          .events(s, dir)
          .groupBy(date_trunc("minute", col("ts")).as("ts"))
          .pivot("event_type")
          .agg(max(col("value")))
          .write.mode("overwrite").parquet(p)
      }
      val src = new ConfiguredSource(SourceConfig(path = tmp, fileFormat = "parquet", dataFormat = "pivot"))
      ntz(src.read(s))
    },
    // A15: CSV row-layout source with column mapping + datetime format
    "ts_row_source_csv" -> { (s, dir) =>
      val tmp = fixture(dir, "csvrow") { p =>
        Tables
          .canonicalEvents(s, dir)
          .where(col("series_name").isin("click", "error"))
          .select(
            col("series_name").as("etype"),
            col("user_id").as("uid"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("tstamp"),
            col("value").as("reading"),
          )
          .write.mode("overwrite").option("header", "true").csv(p)
      }
      val src = new ConfiguredSource(
        SourceConfig(
          path = tmp,
          fileFormat = "csv",
          dataFormat = "row",
          tagColumns = Seq("series_name", "user_id"),
          columnMapping = Map("series_name" -> "etype", "user_id" -> "uid", "ts" -> "tstamp", "value" -> "reading"),
          datetimeFormat = Some("yyyy-MM-dd HH:mm:ss.SSSSSS"),
        )
      )
      ntz(src.read(s).withColumn("user_id", col("user_id").cast("long")))
    },
    // A15e: config-file-declared source (kukur/config.py + Kukur.toml,
    // SourceFactory vocabulary): a headerless positional CSV declared
    // in a JSON config, registered and read through Graft.fromConfig —
    // the reference's primary "declare sources in a file" UX on the
    // oracle surface, not just in specs
    "ts_config_source" -> { (s, dir) =>
      val tmp = fixture(dir, "cfgsrc") { p =>
        new java.io.File(p).mkdirs()
        Tables
          .canonicalEvents(s, dir)
          .where(col("series_name").isin("view", "purchase"))
          .select(
            col("series_name"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
            col("value"),
          )
          .write.mode("overwrite").csv(s"$p/data")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$p/graft.json"),
          """{"source": {"events_csv": {
            |  "type": "csv", "path": "data",
            |  "tag_columns": ["series_name"],
            |  "data_datetime_format": "yyyy-MM-dd HH:mm:ss.SSSSSS"}}}""".stripMargin,
        )
      }
      ntz(Graft.fromConfig(s, s"$tmp/graft.json").readAll("events_csv"))
    },
    // A15d: external-command plugin source (kukur/source/plugin) —
    // per-series Arrow IPC responses decoded distributed; the demo
    // plugin serves staged per-series stream files and ignores the
    // request's date range (full-series responses, like the fixture)
    "ts_plugin_source" -> { (s, dir) =>
      val p = fixture(dir, "plugin") { path =>
        new java.io.File(path).mkdirs()
        for (sn <- Seq("click", "view"))
          graft.sources.ArrowIpcSource.write(
            Tables
              .canonicalEvents(s, dir)
              .where(col("series_name") === sn)
              .select(col("ts"), col("value"))
              .repartition(1),
            s"$path/data_$sn",
          )
        val script =
          s"""#!/bin/sh
             |action="$$1"
             |req=$$(cat)
             |case "$$action" in
             |  search) printf '%s' '{"series":[{"source":"plugin","tags":{"series name":"click"},"field":"value"},{"source":"plugin","tags":{"series name":"view"},"field":"value"}]}' ;;
             |  data)
             |    sn=$$(printf '%s' "$$req" | sed -n 's/.*"series name":"\\([^"]*\\)".*/\\1/p')
             |    cat "$path/data_$$sn"/*.arrows ;;
             |  *) echo "unknown action $$action" >&2; exit 2 ;;
             |esac
             |""".stripMargin
        java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$path/plugin.sh"), script)
        new java.io.File(s"$path/plugin.sh").setExecutable(true)
      }
      ntz(
        graft.sources
          .PluginSource(Seq(s"$p/plugin.sh"))
          .data(s, Seq("click", "view"), Start, End)
      )
    },
    // A15d (plot action): a plot-capable plugin (`features.plot` in its
    // config) answers the dedicated `plot` action with pre-reduced
    // buckets — here the staged per-series min/max/first/last frames a
    // plot server would compute — so the result hash-matches the
    // ts_plot_data oracle restricted to these series. Exercises the
    // plot/fallback selector end-to-end, not just in specs.
    "ts_plugin_plot" -> { (s, dir) =>
      val p = fixture(dir, "pluginplot") { path =>
        new java.io.File(path).mkdirs()
        for (sn <- Seq("click", "view"))
          graft.sources.ArrowIpcSource.write(
            TimeSeriesOps
              .plotData(
                evRange(s, dir, MonthStart, MonthEnd).where(col("series_name") === sn),
                Seq("series_name"),
                MonthStart,
                MonthEnd,
                PlotBuckets,
              )
              .select(col("bucket"), col("role"), col("ts"), col("value"))
              .repartition(1),
            s"$path/plot_$sn",
          )
        val script =
          s"""#!/bin/sh
             |action="$$1"
             |req=$$(cat)
             |case "$$action" in
             |  search) printf '%s' '{"series":[{"source":"plugin","tags":{"series name":"click"},"field":"value"},{"source":"plugin","tags":{"series name":"view"},"field":"value"}]}' ;;
             |  plot)
             |    sn=$$(printf '%s' "$$req" | sed -n 's/.*"series name":"\\([^"]*\\)".*/\\1/p')
             |    cat "$path/plot_$$sn"/*.arrows ;;
             |  *) echo "unknown action $$action" >&2; exit 2 ;;
             |esac
             |""".stripMargin
        java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$path/plugin.sh"), script)
        new java.io.File(s"$path/plugin.sh").setExecutable(true)
      }
      ntz(
        graft.sources
          .PluginSource(Seq(s"$p/plugin.sh"), configJson = """{"features":{"plot":true}}""")
          .plotData(
            s,
            Seq(graft.sources.SeriesKey("click"), graft.sources.SeriesKey("view")),
            MonthStart,
            MonthEnd,
            PlotBuckets,
          )
      )
    },
    // A16: dir-layout source — series key in the path, partition pruning
    "ts_dir_source" -> { (s, dir) =>
      val tmp = fixture(dir, "dirsrc") { p =>
        Tables
          .canonicalEvents(s, dir)
          .select(col("series_name"), col("ts"), col("value"))
          .write.mode("overwrite").partitionBy("series_name").parquet(p)
      }
      val src = new ConfiguredSource(SourceConfig(path = tmp, dataFormat = "dir", tagColumns = Seq("series_name")))
      ntz(
        TimeSeriesOps.filterRange(src.read(s).where(col("series_name") === "click"), Start, End)
      )
    },
    // A15c: JSON row-layout source (kukur/source/json)
    "ts_row_source_json" -> { (s, dir) =>
      val tmp = fixture(dir, "jsonrow") { p =>
        Tables
          .canonicalEvents(s, dir)
          .where(col("series_name") === "purchase")
          .select(col("series_name"), col("user_id"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"), col("value"))
          .write.mode("overwrite").json(p)
      }
      val src = new ConfiguredSource(
        SourceConfig(
          path = tmp,
          fileFormat = "json",
          dataFormat = "row",
          tagColumns = Seq("series_name", "user_id"),
          datetimeFormat = Some("yyyy-MM-dd HH:mm:ss.SSSSSS"),
        )
      )
      ntz(src.read(s).withColumn("user_id", col("user_id").cast("long")))
    },
    // A15f: ORC row-format source — the third columnar container the
    // open fileFormat string reaches (after parquet and Arrow IPC);
    // native timestamp round trip, no datetimeFormat parse needed
    "ts_row_source_orc" -> { (s, dir) =>
      val tmp = fixture(dir, "orcrow") { p =>
        Tables
          .canonicalEvents(s, dir)
          .where(col("series_name").isin("view", "error"))
          .select(col("series_name"), col("user_id"), col("ts"), col("value"))
          .write.mode("overwrite").orc(p)
      }
      val src = new ConfiguredSource(
        SourceConfig(
          path = tmp,
          fileFormat = "orc",
          dataFormat = "row",
          tagColumns = Seq("series_name", "user_id"),
        )
      )
      ntz(src.read(s))
    },
    // A15g: Excel worksheet source (kukur/source/excel, inspect
    // arrow.py:133 `path@sheet` refs) — a workbook staged by the pure
    // JDK OOXML writer, read back distributed through Inspect's
    // worksheet resolution; string timestamps re-parse, longs stay
    // long, doubles round-trip exactly via their XML tokens
    "ts_excel_source" -> { (s, dir) =>
      val tmp = fixture(dir, "xlsx") { p =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
        val staged = Tables
          .canonicalEvents(s, dir)
          .where(col("series_name") === "error" && col("user_id") % 7 === 0)
          .select(
            col("series_name"),
            col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
            col("value"),
          )
          .collect() // fixture staging only: one workbook is one file (~3k rows)
        val bytes = graft.sources.XlsxLite.write(
          Seq("series_name", "user_id", "ts", "value"),
          staged.iterator.map(r => Seq(r.get(0), r.get(1), r.get(2), r.get(3))),
        )
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$p/data.xlsx"), bytes)
      }
      Inspect
        .readDataset(s, s"$tmp/data.xlsx@data")
        .withColumn("ts", to_timestamp(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").cast("timestamp_ntz"))
    },
    // A15h: Delta Lake source (kukur/source/delta) WITHOUT delta-spark:
    // graft resolves the _delta_log itself and reads the active files
    // through the native parquet scan — staged here by graft's own
    // single-commit delta writer, partitioned by series so the tag
    // filter prunes hive dirs
    "ts_delta_source" -> { (s, dir) =>
      val tmp = fixture(dir, "delta") { p =>
        graft.sources.DeltaSource.write(
          Tables
            .canonicalEvents(s, dir)
            .where(col("user_id") % 5 === 1)
            .select(col("series_name"), col("ts"), col("value")),
          p,
          partitionBy = Seq("series_name"),
        )
      }
      val src = new ConfiguredSource(
        SourceConfig(path = tmp, fileFormat = "delta", dataFormat = "row", tagColumns = Seq("series_name"))
      )
      ntz(src.read(s))
    },
    // A15i: SQL-over-files source (kukur/source/datafusion) — the
    // reference's embedded DataFusion engine re-expressed as Spark SQL
    // over registered temp views: $-parameter data query with ANSI
    // double-quoted identifiers, bound from the selector's tags
    "ts_datafusion_source" -> { (s, dir) =>
      val src = new graft.sources.DataFusionSource(
        graft.sources.DataFusionConfig(
          tables = Seq(graft.sources.DataFusionTable("parquet", "events_tbl", s"$dir/events.parquet")),
          dataQuery = Some(
            """select event_type as "series_name", ts, value from events_tbl
               where event_type = $name and ts >= $startDate and ts < $endDate"""
          ),
          dataQueryNamedParameters = Map("name" -> "series name"),
        )
      )
      ntz(
        src.getData(
          s,
          graft.model.SeriesSelector("", Map(graft.model.SeriesSelector.SeriesNameTag -> "view")),
          ts("2024-01-05T00:00:00Z"),
          ts("2024-01-20T00:00:00Z"),
        )
      )
    },
    // A16b: the reference's DEFAULT dir layout — one flat headerless
    // CSV per series, filename = series key (csv.py:393), declared in
    // native TOML and read through Graft.fromConfig. Puts the
    // name-keyed dir path (positional columns + filename decode +
    // strftime-format timestamps) on the oracle surface beside A16's
    // Hive-layout scale variant
    "ts_dir_source_named" -> { (s, dir) =>
      val tmp = fixture(dir, "dirnamed") { p =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$p/data"))
        // fixture staging: one file PER SERIES named <series>.csv — a
        // driver-side bounded write (5 series), the layout Spark's own
        // dir-per-partition sink cannot produce
        val rows = Tables
          .canonicalEvents(s, dir)
          .select(
            col("series_name"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
            col("value").cast("string"),
          )
          .collect()
        rows.groupBy(_.getString(0)).foreach { case (series, rs) =>
          val lines = rs.map(r => s"${r.getString(1)},${r.getString(2)}").mkString("", "\n", "\n")
          java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$p/data/$series.csv"), lines)
        }
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$p/graft.toml"),
          """[source.events_dir]
            |type = "csv"
            |format = "dir"
            |path = "data"
            |tag_columns = ["series_name"]
            |data_datetime_format = "yyyy-MM-dd HH:mm:ss.SSSSSS"
            |""".stripMargin,
        )
      }
      ntz(Graft.fromConfig(s, s"$tmp/graft.toml").readAll("events_dir"))
    },
    // A15g: Arrow IPC STREAMING source (kukur/source/arrows) declared
    // in the reference's native TOML and read through Graft.fromConfig
    // — the ArrowIpcSource-as-ConfiguredSource path on the oracle
    // surface, not just in fixture specs
    "ts_row_source_arrows" -> { (s, dir) =>
      val tmp = fixture(dir, "arrowsrow") { p =>
        new java.io.File(p).mkdirs()
        graft.sources.ArrowIpcSource.write(
          Tables
            .canonicalEvents(s, dir)
            .where(col("series_name").isin("purchase", "click"))
            .select(col("series_name"), col("user_id"), col("ts"), col("value"))
            .repartition(4),
          s"$p/data",
        )
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$p/graft.toml"),
          """[source.events_arrows]
            |type = "arrows"
            |path = "data"
            |tag_columns = ["series_name", "user_id"]
            |""".stripMargin,
        )
      }
      ntz(Graft.fromConfig(s, s"$tmp/graft.toml").readAll("events_arrows"))
    },
    // A15d: string-valued series end-to-end (kukur DataType.STRING,
    // kukur/base.py:152) — state labels stay text through the source
    "ts_string_series" -> { (s, dir) =>
      val tmp = fixture(dir, "strsrc") { p =>
        Tables
          .canonicalEvents(s, dir)
          .select(
            lit("machine_state").as("series_name"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
            upper(col("series_name")).as("value"),
          )
          .write.mode("overwrite").option("header", "true").csv(p)
      }
      val src = new ConfiguredSource(
        SourceConfig(
          path = tmp,
          fileFormat = "csv",
          dataFormat = "row",
          tagColumns = Seq("series_name"),
          datetimeFormat = Some("yyyy-MM-dd HH:mm:ss.SSSSSS"),
          valueType = "string",
        )
      )
      ntz(src.read(s))
    },
    // A15e: mixed-type promotion across sources (kukur concat_tables,
    // kukur/source/__init__.py:462): int + string frames ⇒ string values
    "ts_mixed_promotion" -> { (s, dir) =>
      val ev0 = Tables.canonicalEvents(s, dir)
      val intFrame = ev0
        .where(col("series_name") === "click")
        .select(col("series_name"), col("ts"), col("user_id").cast("long").as("value"))
      val strFrame = ev0
        .where(col("series_name") === "error")
        .select(col("series_name"), col("ts"), upper(col("series_name")).as("value"))
      ntz(ConfiguredSource.promoteUnion(Seq(intFrame, strFrame)))
    },
    // A6b: quality mapping over string codes (kukur quality good-list is
    // list[str | int], kukur/source/quality.py:26)
    "ts_quality_map_str" -> { (s, dir) =>
      ev(s, dir)
        .withColumn("quality", TimeSeriesOps.qualityMapValues(col("series_name"), Seq("click", "purchase")))
        .select(col("event_id"), col("series_name"), col("quality"))
    },
    // A15b: metadata sidecar source — mapping, value mapping, coercion
    "ts_metadata_source" -> { (s, dir) =>
      import s.implicits._
      val tmp = fixture(dir, "metacsv") { p =>
        Seq(
          ("temp", "Temperature", "degC", "0", "100", "lin", "float64"),
          ("pressure", "Pressure", "bar", "0.5", "9", "step", "float32"),
          ("state", "Machine state", "", "", "", "step", "dict"),
          ("flow", "Flow rate", "m3/h", "oops", "50", "lin", "float64"),
        ).toDF("name", "descr", "eng_unit", "low", "high", "interp", "dtype")
          .coalesce(1).write.mode("overwrite").option("header", "true").csv(p)
      }
      new MetadataSource(
        MetadataConfig(
          path = tmp,
          fieldMapping = Map(
            "series_name" -> "name", "description" -> "descr", "unit" -> "eng_unit",
            "limit_low_physical" -> "low", "limit_high_physical" -> "high",
            "interpolation_type" -> "interp", "data_type" -> "dtype",
          ),
          valueMapping = Map(
            "interpolation_type" -> Map("lin" -> "LINEAR", "step" -> "STEPPED"),
            "data_type" -> Map("float64" -> "FLOAT64", "float32" -> "FLOAT32", "dict" -> "DICTIONARY"),
          ),
        )
      ).read(s).select(
        col("series_name"), col("description"), col("unit"),
        col("limit_low_physical"), col("limit_high_physical"),
        col("interpolation_type"), col("data_type"),
      )
    },
    // A15e: derived accuracy (fields.py _calculate_accuracy): explicit
    // wins; else (high−low)·pct/100, pct valid in [0,100], limits fall
    // back physical → functional
    "ts_metadata_accuracy" -> { (s, dir) =>
      import s.implicits._
      val tmp = fixture(dir, "metaacc") { p =>
        Seq(
          ("a", "0.5", "2.0", "0", "100", "", ""), // explicit accuracy wins
          ("b", "", "2.5", "0", "100", "", ""), // physical limits: 2.5
          ("c", "", "10", "", "120", "20", ""), // low falls back functional: 10.0
          ("d", "", "150", "0", "100", "", ""), // pct out of range -> null
          ("e", "", "5", "", "", "", ""), // no limits -> null
        ).toDF("name", "acc", "acc_pct", "lowp", "highp", "lowf", "highf")
          .coalesce(1).write.mode("overwrite").option("header", "true").csv(p)
      }
      val md = new MetadataSource(
        MetadataConfig(
          path = tmp,
          fieldMapping = Map(
            "series_name" -> "name", "accuracy" -> "acc", "accuracy_percentage" -> "acc_pct",
            "limit_low_physical" -> "lowp", "limit_high_physical" -> "highp",
            "limit_low_functional" -> "lowf", "limit_high_functional" -> "highf",
          ),
        )
      ).read(s)
      md.select(
        col("series_name"),
        col("accuracy"),
        col("accuracy_percentage"),
        MetadataSource
          .calculatedAccuracy(
            col("accuracy"),
            col("accuracy_percentage"),
            col("limit_low_physical"),
            col("limit_low_functional"),
            col("limit_high_physical"),
            col("limit_high_functional"),
          )
          .as("accuracy_calculated"),
      )
    },
    // A17: interval chunking (range-repartition; content unchanged)
    "ts_interval_chunks" -> { (s, dir) =>
      ntz(
        TimeSeriesOps
          .intervalChunks(
            TimeSeriesOps.filterRange(evRange(s, dir, Start, End).where(col("series_name").isin("click", "error")), Start, End),
            Seq("series_name"),
            chunkSeconds = 86400L,
          )
          .select(col("series_name"), col("user_id"), col("ts"), col("value"))
      )
    },
    // B9: cohort retention matrix — users bucketed by first-seen day,
    // counted per day offset they return on. Two hash aggregates and
    // one join on user_id; the matrix itself is tiny at any scale
    "q_events_retention" -> { (s, dir) =>
      val e = Tables.events(s, dir).select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      val cohorts = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      val activity = e.select(col("user_id"), col("day")).distinct()
      ntz(
        activity
          .join(cohorts, "user_id")
          .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
      )
    },
    // B1: pricing summary (decimal-exact aggregation)
    "q1_agg" -> { (s, dir) =>
      Tables
        .lineitem(s, dir)
        .where(col("l_shipdate") <= lit(ts("1998-09-02T00:00:00Z")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          exactSum(col("l_quantity")).as("sum_qty"),
          exactSum(col("l_extendedprice")).as("sum_base_price"),
          exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          (exactSum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"),
        )
    },
    // B2: shipping-priority join + top-k (TPC-H Q3 shape)
    "q3_join" -> { (s, dir) =>
      val cutoff = ts("1997-06-01T00:00:00Z")
      ntz(
        Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
          .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
          .where(col("o_orderdate") < lit(cutoff))
          .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
          .where(col("l_shipdate") > lit(cutoff))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
          .limit(10)
      )
    },
    // B3: local-supplier volume, 6-way join with broadcast dims (Q5 shape)
    "q5_multijoin" -> { (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)).where(col("r_name") === "ASIA"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    },
    // B7: returned-item revenue ranking (TPC-H Q10 shape)
    "q10_returns" -> { (s, dir) =>
      ntz(
        Tables.customer(s, dir)
          .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
          .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
          .where(col("l_returnflag") === "R")
          .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"), col("c_acctbal"))
          .agg(exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      )
    },
    // B4: top-3 orders per customer by price (window rank)
    "q_window" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk").cast("long").as("rk"))
    },
    // B5: sessionization (30 min inactivity) via lag + running sum
    "q_events_sessionize" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val runSum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ntz(
        Tables.events(s, dir)
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
          .withColumn(
            "new_s",
            when(col("prev_us").isNull || unix_micros(col("ts")) - col("prev_us") > lit(1800000000L), lit(1)).otherwise(lit(0)),
          )
          .withColumn("session_id", sum(col("new_s")).over(runSum))
          .groupBy(col("user_id"), col("session_id"))
          .agg(
            min(col("ts")).as("session_start"),
            max(col("ts")).as("session_end"),
            count(lit(1)).as("n_events"),
          )
      )
    },
    // B8: conversion funnel view → click → purchase per user: first
    // view, first click strictly after it, first purchase strictly
    // after that — three aggregate-then-join stages on user_id (no
    // window over raw events, no skew beyond the user key)
    "q_events_funnel" -> { (s, dir) =>
      val e = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
      val users = e.select(col("user_id")).distinct()
      val v = e.where(col("event_type") === "view").groupBy(col("user_id")).agg(min(col("ts")).as("view_ts"))
      val c = e
        .join(v, "user_id")
        .where(col("event_type") === "click" && col("ts") > col("view_ts"))
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("click_ts"))
      val p = e
        .join(c, "user_id")
        .where(col("event_type") === "purchase" && col("ts") > col("click_ts"))
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("purchase_ts"))
      ntz(
        users
          .join(v, Seq("user_id"), "left")
          .join(c, Seq("user_id"), "left")
          .join(p, Seq("user_id"), "left")
          .withColumn(
            "stage",
            when(col("purchase_ts").isNotNull, 3)
              .when(col("click_ts").isNotNull, 2)
              .when(col("view_ts").isNotNull, 1)
              .otherwise(0),
          )
      )
    },
    // B10: salted join on a deliberately skewed key — a quarter of all
    // events fold onto user 0, the hot key a plain shuffle join would
    // send to ONE reducer; SkewJoin.saltedJoin spreads it over 8 salt
    // slices (SkewJoinSpec asserts the salt in the executed plan and
    // the hot key's spread). Output is identical to the plain join, so
    // the oracle is the unsalted SQL.
    "q_events_skew_join" -> { (s, dir) =>
      val fact = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"))
        .withColumn("skew_uid", when(pmod(col("user_id"), lit(4)) === 0, lit(0L)).otherwise(col("user_id")))
      val dim = fact.select(col("skew_uid")).distinct().withColumn("tier", pmod(col("skew_uid"), lit(5L)).cast("long"))
      graft.operators.SkewJoin
        .saltedJoin(fact, dim, "skew_uid", col("event_id"), nSalts = 8)
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_events"), exactSum(col("value")).as("sum_value"))
    },
    // C1: exact dedup groups
    "dedup_exact" -> { (s, dir) =>
      DedupFunctions.exactGroups(Tables.documents(s, dir), "doc_id", "text")
    },
    // C1b: dup-cluster size distribution (the Lee et al. 2022 Fig. 1
    // analysis): how many groups exist at each copy count — two tiny
    // hash aggregates after the fingerprint groupBy
    "dedup_group_size_hist" -> { (s, dir) =>
      DedupFunctions
        .exactGroups(Tables.documents(s, dir), "doc_id", "text")
        .groupBy(col("n_copies"))
        .agg(count(lit(1)).as("n_groups"), sum(col("n_copies")).as("n_docs"))
    },
    // C1b: priority-aware cross-source exact dedup — keep the copy
    // from the most-preferred source ("curated beats crawl")
    "dedup_priority" -> { (s, dir) =>
      DedupFunctions.priorityDedup(
        Tables.documents(s, dir),
        "doc_id",
        "text",
        "source",
        Map("src1" -> 0, "src2" -> 1),
      )
    },
    // C2: MinHash+LSH candidate pairs (hash-dependent → rows-only check)
    "dedup_minhash" -> { (s, dir) =>
      DedupFunctions.minhashCandidates(Tables.documents(s, dir), "doc_id", "text")
    },
    // C3: LSH candidates verified by exact shingle Jaccard
    "dedup_minhash_verified" -> { (s, dir) =>
      DedupFunctions
        .minhashVerified(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_a"), col("doc_b"), col("intersection"), col("union_size"))
    },
    // C2b: LSH band-plan table — the (bands, rows) S-curve design
    // query (threshold fit + catch probabilities, divisors of 128)
    "dedup_minhash_bandplan" -> { (s, _) =>
      DedupFunctions.minhashBandPlan(s)
    },
    // C4: SimHash near-dup pairs (hash-dependent → rows-only check)
    "dedup_simhash" -> { (s, dir) =>
      DedupFunctions.simhashPairs(Tables.documents(s, dir), "doc_id", "text")
    },
    // C5: exact n-gram Jaccard pairs (inverted index, τ = 0.8)
    "dedup_ngram_jaccard" -> { (s, dir) =>
      DedupFunctions
        .jaccardPairs(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_a"), col("doc_b"), col("intersection"), col("union_size"))
    },
    // C5d: prefix-filtered exact Jaccard — identical output to
    // dedup_ngram_jaccard (same oracle), skew-resistant candidate
    // generation for corpus scale (AllPairs/PPJoin prefix scheme)
    "dedup_jaccard_prefix" -> { (s, dir) =>
      DedupFunctions
        .jaccardPairsPrefix(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_a"), col("doc_b"), col("intersection"), col("union_size"))
    },
    // C5b: embedding-cosine near-dup pairs (exact baseline, τ = 0.35)
    "dedup_embedding" -> { (s, dir) =>
      VectorFunctions.cosineDedupPairs(Tables.embeddings(s, dir), threshold = 0.35)
    },
    // C5c: embedding near-dup at scale — banded hyperplane-LSH
    // candidates + exact cosine verify (hash-dependent → rows-only;
    // VectorDedupSpec measures recall ≥ 0.9 vs the exact baseline)
    "dedup_embedding_lsh" -> { (s, dir) =>
      VectorFunctions.cosineDedupPairsLsh(Tables.embeddings(s, dir), threshold = 0.35)
    },
    // C14: dedup groups — connected components over exact-Jaccard pairs
    "dedup_groups" -> { (s, dir) =>
      DedupFunctions.dedupGroups(
        DedupFunctions.jaccardPairsPrefix(Tables.documents(s, dir), "doc_id", "text")
      )
    },
    // C14b: same components via alternating large/small-star contraction
    // — the long-diameter scale path; same recursive-CTE oracle as C14
    "dedup_groups_star" -> { (s, dir) =>
      DedupFunctions.dedupGroupsStar(
        DedupFunctions.jaccardPairsPrefix(Tables.documents(s, dir), "doc_id", "text")
      )
    },
    // C26: incremental exact dedup — the daily-delta shape: batch =
    // doc_id ≡ 0 (mod 10) deduped against the rest as corpus
    "dedup_incremental" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      DedupFunctions.incrementalDedup(
        docs.where(pmod(col("doc_id"), lit(10)) === 0),
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id",
        "text",
      )
    },
    // C26b: same semantics through the Bloom-prefiltered plan — the
    // corpus folds into one sketch row, definite-new batch docs skip
    // the anti-join; output bit-identical (same oracle as C26)
    "dedup_incremental_bloom" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      DedupFunctions.incrementalDedupBloom(
        docs.where(pmod(col("doc_id"), lit(10)) === 0),
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id",
        "text",
      )
    },
    // C27: SemDeDup semantic dedup — k-means cells + within-cell cosine
    // τ = 0.35, keep lowest id (learned cells → rows-only; VectorDedupSpec
    // checks planted near-dup removal and survivor count)
    "dedup_semantic" -> { (s, dir) =>
      VectorFunctions.semanticDedup(Tables.embeddings(s, dir), threshold = 0.35)
    },
    // C6: brute-force cosine top-10 for 5 query vectors
    "sim_cosine_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      VectorFunctions
        .cosineTopK(emb.where(col("vec_id") < 5), emb, k = 10)
        .withColumn("rk", col("rank").cast("long")).drop("rank")
    },
    // C46: hard-negative mining (DPR/ANCE) — top-k nearest
    // different-label candidates per query vector
    "emb_hard_negatives" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      VectorFunctions
        .hardNegatives(emb.where(col("vec_id") < 5), emb, k = 10)
        .withColumn("rk", col("rk").cast("long"))
    },
    // C47: kNN label-agreement noise detection — embedding-space
    // label-error audit (suspect = neighborhood votes against label)
    "emb_knn_label_noise" -> { (s, dir) =>
      VectorFunctions.knnLabelNoise(Tables.embeddings(s, dir), k = 10)
    },
    // C47b: cell-scoped scale dual of the label audit — neighborhoods
    // scanned over nProbe nearest k-means cells instead of all pairs
    // (rows-only: learned cells; spec pins nProbe=nCells equality with
    // the exact form and a planted-noise catch)
    "emb_knn_label_noise_cells" -> { (s, dir) =>
      VectorFunctions.knnLabelNoiseCells(Tables.embeddings(s, dir), k = 10)
    },
    // C46b: IVF swap for hard-negative mining — candidates cell-indexed,
    // each query mines from its nProbe nearest cells; no broadcast on
    // either side (rows-only: learned cells; recall-spec'd vs exhaustive)
    "emb_hard_negatives_ivf" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      VectorFunctions
        .hardNegativesIvf(emb.where(col("vec_id") < 5), emb, k = 10)
        .withColumn("rk", col("rk").cast("long"))
    },
    // C7: hyperplane-LSH bucketed ANN (hash-dependent → rows-only check)
    "sim_lsh_ann" -> { (s, dir) =>
      VectorFunctions.lshAnn(Tables.embeddings(s, dir), k = 5)
    },
    // C7b: IVF coarse-quantizer ANN — deterministic Lloyd cells,
    // nProbe nearest cells per query (model-dependent → rows-only;
    // VectorDedup spec measures recall vs brute force)
    "sim_ivf_ann" -> { (s, dir) =>
      VectorFunctions.ivfAnn(Tables.embeddings(s, dir), k = 5)
    },
    // C7c: product-quantization ANN — corpus compressed to m byte codes
    // per vector, queries rank by ADC lookup-table scan (rows-only:
    // learned codebooks; recall-spec'd vs the exact L2 baseline)
    "sim_pq_ann" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      VectorFunctions.pqAnn(emb, emb.orderBy("vec_id").limit(20), k = 5)
    },
    // C7e: PQ with the OPQ-lite balanced-variance permutation — the
    // orthogonal pre-rotation (restricted to a permutation) that
    // rebalances subspace signal before codebook training
    "sim_pq_opq_ann" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      VectorFunctions.pqAnn(emb, emb.orderBy("vec_id").limit(20), k = 5, opq = true)
    },
    // C7f: PQ under the full Ge et al. OPQ rotation (alternating
    // Procrustes/Lloyd, seeded from the balanced-variance permutation).
    // One alternation and a bounded train sample: each extra iteration
    // costs a full codebook training, and the first one captures most
    // of the distortion drop (OpqRotationSpec records the curve)
    "sim_pq_opqr_ann" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      VectorFunctions.pqAnn(emb, emb.orderBy("vec_id").limit(20), k = 5, trainLimit = 1000, opqRotate = 1)
    },
    // C6b: per-label embedding centroids — cluster-space profiling on
    // the labeled embeddings (scaled-integer means, order-exact)
    "emb_label_centroids" -> { (s, dir) =>
      // spread: the parquet arrives in a handful of partitions and the
      // explode×dim fan-out is compute-heavy — same rationale as
      // DedupFunctions.spread; explode the raw floats (no per-row
      // intermediate double array), cast per element after
      graft.functions.DedupFunctions
        .spread(Tables.embeddings(s, dir))
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "xf")))
        .groupBy(col("label"), (col("pos") + 1).cast("long").as("pos"))
        .agg(
          count(lit(1)).as("n"),
          (sum(floor(col("xf").cast("double") * lit(1000000000.0)).cast("decimal(38,0)")).cast("double") / lit(1000000000.0) /
            count(lit(1)).cast("double")).as("centroid"),
        )
    },
    // C7d: IVF-PQ — coarse cells prune the scan, ADC ranks within
    // probed cells, exact rerank of the shortlist (rows-only: learned
    // quantizers; recall-spec'd vs exact L2)
    "sim_ivfpq_ann" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      VectorFunctions.ivfPqAnn(emb, emb.orderBy("vec_id").limit(20), k = 5)
    },
    // C8: heuristic language ID
    "text_langid" -> { (s, dir) =>
      TextFunctions
        .langId(Tables.documents(s, dir), col("text"))
        .select(col("doc_id"), col("pred_lang"), col("confidence"))
    },
    // C9: text quality scoring
    "text_quality" -> { (s, dir) =>
      TextFunctions
        .qualityScore(Tables.documents(s, dir), col("text"))
        .select(
          col("doc_id"), col("n_chars").cast("long").as("n_chars"), col("n_words").cast("long").as("n_words"), col("avg_word_len"),
          col("digit_ratio"), col("punct_ratio"), col("stopword_ratio"), col("quality_score"),
        )
    },
    // C9b: Gopher quality rules (Rae et al. 2021 Appendix A) — the
    // canonical rule-based gate; minWords lowered to 20 so the rule
    // actually splits this corpus (docs run 20-60 words)
    "text_gopher" -> { (s, dir) =>
      TextFunctions
        .gopherRules(Tables.documents(s, dir), col("doc_id"), col("text"), minWords = 20)
        .select(
          col("doc_id"), col("n_words").cast("long").as("n_words"), col("mean_word_len"),
          col("symbol_ratio"), col("bullet_line_ratio"), col("ellipsis_line_ratio"),
          col("alpha_word_ratio"), col("n_indicator_stops").cast("long").as("n_indicator_stops"),
          col("rule_word_count"), col("rule_word_len"), col("rule_alpha"), col("rule_stops"),
          col("gopher_pass"),
        )
    },
    // C9f: blocklist gate — wordlist screen (distinct + total hits,
    // blocked at >= 3 hits); list rides the plan as an array literal
    "text_blocklist" -> { (s, dir) =>
      TextFunctions.blocklistGate(
        Tables.documents(s, dir),
        col("doc_id"),
        col("text"),
        blocklist = Seq("slow", "broken", "spill"),
        maxHits = 3L,
      )
    },
    // C9e: encoding-quality signal — U+FFFD replacement chars +
    // control chars (mojibake / binary-garbage screen)
    "text_encoding_quality" -> { (s, dir) =>
      TextFunctions.encodingQuality(Tables.documents(s, dir), col("doc_id"), col("text"))
    },
    // C9g: Unicode canonicalization (NFC + accent folding) — native
    // codegen'd UAX #15 expressions, hash-verified vs DuckDB utf8proc
    "text_unicode_norm" -> { (s, dir) =>
      TextFunctions.normalizeUnicode(Tables.documents(s, dir), col("doc_id"), col("text"))
    },
    // C49: per-doc n-gram novelty — share of a doc's distinct
    // trigrams appearing in no other doc (boilerplate/originality
    // signal; Zipf-split join back, integer-exact ppm)
    "text_ngram_novelty" -> { (s, dir) =>
      CorpusFunctions.ngramNovelty(Tables.documents(s, dir), col("doc_id"), col("text"))
    },
    // C9d: zlib compressibility signal (MassiveText/Gopher;
    // RedPajama-V2/Dolma signal sets) — native deflate expression,
    // rows-only (DuckDB has no deflate; ZlibSignalSpec verifies)
    "text_zlib_ratio" -> { (s, dir) =>
      TextFunctions.zlibSignal(Tables.documents(s, dir), col("doc_id"), col("text"))
    },
    // C10: token counting (whitespace + BPE-ish regex)
    "text_tokens" -> { (s, dir) =>
      TextFunctions
        .tokenCounts(Tables.documents(s, dir), col("text"))
        .select(col("doc_id"), col("ws_tokens").cast("long").as("ws_tokens"), col("regex_tokens").cast("long").as("regex_tokens"))
    },
    // C10c: REAL BPE tokenization — merges trained at the driver from
    // the bounded word-frequency dictionary (Sennrich et al. 2016),
    // applied distributed via the native graft_bpe expression (merge
    // table rides the plan; iterative per-word merging has no SQL
    // form → rows-only, spec-verified against hand-computed merges)
    "text_bpe" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val merges = BpeFunctions.trainMerges(docs, col("text"), numMerges = 100, vocabCap = 2000)
      BpeFunctions
        .encode(docs, col("text"), merges)
        .withColumn("n_words", size(TextFunctions.words(col("text"))))
        .select(
          col("doc_id"), col("n_words").cast("long").as("n_words"),
          col("n_bpe_tokens").cast("long").as("n_bpe_tokens"),
          floor(col("n_bpe_tokens").cast("double") * lit(1000000.0) / greatest(col("n_words"), lit(1))).cast("long").as("tokens_per_word_ppm"),
        )
    },
    // C10e: the learned BPE merge SEQUENCE itself — hash-oracled by
    // replaying the greedy trainer in SQL (BpeOracleSql); the order-
    // discriminating dual of text_bpe's per-doc counts
    "text_bpe_merges" -> { (s, dir) =>
      val merges = BpeFunctions.trainMerges(Tables.documents(s, dir), col("text"), numMerges = 100, vocabCap = 2000)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("merge_idx", "left_sym", "right_sym")
    },
    // C10d: unigram-LM tokenization (Kudo 2018 / SentencePiece) — the
    // OTHER tokenizer family: EM-trained where the data lives (the
    // distinct-word table never leaves the executors; only
    // vocab-sized expected-count summaries collect), Viterbi-applied
    // via the native graft_unigram_tokenize expression. EM training
    // has no SQL form → rows-only, spec-verified (round-trip,
    // monotone likelihood, partitioning-determinism, OOV fallback)
    "text_unigram" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // the synthetic corpus has ~31 distinct words — a tight vocab +
      // short max piece force genuine subword segmentation (a web-scale
      // corpus would use vocabSize ~32000, maxPieceLen 16)
      val model = UnigramLm.train(docs, col("text"), vocabSize = 64, seedSize = 256, maxPieceLen = 4, emIters = 2)
      UnigramLm
        .tokenizeSampled(
          UnigramLm.tokenize(docs, col("text"), model),
          col("text"),
          model,
          xxhash64(col("doc_id"), lit(1)), // epoch-1 subword-regularization draw
        )
        .withColumn("n_words", size(TextFunctions.words(col("text"))))
        .select(
          col("doc_id"), col("n_words").cast("long").as("n_words"),
          col("n_unigram_tokens").cast("long").as("n_unigram_tokens"),
          col("n_unigram_sampled_tokens").cast("long").as("n_unigram_sampled_tokens"),
          floor(col("n_unigram_tokens").cast("double") * lit(1000000.0) / greatest(col("n_words"), lit(1))).cast("long").as("tokens_per_word_ppm"),
        )
    },
    // C10b: overlapping word-window chunking (64-word chunks, 16 overlap)
    "text_chunk" -> { (s, dir) =>
      TextFunctions.chunk(Tables.documents(s, dir), col("doc_id"), col("text"))
        .withColumn("chunk_id", col("chunk_id").cast("long"))
    },
    // C17: repetition quality signals (Gopher-style: duplicated
    // trigram fraction + top-bigram share)
    "text_repetition" -> { (s, dir) =>
      TextFunctions.repetitionScores(Tables.documents(s, dir), col("doc_id"), col("text"))
    },
    // C16: sequence packing — chunks → fixed-capacity training
    // sequences, per-doc (no contamination across documents)
    "text_pack" -> { (s, dir) =>
      TextFunctions.packChunks(
        TextFunctions.chunk(Tables.documents(s, dir), col("doc_id"), col("text"))
          .withColumn("chunk_id", col("chunk_id").cast("long")),
        capacity = 256,
      )
    },
    // C17: benchmark decontamination — docs sharing any word 5-gram
    // with the eval holdout (doc_id % 20 == 0) are flagged
    "text_decontaminate" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      TextFunctions.decontaminate(
        docs.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0),
        col("doc_id"),
        col("text"),
      )
    },
    // C18: PII redaction — URL/email/IP/phone placeholders + counts
    "text_scrub" -> { (s, dir) =>
      TextFunctions.piiScrub(Tables.documents(s, dir), col("doc_id"), col("text"))
    },
    // C19: corpus-level top-k trigram frequencies
    "text_topk_ngrams" -> { (s, dir) =>
      TextFunctions.topkNgrams(Tables.documents(s, dir), col("text"))
    },
    // C19b: heavy-hitter n-grams through the count-min-sketch
    // pre-filter — output identical to the exact threshold query (CMS
    // never underestimates), sketch bounds the shuffle at 100 TB
    "text_heavy_ngrams" -> { (s, dir) =>
      TextFunctions.heavyNgrams(Tables.documents(s, dir), col("text"))
    },
    // C20: deterministic hash-based train/val/test split
    "text_hash_split" -> { (s, dir) =>
      TextFunctions
        .hashSplit(Tables.documents(s, dir), col("doc_id"))
        .select(col("doc_id"), col("split"))
    },
    // C22: per-language corpus composition (docs, token/char volume,
    // exact length quantiles — the pre-mixing inspection step)
    "corpus_stats" -> { (s, dir) =>
      CorpusFunctions.corpusStats(Tables.documents(s, dir), col("lang"), col("text"))
    },
    // C28: per-document word rarity — integer-exact unigram-LM quality
    // signal (avg corpus word frequency + rare-word ratio)
    "text_word_rarity" -> { (s, dir) =>
      CorpusFunctions.wordRarity(Tables.documents(s, dir), col("doc_id"), col("text"))
    },
    // C31: bigram-LM predictability score — the CCNet perplexity-filter
    // analog, self-trained Laplace-smoothed conditionals in exact
    // integer/IEEE-division arithmetic (no cross-engine float log)
    "text_bigram_lm" -> { (s, dir) =>
      CorpusFunctions.bigramLm(Tables.documents(s, dir), col("doc_id"), col("text"))
    },
    // C31b: bucket-granular perplexity gate (the CCNet filtering step
    // composed on C31): drop the lowest-scoring 20% of the scored
    // corpus at whole-bucket granularity — threshold from a BOUNDED
    // score-bucket histogram, never a corpus-wide sort
    "text_lm_gate" -> { (s, dir) =>
      CorpusFunctions.lmGate(Tables.documents(s, dir), col("doc_id"), col("text"), dropFrac = 0.2)
    },
    // C31c: cross-corpus LM scoring (the true CCNet shape — train the
    // LM on a clean reference, score everything): English docs are the
    // reference, unseen bigrams ride the Laplace floor (0+1)/(0+V)
    "text_lm_score_ref" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val ref = CorpusFunctions.bigramLmRef(docs.where(col("lang") === "en"), col("text"))
      val out = CorpusFunctions.bigramLmScoreAgainst(docs, col("doc_id"), col("text"), ref)
      ref.unpersist() // out is materialized (localCheckpoint) before release
      out
    },
    // C31e: the C31b bucket gate over Kneser–Ney scores — same bounded
    // histogram + whole-bucket drop, scorer swapped for C31d (and
    // pruned with the same θ=2 knob, so the gate rides the exact model
    // the bench certifies)
    "text_lm_gate_kn" -> { (s, dir) =>
      CorpusFunctions.lmGateKn(Tables.documents(s, dir), col("doc_id"), col("text"), dropFrac = 0.2, pruneMin = 2L)
    },
    // C31d: interpolated Kneser–Ney bigram score — the smoothing family
    // KenLM (CCNet's real filter model) uses: absolute discount 0.75,
    // stolen mass backed off to the continuation unigram; exact counts
    // + fixed-order IEEE steps keep it hash-verifiable. pruneMin = 2 is
    // KenLM's singleton-pruning knob: the model joins carry only types
    // with count ≥ 2 (singletons score pure backoff), which pins the
    // type tables to sub-Heaps growth — the x100 probe's one riser
    "text_lm_kn" -> { (s, dir) =>
      CorpusFunctions.bigramLmKn(Tables.documents(s, dir), col("doc_id"), col("text"), pruneMin = 2L)
    },
    // C56: deterministic shuffle-shard export plan — seeded md5
    // permutation, shard = key mod N, per-shard positions from a
    // shard-partitioned window (never a global sort)
    "corpus_shuffle_shards" -> { (s, dir) =>
      CorpusFunctions.shuffleShards(Tables.documents(s, dir), col("doc_id"), nShards = 8)
    },
    // C56b: MATERIALIZED shard export — writes one pos-ordered parquet
    // file per shard (repartition on shard + sortWithinPartitions +
    // partitionBy), re-reads the files, and manifests them; the oracle
    // recomputes the manifest from first principles, so a hash match
    // proves the write→read round trip preserved the permutation
    "corpus_shard_export" -> { (s, dir) =>
      // fresh per-call directory (concurrent Verify/Bench on one host
      // must not race an overwrite against a re-read), manifest
      // checkpointed so the files can be removed before returning
      val tmp = java.nio.file.Files.createTempDirectory("graft_shard_export_q").toFile
      val manifest = CorpusFunctions
        .shardManifest(
          CorpusFunctions.shuffleShardsExport(Tables.documents(s, dir), "doc_id", nShards = 8, tmp.getAbsolutePath + "/out")
        )
        .localCheckpoint()
      def rm(f: java.io.File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete() }
      rm(tmp)
      manifest
    },
    // C55: the canonical CCNet pipeline in the paper's own order —
    // exact dedup → langid filter → self-trained perplexity bucket
    // gate — composed end to end as one hash-verified plan
    "pipeline_ccnet" -> { (s, dir) =>
      CorpusFunctions.ccnetCurate(Tables.documents(s, dir), "doc_id", "text", keepLang = "en", dropFrac = 0.1)
    },
    // C32: BM25 lexical retrieval — every doc scored against a fixed
    // query; one scan + one broadcast stats row, zero shuffles
    "text_bm25" -> { (s, dir) =>
      CorpusFunctions.bm25Search(Tables.documents(s, dir), col("doc_id"), col("text"), "spark join scan")
    },
    // C33: mixture planning — per-language keep-rates that achieve a
    // target training mixture with maximum data; feeds C23's sampler
    "corpus_mixture_plan" -> { (s, dir) =>
      CorpusFunctions.mixturePlan(
        Tables.documents(s, dir),
        col("lang"),
        col("text"),
        Map("en" -> 0.5, "zh" -> 0.25, "de" -> 0.25),
      )
    },
    // C33c: temperature (α = 0.5) mixture planning — target shares
    // derived from the corpus as q_s ∝ √tok_s (Conneau & Lample 2019),
    // sqrt is IEEE-exact so the whole plan oracles
    "corpus_mixture_temperature" -> { (s, dir) =>
      CorpusFunctions.temperatureMixturePlan(Tables.documents(s, dir), col("lang"), col("text"))
    },
    // C9c: learned quality gate — logistic distillation of the
    // rule-based composite score (fastText-classifier shape of
    // CCNet/DCLM/FineWeb-Edu); full-batch scaled-int gradient passes,
    // weights bit-identical on any partitioning (rows-only: iterative
    // libm training has no SQL form; spec-verified)
    "text_quality_lr" -> { (s, dir) =>
      graft.functions.QualityModel.distillQualityGate(Tables.documents(s, dir), col("doc_id"), col("text"))
    },
    // C33b: the plan APPLIED — mixturePlan rates (bounded per-stratum
    // driver summary) feeding the deterministic md5-threshold sampler
    "corpus_mixture_apply" -> { (s, dir) =>
      CorpusFunctions
        .mixtureSample(
          Tables.documents(s, dir),
          col("doc_id"),
          col("lang"),
          col("text"),
          Map("en" -> 0.5, "zh" -> 0.25, "de" -> 0.25),
        )
        .select(col("doc_id"), col("lang"))
    },
    // C35: per-language lexical diversity — exact type/token stats
    // (vocab, hapax legomena, TTR), the corpus-quality screen
    "corpus_lexical_diversity" -> { (s, dir) =>
      CorpusFunctions.lexicalDiversity(Tables.documents(s, dir), col("lang"), col("text"))
    },
    // C40: per-language tokenizer fertility (tokens/word, chars/token
    // over the deterministic regex-token proxy) — where the sequence
    // budget goes, the companion table to mixture planning
    "corpus_token_fertility" -> { (s, dir) =>
      CorpusFunctions.tokenFertility(Tables.documents(s, dir), col("lang"), col("text"))
    },
    // C53: document Pareto frontier — skyline over (quality, length):
    // the docs no other doc beats on both criteria, i.e. every
    // weighted-score selection's optimum at once; two-phase
    // distributed skyline (local frontiers → global pass)
    "corpus_skyline" -> { (s, dir) =>
      val scored = TextFunctions
        .qualityScore(Tables.documents(s, dir), col("text"))
        .select(
          col("doc_id"),
          floor(col("quality_score") * lit(1000000.0)).cast("long").as("quality_ppm"),
          col("n_words").cast("long").as("n_words"),
        )
      graft.operators.Skyline.skyline(scored, maximize = Seq("quality_ppm", "n_words"))
    },
    // C52: dedup-saturation curve — per ingest batch, share of exact
    // fingerprints making their first corpus appearance ("is the next
    // crawl worth its cost")
    "corpus_novelty_curve" -> { (s, dir) =>
      CorpusFunctions.noveltyCurve(Tables.documents(s, dir), col("doc_id"), col("text"))
    },
    // C50: mixture-weighted curriculum interleave — deterministic
    // easy→hard training order with weighted-fair-queueing virtual
    // time; emits the sort key, rank via bounded histogram (no
    // per-stratum window)
    "corpus_curriculum" -> { (s, dir) =>
      CorpusFunctions.curriculumInterleave(
        Tables.documents(s, dir),
        col("doc_id"),
        col("lang"),
        col("text"),
        weightsPpm = Map("en" -> 500000L, "zh" -> 200000L, "es" -> 150000L),
        defaultPpm = 100000L,
      )
    },
    // C50b: epoch-seeded curriculum — same structure, per-epoch
    // deterministic reshuffle within equal-difficulty cells (md5 of
    // doc_id#seed as the tiebreak)
    "corpus_curriculum_epoch" -> { (s, dir) =>
      CorpusFunctions.curriculumInterleave(
        Tables.documents(s, dir),
        col("doc_id"),
        col("lang"),
        col("text"),
        weightsPpm = Map("en" -> 500000L, "zh" -> 200000L, "es" -> 150000L),
        defaultPpm = 100000L,
        epochSeed = Some(7L),
      )
    },
    // C30: language-ID confusion matrix — predicted vs labeled lang,
    // the quality audit of the C8 heuristic over the whole corpus.
    // langId preserves every input column (including `lang`), so the
    // matrix is one scan + one tiny aggregate — no doc_id join-back
    "corpus_lang_confusion" -> { (s, dir) =>
      TextFunctions
        .langId(Tables.documents(s, dir), col("text"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
    },
    // C29: per-source (domain) composition + exact-duplication rate
    "corpus_domain_stats" -> { (s, dir) =>
      CorpusFunctions.domainStats(Tables.documents(s, dir), col("source"), col("lang"), col("doc_id"), col("text"))
    },
    // C36: corpus datacard — per-source composition + token share +
    // dup rate + mean quality, the publishable curation report
    "corpus_datacard" -> { (s, dir) =>
      CorpusFunctions.datacard(Tables.documents(s, dir), col("source"), col("lang"), col("doc_id"), col("text"))
    },
    // C37: cross-source near-dup overlap matrix — prefix-Jaccard pairs
    // mapped to ordered source pairs, count + integer-micro mean J
    "corpus_source_overlap" -> { (s, dir) =>
      CorpusFunctions.sourceOverlap(Tables.documents(s, dir), "doc_id", "source", "text")
    },
    // C35b: per-doc unigram Shannon entropy — repetition/diversity
    // signal (low = boilerplate, high = diverse prose)
    "text_word_entropy" -> { (s, dir) =>
      CorpusFunctions.wordEntropy(Tables.documents(s, dir), col("doc_id"), col("text"))
    },
    // C37b: pairwise language-vocabulary overlap — exact intersection/
    // union/Jaccard per lang pair (the lexical relatedness screen)
    "corpus_vocab_overlap" -> { (s, dir) =>
      CorpusFunctions.vocabOverlap(Tables.documents(s, dir), col("lang"), col("text"))
    },
    // C43: DSIR importance resampling (Xie et al. 2023) — hashed-bucket
    // log-likelihood-ratio score of each non-target doc against the
    // `en` target distribution, kept by a deterministic Gumbel draw
    "corpus_dsir_select" -> { (s, dir) =>
      CorpusFunctions.dsirSelect(
        Tables.documents(s, dir),
        col("doc_id"),
        col("text"),
        col("lang") === "en",
        tauPpm = 1000000L,
      )
    },
    // C43b: per-source DSIR report — the decision-level view of C43:
    // which raw sources look most like the target distribution, and
    // what fraction each would contribute after resampling
    "corpus_dsir_by_source" -> { (s, dir) =>
      // `source` rides dsirSelect's passthrough — one scan of
      // documents, no corpus-wide doc_id join-back
      CorpusFunctions
        .dsirSelect(
          Tables.documents(s, dir),
          col("doc_id"),
          col("text"),
          col("lang") === "en",
          tauPpm = 1000000L,
          passthrough = Seq("source"),
        )
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("dsir_ppm")).as("sum_dsir_ppm"),
          sum(when(col("keep"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        )
        // floored exact-input IEEE division (sums go negative — integer
        // div/`//` disagree between engines on negative operands)
        .withColumn(
          "mean_dsir_ppm",
          floor(col("sum_dsir_ppm").cast("double") / col("n_docs").cast("double")).cast("long"),
        )
    },
    // C38: soft dedup — every copy kept at weight 1/n_copies ppm
    // (frequency down-weighting, the hard-dedup alternative)
    "dedup_soft_weights" -> { (s, dir) =>
      DedupFunctions.softDedupWeights(Tables.documents(s, dir), "doc_id", "text")
    },
    // C39: per-language doc-length histogram — the packing/mixture
    // planning input (50-word bins, open top bin)
    "corpus_length_histogram" -> { (s, dir) =>
      CorpusFunctions.lengthHistogram(Tables.documents(s, dir), col("lang"), col("text"))
    },
    // C23: deterministic stratified sampling — down-weight dominant
    // strata by content-stable hash (en keeps 1/4, zh 1/2, rest all)
    "corpus_sample_stratified" -> { (s, dir) =>
      CorpusFunctions
        .stratifiedSample(
          Tables.documents(s, dir),
          col("doc_id"),
          col("lang"),
          Map("en" -> 0.25, "zh" -> 0.5),
        )
        .select(col("doc_id"), col("lang"))
    },
    // C24: exact repeated-span detection (word-level substring dedup) —
    // merged per-doc intervals of corpus-repeated 10-word grams
    "dedup_substring" -> { (s, dir) =>
      DedupFunctions.repeatedSpans(Tables.documents(s, dir), "doc_id", "text", k = 10)
    },
    // C24f: repeated-span REMOVAL — the cleanup step C24 only locates:
    // every marked span is cut and the doc rebuilt from the survivors
    // (bounded span array per doc + per-row HOF filter, no range join)
    "dedup_substring_scrub" -> { (s, dir) =>
      DedupFunctions.scrubRepeatedSpans(Tables.documents(s, dir), "doc_id", "text", k = 10)
    },
    // C24c: winnowing-fingerprint near-dup pairs (MOSS scheme) — the
    // guaranteed-substring-match complement of shingle Jaccard, on the
    // winnowed (≈2/(w+1)-density) fingerprint index
    "dedup_winnow" -> { (s, dir) =>
      DedupFunctions.winnowPairs(Tables.documents(s, dir), "doc_id", "text")
    },
    // C24b: char-grain repeated spans — Lee et al.'s suffix-array
    // granularity via a k-char-gram inverted index; Zipf-split gram
    // join (hot boilerplate grams broadcast, tail shuffles bounded)
    "dedup_substring_char" -> { (s, dir) =>
      DedupFunctions.repeatedSpansChar(Tables.documents(s, dir), "doc_id", "text", k = 20)
    },
    // C24g: char-grain span REMOVAL — the C24f cut at Lee et al.'s own
    // granularity: substring surgery over the merged char intervals,
    // survivors reassembled from the gap segments per row
    "dedup_substring_char_scrub" -> { (s, dir) =>
      DedupFunctions.scrubRepeatedSpansChar(Tables.documents(s, dir), "doc_id", "text", k = 20)
    },
    // C24e: content-defined chunking dedup (LBFS/FastCDC family) —
    // insertion-robust chunk boundaries from local context hashes,
    // duplicated chunks found through the fingerprint count
    "dedup_cdc_chunks" -> { (s, dir) =>
      DedupFunctions.cdcChunks(Tables.documents(s, dir), "doc_id", "text")
    },
    // C24d: CCNet paragraph-grain dedup (Wenzek et al. 2020) on
    // 10-word blocks — first corpus-wide occurrence survives,
    // documents re-assembled from surviving blocks
    "dedup_paragraph" -> { (s, dir) =>
      DedupFunctions.paragraphDedup(Tables.documents(s, dir), "doc_id", "text")
    },
    // C25: per-dimension int8 embedding quantization, exploded to
    // (vec_id, dim, q) scalar rows for the oracle compare
    "embedding_quantize" -> { (s, dir) =>
      VectorFunctions
        .quantizeInt8(Tables.embeddings(s, dir))
        .select(col("vec_id"), posexplode(col("qvec")).as(Seq("dim", "q")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"), col("q"))
    },
    // C25b: PCA projection of the embedding space — distributed
    // covariance (one partial-agg pass), driver Jacobi eigensolve,
    // literal-expression projection (rows-only; basis properties and
    // determinism spec-verified)
    "emb_pca" -> { (s, dir) =>
      VectorFunctions.pcaProject(Tables.embeddings(s, dir), k = 8)
    },
    // C45: per-dimension embedding calibration stats — exact
    // scaled-integer sums/sumsq + min/max per position (quantization
    // scale choice, normalization, model-version drift)
    "emb_dim_stats" -> { (s, dir) =>
      VectorFunctions.embDimStats(Tables.embeddings(s, dir))
    },
    // C48: cluster-balanced diversity sampling (SemDeDup/DataComp
    // balancing step) — flatten cluster mass to ≤ target per k-means
    // cell via the content-stable md5 sampler (rows-only: k-means;
    // ClusterBalanceSpec plants an imbalanced lake)
    "emb_cluster_balance" -> { (s, dir) =>
      VectorFunctions.clusterBalance(Tables.embeddings(s, dir), targetPerCell = 50L)
    },
    // C44: prototype-difficulty pruning (Sorscher et al. 2022) — drop
    // the easiest 30% of each k-means cluster, keep the hard examples
    // (rows-only: k-means prototypes are not SQL-expressible;
    // PrototypePruneSpec plants clusters and checks both rank modes)
    "emb_prototype_prune" -> { (s, dir) =>
      VectorFunctions.prototypePrune(Tables.embeddings(s, dir), pruneFrac = 0.3)
    },
    // C13: approximate per-series stats — the 100 TB scale path
    // (sketches, not exact aggregation; rows-only by nature)
    // The 100 TB sketch path, kept approx-only so the bench keeps
    // timing sketches (not the exact aggregation the certificate
    // needs) and stays comparable across rounds; its certified twin
    // below carries the oracle.
    "ts_approx_stats" -> { (s, dir) =>
      ev(s, dir)
        .groupBy(col("series_name"))
        .agg(
          approx_count_distinct(col("user_id")).as("approx_users"),
          expr("approx_percentile(value, array(0.5, 0.95), 10000)").as("approx_p"),
        )
        .select(col("series_name"), col("approx_users"), col("approx_p")(0).as("approx_p50"), col("approx_p")(1).as("approx_p95"))
    },
    // Approx sketches can't hash-match any exact engine, but their
    // ERROR BOUNDS can be certified by one: the row carries the exact
    // stats (hash-compared against DuckDB) plus ok-flags asserting the
    // sketch landed inside its documented envelope — HLL within 3·rsd
    // (rsd 0.05 default, absolute slack 4 for tiny groups), the KLL
    // percentiles inside the exact 1%-quantile band (sketch guarantee
    // is rank error N/10000; the band is ≥ 20× looser at the gate's
    // data scale, so the check never flakes and still certifies). The
    // oracle emits literal TRUE for each flag: a sketch outside its
    // envelope fails the hash compare.
    "ts_approx_stats_certified" -> { (s, dir) =>
      // countDistinct in the SAME aggregate triggers Spark's
      // distinct-rewrite: the percentile/HLL/KLL buffers get built and
      // shuffled per (series, user) GROUP — a 56-column exchange of
      // sketch buffers (measured 4-6 s at sf0.1). Splitting the exact
      // distinct count into its own light aggregate (keys-only
      // two-phase) and joining the per-series frames keeps every
      // sketch buffer per SERIES; same rows, same values.
      ev(s, dir)
        .groupBy(col("series_name"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
        .join(
          ev(s, dir)
            .groupBy(col("series_name"))
            .agg(
              approx_count_distinct(col("user_id")).as("__au"),
              expr("percentile(value, array(0.49, 0.5, 0.51, 0.94, 0.95, 0.96))").as("__q"),
              expr("approx_percentile(value, array(0.5, 0.95), 10000)").as("__ap"),
            ),
          Seq("series_name"),
        )
        .select(
          col("series_name"),
          col("exact_users"),
          col("__q")(1).as("p50"),
          col("__q")(4).as("p95"),
          (abs(col("__au") - col("exact_users")) <= greatest(ceil(col("exact_users") * lit(0.15)), lit(4L)))
            .as("users_ok"),
          (col("__ap")(0) >= col("__q")(0) && col("__ap")(0) <= col("__q")(2)).as("p50_ok"),
          (col("__ap")(1) >= col("__q")(3) && col("__ap")(1) <= col("__q")(5)).as("p95_ok"),
        )
    },
    // C11: winnowing fingerprints (k=8 char-grams, window 4)
    "text_fingerprint" -> { (s, dir) =>
      TextFunctions.fingerprints(Tables.documents(s, dir), col("doc_id"), col("text"))
    },
    // C12: multimodal binary-column pipeline — PNG-encode each payload
    // (real ImageIO write) then decode it back (real ImageIO read):
    // format/width/height are true codec outputs, not stub values
    "mm_pipeline" -> { (s, dir) =>
      val assets = Multimodal.asAssets(Tables.documents(s, dir), "doc_id", "text", "source")
      Multimodal
        .decodeImages(Multimodal.toPngAssets(assets))
        .select(col("asset_id"), col("format"), col("width"), col("height"), col("n_bytes"))
    },
    // C12c (resize): decode → deterministic integer box-filter resize →
    // PNG re-encode → decode again — a double real-codec round trip.
    // Output dims are a pure function of payload length, so they
    // hash-verify; pixel content is spec-checked (MultimodalSpec).
    "mm_resize" -> { (s, dir) =>
      val assets = Multimodal.asAssets(Tables.documents(s, dir), "doc_id", "text", "source")
      Multimodal
        .decodeImages(Multimodal.resizeImages(Multimodal.toPngAssets(assets)))
        .select(col("asset_id"), col("format"), col("width"), col("height"))
    },
    // C12d (frame-sample): payload → REAL multi-page TIFF → every-2nd
    // frame decoded (ImageReader.getNumImages walks the directory) —
    // the video frame-sampling verb on the one multi-frame container
    // the JDK can truly decode. Sampled frame indices/dims are a pure
    // function of payload length → hash-verified; per-frame mean luma
    // is spec-checked.
    "mm_frames" -> { (s, dir) =>
      val assets = Multimodal.asAssets(Tables.documents(s, dir), "doc_id", "text", "source")
      Multimodal
        .sampleFrames(Multimodal.toTiffAssets(assets))
        .select(col("asset_id"), col("frame_idx"), col("width"), col("height"))
    },
    // C12g (video): payload → REAL MJPEG AVI (RIFF container written
    // chunk by chunk, baseline-JPEG frames) → RIFF walk to LIST('movi')
    // → every-2nd frame chunk JPEG-decoded. Same frame-count formula as
    // mm_frames, so sampled indices/dims hash-verify; decoded per-frame
    // mean luma is spec-checked (JPEG is lossy — no SQL form).
    "mm_video_frames" -> { (s, dir) =>
      val assets = Multimodal.asAssets(Tables.documents(s, dir), "doc_id", "text", "source")
      Multimodal
        .sampleVideoFrames(Multimodal.toAviAssets(assets))
        .select(col("asset_id"), col("frame_idx"), col("width"), col("height"))
    },
    // C12e: perceptual image hash (pHash/DCT) + exact banded near-dup
    // pairs — LAION-style image dedup on the real PNG assets (hash is
    // a DCT of decoded pixels: no SQL form → rows-only, spec-verified)
    "mm_phash" -> { (s, dir) =>
      val assets = Multimodal.asAssets(Tables.documents(s, dir), "doc_id", "text", "source")
      Multimodal
        .phashPairs(Multimodal.perceptualHash(Multimodal.toPngAssets(assets)))
        .orderBy(col("asset_a"), col("asset_b"))
    },
    // C12f: audio fingerprinting (Haitsma-Kalker band-energy scheme)
    // over the real WAV assets — 256-sample frames so the short doc
    // payloads yield frames (rows-only: FFT has no SQL form)
    "mm_audio_fp" -> { (s, dir) =>
      val assets = Multimodal.asAssets(Tables.documents(s, dir), "doc_id", "text", "source")
      Multimodal
        .audioFingerprints(Multimodal.toWavAssets(assets), frameSize = 256)
        .orderBy(col("asset_id"), col("frame_idx"))
    },
    // C12 (audio): real WAV codec round trip via javax.sound.sampled —
    // PCM-16 encode → container write → header parse → frame read. The
    // decoded header fields are a pure function of payload byte length,
    // so they hash-verify against SQL; RMS/amp-hist from the actual PCM
    // frames are spec-checked (MultimodalSpec).
    "mm_audio" -> { (s, dir) =>
      val assets = Multimodal.asAssets(Tables.documents(s, dir), "doc_id", "text", "source")
      Multimodal
        .decodeAudio(Multimodal.toWavAssets(assets))
        .select(
          col("asset_id"),
          col("encoding"),
          col("sample_rate"),
          col("channels"),
          col("sample_bits"),
          col("n_frames"),
          col("duration_s"),
        )
    },
    // C12h (companded audio): PCM WAV → µ-law transcode through the
    // JDK's own codec (format code 7) → decode. Header fields are a
    // pure function of payload length → hash-verified; the companded
    // amplitude features are spec-checked (MultimodalSpec).
    "mm_audio_ulaw" -> { (s, dir) =>
      val assets = Multimodal.asAssets(Tables.documents(s, dir), "doc_id", "text", "source")
      Multimodal
        .decodeAudio(Multimodal.transcodeWav(Multimodal.toWavAssets(assets), "ulaw"))
        .select(
          col("asset_id"),
          col("encoding"),
          col("sample_rate"),
          col("channels"),
          col("sample_bits"),
          col("n_frames"),
          col("duration_s"),
        )
    },
    // C15: the composed training-data pipeline — quality gate → langid
    // → near-dup removal (keep group representative) → chunking. Every
    // stage is an operator proven above; this query proves they chain.
    "pipeline_clean_corpus" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val scored = TextFunctions
        .qualityScore(TextFunctions.langId(docs, col("text")), col("text"))
        .select(col("doc_id"), col("text"), col("pred_lang"), col("quality_score"))
      // kept feeds both the shingle index (via jaccardPairsPrefix) and
      // the final anti-join + chunking — cache the filtered frame so the
      // regex-heavy quality/langid scoring runs once
      val kept = scored.where(col("quality_score") > 0.45 && col("pred_lang") === "en").cache()
      val dupes = DedupFunctions
        .dedupGroups(DedupFunctions.jaccardPairsPrefix(kept, "doc_id", "text"))
        .where(col("doc_id") =!= col("group_id"))
      val reps = kept.join(dupes, Seq("doc_id"), "left_anti")
      TextFunctions
        .chunk(reps, col("doc_id"), col("text"))
        .withColumn("chunk_id", col("chunk_id").cast("long"))
    },
    // C51: the ordering pipeline — quality gate → exact dedup →
    // mixture-weighted curriculum, one plan from raw corpus to the
    // deterministic training order (the consumption-side closer of
    // the curation chain: clean_corpus dedups, curate publishes,
    // order_corpus schedules)
    "pipeline_order_corpus" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val kept = TextFunctions
        .qualityScore(docs, col("text"))
        .where(col("quality_score") > 0.45)
        .select(col("doc_id"), col("lang"), col("text"))
      val reps = DedupFunctions.exactGroups(kept, "doc_id", "text").select(col("rep_id").as("doc_id"))
      CorpusFunctions.curriculumInterleave(
        kept.join(reps, Seq("doc_id")),
        col("doc_id"),
        col("lang"),
        col("text"),
        weightsPpm = Map("en" -> 500000L, "zh" -> 200000L, "es" -> 150000L),
        defaultPpm = 100000L,
      )
    },
    // C21: the curation pipeline — PII scrub → quality gate →
    // benchmark decontamination → deterministic split assignment,
    // chained in one plan (the publishing-side dual of
    // pipeline_clean_corpus's dedup-centric chain)
    "pipeline_curate" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val scrubbed = TextFunctions
        .piiScrub(docs, col("doc_id"), col("text"))
        .select(col("doc_id"), col("clean_text").as("text"))
      val kept = TextFunctions
        .qualityScore(scrubbed, col("text"))
        .where(col("quality_score") > 0.45)
        .select(col("doc_id"), col("text"))
      val decon = TextFunctions.decontaminate(
        kept.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0),
        col("doc_id"),
        col("text"),
      )
      TextFunctions
        .hashSplit(kept.join(decon.where(!col("contaminated")).select("doc_id"), Seq("doc_id")), col("doc_id"))
        .select(col("doc_id"), col("split"))
    },
    // C57: the end-to-end training-export mega-pipeline — curate (PII
    // scrub → quality gate → decontamination → train split) → mixture
    // apply (plan joined back, zero driver round trips) → curriculum
    // schedule → shuffle-shard assignment, composed as ONE lazy plan:
    // the closer that proves the pieces compose without materializing
    "pipeline_train_export" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val scrubbed = TextFunctions
        .piiScrub(docs, col("doc_id"), col("text"))
        .select(col("doc_id"), col("clean_text").as("text"))
      val kept = TextFunctions
        .qualityScore(scrubbed, col("text"))
        .where(col("quality_score") > 0.45)
        .select(col("doc_id"), col("text"))
      val decon = TextFunctions.decontaminate(
        kept.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0),
        col("doc_id"),
        col("text"),
      )
      val train = TextFunctions
        .hashSplit(kept.join(decon.where(!col("contaminated")).select("doc_id"), Seq("doc_id")), col("doc_id"))
        .where(col("split") === "train")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("text"))
        // the one checkpointed intermediate (the pipeline_clean_corpus
        // discipline): the curate chain (regex scrub + quality + decon
        // shingle join) feeds FIVE downstream scans — the mixture
        // plan's count aggregate, the mixed filter, the curriculum
        // docs + histogram, and the shard permutation; without the
        // cut it re-executes for each (measured 9.3 s vs ~4 s)
        .localCheckpoint()
      val mixed = CorpusFunctions
        .mixtureSampleJoined(train, col("doc_id"), col("lang"), col("text"), Map("en" -> 0.5, "zh" -> 0.25, "de" -> 0.25))
      val sched = CorpusFunctions.curriculumInterleave(
        mixed,
        col("doc_id"),
        col("lang"),
        col("text"),
        weightsPpm = Map("en" -> 500000L, "zh" -> 200000L, "es" -> 150000L),
        defaultPpm = 100000L,
      )
      CorpusFunctions
        .shuffleShards(mixed, col("doc_id"), nShards = 8)
        .join(sched, Seq("doc_id"))
        .select(col("doc_id"), col("stratum"), col("difficulty"), col("vt"), col("shard"), col("pos"))
    },
    // B6: tumbling 1h window aggregates over events
    "q_events_window_agg" -> { (s, dir) =>
      ntz(
        Tables.events(s, dir)
          .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            exactSum(col("value")).as("sum_value"),
            countDistinct(col("user_id")).as("n_users"),
          )
      )
    },
  )

  // ---- oracle SQL (DuckDB dialect, same parquet tables) -----------------

  def oracleSql: Map[String, String] = Map(
    "ts_search" ->
      "SELECT DISTINCT event_type AS series_name, user_id, 'value' AS field FROM events",
    "ts_get_data" ->
      """SELECT ts, value FROM events
         WHERE event_type = 'click' AND user_id = 7
           AND ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'""",
    "ts_get_data_multi" ->
      """SELECT event_type AS series_name, user_id, ts, value FROM events
         WHERE event_type IN ('click', 'error')
           AND ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'""",
    "ts_source_structure" ->
      """SELECT 'tag' AS kind, 'series_name' AS key, CAST(event_type AS VARCHAR) AS val FROM events GROUP BY 3
         UNION ALL
         SELECT 'tag' AS kind, 'user_id' AS key, CAST(user_id AS VARCHAR) AS val FROM events GROUP BY 3
         UNION ALL
         SELECT 'field' AS kind, 'field' AS key, 'value' AS val""",
    "ts_plot_data" ->
      """WITH ranged AS (
           SELECT event_type AS series_name, ts, value,
                  CAST(FLOOR((epoch_us(ts) - 1704067200000000) * 100.0 / 2678400000000.0) AS BIGINT) AS bucket
           FROM events
           WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-02-01 00:00:00')
         SELECT series_name, bucket, 'min' AS role, ts, value FROM (
           SELECT *, row_number() OVER (PARTITION BY series_name, bucket ORDER BY value ASC, ts ASC) AS rn FROM ranged) WHERE rn = 1
         UNION ALL
         SELECT series_name, bucket, 'max' AS role, ts, value FROM (
           SELECT *, row_number() OVER (PARTITION BY series_name, bucket ORDER BY value DESC, ts ASC) AS rn FROM ranged) WHERE rn = 1
         UNION ALL
         SELECT series_name, bucket, 'first' AS role, ts, value FROM (
           SELECT *, row_number() OVER (PARTITION BY series_name, bucket ORDER BY ts ASC, value ASC) AS rn FROM ranged) WHERE rn = 1
         UNION ALL
         SELECT series_name, bucket, 'last' AS role, ts, value FROM (
           SELECT *, row_number() OVER (PARTITION BY series_name, bucket ORDER BY ts DESC, value DESC) AS rn FROM ranged) WHERE rn = 1""",
    "ts_quality_map" ->
      """SELECT event_id, CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) AS k,
                CASE WHEN CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) BETWEEN 0 AND 49 THEN 1 ELSE 0 END AS quality
         FROM events""",
    "ts_quality_ratio" ->
      """WITH q AS (SELECT event_type AS series_name,
                           CASE WHEN CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) BETWEEN 0 AND 49 THEN 1 ELSE 0 END AS quality
                    FROM events)
         SELECT series_name, COUNT(*) AS n, CAST(SUM(quality) AS BIGINT) AS n_good,
                CAST(SUM(quality) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS good_ratio
         FROM q GROUP BY 1""",
    "ts_resample_metadata" ->
      """WITH meta AS (SELECT * FROM (VALUES ('click'), ('view'), ('purchase')) m(series_name)),
         lin_data AS (
           SELECT event_type AS series_name, ts, epoch_us(ts) AS us, MAX(value) AS value FROM events
           WHERE event_type IN (SELECT series_name FROM meta) GROUP BY 1, 2, 3),
         lin_grid AS (
           SELECT s.series_name, g.ts, epoch_us(g.ts) AS us
           FROM (SELECT DISTINCT event_type AS series_name FROM events
                 WHERE event_type IN (SELECT series_name FROM meta)) s
           CROSS JOIN generate_series(TIMESTAMP '2024-01-08 00:00:00', TIMESTAMP '2024-01-14 23:00:00', INTERVAL 1 HOUR) g(ts)),
         prev AS (
           SELECT g.series_name, g.ts, g.us, d.us AS p_us, d.value AS p_v
           FROM lin_grid g ASOF LEFT JOIN lin_data d ON g.series_name = d.series_name AND g.ts >= d.ts),
         nxt AS (
           SELECT g.series_name, g.ts, d.us AS n_us, d.value AS n_v
           FROM lin_grid g ASOF LEFT JOIN lin_data d ON g.series_name = d.series_name AND g.ts <= d.ts),
         lin AS (
           SELECT p.series_name, p.ts,
                  CASE WHEN p.p_us IS NULL OR n.n_us IS NULL THEN NULL
                       WHEN n.n_us = p.p_us THEN p.p_v
                       ELSE p.p_v + (n.n_v - p.p_v) * CAST(p.us - p.p_us AS DOUBLE) / CAST(n.n_us - p.p_us AS DOUBLE)
                  END AS value
           FROM prev p JOIN nxt n ON p.series_name = n.series_name AND p.ts = n.ts),
         stp_data AS (
           SELECT event_type AS series_name, ts, MAX(value) AS value FROM events
           WHERE event_type NOT IN (SELECT series_name FROM meta) GROUP BY 1, 2),
         stp_grid AS (
           SELECT s.series_name, g.ts
           FROM (SELECT DISTINCT event_type AS series_name FROM events
                 WHERE event_type NOT IN (SELECT series_name FROM meta)) s
           CROSS JOIN generate_series(TIMESTAMP '2024-01-08 00:00:00', TIMESTAMP '2024-01-14 23:00:00', INTERVAL 1 HOUR) g(ts)),
         stp AS (
           SELECT g.series_name, g.ts, d.value
           FROM stp_grid g ASOF LEFT JOIN stp_data d ON g.series_name = d.series_name AND g.ts >= d.ts)
         SELECT * FROM lin UNION ALL SELECT * FROM stp""",
    "ts_dictionary_decode" ->
      """SELECT event_id,
                CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) % 4 AS code,
                CASE CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) % 4
                  WHEN 0 THEN 'OFF' WHEN 1 THEN 'ON' WHEN 2 THEN 'IDLE' WHEN 3 THEN 'FAULT' END AS label
         FROM events""",
    "ts_metadata_agg" ->
      s"""SELECT event_type AS series_name, user_id,
                COUNT(*) AS point_count, MIN(ts) AS min_ts, MAX(ts) AS max_ts,
                MIN(value) AS min_value, MAX(value) AS max_value,
                ${exactSumSql("value")} / COUNT(*) AS mean_value
         FROM events GROUP BY 1, 2""",
    "ts_percentiles" ->
      """SELECT event_type AS series_name,
                quantile_cont(value, 0.5) AS p50,
                quantile_cont(value, 0.95) AS p95
         FROM events GROUP BY 1""",
    // bounds-certified sketches: the oracle recomputes the EXACT stats
    // and expects every in-envelope flag literally TRUE — see the
    // query's comment for the envelopes
    "ts_approx_stats_certified" ->
      """SELECT event_type AS series_name,
                COUNT(DISTINCT user_id) AS exact_users,
                quantile_cont(value, 0.5) AS p50,
                quantile_cont(value, 0.95) AS p95,
                TRUE AS users_ok, TRUE AS p50_ok, TRUE AS p95_ok
         FROM events GROUP BY 1""",
    "ts_latest" ->
      """SELECT event_type AS series_name, user_id, ts, value FROM (
           SELECT event_type, user_id, ts, value,
                  row_number() OVER (PARTITION BY event_type, user_id ORDER BY ts DESC, value DESC) AS rn
           FROM events) WHERE rn = 1""",
    "ts_simulator_counter" ->
      """SELECT CAST(TIMESTAMP '1970-01-01 00:00:00' + INTERVAL (us) MICROSECOND AS TIMESTAMP) AS ts,
                0.0 + (CAST(us AS BIGINT) % 1200000000) // 60000000 * 5.0 AS value
         FROM (SELECT 1704672000000000 + 60000000 * g AS us
               FROM generate_series(0, CAST((1705276800000000 - 1704672000000000) / 60000000 AS BIGINT)) AS t(g))""",
    "ts_simulator_sine" ->
      """SELECT CAST(TIMESTAMP '1970-01-01 00:00:00' + INTERVAL (us) MICROSECOND AS TIMESTAMP) AS ts,
                round(10.0 * sin(2 * pi() * (us / 1000000.0 + 3600.0) / 86400.0) + 50.0, 6) AS value
         FROM (SELECT 1704672000000000 + 60000000 * g AS us
               FROM generate_series(0, CAST((1705276800000000 - 1704672000000000) / 60000000 AS BIGINT)) AS t(g))""",
    "ts_simulator_v2" ->
      """SELECT CAST(TIMESTAMP '1970-01-01 00:00:00' + INTERVAL (us) MICROSECOND AS TIMESTAMP) AS ts,
                round(10.0 * sin(2 * pi() * (us / 1000000.0 + 3600.0) / 86400.0) + 50.0, 6) AS value
         FROM (SELECT 1704672000000000 + 60000000 * g AS us
               FROM generate_series(0, CAST((1705276800000000 - 1704672000000000) / 60000000 AS BIGINT)) AS t(g))""",
    "ts_pivot_read" ->
      """SELECT event_type AS series_name, date_trunc('minute', ts) AS ts, MAX(value) AS value
         FROM events GROUP BY 1, 2""",
    "ts_row_source_csv" ->
      """SELECT event_type AS series_name, user_id, 'value' AS field, ts, value
         FROM events WHERE event_type IN ('click', 'error')""",
    "ts_plugin_source" ->
      """SELECT event_type AS series_name, ts, value
         FROM events WHERE event_type IN ('click', 'view')""",
    // the plot action serves exactly what ts_plot_data computes,
    // restricted to the two plugin series
    "ts_plugin_plot" ->
      """WITH ranged AS (
           SELECT event_type AS series_name, ts, value,
                  CAST(FLOOR((epoch_us(ts) - 1704067200000000) * 100.0 / 2678400000000.0) AS BIGINT) AS bucket
           FROM events
           WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-02-01 00:00:00'
             AND event_type IN ('click', 'view'))
         SELECT series_name, bucket, 'min' AS role, ts, value FROM (
           SELECT *, row_number() OVER (PARTITION BY series_name, bucket ORDER BY value ASC, ts ASC) AS rn FROM ranged) WHERE rn = 1
         UNION ALL
         SELECT series_name, bucket, 'max' AS role, ts, value FROM (
           SELECT *, row_number() OVER (PARTITION BY series_name, bucket ORDER BY value DESC, ts ASC) AS rn FROM ranged) WHERE rn = 1
         UNION ALL
         SELECT series_name, bucket, 'first' AS role, ts, value FROM (
           SELECT *, row_number() OVER (PARTITION BY series_name, bucket ORDER BY ts ASC, value ASC) AS rn FROM ranged) WHERE rn = 1
         UNION ALL
         SELECT series_name, bucket, 'last' AS role, ts, value FROM (
           SELECT *, row_number() OVER (PARTITION BY series_name, bucket ORDER BY ts DESC, value DESC) AS rn FROM ranged) WHERE rn = 1""",
    "ts_config_source" ->
      """SELECT event_type AS series_name, 'value' AS field, ts, value
         FROM events WHERE event_type IN ('view', 'purchase')""",
    "ts_dir_source" ->
      """SELECT event_type AS series_name, ts, value FROM events
         WHERE event_type = 'click'
           AND ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'""",
    "ts_row_source_json" ->
      """SELECT event_type AS series_name, user_id, 'value' AS field, ts, value
         FROM events WHERE event_type = 'purchase'""",
    "ts_row_source_orc" ->
      """SELECT event_type AS series_name, user_id, 'value' AS field, ts, value
         FROM events WHERE event_type IN ('view', 'error')""",
    "ts_excel_source" ->
      """SELECT event_type AS series_name, user_id, ts, value
         FROM events WHERE event_type = 'error' AND user_id % 7 = 0""",
    "ts_delta_source" ->
      """SELECT event_type AS series_name, 'value' AS field, ts, value
         FROM events WHERE user_id % 5 = 1""",
    "ts_datafusion_source" ->
      """SELECT event_type AS series_name, ts, value FROM events
         WHERE event_type = 'view'
           AND ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'""",
    "ts_row_source_arrows" ->
      """SELECT event_type AS series_name, user_id, 'value' AS field, ts, value
         FROM events WHERE event_type IN ('purchase', 'click')""",
    "ts_dir_source_named" ->
      """SELECT event_type AS series_name, ts, value FROM events""",
    "ts_string_series" ->
      """SELECT 'machine_state' AS series_name, 'value' AS field, ts, upper(event_type) AS value
         FROM events""",
    "ts_mixed_promotion" ->
      """SELECT event_type AS series_name, ts, CAST(user_id AS VARCHAR) AS value
         FROM events WHERE event_type = 'click'
         UNION ALL
         SELECT event_type AS series_name, ts, 'ERROR' AS value
         FROM events WHERE event_type = 'error'""",
    "ts_quality_map_str" ->
      """SELECT event_id, event_type AS series_name,
                CASE WHEN event_type IN ('click', 'purchase') THEN 1 ELSE 0 END AS quality
         FROM events""",
    "ts_metadata_source" ->
      """SELECT series_name, description, unit,
                CAST(limit_low_physical AS DOUBLE) AS limit_low_physical,
                CAST(limit_high_physical AS DOUBLE) AS limit_high_physical,
                interpolation_type, data_type
         FROM (VALUES
           ('temp', 'Temperature', 'degC', 0.0, 100.0, 'LINEAR', 'FLOAT64'),
           ('pressure', 'Pressure', 'bar', 0.5, 9.0, 'STEPPED', 'FLOAT32'),
           ('state', 'Machine state', NULL, NULL, NULL, 'STEPPED', 'DICTIONARY'),
           ('flow', 'Flow rate', 'm3/h', NULL, 50.0, 'LINEAR', 'FLOAT64'))
         AS t(series_name, description, unit, limit_low_physical, limit_high_physical, interpolation_type, data_type)""",
    "ts_metadata_accuracy" ->
      """SELECT series_name, CAST(accuracy AS DOUBLE) AS accuracy,
                CAST(accuracy_percentage AS DOUBLE) AS accuracy_percentage,
                CAST(accuracy_calculated AS DOUBLE) AS accuracy_calculated
         FROM (VALUES
           ('a', 0.5, 2.0, 0.5),
           ('b', NULL, 2.5, 2.5),
           ('c', NULL, 10.0, 10.0),
           ('d', NULL, 150.0, NULL),
           ('e', NULL, 5.0, NULL))
         AS t(series_name, accuracy, accuracy_percentage, accuracy_calculated)""",
    "ts_interval_chunks" ->
      """SELECT event_type AS series_name, user_id, ts, value FROM events
         WHERE event_type IN ('click', 'error')
           AND ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'""",
    "ts_resample_stepped_exec" ->
      """WITH data AS (
           SELECT event_type AS series_name, ts, MAX(value) AS value FROM events
           WHERE ts < TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1, 2),
         grid AS (
           SELECT s.series_name, g.ts
           FROM (SELECT DISTINCT event_type AS series_name FROM events) s
           CROSS JOIN generate_series(TIMESTAMP '2024-01-08 00:00:00', TIMESTAMP '2024-01-14 23:00:00', INTERVAL 1 HOUR) g(ts))
         SELECT g.series_name, g.ts, d.value
         FROM grid g ASOF LEFT JOIN data d ON g.series_name = d.series_name AND g.ts >= d.ts""",
    "ts_resample_linear_exec" ->
      """WITH data AS (
           SELECT event_type AS series_name, ts, epoch_us(ts) AS us, MAX(value) AS value FROM events GROUP BY 1, 2, 3),
         grid AS (
           SELECT s.series_name, g.ts, epoch_us(g.ts) AS us
           FROM (SELECT DISTINCT event_type AS series_name FROM events) s
           CROSS JOIN generate_series(TIMESTAMP '2024-01-08 00:00:00', TIMESTAMP '2024-01-14 23:00:00', INTERVAL 1 HOUR) g(ts)),
         prev AS (
           SELECT g.series_name, g.ts, g.us, d.us AS p_us, d.value AS p_v
           FROM grid g ASOF LEFT JOIN data d ON g.series_name = d.series_name AND g.ts >= d.ts),
         nxt AS (
           SELECT g.series_name, g.ts, d.us AS n_us, d.value AS n_v
           FROM grid g ASOF LEFT JOIN data d ON g.series_name = d.series_name AND g.ts <= d.ts)
         SELECT p.series_name, p.ts,
                CASE WHEN p.p_us IS NULL OR n.n_us IS NULL THEN NULL
                     WHEN n.n_us = p.p_us THEN p.p_v
                     ELSE p.p_v + (n.n_v - p.p_v) * CAST(p.us - p.p_us AS DOUBLE) / CAST(n.n_us - p.p_us AS DOUBLE)
                END AS value
         FROM prev p JOIN nxt n ON p.series_name = n.series_name AND p.ts = n.ts""",
    "ts_resample_stepped" ->
      """WITH data AS (
           SELECT event_type AS series_name, ts, MAX(value) AS value FROM events
           WHERE ts < TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1, 2),
         grid AS (
           SELECT s.series_name, g.ts
           FROM (SELECT DISTINCT event_type AS series_name FROM events) s
           CROSS JOIN generate_series(TIMESTAMP '2024-01-08 00:00:00', TIMESTAMP '2024-01-14 23:00:00', INTERVAL 1 HOUR) g(ts))
         SELECT g.series_name, g.ts, d.value
         FROM grid g ASOF LEFT JOIN data d ON g.series_name = d.series_name AND g.ts >= d.ts""",
    "ts_resample_linear" ->
      """WITH data AS (
           SELECT event_type AS series_name, ts, epoch_us(ts) AS us, MAX(value) AS value FROM events GROUP BY 1, 2, 3),
         grid AS (
           SELECT s.series_name, g.ts, epoch_us(g.ts) AS us
           FROM (SELECT DISTINCT event_type AS series_name FROM events) s
           CROSS JOIN generate_series(TIMESTAMP '2024-01-08 00:00:00', TIMESTAMP '2024-01-14 23:00:00', INTERVAL 1 HOUR) g(ts)),
         prev AS (
           SELECT g.series_name, g.ts, g.us, d.us AS p_us, d.value AS p_v
           FROM grid g ASOF LEFT JOIN data d ON g.series_name = d.series_name AND g.ts >= d.ts),
         nxt AS (
           SELECT g.series_name, g.ts, d.us AS n_us, d.value AS n_v
           FROM grid g ASOF LEFT JOIN data d ON g.series_name = d.series_name AND g.ts <= d.ts)
         SELECT p.series_name, p.ts,
                CASE WHEN p.p_us IS NULL OR n.n_us IS NULL THEN NULL
                     WHEN n.n_us = p.p_us THEN p.p_v
                     ELSE p.p_v + (n.n_v - p.p_v) * CAST(p.us - p.p_us AS DOUBLE) / CAST(n.n_us - p.p_us AS DOUBLE)
                END AS value
         FROM prev p JOIN nxt n ON p.series_name = n.series_name AND p.ts = n.ts""",
    "ts_outlier_limits" ->
      """WITH lim AS (
           SELECT * FROM (VALUES ('click', 0.5, 300.0), ('view', 0.5, 300.0), ('purchase', 1.0, 480.0),
                                 ('signup', 0.2, 200.0), ('error', 0.1, 100.0)) AS t(series_name, limit_low, limit_high))
         SELECT e.event_type AS series_name, e.ts, e.value,
                CASE WHEN e.value < l.limit_low THEN 'low' ELSE 'high' END AS violation
         FROM events e JOIN lim l ON e.event_type = l.series_name
         WHERE e.value < l.limit_low OR e.value > l.limit_high""",
    "ts_asof_join" ->
      """WITH clicks AS (
           SELECT user_id, ts, MAX(value) AS value FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         purchases AS (
           SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
         SELECT p.user_id, p.ts, p.value, c.value AS last_click_value
         FROM purchases p ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts""",
    "ts_ohlc" ->
      """WITH r AS (SELECT event_type AS series_name, date_trunc('hour', ts) AS bucket, ts, value FROM events),
         o AS (SELECT series_name, bucket, value AS open FROM (
                 SELECT *, row_number() OVER (PARTITION BY series_name, bucket ORDER BY ts ASC, value ASC) AS rn FROM r) WHERE rn = 1),
         c AS (SELECT series_name, bucket, value AS close FROM (
                 SELECT *, row_number() OVER (PARTITION BY series_name, bucket ORDER BY ts DESC, value DESC) AS rn FROM r) WHERE rn = 1),
         hl AS (SELECT series_name, bucket, MAX(value) AS high, MIN(value) AS low, COUNT(*) AS n FROM r GROUP BY 1, 2)
         SELECT hl.series_name, hl.bucket, o.open, hl.high, hl.low, c.close, hl.n
         FROM hl JOIN o USING (series_name, bucket) JOIN c USING (series_name, bucket)""",
    "ts_derivative" ->
      """SELECT series_name, ts, value, (value - prev_v) / ((epoch_us(ts) - prev_us) / 1000000.0) AS rate_per_sec
         FROM (SELECT event_type AS series_name, ts, value,
                      lag(value) OVER w AS prev_v, lag(epoch_us(ts)) OVER w AS prev_us
               FROM events WHERE event_type = 'error'
               WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))""",
    "ts_downsample_lttb" ->
      """WITH RECURSIVE
pts AS (
  SELECT event_type AS k, epoch_us(ts) AS us, CAST(value AS DOUBLE) AS v,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY epoch_us(ts), CAST(value AS DOUBLE)) - 1 AS BIGINT) AS idx,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
big AS (SELECT * FROM pts WHERE n > 200),
meta AS (SELECT k, MAX(n) AS n, CAST(MAX(n) - 2 AS DOUBLE) / 198.0 AS bs FROM big GROUP BY 1),
anchors AS (
  SELECT m.k, gi.i,
         CASE WHEN cnt > 0 THEN ssum / cnt ELSE last_us END AS at,
         CASE WHEN cnt > 0 THEN vsum / cnt ELSE last_v END AS av
  FROM meta m
  CROSS JOIN (SELECT unnest(generate_series(0, 197)) AS i) gi
  LEFT JOIN LATERAL (
    SELECT COUNT(*) AS cnt,
           COALESCE(list_reduce(list(CAST(c.us AS DOUBLE) ORDER BY c.idx), (x, y) -> x + y), 0.0) AS ssum,
           COALESCE(list_reduce(list(c.v ORDER BY c.idx), (x, y) -> x + y), 0.0) AS vsum
    FROM big c
    WHERE c.k = m.k
      AND c.idx >= LEAST(CAST(trunc((gi.i + 1) * m.bs) AS BIGINT) + 1, m.n - 1)
      AND c.idx < LEAST(CAST(trunc((gi.i + 2) * m.bs) AS BIGINT) + 1, m.n)
  ) nb ON TRUE
  LEFT JOIN LATERAL (
    SELECT CAST(c2.us AS DOUBLE) AS last_us, c2.v AS last_v
    FROM big c2 WHERE c2.k = m.k AND c2.idx = m.n - 1
  ) lp ON TRUE
),
sel AS (
  SELECT m.k, CAST(-1 AS BIGINT) AS i, CAST(0 AS BIGINT) AS a,
         (SELECT CAST(b.us AS DOUBLE) FROM big b WHERE b.k = m.k AND b.idx = 0) AS a_us,
         (SELECT b.v FROM big b WHERE b.k = m.k AND b.idx = 0) AS a_v
  FROM meta m
  UNION ALL
  SELECT s.k, s.i + 1, nb.idx, CAST(nb.us AS DOUBLE), nb.v
  FROM sel s
  JOIN meta m ON m.k = s.k
  JOIN anchors an ON an.k = s.k AND an.i = s.i + 1
  JOIN LATERAL (
    SELECT c.idx, c.us, c.v FROM big c
    WHERE c.k = s.k
      AND c.idx >= CAST(trunc((s.i + 1) * m.bs) AS BIGINT) + 1
      AND c.idx < LEAST(CAST(trunc((s.i + 2) * m.bs) AS BIGINT) + 1, m.n - 1)
    ORDER BY abs((s.a_us - an.at) * (c.v - s.a_v) - (s.a_us - CAST(c.us AS DOUBLE)) * (an.av - s.a_v)) DESC, c.idx
    LIMIT 1
  ) nb ON TRUE
  WHERE s.i + 1 <= 197
),
picked AS (
  SELECT k, a AS idx FROM sel
  UNION ALL
  SELECT k, n - 1 FROM meta
  UNION ALL
  SELECT k, idx FROM pts WHERE n <= 200
)
SELECT b.k AS series_name, make_timestamp(b.us) AS ts, b.v AS value
FROM picked p JOIN pts b ON b.k = p.k AND b.idx = p.idx
ORDER BY 1, 2, 3""",
    "ts_moving_avg" ->
      """SELECT series_name, ts, value,
                SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) OVER w / 1000000.0 / COUNT(*) OVER w AS moving_avg
         FROM (SELECT event_type AS series_name, ts, value, event_id FROM events WHERE event_type = 'signup')
         WINDOW w AS (PARTITION BY series_name ORDER BY ts, event_id ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)""",
    "ts_dedup_points" ->
      """SELECT event_type AS series_name, user_id, ts,
                arg_max(value, event_id) AS value,
                MAX(event_id) AS last_event_id,
                COUNT(*) AS n_writes
         FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3""",
    "ts_pattern_search" ->
      """WITH v AS (SELECT event_type AS series_name, user_id, ts, event_id,
                           CAST(FLOOR(value * 1000000) AS BIGINT) AS vm
                    FROM events WHERE value IS NOT NULL),
         w AS (SELECT series_name, user_id, ts,
                      list(vm) OVER (PARTITION BY series_name, user_id ORDER BY ts, event_id
                                     ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS win
               FROM v),
         d AS (SELECT series_name, user_id, ts,
                      CAST(list_sum(list_transform(generate_series(1, 8),
                             i -> CAST(win[i] - ([0, 500000, 1000000, 500000, 0, -500000, -1000000, -500000])[i] AS HUGEINT)
                                  * (win[i] - ([0, 500000, 1000000, 500000, 0, -500000, -1000000, -500000])[i]))) AS BIGINT) AS ssd_micro2
               FROM w WHERE len(win) = 8)
         SELECT series_name, user_id, ts, ssd_micro2 FROM d
         ORDER BY ssd_micro2, series_name, user_id, ts LIMIT 10""",
    "ts_counter_reset" ->
      """WITH pts AS (SELECT event_type AS series_name, user_id, ts, value, event_id,
                             lag(value) OVER (PARTITION BY event_type, user_id ORDER BY ts, event_id) AS prev_v
                      FROM events WHERE event_type = 'click'),
         d AS (SELECT series_name, user_id, ts, value, event_id,
                      CASE WHEN prev_v IS NOT NULL AND value < prev_v THEN prev_v ELSE 0.0 END AS drop_amt
               FROM pts)
         SELECT series_name, user_id, ts, value,
                value + SUM(CAST(FLOOR(drop_amt * 1000000) AS BIGINT)) OVER (PARTITION BY series_name, user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 1000000.0 AS counter_total
         FROM d""",
    "ts_autocorr" ->
      """WITH pts AS (SELECT event_type AS series_name, value,
                             lag(value, 1) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS lv
                      FROM events),
         s AS (SELECT series_name,
                      COUNT(*) AS n,
                      CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS DOUBLE) AS sx,
                      CAST(SUM(CAST(FLOOR(lv * 1000000) AS BIGINT)) AS DOUBLE) AS sy,
                      CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT) * CAST(FLOOR(lv * 1000000) AS BIGINT)) AS DOUBLE) AS sxy,
                      CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT) * CAST(FLOOR(value * 1000000) AS BIGINT)) AS DOUBLE) AS sxx,
                      CAST(SUM(CAST(FLOOR(lv * 1000000) AS BIGINT) * CAST(FLOOR(lv * 1000000) AS BIGINT)) AS DOUBLE) AS syy
               FROM pts WHERE lv IS NOT NULL GROUP BY 1)
         SELECT series_name, n,
                (CAST(n AS DOUBLE) * sxy - sx * sy) /
                sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)) AS r
         FROM s""",
    "ts_histogram" ->
      """WITH b AS (SELECT event_type AS series_name,
                           CAST(LEAST(GREATEST(FLOOR((value - 0.0) / 25.0), 0.0), 19.0) AS INTEGER) AS bin
                    FROM events)
         SELECT series_name, bin, 0.0 + CAST(bin AS DOUBLE) * 25.0 AS bin_lo, COUNT(*) AS n
         FROM b GROUP BY 1, 2""",
    "ts_cross_corr" ->
      """WITH hourly AS (SELECT date_trunc('hour', ts) AS hour, event_type AS series_name, COUNT(*) AS c FROM events GROUP BY 1, 2),
         j AS (SELECT a.c AS x, b.c AS y FROM hourly a JOIN hourly b ON a.hour = b.hour
               WHERE a.series_name = 'click' AND b.series_name = 'view'),
         s AS (SELECT COUNT(*) AS n,
                      CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
                      CAST(SUM(x * y) AS DOUBLE) AS sxy,
                      CAST(SUM(x * x) AS DOUBLE) AS sxx, CAST(SUM(y * y) AS DOUBLE) AS syy
               FROM j)
         SELECT n, (CAST(n AS DOUBLE) * sxy - sx * sy) /
                   sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)) AS r
         FROM s""",
    "emb_label_centroids" ->
      """WITH ex AS (SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS x FROM embeddings)
         SELECT label, CAST(pos AS BIGINT) AS pos, COUNT(*) AS n,
                SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000000) AS BIGINT)) / 1000000000.0 / CAST(COUNT(*) AS DOUBLE) AS centroid
         FROM ex GROUP BY 1, 2""",
    "ts_integral" ->
      """WITH pts AS (SELECT event_type AS series_name, value, ts, event_id,
                             lag(value) OVER w AS prev_v, lag(epoch_us(ts)) OVER w AS prev_us
                      FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
         terms AS (SELECT series_name,
                          (value + prev_v) / 2.0 * ((epoch_us(ts) - prev_us) / 1000000.0) AS term
                   FROM pts WHERE prev_v IS NOT NULL)
         SELECT series_name, COUNT(*) AS n_intervals,
                SUM(CAST(FLOOR(term * 1000000) AS BIGINT)) / 1000000.0 AS integral
         FROM terms GROUP BY 1""",
    "q_events_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS view_ts FROM events WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(e.ts) AS click_ts FROM events e JOIN v USING (user_id)
               WHERE e.event_type = 'click' AND e.ts > v.view_ts GROUP BY 1),
         p AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM events e JOIN c USING (user_id)
               WHERE e.event_type = 'purchase' AND e.ts > c.click_ts GROUP BY 1)
         SELECT u.user_id, v.view_ts, c.click_ts, p.purchase_ts,
                CASE WHEN p.purchase_ts IS NOT NULL THEN 3
                     WHEN c.click_ts IS NOT NULL THEN 2
                     WHEN v.view_ts IS NOT NULL THEN 1
                     ELSE 0 END AS stage
         FROM (SELECT DISTINCT user_id FROM events) u
         LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""",
    "q_events_retention" ->
      """WITH e AS (SELECT user_id, date_trunc('day', ts) AS day FROM events),
         cohorts AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
         activity AS (SELECT DISTINCT user_id, day FROM e)
         SELECT c.cohort_day, CAST(date_diff('day', c.cohort_day, a.day) AS INTEGER) AS day_offset,
                COUNT(DISTINCT a.user_id) AS n_users
         FROM activity a JOIN cohorts c USING (user_id)
         GROUP BY 1, 2""",
    "ts_asof_tolerance" ->
      """WITH clicks AS (SELECT user_id, ts, MAX(value) AS value FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         purchases AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
         j AS (SELECT p.user_id, p.ts, p.value, c.ts AS c_ts, c.value AS c_value
               FROM purchases p ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts)
         SELECT user_id, ts, value,
                CASE WHEN c_ts IS NOT NULL AND (epoch_us(ts) - epoch_us(c_ts)) / 1000000.0 <= 3600.0 THEN c_value END AS last_click_value
         FROM j""",
    "ts_gap_detect" ->
      """SELECT series_name, prev_ts, ts, gap_seconds FROM (
           SELECT event_type AS series_name,
                  lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev_ts, ts,
                  (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id))) / 1000000.0 AS gap_seconds
           FROM events)
         WHERE gap_seconds > 3600.0""",
    "q3_join" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
                ${exactSumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00' AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",
    "q5_multijoin" ->
      s"""SELECT n_name, ${exactSumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
           AND c_nationkey = s_nationkey AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
         GROUP BY n_name""",
    "q10_returns" ->
      s"""SELECT c_custkey, c_name, n_name, c_acctbal,
                ${exactSumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         FROM customer, orders, lineitem, nation
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND l_returnflag = 'R' AND c_nationkey = n_nationkey
         GROUP BY c_custkey, c_name, n_name, c_acctbal
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders) WHERE rk <= 3""",
    "q_events_sessionize" ->
      """WITH marked AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM marked)
         SELECT user_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end, COUNT(*) AS n_events
         FROM sess GROUP BY 1, 2""",
    "q_events_window_agg" ->
      s"""SELECT date_trunc('hour', ts) AS hour, event_type,
                COUNT(*) AS n, ${exactSumSql("value")} AS sum_value,
                COUNT(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1, 2""",
    "pipeline_clean_corpus" ->
      """WITH RECURSIVE w0 AS (
           SELECT doc_id, text, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w,
                  length(text) AS n_chars
           FROM documents),
         scored AS (
           SELECT doc_id, text, w,
                  CASE WHEN len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of', 'to'))) >= GREATEST(len(list_filter(w, t -> t IN ('der', 'die', 'und', 'das', 'ist'))), len(list_filter(w, t -> t IN ('el', 'la', 'los', 'es', 'y'))), len(list_filter(w, t -> t IN ('le', 'les', 'est', 'et', 'une'))), len(list_filter(w, t -> t IN ('de', 'shi', 'bu', 'le', 'wo')))) THEN 'en' ELSE 'other' END AS pred_lang,
                  0.3 * (FLOOR(CAST(len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE) * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0)
                  + 0.3 * (1.0 - FLOOR(CAST(n_chars - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) * 1000000.0 / GREATEST(n_chars, 1)) / 1000000.0)
                  + 0.4 * LEAST(CAST(len(w) AS DOUBLE) / 100.0, 1.0) AS quality_score
           FROM w0),
         kept AS (SELECT doc_id, text, w FROM scored WHERE quality_score > 0.45 AND pred_lang = 'en'),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
                FROM kept WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         pairs AS (SELECT doc_a, doc_b FROM inter
                   JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
                   WHERE i * 5 >= (na.n + nb.n - i) * 4),
         und AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         reach(a, b) AS (SELECT a, b FROM und UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
         dupes AS (SELECT a AS doc_id FROM reach GROUP BY a HAVING LEAST(a, MIN(b)) <> a),
         reps AS (SELECT doc_id, w FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dupes)),
         c AS (SELECT doc_id,
                 generate_series(0, CAST(GREATEST(CEIL((len(w) - 16) / CAST(48 AS DOUBLE)), 1) AS INT) - 1) AS ids,
                 list_transform(generate_series(0, CAST(GREATEST(CEIL((len(w) - 16) / CAST(48 AS DOUBLE)), 1) AS INT) - 1),
                                i -> array_to_string(list_slice(w, i * 48 + 1, i * 48 + 64), ' ')) AS chunks
               FROM reps)
         SELECT doc_id, CAST(UNNEST(ids) AS BIGINT) AS chunk_id, UNNEST(chunks) AS chunk_text,
                CAST(len(string_split(UNNEST(chunks), ' ')) AS BIGINT) AS n_words
         FROM c""",
    // the salted join result is exactly the plain join; the dim row per
    // key is unique by construction, so the join adds no rows and the
    // oracle aggregates directly
    "q_events_skew_join" ->
      s"""WITH f AS (SELECT CASE WHEN user_id % 4 = 0 THEN CAST(0 AS BIGINT) ELSE user_id END AS skew_uid, value
                     FROM events)
         SELECT CAST(skew_uid % 5 AS BIGINT) AS tier, COUNT(*) AS n_events, ${exactSumSql("value")} AS sum_value
         FROM f GROUP BY 1""",
    // the WAV round trip preserves exactly the header fields a decoder
    // recovers: frames = capped UTF-8 byte count of the payload
    "mm_resize" ->
      """WITH n AS (SELECT doc_id, LEAST(GREATEST(octet_length(encode(text)), 1), 4096) AS nb FROM documents),
         d AS (SELECT doc_id, CAST(CEIL(nb / 32.0) AS INT) AS h0 FROM n),
         f AS (SELECT doc_id, h0, GREATEST(2, CAST(CEIL(h0 / 16.0) AS INT)) AS fac FROM d)
         SELECT doc_id AS asset_id, 'png' AS format,
                CAST(CEIL(32.0 / fac) AS INT) AS width,
                CAST(CEIL(CAST(h0 AS DOUBLE) / fac) AS INT) AS height
         FROM f""",
    "mm_frames" ->
      """WITH n AS (SELECT doc_id, LEAST(GREATEST(octet_length(encode(text)), 1), 4096) AS nb FROM documents),
         fr AS (SELECT doc_id, CAST(CEIL(nb / 256.0) AS INT) AS nf FROM n)
         SELECT doc_id AS asset_id, CAST(UNNEST(range(0, nf, 2)) AS INT) AS frame_idx,
                16 AS width, 16 AS height
         FROM fr""",
    "mm_video_frames" ->
      """WITH n AS (SELECT doc_id, LEAST(GREATEST(octet_length(encode(text)), 1), 4096) AS nb FROM documents),
         fr AS (SELECT doc_id, CAST(CEIL(nb / 256.0) AS INT) AS nf FROM n)
         SELECT doc_id AS asset_id, CAST(UNNEST(range(0, nf, 2)) AS INT) AS frame_idx,
                16 AS width, 16 AS height
         FROM fr""",
    "mm_audio" ->
      """SELECT doc_id AS asset_id, 'PCM_SIGNED' AS encoding, 8000 AS sample_rate,
                1 AS channels, 16 AS sample_bits,
                CAST(LEAST(GREATEST(octet_length(encode(text)), 1), 16384) AS BIGINT) AS n_frames,
                round(CAST(LEAST(GREATEST(octet_length(encode(text)), 1), 16384) AS DOUBLE) / 8000.0, 6) AS duration_s
         FROM documents""",
    "mm_audio_ulaw" ->
      """SELECT doc_id AS asset_id, 'ULAW' AS encoding, 8000 AS sample_rate,
                1 AS channels, 8 AS sample_bits,
                CAST(LEAST(GREATEST(octet_length(encode(text)), 1), 16384) AS BIGINT) AS n_frames,
                round(CAST(LEAST(GREATEST(octet_length(encode(text)), 1), 16384) AS DOUBLE) / 8000.0, 6) AS duration_s
         FROM documents""",
    "dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
                MIN(doc_id) AS rep_id, COUNT(*) AS n_copies
         FROM documents GROUP BY 1""",
    "dedup_group_size_hist" ->
      """WITH g AS (SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
                           COUNT(*) AS n_copies
                    FROM documents GROUP BY 1)
         SELECT n_copies, COUNT(*) AS n_groups, CAST(SUM(n_copies) AS BIGINT) AS n_docs
         FROM g GROUP BY 1""",
    "dedup_ngram_jaccard" ->
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         w AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
                FROM w WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT doc_a, doc_b, i AS intersection, na.n + nb.n - i AS union_size
         FROM inter JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
         WHERE i * 5 >= (na.n + nb.n - i) * 4""",
    // prefix filtering only changes candidate generation — the exact
    // result set is the same, so the oracle is the same
    "dedup_jaccard_prefix" ->
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         w AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
                FROM w WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT doc_a, doc_b, i AS intersection, na.n + nb.n - i AS union_size
         FROM inter JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
         WHERE i * 5 >= (na.n + nb.n - i) * 4""",
    "dedup_soft_weights" ->
      """WITH f AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp FROM documents),
         c AS (SELECT fp, COUNT(*) AS n_copies FROM f GROUP BY 1)
         SELECT doc_id, fp, n_copies, 1000000 // n_copies AS weight_ppm
         FROM f JOIN c USING (fp)""",
    "corpus_length_histogram" ->
      """WITH w AS (SELECT lang AS stratum,
                           CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS nw
                    FROM documents),
         b AS (SELECT stratum, LEAST(CAST(FLOOR(CAST(nw AS DOUBLE) / 50) AS BIGINT), 19) AS bin, nw FROM w)
         SELECT stratum, bin, COUNT(*) AS n_docs, CAST(SUM(nw) AS BIGINT) AS total_words,
                bin * 50 AS bin_start_words
         FROM b GROUP BY 1, 2""",
    "corpus_source_overlap" ->
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         w AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
                FROM w WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         pairs AS (SELECT doc_a, doc_b, i, na.n + nb.n - i AS u
                   FROM inter JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
                   WHERE i * 5 >= (na.n + nb.n - i) * 4),
         lab AS (SELECT LEAST(da.source, db.source) AS source_a,
                        GREATEST(da.source, db.source) AS source_b, i, u
                 FROM pairs
                 JOIN documents da ON doc_a = da.doc_id
                 JOIN documents db ON doc_b = db.doc_id)
         SELECT source_a, source_b, COUNT(*) AS n_pairs,
                CAST(SUM((1000000 * i) // u) // COUNT(*) AS BIGINT) AS mean_jaccard_micro
         FROM lab GROUP BY 1, 2""",
    "dedup_minhash_verified" ->
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         w AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
                FROM w WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT doc_a, doc_b, i AS intersection, na.n + nb.n - i AS union_size
         FROM inter JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
         WHERE i * 5 >= (na.n + nb.n - i) * 4""",
    "dedup_embedding" ->
      """WITH norms AS (SELECT vec_id, list_sum(list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS n2 FROM embeddings)
         SELECT vec_a, vec_b, cosine FROM (
           SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                  CAST(list_sum(list_transform(generate_series(1, 64), i -> CAST(FLOOR(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE)
                    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           JOIN norms na ON na.vec_id = a.vec_id
           JOIN norms nb ON nb.vec_id = b.vec_id)
         WHERE cosine >= 0.35""",
    "dedup_groups" ->
      """WITH RECURSIVE norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         w AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
                FROM w WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         pairs AS (SELECT doc_a, doc_b FROM inter
                   JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
                   WHERE i * 5 >= (na.n + nb.n - i) * 4),
         und AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         reach(a, b) AS (SELECT a, b FROM und UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
         SELECT a AS doc_id, LEAST(a, MIN(b)) AS group_id FROM reach GROUP BY a""",
    "dedup_groups_star" ->
      """WITH RECURSIVE norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         w AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
                FROM w WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         pairs AS (SELECT doc_a, doc_b FROM inter
                   JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
                   WHERE i * 5 >= (na.n + nb.n - i) * 4),
         und AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         reach(a, b) AS (SELECT a, b FROM und UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
         SELECT a AS doc_id, LEAST(a, MIN(b)) AS group_id FROM reach GROUP BY a""",
    "ts_zscore_anomaly" ->
      """SELECT series_name, ts, value, z FROM (
           SELECT series_name, ts, value,
                  CASE WHEN sqrt(GREATEST(w_meansq - w_mean * w_mean, 0.0)) > 0
                       THEN (value - w_mean) / sqrt(GREATEST(w_meansq - w_mean * w_mean, 0.0)) END AS z
           FROM (
             SELECT series_name, ts, value,
                    SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) OVER w / 1000000.0 / COUNT(*) OVER w AS w_mean,
                    SUM(CAST(FLOOR(value * value * 1000000000) AS BIGINT)) OVER w / 1000000000.0 / COUNT(*) OVER w AS w_meansq
             FROM (SELECT event_type AS series_name, ts, value, event_id FROM events WHERE event_type = 'view')
             WINDOW w AS (PARTITION BY series_name ORDER BY ts, event_id ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)))
         WHERE abs(z) > 3.0""",
    "emb_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS query_label FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding AS ce, label AS neg_label FROM embeddings),
         norms AS (SELECT vec_id, list_sum(list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS n2 FROM embeddings),
         scored AS (
           SELECT q.query_id, q.query_label, c.neighbor_id, c.neg_label,
                  CAST(list_sum(list_transform(generate_series(1, 64), i -> CAST(FLOOR(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE)
                    / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
           FROM q JOIN c ON q.query_id <> c.neighbor_id AND q.query_label <> c.neg_label
           JOIN norms nq ON nq.vec_id = q.query_id
           JOIN norms nc ON nc.vec_id = c.neighbor_id)
         SELECT query_id, query_label, neighbor_id, neg_label, cosine, rk FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM scored)
         WHERE rk <= 10""",
    "emb_knn_label_noise" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label FROM embeddings),
         c AS (SELECT vec_id AS neighbor_id, embedding AS ce, label AS n_label FROM embeddings),
         norms AS (SELECT vec_id, list_sum(list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS n2 FROM embeddings),
         scored AS (
           SELECT q.query_id, q.label, c.neighbor_id, c.n_label,
                  CAST(list_sum(list_transform(generate_series(1, 64), i -> CAST(FLOOR(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE)
                    / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
           FROM q JOIN c ON q.query_id <> c.neighbor_id
           JOIN norms nq ON nq.vec_id = q.query_id
           JOIN norms nc ON nc.vec_id = c.neighbor_id),
         topk AS (SELECT query_id, label, n_label FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM scored)
           WHERE rk <= 10),
         agg AS (SELECT query_id, label,
                        CAST(SUM(CASE WHEN n_label = label THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
                        CAST(COUNT(*) AS BIGINT) AS n_nb
                 FROM topk GROUP BY 1, 2)
         SELECT query_id, label, n_same,
                (1000000 * n_same) // n_nb AS agree_ppm,
                (1000000 * n_same) // n_nb < 500000 AS suspect
         FROM agg""",
    // Lloyd-family oracles: the deterministic k-means trainer unrolls
    // into plain SQL stages (see LloydOracleSql), so every operator
    // that only consumes the learned cells hash-verifies end to end
    "sim_ivf_ann" -> LloydOracleSql.ivfAnn(k = 5, nProbe = 4),
    "emb_knn_label_noise_cells" -> LloydOracleSql.knnLabelNoiseCells(k = 10, minAgreePpm = 500000L, nProbe = 4),
    "emb_hard_negatives_ivf" -> LloydOracleSql.hardNegativesIvf(k = 10, nProbe = 4, queryPred = "v.vec_id < 5"),
    "emb_prototype_prune" -> LloydOracleSql.prototypePrune(pruneFrac = 0.3),
    "emb_cluster_balance" -> LloydOracleSql.clusterBalance(targetPerCell = 50L),
    "sim_pq_ann" -> LloydOracleSql.pqAnn(k = 5, m = 4, codebookSize = 16, rerankFactor = 10, nQueries = 20),
    "sim_ivfpq_ann" -> LloydOracleSql.ivfPqAnn(k = 5, m = 4, codebookSize = 16, rerankFactor = 10, nProbe = 4, nQueries = 20),
    "sim_pq_opq_ann" -> LloydOracleSql.pqOpqAnn(k = 5, m = 4, codebookSize = 16, rerankFactor = 10, nQueries = 20),
    "text_bpe" -> BpeOracleSql.tokenCounts(numMerges = 100, vocabCap = 2000),
    "text_bpe_merges" -> BpeOracleSql.merges(numMerges = 100, vocabCap = 2000),
    "sim_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
         norms AS (SELECT vec_id, list_sum(list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS n2 FROM embeddings),
         scored AS (
           SELECT q.query_id, c.neighbor_id,
                  CAST(list_sum(list_transform(generate_series(1, 64), i -> CAST(FLOOR(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE)
                    / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
           FROM q JOIN c ON q.query_id <> c.neighbor_id
           JOIN norms nq ON nq.vec_id = q.query_id
           JOIN norms nc ON nc.vec_id = c.neighbor_id)
         SELECT query_id, neighbor_id, cosine, rk FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM scored)
         WHERE rk <= 10""",
    "text_langid" ->
      """WITH w AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         sc AS (SELECT doc_id,
                  len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS s_en,
                  len(list_filter(w, t -> t IN ('der', 'die', 'und', 'das', 'ist'))) AS s_de,
                  len(list_filter(w, t -> t IN ('el', 'la', 'los', 'es', 'y'))) AS s_es,
                  len(list_filter(w, t -> t IN ('le', 'les', 'est', 'et', 'une'))) AS s_fr,
                  len(list_filter(w, t -> t IN ('de', 'shi', 'bu', 'le', 'wo'))) AS s_zh,
                  len(w) AS nw
                FROM w)
         SELECT doc_id,
                CASE WHEN s_en >= GREATEST(s_de, s_es, s_fr, s_zh) THEN 'en'
                     WHEN s_de >= GREATEST(s_es, s_fr, s_zh) THEN 'de'
                     WHEN s_es >= GREATEST(s_fr, s_zh) THEN 'es'
                     WHEN s_fr >= s_zh THEN 'fr'
                     ELSE 'zh' END AS pred_lang,
                FLOOR(CAST(GREATEST(s_en, s_de, s_es, s_fr, s_zh) AS DOUBLE) * 1000000.0 / GREATEST(nw, 1)) / 1000000.0 AS confidence
         FROM sc""",
    "corpus_lang_confusion" ->
      """WITH w AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         sc AS (SELECT doc_id,
                  len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS s_en,
                  len(list_filter(w, t -> t IN ('der', 'die', 'und', 'das', 'ist'))) AS s_de,
                  len(list_filter(w, t -> t IN ('el', 'la', 'los', 'es', 'y'))) AS s_es,
                  len(list_filter(w, t -> t IN ('le', 'les', 'est', 'et', 'une'))) AS s_fr,
                  len(list_filter(w, t -> t IN ('de', 'shi', 'bu', 'le', 'wo'))) AS s_zh
                FROM w),
         pred AS (SELECT doc_id,
                CASE WHEN s_en >= GREATEST(s_de, s_es, s_fr, s_zh) THEN 'en'
                     WHEN s_de >= GREATEST(s_es, s_fr, s_zh) THEN 'de'
                     WHEN s_es >= GREATEST(s_fr, s_zh) THEN 'es'
                     WHEN s_fr >= s_zh THEN 'fr'
                     ELSE 'zh' END AS pred_lang
                FROM sc)
         SELECT d.lang, pred.pred_lang, COUNT(*) AS n
         FROM pred JOIN documents d USING (doc_id)
         GROUP BY 1, 2""",
    "text_gopher" ->
      """WITH base AS (
           SELECT doc_id, text,
                  string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w,
                  string_split(text, chr(10)) AS ls
           FROM documents),
         feat AS (
           SELECT doc_id,
                  CAST(len(w) AS BIGINT) AS n_words,
                  FLOOR(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0 AS mean_word_len,
                  FLOOR(CAST((length(text) - length(replace(text, '#', '')))
                        + (length(text) - length(replace(text, '…', '')))
                        + FLOOR((length(text) - length(replace(text, '...', ''))) / 3) AS DOUBLE)
                        * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0 AS symbol_ratio,
                  FLOOR(CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE) * 1000000.0 / GREATEST(len(ls), 1)) / 1000000.0 AS bullet_line_ratio,
                  FLOOR(CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) AS DOUBLE) * 1000000.0 / GREATEST(len(ls), 1)) / 1000000.0 AS ellipsis_line_ratio,
                  FLOOR(CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0 AS alpha_word_ratio,
                  CAST(len(list_filter(['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'], s -> list_contains(w, s))) AS BIGINT) AS n_indicator_stops
           FROM base)
         SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_line_ratio,
                ellipsis_line_ratio, alpha_word_ratio, n_indicator_stops,
                n_words >= 20 AND n_words <= 100000 AS rule_word_count,
                mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS rule_word_len,
                alpha_word_ratio >= 0.8 AS rule_alpha,
                n_indicator_stops >= 2 AS rule_stops,
                (n_words >= 20 AND n_words <= 100000) AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                  AND symbol_ratio <= 0.1 AND bullet_line_ratio < 0.9 AND ellipsis_line_ratio < 0.3
                  AND alpha_word_ratio >= 0.8 AND n_indicator_stops >= 2 AS gopher_pass
         FROM feat""",
    "dedup_paragraph" ->
      """WITH w AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
         b AS (SELECT doc_id, CAST(i AS INT) AS blk,
                      array_to_string(ws[(i*10+1):((i+1)*10)], ' ') AS unit
               FROM w, UNNEST(range(0, CAST(CEIL(len(ws)/10.0) AS INT))) AS t(i)),
         k AS (SELECT doc_id, blk, unit,
                      row_number() OVER (PARTITION BY md5(unit) ORDER BY doc_id, blk) = 1 AS kept
               FROM b)
         SELECT doc_id, COUNT(*) AS n_blocks,
                COUNT(*) FILTER (WHERE kept) AS n_kept,
                CASE WHEN COUNT(*) FILTER (WHERE kept) > 0
                     THEN string_agg(unit, ' ' ORDER BY blk) FILTER (WHERE kept) END AS clean_text
         FROM k GROUP BY doc_id""",
    "text_quality" ->
      """WITH base AS (
           SELECT doc_id, text,
                  length(text) AS n_chars,
                  string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
           FROM documents),
         feat AS (
           SELECT doc_id, n_chars, len(w) AS n_words,
                  FLOOR(CAST(length(array_to_string(w, '')) AS DOUBLE) * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0 AS avg_word_len,
                  FLOOR(CAST(n_chars - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) * 1000000.0 / GREATEST(n_chars, 1)) / 1000000.0 AS digit_ratio,
                  FLOOR(CAST(n_chars - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) * 1000000.0 / GREATEST(n_chars, 1)) / 1000000.0 AS punct_ratio,
                  FLOOR(CAST(len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE) * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0 AS stopword_ratio
           FROM base)
         SELECT doc_id, n_chars, n_words, avg_word_len, digit_ratio, punct_ratio, stopword_ratio,
                0.3 * stopword_ratio + 0.3 * (1.0 - punct_ratio) + 0.4 * LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) AS quality_score
         FROM feat""",
    "text_tokens" ->
      """SELECT doc_id,
                len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS ws_tokens,
                len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS regex_tokens
         FROM documents""",
    "text_chunk" ->
      """WITH w AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         c AS (SELECT doc_id,
                 generate_series(0, CAST(GREATEST(CEIL((len(w) - 16) / CAST(48 AS DOUBLE)), 1) AS INT) - 1) AS ids,
                 list_transform(generate_series(0, CAST(GREATEST(CEIL((len(w) - 16) / CAST(48 AS DOUBLE)), 1) AS INT) - 1),
                                i -> array_to_string(list_slice(w, i * 48 + 1, i * 48 + 64), ' ')) AS chunks
               FROM w)
         SELECT doc_id, CAST(UNNEST(ids) AS BIGINT) AS chunk_id, UNNEST(chunks) AS chunk_text,
                CAST(len(string_split(UNNEST(chunks), ' ')) AS BIGINT) AS n_words
         FROM c""",
    "text_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         grams AS (
           SELECT doc_id,
                  CASE WHEN len(w) >= 3 THEN list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [] END AS tri,
                  CASE WHEN len(w) >= 2 THEN list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1]) ELSE [] END AS bi
           FROM w),
         dup AS (
           SELECT doc_id,
                  CASE WHEN len(tri) > 0
                       THEN FLOOR((len(tri) - len(list_distinct(tri))) * 1000000.0 / len(tri)) / 1000000.0
                       ELSE 0.0 END AS dup_trigram_frac,
                  bi
           FROM grams),
         bic AS (
           SELECT doc_id, UNNEST(bi) AS bigram FROM dup),
         top AS (
           SELECT doc_id, MAX(cnt) AS top_cnt, SUM(cnt) AS n_bi
           FROM (SELECT doc_id, bigram, COUNT(*) AS cnt FROM bic GROUP BY 1, 2) GROUP BY 1)
         SELECT d.doc_id, d.dup_trigram_frac,
                COALESCE(FLOOR(t.top_cnt * 1000000.0 / t.n_bi) / 1000000.0, 0.0) AS top_bigram_frac
         FROM dup d LEFT JOIN top t ON d.doc_id = t.doc_id""",
    "text_pack" ->
      """WITH w AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         c AS (SELECT doc_id,
                 generate_series(0, CAST(GREATEST(CEIL((len(w) - 16) / CAST(48 AS DOUBLE)), 1) AS INT) - 1) AS ids,
                 list_transform(generate_series(0, CAST(GREATEST(CEIL((len(w) - 16) / CAST(48 AS DOUBLE)), 1) AS INT) - 1),
                                i -> array_to_string(list_slice(w, i * 48 + 1, i * 48 + 64), ' ')) AS chunks
               FROM w),
         chunked AS (
           SELECT doc_id, CAST(UNNEST(ids) AS BIGINT) AS chunk_id, UNNEST(chunks) AS chunk_text,
                  CAST(len(string_split(UNNEST(chunks), ' ')) AS BIGINT) AS n_words
           FROM c),
         offsets AS (
           SELECT doc_id, chunk_id, chunk_text, n_words,
                  COALESCE(SUM(n_words) OVER (PARTITION BY doc_id ORDER BY chunk_id
                                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS wb
           FROM chunked)
         SELECT doc_id, CAST(FLOOR(wb / 256.0) AS BIGINT) AS seq_id,
                COUNT(*) AS n_chunks, CAST(SUM(n_words) AS BIGINT) AS n_words,
                string_agg(chunk_text, ' ' ORDER BY chunk_id) AS seq_text
         FROM offsets GROUP BY 1, 2""",
    "text_fingerprint" ->
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         hashes AS (SELECT doc_id,
                     list_transform(generate_series(1, GREATEST(length(t) - 7, 1)), i -> substr(md5(substr(t, i, 8)), 1, 8)) AS hs
                    FROM norm),
         wins AS (SELECT doc_id,
                    list_distinct(list_transform(generate_series(1, GREATEST(len(hs) - 3, 1)), j -> list_aggregate(list_slice(hs, j, j + 3), 'min'))) AS fps
                  FROM hashes)
         SELECT doc_id, unnest(fps) AS fp FROM wins""",
    "pipeline_order_corpus" ->
      """WITH base AS (
           SELECT doc_id, lang, text, length(text) AS n_chars,
                  string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
           FROM documents),
         feat AS (
           SELECT doc_id, lang, text, w, len(w) AS n_words,
                  FLOOR(CAST(n_chars - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) * 1000000.0 / GREATEST(n_chars, 1)) / 1000000.0 AS punct_ratio,
                  FLOOR(CAST(len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE) * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0 AS stopword_ratio
           FROM base),
         kept AS (
           SELECT doc_id, lang, text, w FROM feat
           WHERE 0.3 * stopword_ratio + 0.3 * (1.0 - punct_ratio) + 0.4 * LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) > 0.45),
         reps AS (
           SELECT MIN(doc_id) AS doc_id
           FROM (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp FROM kept)
           GROUP BY fp),
         d AS (SELECT k.doc_id, k.lang AS stratum, CAST(COALESCE(len(k.w), 0) AS BIGINT) AS difficulty
               FROM kept k JOIN reps USING (doc_id)),
         r AS (SELECT doc_id, stratum, difficulty,
                      CAST(row_number() OVER (PARTITION BY stratum ORDER BY difficulty, doc_id) AS BIGINT) AS rank_in_stratum
               FROM d)
         SELECT doc_id, stratum, difficulty, rank_in_stratum,
                CAST(CASE stratum WHEN 'en' THEN 500000 WHEN 'zh' THEN 200000 WHEN 'es' THEN 150000 ELSE 100000 END AS BIGINT) AS weight_ppm,
                CAST(rank_in_stratum * (1000000000000
                     // CAST(CASE stratum WHEN 'en' THEN 500000 WHEN 'zh' THEN 200000 WHEN 'es' THEN 150000 ELSE 100000 END AS BIGINT))
                     AS BIGINT) AS vt
         FROM r""",
    "pipeline_curate" ->
      """WITH scrub AS (
           SELECT doc_id,
                  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
                    'https?://[^ \t\n\x0B\f\r]+', '<URL>', 'g'),
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS text
           FROM documents),
         base AS (
           SELECT doc_id, text, length(text) AS n_chars,
                  string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
           FROM scrub),
         feat AS (
           SELECT doc_id, w, len(w) AS n_words,
                  FLOOR(CAST(n_chars - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) * 1000000.0 / GREATEST(n_chars, 1)) / 1000000.0 AS punct_ratio,
                  FLOOR(CAST(len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE) * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0 AS stopword_ratio
           FROM base),
         kept AS (
           SELECT doc_id, w FROM feat
           WHERE 0.3 * stopword_ratio + 0.3 * (1.0 - punct_ratio) + 0.4 * LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) > 0.45),
         bnorm AS (
           SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
           FROM documents WHERE doc_id % 20 = 0),
         bench AS (
           SELECT DISTINCT unnest(list_distinct(list_transform(generate_series(1, len(w) - 4),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS s
           FROM bnorm WHERE len(w) >= 5),
         csh AS (
           SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 4),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS s
           FROM kept WHERE doc_id % 20 <> 0 AND len(w) >= 5),
         contaminated AS (SELECT DISTINCT a.doc_id FROM csh a JOIN bench b ON a.s = b.s)
         SELECT k.doc_id,
                CASE WHEN substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7','8','9','a','b','c','d') THEN 'train'
                     WHEN substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 1) = 'e' THEN 'val'
                     ELSE 'test' END AS split
         FROM kept k
         WHERE k.doc_id % 20 <> 0 AND k.doc_id NOT IN (SELECT doc_id FROM contaminated)""",
    "pipeline_train_export" ->
      """WITH scrub AS (
           SELECT doc_id,
                  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
                    'https?://[^ \t\n\x0B\f\r]+', '<URL>', 'g'),
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS text
           FROM documents),
         base AS (
           SELECT doc_id, text, length(text) AS n_chars,
                  string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
           FROM scrub),
         feat AS (
           SELECT doc_id, w, len(w) AS n_words,
                  FLOOR(CAST(n_chars - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) * 1000000.0 / GREATEST(n_chars, 1)) / 1000000.0 AS punct_ratio,
                  FLOOR(CAST(len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE) * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0 AS stopword_ratio
           FROM base),
         kept AS (
           SELECT doc_id, w FROM feat
           WHERE 0.3 * stopword_ratio + 0.3 * (1.0 - punct_ratio) + 0.4 * LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) > 0.45),
         bnorm AS (
           SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
           FROM documents WHERE doc_id % 20 = 0),
         bench AS (
           SELECT DISTINCT unnest(list_distinct(list_transform(generate_series(1, len(w) - 4),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS s
           FROM bnorm WHERE len(w) >= 5),
         csh AS (
           SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 4),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS s
           FROM kept WHERE doc_id % 20 <> 0 AND len(w) >= 5),
         contaminated AS (SELECT DISTINCT a.doc_id FROM csh a JOIN bench b ON a.s = b.s),
         train AS (
           SELECT k.doc_id, d.lang, k.w
           FROM kept k JOIN documents d USING (doc_id)
           WHERE k.doc_id % 20 <> 0 AND k.doc_id NOT IN (SELECT doc_id FROM contaminated)
             AND substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7','8','9','a','b','c','d')),
         counts AS (SELECT lang AS stratum, CAST(SUM(len(w)) AS BIGINT) AS tokens FROM train GROUP BY 1),
         tgt AS (SELECT * FROM (VALUES ('de', 0.25), ('en', 0.5), ('zh', 0.25)) AS t(stratum, target_share)),
         j AS (SELECT c.stratum, tokens, target_share FROM counts c LEFT JOIN tgt USING (stratum)),
         ts AS (SELECT MIN(CAST(tokens AS DOUBLE) / target_share) AS t_star FROM j WHERE target_share IS NOT NULL),
         plan AS (SELECT stratum,
                         CASE WHEN target_share IS NOT NULL AND CAST(tokens AS DOUBLE) / target_share <= t_star THEN 1000000
                              WHEN target_share IS NOT NULL THEN LEAST(1000000, CAST(FLOOR(1e6 * target_share * t_star / CAST(tokens AS DOUBLE)) AS BIGINT)) ELSE 0 END AS ppm
                  FROM j CROSS JOIN ts),
         mixed AS (SELECT t.doc_id, t.lang, t.w FROM train t JOIN plan p ON t.lang = p.stratum
                   WHERE p.ppm >= 1000000
                      OR substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 8) < printf('%08x', CAST(FLOOR(CAST(p.ppm AS DOUBLE) / 1e6 * 4294967296) AS BIGINT))),
         sched0 AS (SELECT doc_id, lang AS stratum, CAST(COALESCE(len(w), 0) AS BIGINT) AS difficulty FROM mixed),
         r AS (SELECT doc_id, stratum, difficulty,
                      CAST(row_number() OVER (PARTITION BY stratum ORDER BY difficulty, doc_id) AS BIGINT) AS rank_in_stratum
               FROM sched0),
         sched AS (SELECT doc_id, stratum, difficulty,
                          CAST(rank_in_stratum * (1000000000000
                               // CAST(CASE stratum WHEN 'en' THEN 500000 WHEN 'zh' THEN 200000 WHEN 'es' THEN 150000 ELSE 100000 END AS BIGINT))
                               AS BIGINT) AS vt
                   FROM r),
         h AS (SELECT doc_id, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8)) AS BIGINT) AS hv FROM mixed),
         shards AS (SELECT doc_id, hv % 8 AS shard,
                           CAST(ROW_NUMBER() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS BIGINT) AS pos
                    FROM h)
         SELECT s.doc_id, s.stratum, s.difficulty, s.vt, sh.shard, sh.pos
         FROM sched s JOIN shards sh USING (doc_id)""",
    "text_topk_ngrams" ->
      """WITH norm AS (SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         w AS (SELECT string_split(t, ' ') AS w FROM norm),
         g AS (SELECT unnest(list_transform(generate_series(1, len(w) - 2),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ngram
               FROM w WHERE len(w) >= 3)
         SELECT ngram, COUNT(*) AS cnt FROM g GROUP BY 1
         ORDER BY cnt DESC, ngram LIMIT 20""",
    "text_blocklist" ->
      """WITH w AS (SELECT doc_id,
                           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                    FROM documents)
         SELECT doc_id,
                CAST(len(list_intersect(list_distinct(w), ['slow', 'broken', 'spill'])) AS BIGINT) AS n_distinct_hits,
                CAST(len(list_filter(w, x -> list_contains(['slow', 'broken', 'spill'], x))) AS BIGINT) AS n_hits,
                CAST(len(list_filter(w, x -> list_contains(['slow', 'broken', 'spill'], x))) AS BIGINT) >= 3 AS blocked
         FROM w""",
    "text_encoding_quality" ->
      """SELECT doc_id,
                CAST(length(text) AS BIGINT) AS n_chars,
                CAST(len(regexp_extract_all(text, '�')) AS BIGINT) AS n_replacement,
                CAST(len(regexp_extract_all(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]')) AS BIGINT) AS n_control,
                CASE WHEN length(text) = 0 THEN 0
                     ELSE (1000000 * (CAST(len(regexp_extract_all(text, '�')) AS BIGINT)
                           + CAST(len(regexp_extract_all(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]')) AS BIGINT)))
                          // CAST(length(text) AS BIGINT) END AS junk_ppm
         FROM documents""",
    "text_unicode_norm" ->
      """SELECT doc_id,
                nfc_normalize(text) AS text_nfc,
                strip_accents(nfc_normalize(text)) AS text_folded,
                strip_accents(nfc_normalize(text)) <> text AS changed
         FROM documents""",
    "text_ngram_novelty" ->
      """WITH norm AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         g AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 2),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS g
               FROM norm WHERE len(w) >= 3),
         dfq AS (SELECT g, COUNT(*) AS gdf FROM g GROUP BY 1)
         SELECT doc_id, COUNT(*) AS n_ngrams,
                CAST(SUM(CASE WHEN gdf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                CAST((1000000 * SUM(CASE WHEN gdf = 1 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS novelty_ppm
         FROM g JOIN dfq USING (g)
         GROUP BY 1""",
    "text_heavy_ngrams" ->
      """WITH norm AS (SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         w AS (SELECT string_split(t, ' ') AS w FROM norm),
         g AS (SELECT unnest(list_transform(generate_series(1, len(w) - 2),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ngram
               FROM w WHERE len(w) >= 3)
         SELECT ngram, COUNT(*) AS cnt FROM g GROUP BY 1 HAVING COUNT(*) >= 5
         ORDER BY cnt DESC, ngram LIMIT 20""",
    "text_hash_split" ->
      """SELECT doc_id,
                CASE WHEN doc_id IS NULL THEN NULL
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7','8','9','a','b','c','d') THEN 'train'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'e' THEN 'val'
                     ELSE 'test' END AS split
         FROM documents""",
    "corpus_stats" ->
      """WITH b AS (SELECT lang AS stratum,
                           CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS nw,
                           CAST(length(text) AS BIGINT) AS nc
                    FROM documents)
         SELECT stratum, COUNT(*) AS n_docs,
                CAST(SUM(nw) AS BIGINT) AS total_words,
                CAST(SUM(nc) AS BIGINT) AS total_chars,
                quantile_cont(nc, 0.5) AS p50_chars,
                quantile_cont(nc, 0.95) AS p95_chars
         FROM b GROUP BY 1""",
    "corpus_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
         WHERE CASE WHEN lang = 'en' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
                    WHEN lang = 'zh' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
                    ELSE TRUE END""",
    "text_word_rarity" ->
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         toks AS (SELECT doc_id, w FROM (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM norm) WHERE w <> ''),
         freq AS (SELECT w, COUNT(*) AS cf FROM toks GROUP BY 1)
         SELECT doc_id, COUNT(*) AS n_words,
                CAST(SUM(cf) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_word_freq,
                CAST(SUM(CASE WHEN cf <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS rare_ratio
         FROM toks JOIN freq USING (w)
         GROUP BY 1""",
    "text_bigram_lm" ->
      """WITH norm AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         bgl AS (SELECT doc_id, unnest(generate_series(1, len(w) - 1)) AS i, w FROM norm WHERE len(w) >= 2),
         bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM bgl),
         cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
         c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
         v AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT w1 AS w FROM bg UNION ALL SELECT w2 AS w FROM bg)),
         sc AS (SELECT bg.doc_id,
                       CAST(FLOOR(1e12 * (CAST(cb.cb + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE))) AS BIGINT) AS p
                FROM bg JOIN cb USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
         SELECT doc_id, COUNT(*) AS n_bigrams,
                FLOOR(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1e6 AS lm_prob_ppm
         FROM sc GROUP BY 1""",
    "text_lm_gate" ->
      """WITH norm AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         bgl AS (SELECT doc_id, unnest(generate_series(1, len(w) - 1)) AS i, w FROM norm WHERE len(w) >= 2),
         bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM bgl),
         cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
         c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
         v AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT w1 AS w FROM bg UNION ALL SELECT w2 AS w FROM bg)),
         sc AS (SELECT bg.doc_id,
                       CAST(FLOOR(1e12 * (CAST(cb.cb + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE))) AS BIGINT) AS p
                FROM bg JOIN cb USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
         scores AS (SELECT doc_id, COUNT(*) AS n_bigrams,
                           FLOOR(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1e6 AS lm_prob_ppm
                    FROM sc GROUP BY 1),
         hist AS (SELECT CAST(FLOOR(lm_prob_ppm) AS BIGINT) AS b, COUNT(*) AS n FROM scores GROUP BY 1),
         k AS (SELECT FLOOR(SUM(n) * 0.2) AS k FROM hist),
         cum AS (SELECT b, SUM(n) OVER (ORDER BY b) AS cum FROM hist),
         thr AS (SELECT MAX(b) AS t FROM cum CROSS JOIN k WHERE cum <= k)
         SELECT doc_id, n_bigrams, lm_prob_ppm
         FROM scores CROSS JOIN thr WHERE CAST(FLOOR(lm_prob_ppm) AS BIGINT) > COALESCE(t, -1)""",
    "text_lm_score_ref" ->
      """WITH norm AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         bgl AS (SELECT doc_id, unnest(generate_series(1, len(w) - 1)) AS i, w FROM norm WHERE len(w) >= 2),
         bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM bgl),
         bgr AS (SELECT bg.* FROM bg JOIN documents USING (doc_id) WHERE documents.lang = 'en'),
         cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bgr GROUP BY 1, 2),
         c1 AS (SELECT w1, COUNT(*) AS c1 FROM bgr GROUP BY 1),
         v AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT w1 AS w FROM bgr UNION ALL SELECT w2 AS w FROM bgr)),
         sc AS (SELECT bg.doc_id,
                       CAST(FLOOR(1e12 * (CAST(COALESCE(cb.cb, 0) + 1 AS DOUBLE) / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE))) AS BIGINT) AS p
                FROM bg LEFT JOIN cb ON bg.w1 = cb.w1 AND bg.w2 = cb.w2
                        LEFT JOIN c1 ON bg.w1 = c1.w1 CROSS JOIN v)
         SELECT doc_id, COUNT(*) AS n_bigrams,
                FLOOR(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1e6 AS lm_prob_ppm
         FROM sc GROUP BY 1""",
    "text_lm_kn" ->
      """WITH norm AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         bgl AS (SELECT doc_id, unnest(generate_series(1, len(w) - 1)) AS i, w FROM norm WHERE len(w) >= 2),
         bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM bgl),
         cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
         cbk AS (SELECT w1, w2, cb FROM cb WHERE cb >= 2),
         c1 AS (SELECT w1, SUM(cb) AS c1,
                       COUNT(*) FILTER (WHERE cb >= 2) AS nkept,
                       COALESCE(SUM(cb) FILTER (WHERE cb < 2), 0) AS cpr
                FROM cb GROUP BY 1),
         ct AS (SELECT w2, COUNT(*) AS cont FROM cbk GROUP BY 1),
         nt AS (SELECT GREATEST(COUNT(*), 1) AS ntot FROM cbk),
         sc AS (SELECT bg.doc_id,
                       CAST(FLOOR(1e12 * (GREATEST(CAST(COALESCE(cbk.cb, 0) AS DOUBLE) - 0.75, 0.0) / CAST(c1.c1 AS DOUBLE)
                            + ((0.75 * CAST(c1.nkept AS DOUBLE) + CAST(c1.cpr AS DOUBLE)) / CAST(c1.c1 AS DOUBLE)) * (CAST(COALESCE(ct.cont, 0) AS DOUBLE) / CAST(nt.ntot AS DOUBLE)))) AS BIGINT) AS p
                FROM bg LEFT JOIN cbk ON bg.w1 = cbk.w1 AND bg.w2 = cbk.w2
                        JOIN c1 ON bg.w1 = c1.w1
                        LEFT JOIN ct ON bg.w2 = ct.w2
                        CROSS JOIN nt)
         SELECT doc_id, COUNT(*) AS n_bigrams,
                FLOOR(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1e6 AS kn_prob_ppm
         FROM sc GROUP BY 1""",
    "text_lm_gate_kn" ->
      """WITH norm AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         bgl AS (SELECT doc_id, unnest(generate_series(1, len(w) - 1)) AS i, w FROM norm WHERE len(w) >= 2),
         bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM bgl),
         cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
         cbk AS (SELECT w1, w2, cb FROM cb WHERE cb >= 2),
         c1 AS (SELECT w1, SUM(cb) AS c1,
                       COUNT(*) FILTER (WHERE cb >= 2) AS nkept,
                       COALESCE(SUM(cb) FILTER (WHERE cb < 2), 0) AS cpr
                FROM cb GROUP BY 1),
         ct AS (SELECT w2, COUNT(*) AS cont FROM cbk GROUP BY 1),
         nt AS (SELECT GREATEST(COUNT(*), 1) AS ntot FROM cbk),
         sc AS (SELECT bg.doc_id,
                       CAST(FLOOR(1e12 * (GREATEST(CAST(COALESCE(cbk.cb, 0) AS DOUBLE) - 0.75, 0.0) / CAST(c1.c1 AS DOUBLE)
                            + ((0.75 * CAST(c1.nkept AS DOUBLE) + CAST(c1.cpr AS DOUBLE)) / CAST(c1.c1 AS DOUBLE)) * (CAST(COALESCE(ct.cont, 0) AS DOUBLE) / CAST(nt.ntot AS DOUBLE)))) AS BIGINT) AS p
                FROM bg LEFT JOIN cbk ON bg.w1 = cbk.w1 AND bg.w2 = cbk.w2
                        JOIN c1 ON bg.w1 = c1.w1
                        LEFT JOIN ct ON bg.w2 = ct.w2
                        CROSS JOIN nt),
         scores AS (SELECT doc_id, COUNT(*) AS n_bigrams,
                           FLOOR(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1e6 AS kn_prob_ppm
                    FROM sc GROUP BY 1),
         hist AS (SELECT CAST(FLOOR(kn_prob_ppm) AS BIGINT) AS b, COUNT(*) AS n FROM scores GROUP BY 1),
         k AS (SELECT FLOOR(SUM(n) * 0.2) AS k FROM hist),
         cum AS (SELECT b, SUM(n) OVER (ORDER BY b) AS cum FROM hist),
         thr AS (SELECT MAX(b) AS t FROM cum CROSS JOIN k WHERE cum <= k)
         SELECT doc_id, n_bigrams, kn_prob_ppm
         FROM scores CROSS JOIN thr WHERE CAST(FLOOR(kn_prob_ppm) AS BIGINT) > COALESCE(t, -1)""",
    "corpus_shuffle_shards" ->
      """WITH h AS (SELECT doc_id,
                           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8)) AS BIGINT) AS hv
                    FROM documents)
         SELECT doc_id, hv % 8 AS shard,
                CAST(ROW_NUMBER() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS BIGINT) AS pos
         FROM h""",
    "corpus_shard_export" ->
      """WITH h AS (SELECT doc_id,
                           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8)) AS BIGINT) AS hv
                    FROM documents),
         p AS (SELECT doc_id, hv % 8 AS shard,
                      CAST(ROW_NUMBER() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS BIGINT) AS pos
               FROM h)
         SELECT shard, COUNT(*) AS n_docs, MAX(pos) AS last_pos,
                arg_min(doc_id, pos) AS first_doc, arg_max(doc_id, pos) AS last_doc
         FROM p GROUP BY 1""",
    "pipeline_ccnet" ->
      """WITH reps AS (SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
                              MIN(doc_id) AS rep_id, MIN(text) AS t, COUNT(*) AS n_copies
                       FROM documents GROUP BY 1),
         lw AS (SELECT rep_id, fp, n_copies, t,
                       string_split(trim(regexp_replace(lower(t), '\s+', ' ', 'g')), ' ') AS w
                FROM reps),
         lid AS (SELECT rep_id, fp, n_copies, t, w,
                  len(list_filter(w, x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS s_en,
                  len(list_filter(w, x -> x IN ('der', 'die', 'und', 'das', 'ist'))) AS s_de,
                  len(list_filter(w, x -> x IN ('el', 'la', 'los', 'es', 'y'))) AS s_es,
                  len(list_filter(w, x -> x IN ('le', 'les', 'est', 'et', 'une'))) AS s_fr,
                  len(list_filter(w, x -> x IN ('de', 'shi', 'bu', 'le', 'wo'))) AS s_zh
                 FROM lw),
         inlang AS (SELECT rep_id, fp, n_copies, w FROM lid
                    WHERE CASE WHEN s_en >= GREATEST(s_de, s_es, s_fr, s_zh) THEN 'en'
                               WHEN s_de >= GREATEST(s_es, s_fr, s_zh) THEN 'de'
                               WHEN s_es >= GREATEST(s_fr, s_zh) THEN 'es'
                               WHEN s_fr >= s_zh THEN 'fr'
                               ELSE 'zh' END = 'en'),
         bgl AS (SELECT rep_id, unnest(generate_series(1, len(w) - 1)) AS i, w FROM inlang WHERE len(w) >= 2),
         bg AS (SELECT rep_id, w[i] AS w1, w[i + 1] AS w2 FROM bgl),
         cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
         c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
         v AS (SELECT COUNT(DISTINCT x) AS v FROM (SELECT w1 AS x FROM bg UNION ALL SELECT w2 AS x FROM bg)),
         sc AS (SELECT bg.rep_id,
                       CAST(FLOOR(1e12 * (CAST(cb.cb + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE))) AS BIGINT) AS p
                FROM bg JOIN cb USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
         scores AS (SELECT rep_id, COUNT(*) AS n_bigrams,
                           FLOOR(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1e6 AS lm_prob_ppm
                    FROM sc GROUP BY 1),
         hist AS (SELECT CAST(FLOOR(lm_prob_ppm) AS BIGINT) AS b, COUNT(*) AS n FROM scores GROUP BY 1),
         k AS (SELECT FLOOR(SUM(n) * 0.1) AS k FROM hist),
         cum AS (SELECT b, SUM(n) OVER (ORDER BY b) AS cum FROM hist),
         thr AS (SELECT MAX(b) AS t FROM cum CROSS JOIN k WHERE cum <= k)
         SELECT s.rep_id, i.fp, i.n_copies, s.n_bigrams, s.lm_prob_ppm
         FROM scores s CROSS JOIN thr JOIN inlang i ON s.rep_id = i.rep_id
         WHERE CAST(FLOOR(s.lm_prob_ppm) AS BIGINT) > COALESCE(thr.t, -1)""",
    "text_bm25" ->
      """WITH base AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         tf AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
                       CAST(len(list_filter(w, x -> x = 'spark')) AS BIGINT) AS tf_0,
                       CAST(len(list_filter(w, x -> x = 'join')) AS BIGINT) AS tf_1,
                       CAST(len(list_filter(w, x -> x = 'scan')) AS BIGINT) AS tf_2
                FROM base),
         stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl,
                          CAST(SUM(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_0,
                          CAST(SUM(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_1,
                          CAST(SUM(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_2
                   FROM tf),
         sc AS (SELECT doc_id,
                 (CASE WHEN tf_0 > 0 THEN CAST(FLOOR(1e6 * ROUND(LN((CAST(n_docs AS DOUBLE) - df_0 + 0.5) / (df_0 + 0.5) + 1.0), 6) * (CAST(tf_0 AS DOUBLE) * 2.2) / (CAST(tf_0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))) AS BIGINT) ELSE 0 END
                + CASE WHEN tf_1 > 0 THEN CAST(FLOOR(1e6 * ROUND(LN((CAST(n_docs AS DOUBLE) - df_1 + 0.5) / (df_1 + 0.5) + 1.0), 6) * (CAST(tf_1 AS DOUBLE) * 2.2) / (CAST(tf_1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))) AS BIGINT) ELSE 0 END
                + CASE WHEN tf_2 > 0 THEN CAST(FLOOR(1e6 * ROUND(LN((CAST(n_docs AS DOUBLE) - df_2 + 0.5) / (df_2 + 0.5) + 1.0), 6) * (CAST(tf_2 AS DOUBLE) * 2.2) / (CAST(tf_2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))) AS BIGINT) ELSE 0 END) AS s
                FROM tf CROSS JOIN stats)
         SELECT doc_id, CAST(s AS DOUBLE) / 1e6 AS bm25 FROM sc WHERE s > 0""",
    "corpus_mixture_plan" ->
      """WITH norm AS (SELECT lang, len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS nw FROM documents),
         counts AS (SELECT lang AS stratum, COUNT(*) AS n_docs, CAST(SUM(nw) AS BIGINT) AS tokens FROM norm GROUP BY 1),
         tgt AS (SELECT * FROM (VALUES ('de', 0.25), ('en', 0.5), ('zh', 0.25)) AS t(stratum, target_share)),
         j AS (SELECT c.stratum, n_docs, tokens, target_share FROM counts c LEFT JOIN tgt USING (stratum)),
         ts AS (SELECT MIN(CAST(tokens AS DOUBLE) / target_share) AS t_star FROM j WHERE target_share IS NOT NULL)
         SELECT stratum, n_docs, tokens,
                CASE WHEN target_share IS NOT NULL AND CAST(tokens AS DOUBLE) / target_share <= t_star THEN 1000000
                     WHEN target_share IS NOT NULL THEN LEAST(1000000, CAST(FLOOR(1e6 * target_share * t_star / CAST(tokens AS DOUBLE)) AS BIGINT)) ELSE 0 END AS keep_rate_ppm,
                CASE WHEN target_share IS NOT NULL AND CAST(tokens AS DOUBLE) / target_share <= t_star THEN tokens
                     WHEN target_share IS NOT NULL THEN CAST(FLOOR(target_share * t_star) AS BIGINT) ELSE 0 END AS planned_tokens
         FROM j CROSS JOIN ts""",
    "corpus_mixture_temperature" ->
      """WITH norm AS (SELECT lang, len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS nw FROM documents),
         counts AS (SELECT lang AS stratum, COUNT(*) AS n_docs, CAST(SUM(nw) AS BIGINT) AS tokens FROM norm GROUP BY 1),
         r AS (SELECT *, CAST(FLOOR(sqrt(CAST(tokens AS DOUBLE)) * 1e6) AS BIGINT) AS rt_ppm FROM counts),
         tot AS (SELECT SUM(rt_ppm) AS total FROM r),
         sh AS (SELECT stratum, n_docs, tokens,
                       CAST(rt_ppm AS DOUBLE) / CAST(total AS DOUBLE) AS target_share
                FROM r CROSS JOIN tot),
         ts AS (SELECT MIN(CAST(tokens AS DOUBLE) / target_share) AS t_star FROM sh)
         SELECT stratum, n_docs, tokens, target_share,
                CASE WHEN CAST(tokens AS DOUBLE) / target_share <= t_star THEN 1000000
                     ELSE LEAST(1000000, CAST(FLOOR(1e6 * target_share * t_star / CAST(tokens AS DOUBLE)) AS BIGINT)) END AS keep_rate_ppm,
                CASE WHEN CAST(tokens AS DOUBLE) / target_share <= t_star THEN tokens
                     ELSE CAST(FLOOR(target_share * t_star) AS BIGINT) END AS planned_tokens
         FROM sh CROSS JOIN ts""",
    "corpus_mixture_apply" ->
      """WITH norm AS (SELECT lang, len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS nw FROM documents),
         counts AS (SELECT lang AS stratum, COUNT(*) AS n_docs, CAST(SUM(nw) AS BIGINT) AS tokens FROM norm GROUP BY 1),
         tgt AS (SELECT * FROM (VALUES ('de', 0.25), ('en', 0.5), ('zh', 0.25)) AS t(stratum, target_share)),
         j AS (SELECT c.stratum, tokens, target_share FROM counts c LEFT JOIN tgt USING (stratum)),
         ts AS (SELECT MIN(CAST(tokens AS DOUBLE) / target_share) AS t_star FROM j WHERE target_share IS NOT NULL),
         plan AS (SELECT stratum,
                         CASE WHEN target_share IS NOT NULL AND CAST(tokens AS DOUBLE) / target_share <= t_star THEN 1000000
                              WHEN target_share IS NOT NULL THEN LEAST(1000000, CAST(FLOOR(1e6 * target_share * t_star / CAST(tokens AS DOUBLE)) AS BIGINT)) ELSE 0 END AS ppm
                  FROM j CROSS JOIN ts)
         SELECT d.doc_id, d.lang FROM documents d JOIN plan p ON d.lang = p.stratum
         WHERE p.ppm >= 1000000
            OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < printf('%08x', CAST(FLOOR(CAST(p.ppm AS DOUBLE) / 1e6 * 4294967296) AS BIGINT))""",
    "corpus_lexical_diversity" ->
      """WITH toks AS (SELECT lang AS stratum, w
                       FROM (SELECT lang, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w FROM documents)
                       WHERE w <> ''),
         wc AS (SELECT stratum, w, COUNT(*) AS cnt FROM toks GROUP BY 1, 2)
         SELECT stratum, COUNT(*) AS vocab, CAST(SUM(cnt) AS BIGINT) AS tokens,
                CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
                CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS type_token_ratio,
                CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS hapax_ratio
         FROM wc GROUP BY 1""",
    "corpus_token_fertility" ->
      """WITH t AS (SELECT lang,
                CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS w,
                CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS tk,
                CAST(length(text) AS BIGINT) AS c
           FROM documents)
         SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(w) AS BIGINT) AS n_words,
                CAST(SUM(tk) AS BIGINT) AS n_tokens,
                CAST(SUM(c) AS BIGINT) AS n_chars,
                (1000000 * CAST(SUM(tk) AS BIGINT)) // CAST(SUM(w) AS BIGINT) AS tokens_per_word_ppm,
                (1000000 * CAST(SUM(c) AS BIGINT)) // CAST(SUM(tk) AS BIGINT) AS chars_per_token_ppm
         FROM t GROUP BY 1""",
    "corpus_skyline" ->
      """WITH base AS (SELECT doc_id, text, length(text) AS n_chars,
                              string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                       FROM documents),
         s AS (SELECT doc_id,
                      CAST(FLOOR(1000000.0 * (
                        0.3 * (FLOOR(CAST(len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE) * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0)
                        + 0.3 * (1.0 - FLOOR(CAST(n_chars - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) * 1000000.0 / GREATEST(n_chars, 1)) / 1000000.0)
                        + 0.4 * LEAST(CAST(len(w) AS DOUBLE) / 100.0, 1.0))) AS BIGINT) AS quality_ppm,
                      CAST(len(w) AS BIGINT) AS n_words
               FROM base)
         SELECT a.doc_id, a.quality_ppm, a.n_words FROM s a
         WHERE a.quality_ppm IS NOT NULL AND a.n_words IS NOT NULL
           AND NOT EXISTS (SELECT 1 FROM s b
                           WHERE b.quality_ppm >= a.quality_ppm AND b.n_words >= a.n_words
                             AND (b.quality_ppm > a.quality_ppm OR b.n_words > a.n_words))""",
    "corpus_novelty_curve" ->
      """WITH b AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
                           doc_id // 100 AS batch
                    FROM documents),
         f AS (SELECT fp, MIN(batch) AS batch FROM b GROUP BY 1),
         nf AS (SELECT batch, COUNT(*) AS n_new_fps FROM f GROUP BY 1),
         sz AS (SELECT batch, COUNT(*) AS n_docs FROM b GROUP BY 1)
         SELECT sz.batch, sz.n_docs, COALESCE(nf.n_new_fps, 0) AS n_new_fps,
                CAST(1000000 * COALESCE(nf.n_new_fps, 0) // sz.n_docs AS BIGINT) AS novelty_ppm
         FROM sz LEFT JOIN nf USING (batch)""",
    "corpus_curriculum" ->
      """WITH d AS (SELECT doc_id, lang AS stratum,
                CAST(COALESCE(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')), 0) AS BIGINT) AS difficulty
           FROM documents),
         r AS (SELECT doc_id, stratum, difficulty,
                      CAST(row_number() OVER (PARTITION BY stratum ORDER BY difficulty, doc_id) AS BIGINT) AS rank_in_stratum
               FROM d)
         SELECT doc_id, stratum, difficulty, rank_in_stratum,
                CAST(CASE stratum WHEN 'en' THEN 500000 WHEN 'zh' THEN 200000 WHEN 'es' THEN 150000 ELSE 100000 END AS BIGINT) AS weight_ppm,
                CAST(rank_in_stratum * (1000000000000
                     // CAST(CASE stratum WHEN 'en' THEN 500000 WHEN 'zh' THEN 200000 WHEN 'es' THEN 150000 ELSE 100000 END AS BIGINT))
                     AS BIGINT) AS vt
         FROM r""",
    "corpus_curriculum_epoch" ->
      """WITH d AS (SELECT doc_id, lang AS stratum,
                CAST(COALESCE(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')), 0) AS BIGINT) AS difficulty
           FROM documents),
         r AS (SELECT doc_id, stratum, difficulty,
                      CAST(row_number() OVER (PARTITION BY stratum
                             ORDER BY difficulty, md5(concat_ws('#', CAST(doc_id AS VARCHAR), '7')), doc_id) AS BIGINT) AS rank_in_stratum
               FROM d)
         SELECT doc_id, stratum, difficulty, rank_in_stratum,
                CAST(CASE stratum WHEN 'en' THEN 500000 WHEN 'zh' THEN 200000 WHEN 'es' THEN 150000 ELSE 100000 END AS BIGINT) AS weight_ppm,
                CAST(rank_in_stratum * (1000000000000
                     // CAST(CASE stratum WHEN 'en' THEN 500000 WHEN 'zh' THEN 200000 WHEN 'es' THEN 150000 ELSE 100000 END AS BIGINT))
                     AS BIGINT) AS vt
         FROM r""",
    "dedup_minhash_bandplan" ->
      """WITH cfg AS (SELECT CAST(b AS BIGINT) AS bands, CAST(128 // b AS BIGINT) AS rows_per_band
                      FROM range(1, 129) t(b) WHERE 128 % b = 0),
         sc AS (SELECT bands, rows_per_band,
                       CAST(round(1000000 * pow(1.0 / bands, 1.0 / rows_per_band), 0) AS BIGINT) AS t_hat_ppm,
                       CAST(round(1000000 * (1 - pow(1 - pow(0.5, rows_per_band), bands)), 0) AS BIGINT) AS p_catch_50_ppm,
                       CAST(round(1000000 * (1 - pow(1 - pow(0.7, rows_per_band), bands)), 0) AS BIGINT) AS p_catch_70_ppm,
                       CAST(round(1000000 * (1 - pow(1 - pow(0.9, rows_per_band), bands)), 0) AS BIGINT) AS p_catch_90_ppm
                FROM cfg)
         SELECT bands, rows_per_band, t_hat_ppm, p_catch_50_ppm, p_catch_70_ppm, p_catch_90_ppm,
                row_number() OVER (ORDER BY abs(t_hat_ppm - 500000), bands) = 1 AS chosen
         FROM sc""",
    "corpus_dsir_select" ->
      """WITH w AS (
           SELECT doc_id, (lang = 'en') AS t,
                  unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
           FROM documents),
         pb AS (SELECT doc_id, t, substr(md5(w), 1, 2) AS b, COUNT(*) AS c FROM w GROUP BY 1, 2, 3),
         st AS (SELECT b,
                       SUM(CASE WHEN t THEN c ELSE 0 END) AS ct,
                       SUM(CASE WHEN NOT t THEN c ELSE 0 END) AS cr
                FROM pb GROUP BY 1),
         rt AS (SELECT b,
                       CAST(FLOOR(ROUND(LN( (CAST(ct + 1 AS DOUBLE) / CAST(tt + 256 AS DOUBLE)) /
                                            (CAST(cr + 1 AS DOUBLE) / CAST(tr + 256 AS DOUBLE)) ), 6) * 1e6) AS BIGINT) AS lr_ppm
                FROM (SELECT b, ct, cr, SUM(ct) OVER () AS tt, SUM(cr) OVER () AS tr FROM st)),
         sc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words, CAST(SUM(c * lr_ppm) AS BIGINT) AS dsir_ppm
                FROM pb JOIN rt USING (b) WHERE NOT t GROUP BY 1)
         SELECT doc_id, n_words, dsir_ppm,
                dsir_ppm + CAST(FLOOR(ROUND(-LN(-LN((CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)), 6) * 1e6) AS BIGINT) >= 1000000 AS keep
         FROM sc""",
    "text_word_entropy" ->
      """WITH w0 AS (SELECT doc_id,
                           unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
                    FROM documents),
         w AS (SELECT * FROM w0 WHERE w <> ''),
         cnt AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2),
         agg AS (SELECT doc_id,
                        CAST(SUM(c) AS BIGINT) AS n_words,
                        COUNT(*) AS vocab,
                        CAST(SUM(c * CAST(FLOOR(ROUND(LN(CAST(c AS DOUBLE)), 6) * 1e6) AS BIGINT)) AS BIGINT) AS s
                 FROM cnt GROUP BY 1)
         SELECT doc_id, n_words, CAST(vocab AS BIGINT) AS vocab,
                CAST(FLOOR(ROUND(LN(CAST(n_words AS DOUBLE)), 6) * 1e6) AS BIGINT)
                  - CAST(FLOOR(CAST(s AS DOUBLE) / CAST(n_words AS DOUBLE)) AS BIGINT) AS entropy_ppm
         FROM agg""",
    "corpus_vocab_overlap" ->
      """WITH vw0 AS (SELECT DISTINCT lang AS stratum,
                            unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
                     FROM documents),
         vw AS (SELECT * FROM vw0 WHERE w <> ''),
         sizes AS (SELECT stratum, COUNT(*) AS vocab FROM vw GROUP BY 1),
         inter AS (SELECT a.stratum AS stratum_a, b.stratum AS stratum_b, COUNT(*) AS n_common
                   FROM vw a JOIN vw b USING (w)
                   WHERE a.stratum < b.stratum
                   GROUP BY 1, 2)
         SELECT stratum_a, stratum_b,
                CAST(n_common AS BIGINT) AS n_common,
                CAST(sa.vocab + sb.vocab - n_common AS BIGINT) AS n_union,
                (1000000 * CAST(n_common AS BIGINT)) // CAST(sa.vocab + sb.vocab - n_common AS BIGINT) AS jaccard_ppm
         FROM inter
         JOIN sizes sa ON sa.stratum = inter.stratum_a
         JOIN sizes sb ON sb.stratum = inter.stratum_b""",
    "corpus_dsir_by_source" ->
      """WITH w AS (
           SELECT doc_id, (lang = 'en') AS t,
                  unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
           FROM documents),
         pb AS (SELECT doc_id, t, substr(md5(w), 1, 2) AS b, COUNT(*) AS c FROM w GROUP BY 1, 2, 3),
         st AS (SELECT b,
                       SUM(CASE WHEN t THEN c ELSE 0 END) AS ct,
                       SUM(CASE WHEN NOT t THEN c ELSE 0 END) AS cr
                FROM pb GROUP BY 1),
         rt AS (SELECT b,
                       CAST(FLOOR(ROUND(LN( (CAST(ct + 1 AS DOUBLE) / CAST(tt + 256 AS DOUBLE)) /
                                            (CAST(cr + 1 AS DOUBLE) / CAST(tr + 256 AS DOUBLE)) ), 6) * 1e6) AS BIGINT) AS lr_ppm
                FROM (SELECT b, ct, cr, SUM(ct) OVER () AS tt, SUM(cr) OVER () AS tr FROM st)),
         sc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words, CAST(SUM(c * lr_ppm) AS BIGINT) AS dsir_ppm
                FROM pb JOIN rt USING (b) WHERE NOT t GROUP BY 1),
         sel AS (SELECT doc_id, n_words, dsir_ppm,
                        dsir_ppm + CAST(FLOOR(ROUND(-LN(-LN((CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)), 6) * 1e6) AS BIGINT) >= 1000000 AS keep
                 FROM sc)
         SELECT d.source,
                COUNT(*) AS n_docs,
                CAST(SUM(sel.n_words) AS BIGINT) AS n_words,
                CAST(SUM(sel.dsir_ppm) AS BIGINT) AS sum_dsir_ppm,
                CAST(SUM(CASE WHEN sel.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(FLOOR(CAST(SUM(sel.dsir_ppm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS mean_dsir_ppm
         FROM sel JOIN documents d USING (doc_id)
         GROUP BY 1""",
    "corpus_domain_stats" ->
      """WITH d AS (SELECT source, lang, CAST(length(text) AS BIGINT) AS nc,
                           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
                    FROM documents)
         SELECT source, COUNT(*) AS n_docs, CAST(SUM(nc) AS BIGINT) AS total_chars,
                COUNT(DISTINCT lang) AS n_langs,
                COUNT(*) - COUNT(DISTINCT fp) AS n_dup_docs
         FROM d GROUP BY 1""",
    "corpus_datacard" ->
      """WITH base AS (
           SELECT source, lang, text,
                  length(text) AS n_chars,
                  string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w,
                  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
           FROM documents),
         feat AS (
           SELECT source, lang, fp,
                  CAST(n_chars AS BIGINT) AS n_chars,
                  CAST(len(w) AS BIGINT) AS n_words,
                  0.3 * (FLOOR(CAST(len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE) * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0)
                  + 0.3 * (1.0 - FLOOR(CAST(n_chars - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) * 1000000.0 / GREATEST(n_chars, 1)) / 1000000.0)
                  + 0.4 * LEAST(CAST(len(w) AS DOUBLE) / 100.0, 1.0) AS q
           FROM base),
         src AS (
           SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs,
                  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                  CAST(SUM(n_words) AS BIGINT) AS total_words,
                  COUNT(*) - COUNT(DISTINCT fp) AS n_dup_docs,
                  CAST(SUM(CAST(FLOOR(q * 1000000.0) AS BIGINT)) AS BIGINT) AS qsum
           FROM feat GROUP BY 1),
         tot AS (SELECT CAST(SUM(total_words) AS BIGINT) AS corpus_words FROM src)
         SELECT source, n_docs, n_langs, total_chars, total_words, n_dup_docs,
                (1000000 * n_dup_docs) // n_docs AS dup_ppm,
                (1000000 * total_words) // corpus_words AS token_share_ppm,
                qsum // n_docs AS mean_quality_micro
         FROM src, tot""",
    "dedup_priority" ->
      """WITH f AS (SELECT doc_id, source, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp FROM documents),
         r AS (SELECT doc_id, source, fp,
                      CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS n_copies,
                      row_number() OVER (PARTITION BY fp
                        ORDER BY CASE WHEN source = 'src1' THEN 0 WHEN source = 'src2' THEN 1 ELSE 2147483647 END, doc_id) AS rn
               FROM f)
         SELECT doc_id, source, fp, n_copies FROM r WHERE rn = 1""",
    "dedup_incremental" ->
      """WITH fp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp FROM documents),
         batch AS (SELECT doc_id, fp FROM fp WHERE doc_id % 10 = 0),
         corpus AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 10 <> 0)
         SELECT doc_id, fp FROM (
           SELECT b.doc_id, b.fp, row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
           FROM batch b ANTI JOIN corpus c USING (fp))
         WHERE rn = 1""",
    "dedup_incremental_bloom" ->
      """WITH fp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp FROM documents),
         batch AS (SELECT doc_id, fp FROM fp WHERE doc_id % 10 = 0),
         corpus AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 10 <> 0)
         SELECT doc_id, fp FROM (
           SELECT b.doc_id, b.fp, row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
           FROM batch b ANTI JOIN corpus c USING (fp))
         WHERE rn = 1""",
    "dedup_substring" ->
      """WITH w AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         g AS (SELECT doc_id,
                      CAST(UNNEST(generate_series(1, len(w) - 9)) AS BIGINT) AS strt,
                      UNNEST(list_transform(generate_series(1, len(w) - 9), i -> array_to_string(list_slice(w, i, i + 9), ' '))) AS gram
               FROM w WHERE len(w) >= 10),
         dup AS (SELECT gram FROM g GROUP BY 1 HAVING COUNT(*) > 1),
         m AS (SELECT doc_id, strt, strt + 9 AS en FROM g JOIN dup USING (gram)),
         mm AS (SELECT doc_id, strt, en,
                       MAX(en) OVER (PARTITION BY doc_id ORDER BY strt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
                FROM m),
         isl AS (SELECT doc_id, strt, en,
                        SUM(CASE WHEN pmax IS NULL OR strt > pmax + 1 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY strt) AS island
                 FROM mm)
         SELECT doc_id, MIN(strt) AS span_start, MAX(en) AS span_end,
                MAX(en) - MIN(strt) + 1 AS span_words
         FROM isl GROUP BY doc_id, island""",
    "dedup_substring_scrub" ->
      """WITH nw AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         g AS (SELECT doc_id,
                      CAST(UNNEST(generate_series(1, len(w) - 9)) AS BIGINT) AS strt,
                      UNNEST(list_transform(generate_series(1, len(w) - 9), i -> array_to_string(list_slice(w, i, i + 9), ' '))) AS gram
               FROM nw WHERE len(w) >= 10),
         dup AS (SELECT gram FROM g GROUP BY 1 HAVING COUNT(*) > 1),
         m AS (SELECT doc_id, strt, strt + 9 AS en FROM g JOIN dup USING (gram)),
         mm AS (SELECT doc_id, strt, en,
                       MAX(en) OVER (PARTITION BY doc_id ORDER BY strt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
                FROM m),
         isl AS (SELECT doc_id, strt, en,
                        SUM(CASE WHEN pmax IS NULL OR strt > pmax + 1 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY strt) AS island
                 FROM mm),
         spans AS (SELECT doc_id, MIN(strt) AS s, MAX(en) AS e FROM isl GROUP BY doc_id, island),
         wp AS (SELECT doc_id, unnest(generate_series(1, len(w))) AS i, w FROM nw),
         words AS (SELECT doc_id, i, w[i] AS word FROM wp),
         kept AS (SELECT wd.doc_id, wd.i, wd.word
                  FROM words wd
                  WHERE NOT EXISTS (SELECT 1 FROM spans sp WHERE sp.doc_id = wd.doc_id AND wd.i BETWEEN sp.s AND sp.e)),
         agg AS (SELECT doc_id, string_agg(word, ' ' ORDER BY i) AS clean_text, COUNT(*) AS n_kept FROM kept GROUP BY 1)
         SELECT nw.doc_id, COALESCE(agg.clean_text, '') AS clean_text,
                CAST(len(nw.w) AS BIGINT) AS n_words,
                CAST(len(nw.w) - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed_words
         FROM nw LEFT JOIN agg USING (doc_id)""",
    "dedup_winnow" ->
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         hashes AS (SELECT doc_id,
                     list_transform(generate_series(1, GREATEST(length(t) - 7, 1)), i -> substr(md5(substr(t, i, 8)), 1, 8)) AS hs
                    FROM norm),
         f AS (SELECT doc_id,
                 unnest(list_distinct(list_transform(generate_series(1, GREATEST(len(hs) - 3, 1)), j -> list_aggregate(list_slice(hs, j, j + 3), 'min')))) AS fp
               FROM hashes),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fp
                   FROM f a JOIN f b USING (fp) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         sz AS (SELECT doc_id, COUNT(*) AS n FROM f GROUP BY 1)
         SELECT doc_a, doc_b, shared_fp, sa.n + sb.n - shared_fp AS union_fp,
                round(CAST(shared_fp AS DOUBLE) / (sa.n + sb.n - shared_fp), 6) AS winnow_sim
         FROM pairs JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
         WHERE shared_fp * 2 >= sa.n + sb.n - shared_fp""",
    "dedup_substring_char" ->
      """WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         g AS (SELECT doc_id,
                      CAST(UNNEST(generate_series(1, len(t) - 19)) AS BIGINT) AS strt,
                      UNNEST(list_transform(generate_series(1, len(t) - 19), i -> substr(t, i, 20))) AS gram
               FROM n WHERE len(t) >= 20),
         dup AS (SELECT gram FROM g GROUP BY 1 HAVING COUNT(*) > 1),
         m AS (SELECT doc_id, strt, strt + 19 AS en FROM g JOIN dup USING (gram)),
         mm AS (SELECT doc_id, strt, en,
                       MAX(en) OVER (PARTITION BY doc_id ORDER BY strt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
                FROM m),
         isl AS (SELECT doc_id, strt, en,
                        SUM(CASE WHEN pmax IS NULL OR strt > pmax + 1 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY strt) AS island
                 FROM mm)
         SELECT doc_id, MIN(strt) AS span_start, MAX(en) AS span_end,
                MAX(en) - MIN(strt) + 1 AS span_chars
         FROM isl GROUP BY doc_id, island""",
    "dedup_substring_char_scrub" ->
      """WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         g AS (SELECT doc_id,
                      CAST(UNNEST(generate_series(1, len(t) - 19)) AS BIGINT) AS strt,
                      UNNEST(list_transform(generate_series(1, len(t) - 19), i -> substr(t, i, 20))) AS gram
               FROM n WHERE len(t) >= 20),
         dup AS (SELECT gram FROM g GROUP BY 1 HAVING COUNT(*) > 1),
         m AS (SELECT doc_id, strt, strt + 19 AS en FROM g JOIN dup USING (gram)),
         mm AS (SELECT doc_id, strt, en,
                       MAX(en) OVER (PARTITION BY doc_id ORDER BY strt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
                FROM m),
         isl AS (SELECT doc_id, strt, en,
                        SUM(CASE WHEN pmax IS NULL OR strt > pmax + 1 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY strt) AS island
                 FROM mm),
         spans AS (SELECT doc_id, MIN(strt) AS s, MAX(en) AS e FROM isl GROUP BY doc_id, island),
         seq AS (SELECT doc_id, s, e, LAG(e) OVER (PARTITION BY doc_id ORDER BY s) AS pe FROM spans),
         gaps AS (SELECT doc_id, COALESCE(pe + 1, 1) AS gs, s - 1 AS ge FROM seq
                  UNION ALL
                  SELECT spans.doc_id, MAX(spans.e) + 1 AS gs, MAX(len(n.t)) AS ge
                  FROM spans JOIN n USING (doc_id) GROUP BY 1),
         kept AS (SELECT gaps.doc_id, gs, substr(n.t, CAST(gs AS INT), CAST(ge - gs + 1 AS INT)) AS seg
                  FROM gaps JOIN n USING (doc_id) WHERE ge >= gs),
         agg AS (SELECT doc_id, string_agg(seg, '' ORDER BY gs) AS ct FROM kept GROUP BY 1),
         sd AS (SELECT DISTINCT doc_id FROM spans)
         SELECT n.doc_id,
                CASE WHEN sd.doc_id IS NULL THEN n.t ELSE COALESCE(agg.ct, '') END AS clean_text,
                CAST(len(n.t) AS BIGINT) AS n_chars,
                CAST(len(n.t) - len(CASE WHEN sd.doc_id IS NULL THEN n.t ELSE COALESCE(agg.ct, '') END) AS BIGINT) AS n_removed_chars
         FROM n LEFT JOIN sd ON n.doc_id = sd.doc_id LEFT JOIN agg ON n.doc_id = agg.doc_id""",
    "dedup_cdc_chunks" ->
      """WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         b AS (SELECT doc_id, t, len(t) AS nl,
                      list_filter(generate_series(16, len(t)),
                                  i -> substr(md5(substr(t, i - 15, 16)), 1, 1) = '0') AS bounds
               FROM n WHERE len(t) >= 16),
         z AS (SELECT doc_id, t,
                      list_prepend(1, list_transform(bounds, x -> x + 1)) AS starts,
                      list_append(bounds, nl) AS ends
               FROM b),
         u AS (SELECT doc_id, t,
                      CAST(UNNEST(starts) AS BIGINT) AS s,
                      CAST(UNNEST(ends) AS BIGINT) AS e
               FROM z),
         c AS (SELECT doc_id, s, e, md5(substr(t, s, e - s + 1)) AS fp FROM u WHERE s <= e),
         f AS (SELECT fp, COUNT(*) AS n_copies FROM c GROUP BY 1)
         SELECT doc_id, s AS span_start, e AS span_end, e - s + 1 AS span_chars, n_copies
         FROM c JOIN f USING (fp) WHERE n_copies > 1""",
    "emb_dim_stats" ->
      """WITH d AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS x,
                           generate_subscripts(embedding, 1) AS i
                    FROM embeddings),
         a AS (SELECT CAST(i - 1 AS INT) AS pos, COUNT(*) AS n,
                      CAST(SUM(CAST(FLOOR(x * 1e9) AS BIGINT)) AS BIGINT) AS sum_nano,
                      CAST(SUM(CAST(FLOOR(x * x * 1e9) AS BIGINT)) AS BIGINT) AS sumsq_nano,
                      MIN(x) AS min_val, MAX(x) AS max_val
               FROM d GROUP BY 1)
         SELECT pos, CAST(n AS BIGINT) AS n, sum_nano, sumsq_nano, min_val, max_val,
                CAST(FLOOR(CAST(sum_nano AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS mean_nano
         FROM a""",
    "embedding_quantize" ->
      """WITH d AS (SELECT UNNEST(embedding) AS x, UNNEST(generate_series(1, len(embedding))) AS i FROM embeddings),
         s AS (SELECT i, MAX(ABS(x)) AS mx FROM d GROUP BY 1),
         sc AS (SELECT list(mx ORDER BY i) AS scales FROM s)
         SELECT vec_id,
                CAST(UNNEST(generate_series(1, len(embedding))) - 1 AS BIGINT) AS dim,
                UNNEST(list_transform(generate_series(1, len(embedding)),
                       j -> CASE WHEN scales[j] = 0
                                 THEN 0
                                 ELSE CAST(FLOOR(CAST(embedding[j] AS DOUBLE) * 127.0 / CAST(scales[j] AS DOUBLE) + 0.5) AS INT) END)) AS q
         FROM embeddings, sc""",
    "text_decontaminate" ->
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         w AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 4),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS s
                FROM w WHERE len(w) >= 5),
         bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
         hits AS (SELECT a.doc_id, COUNT(*) AS n_hits
                  FROM sh a JOIN bench b ON a.s = b.s WHERE a.doc_id % 20 <> 0 GROUP BY 1)
         SELECT d.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
                COALESCE(h.n_hits, 0) > 0 AS contaminated
         FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
         LEFT JOIN hits h ON d.doc_id = h.doc_id""",
    "text_scrub" ->
      """SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
                  'https?://[^ \t\n\x0B\f\r]+', '<URL>', 'g'),
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                  '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS clean_text,
                CAST(len(regexp_extract_all(text, 'https?://[^ \t\n\x0B\f\r]+')) AS BIGINT) AS n_url,
                CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
                CAST(len(regexp_extract_all(text, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS BIGINT) AS n_phone
         FROM documents""",
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
                ${exactSumSql("l_quantity")} AS sum_qty,
                ${exactSumSql("l_extendedprice")} AS sum_base_price,
                ${exactSumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
                ${exactSumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
                ${exactSumSql("l_quantity")} / COUNT(*) AS avg_qty,
                COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",
  )

  /** Named reason for every `queries` entry that has NO `oracleSql`
    * row — why it cannot be replayed in DuckDB (rather than a generic
    * "no oracle"). The verify dump ships these next to oracle_sql.json
    * so the correctness artifact can carry the reason per row; each of
    * these operators is covered by ScalaTest property/parity specs
    * instead. Keys here and in `oracleSql` must partition `queries`.
    */
  def noOracleReasons: Map[String, String] = Map(
    "ts_approx_stats" -> "HLL/KLL sketch values (engine-specific); bounds certified by ts_approx_stats_certified",
    "dedup_minhash" -> "xxhash64 signature bands (engine-specific hash)",
    "dedup_simhash" -> "xxhash64 feature hashing (engine-specific hash)",
    "dedup_embedding_lsh" -> "xxhash64-seeded random hyperplanes (engine-specific hash)",
    "dedup_semantic" -> "xxhash64-seeded hyperplane bands (engine-specific hash)",
    "sim_lsh_ann" -> "xxhash64-seeded hyperplane buckets (engine-specific hash)",
    "ts_simulator_noise" -> "xxhash64-seeded Box-Muller draws (engine-specific hash)",
    "ts_simulator_step" -> "xxhash64-seeded per-day random-walk fold (engine-specific hash)",
    "sim_pq_opqr_ann" -> "driver-side SVD/Procrustes rotation (iterative libm linear algebra)",
    "emb_pca" -> "driver-side cyclic Jacobi eigensolve (iterative libm linear algebra)",
    "text_quality_lr" -> "gradient-descent training with libm exp (no cross-engine float contract)",
    "text_unigram" -> "EM training with StrictMath log/exp (no cross-engine float contract)",
    "text_zlib_ratio" -> "JVM Deflater byte stream (zlib level/strategy is implementation-defined)",
    "mm_pipeline" -> "JVM ImageIO codec bytes (encoder output is implementation-defined)",
    "mm_phash" -> "JVM codec decode + DCT floats (implementation-defined)",
    "mm_audio_fp" -> "JVM codec decode + FFT floats (implementation-defined)",
  )
}
