package graft
package queries

import java.sql.Timestamp

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.model.SeriesDictionary
import graft.operators.{Downsample, TimeSeriesOps}
import graft.sources.{ConfiguredSource, Inspect, MetadataConfig, MetadataSource, Simulators, SourceConfig}

import QueryFixtures._

/** Time-series queries: kukur's provider model (search, data, plot,
  * structure), the resample, quality and signal operators over the
  * canonical events frame, and reads through every source layout.
  */
object TsQueries {
  /** Oracle of `ts_get_data_multi`, `ts_interval_chunks`. */
  private val GetDataMultiSql =
      """SELECT event_type AS series_name, user_id, ts, value FROM events
         WHERE event_type IN ('click', 'error')
           AND ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'"""

  /** Oracle of `ts_simulator_sine`, `ts_simulator_v2`. */
  private val SineSql =
      """SELECT CAST(TIMESTAMP '1970-01-01 00:00:00' + INTERVAL (us) MICROSECOND AS TIMESTAMP) AS ts,
                round(10.0 * sin(2 * pi() * (us / 1000000.0 + 3600.0) / 86400.0) + 50.0, 6) AS value
         FROM (SELECT 1704672000000000 + 60000000 * g AS us
               FROM generate_series(0, CAST((1705276800000000 - 1704672000000000) / 60000000 AS BIGINT)) AS t(g))"""

  // A10: stepped resample onto a 1h grid
  private val resampleStepped = QuerySpec("ts_resample_stepped", { (s, dir) =>
      ntz(
        TimeSeriesOps.resampleStepped(
          evRange(s, dir, new Timestamp(0L), End).select(col("series_name"), col("ts"), col("value")),
          Seq("series_name"), Start, End, stepSeconds = 3600L)
      )
    }, Oracle(
      """WITH data AS (
           SELECT event_type AS series_name, ts, MAX(value) AS value FROM events
           WHERE ts < TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1, 2),
         grid AS (
           SELECT s.series_name, g.ts
           FROM (SELECT DISTINCT event_type AS series_name FROM events) s
           CROSS JOIN generate_series(TIMESTAMP '2024-01-08 00:00:00', TIMESTAMP '2024-01-14 23:00:00', INTERVAL 1 HOUR) g(ts))
         SELECT g.series_name, g.ts, d.value
         FROM grid g ASOF LEFT JOIN data d ON g.series_name = d.series_name AND g.ts >= d.ts"""))

  // A11: linear-interpolation resample onto a 1h grid
  private val resampleLinear = QuerySpec("ts_resample_linear", { (s, dir) =>
      ntz(
        TimeSeriesOps.resampleLinear(
          ev(s, dir).select(col("series_name"), col("ts"), col("value")),
          Seq("series_name"), Start, End, stepSeconds = 3600L)
      )
    }, Oracle(
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
         FROM prev p JOIN nxt n ON p.series_name = n.series_name AND p.ts = n.ts"""))

  val specs: Seq[QuerySpec] = Seq(
    // A1: series discovery (kukur search)
    QuerySpec("ts_search", { (s, dir) =>
      TimeSeriesOps.searchSeries(ev(s, dir), Seq("series_name", "user_id"), Seq("value"))
    }, Oracle("SELECT DISTINCT event_type AS series_name, user_id, 'value' AS field FROM events")),
    // A2: single-series range query
    QuerySpec("ts_get_data", { (s, dir) =>
      ntz(
        TimeSeriesOps
          .filterRange(evRange(s, dir, Start, End).where(col("series_name") === "click" && col("user_id") === 7), Start, End)
          .select(col("ts"), col("value"))
      )
    }, Oracle(
      """SELECT ts, value FROM events
         WHERE event_type = 'click' AND user_id = 7
           AND ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'""")),
    // A3: multi-series range query
    QuerySpec("ts_get_data_multi", { (s, dir) =>
      ntz(
        TimeSeriesOps
          .filterRange(evRange(s, dir, Start, End).where(col("series_name").isin("click", "error")), Start, End)
          .select(col("series_name"), col("user_id"), col("ts"), col("value"))
      )
    }, Oracle(GetDataMultiSql)),
    // A4: source structure (tag keys/values + fields)
    QuerySpec("ts_source_structure", { (s, dir) =>
      TimeSeriesOps.sourceStructure(ev(s, dir), Seq("series_name", "user_id"), Seq("value"))
    }, Oracle(
      """SELECT 'tag' AS kind, 'series_name' AS key, CAST(event_type AS VARCHAR) AS val FROM events GROUP BY 3
         UNION ALL
         SELECT 'tag' AS kind, 'user_id' AS key, CAST(user_id AS VARCHAR) AS val FROM events GROUP BY 3
         UNION ALL
         SELECT 'field' AS kind, 'field' AS key, 'value' AS val""")),
    // A5: plot-data downsampling
    QuerySpec("ts_plot_data", { (s, dir) =>
      ntz(TimeSeriesOps.plotData(evRange(s, dir, MonthStart, MonthEnd), Seq("series_name"), MonthStart, MonthEnd, PlotBuckets))
    }, Oracle(
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
           SELECT *, row_number() OVER (PARTITION BY series_name, bucket ORDER BY ts DESC, value DESC) AS rn FROM ranged) WHERE rn = 1""")),
    // A6b: per-series quality ratio — the health summary a provider
    // surfaces per series (fraction of GOOD points)
    QuerySpec("ts_quality_ratio", { (s, dir) =>
      val k = regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int")
      ev(s, dir)
        .withColumn("quality", TimeSeriesOps.qualityMap(k, 0 until 50))
        .groupBy(col("series_name"))
        .agg(count(lit(1)).as("n"), sum(col("quality").cast("long")).as("n_good"))
        .withColumn("good_ratio", col("n_good").cast("double") / col("n").cast("double"))
    }, Oracle(
      """WITH q AS (SELECT event_type AS series_name,
                           CASE WHEN CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) BETWEEN 0 AND 49 THEN 1 ELSE 0 END AS quality
                    FROM events)
         SELECT series_name, COUNT(*) AS n, CAST(SUM(quality) AS BIGINT) AS n_good,
                CAST(SUM(quality) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS good_ratio
         FROM q GROUP BY 1""")),
    // A6: quality mapping from a raw source code to GOOD/BAD
    QuerySpec("ts_quality_map", { (s, dir) =>
      val k = regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int")
      ev(s, dir)
        .withColumn("k", k)
        .withColumn("quality", TimeSeriesOps.qualityMap(col("k"), 0 until 50))
        .select(col("event_id"), col("k"), col("quality"))
    }, Oracle(
      """SELECT event_id, CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) AS k,
                CASE WHEN CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) BETWEEN 0 AND 49 THEN 1 ELSE 0 END AS quality
         FROM events""")),
    // A7: dictionary decode of a discrete-valued series (broadcast join)
    QuerySpec("ts_dictionary_decode", { (s, dir) =>
      val dict = SeriesDictionary(Map(0 -> "OFF", 1 -> "ON", 2 -> "IDLE", 3 -> "FAULT"))
      val code = pmod(regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int"), lit(4))
      TimeSeriesOps
        .dictionaryDecode(ev(s, dir).withColumn("code", code), col("code"), dict)
        .select(col("event_id"), col("code"), col("label"))
    }, Oracle(
      """SELECT event_id,
                CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) % 4 AS code,
                CASE CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) % 4
                  WHEN 0 THEN 'OFF' WHEN 1 THEN 'ON' WHEN 2 THEN 'IDLE' WHEN 3 THEN 'FAULT' END AS label
         FROM events""")),
    // A8: computed per-series metadata
    QuerySpec("ts_metadata_agg", { (s, dir) =>
      ntz(TimeSeriesOps.metadataAgg(ev(s, dir), Seq("series_name", "user_id")))
    }, Oracle(
      s"""SELECT event_type AS series_name, user_id,
                COUNT(*) AS point_count, MIN(ts) AS min_ts, MAX(ts) AS max_ts,
                MIN(value) AS min_value, MAX(value) AS max_value,
                ${exactSumSql("value")} / COUNT(*) AS mean_value
         FROM events GROUP BY 1, 2""")),
    // A8b: per-series value distribution (exact percentiles; at 100 TB
    // swap for approx_percentile — same plan shape)
    QuerySpec("ts_percentiles", { (s, dir) =>
      ev(s, dir)
        .groupBy(col("series_name"))
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.95)").as("p95"),
        )
    }, Oracle(
      """SELECT event_type AS series_name,
                quantile_cont(value, 0.5) AS p50,
                quantile_cont(value, 0.95) AS p95
         FROM events GROUP BY 1""")),
    // A9: latest point per series
    QuerySpec("ts_latest", { (s, dir) =>
      ntz(TimeSeriesOps.latest(ev(s, dir), Seq("series_name", "user_id")))
    }, Oracle(
      """SELECT event_type AS series_name, user_id, ts, value FROM (
           SELECT event_type, user_id, ts, value,
                  row_number() OVER (PARTITION BY event_type, user_id ORDER BY ts DESC, value DESC) AS rn
           FROM events) WHERE rn = 1""")),
    // A12: deterministic counter simulator
    QuerySpec("ts_simulator_counter", { (s, _) =>
      ntz(Simulators.counter(s, Start, End, minValue = 0.0, maxValue = 100.0, increase = 5.0, intervalSeconds = 60L))
    }, Oracle(
      """SELECT CAST(TIMESTAMP '1970-01-01 00:00:00' + INTERVAL (us) MICROSECOND AS TIMESTAMP) AS ts,
                0.0 + (CAST(us AS BIGINT) % 1200000000) // 60000000 * 5.0 AS value
         FROM (SELECT 1704672000000000 + 60000000 * g AS us
               FROM generate_series(0, CAST((1705276800000000 - 1704672000000000) / 60000000 AS BIGINT)) AS t(g))""")),
    // A13: deterministic sine simulator
    QuerySpec("ts_simulator_sine", { (s, _) =>
      ntz(Simulators.sine(s, Start, End, periodSeconds = 86400.0, phaseSeconds = 3600.0, amplitude = 10.0, shift = 50.0, intervalSeconds = 60L))
    }, Oracle(SineSql)),
    // A13b: the same sine via the DataSource V2 connector (ts-range
    // pushdown into the generator, column pruning) — same oracle
    QuerySpec("ts_simulator_v2", { (s, _) =>
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
    }, Oracle(SineSql)),
    // A12b: white-noise simulator (hash-derived Box-Muller → rows-only)
    QuerySpec("ts_simulator_noise", { (s, _) =>
      ntz(Simulators.whiteNoise(s, Start, End, mean = 50.0, stdDev = 10.0, intervalSeconds = 60L))
    }, NoOracle("xxhash64-seeded Box-Muller draws (engine-specific hash)")),
    // A12c: step simulator (per-day random walk → rows-only)
    QuerySpec("ts_simulator_step", { (s, _) =>
      ntz(Simulators.step(s, Start, End, minValue = 0.0, maxValue = 100.0, numberOfSteps = 10, intervalSeconds = 600L))
    }, NoOracle("xxhash64-seeded per-day random-walk fold (engine-specific hash)")),
    resampleStepped,
    resampleLinear,
    // A11c: metadata-driven resample — each series interpolates per its
    // declared InterpolationType; undeclared series default to STEPPED
    QuerySpec("ts_resample_metadata", { (s, dir) =>
      import s.implicits._
      val meta = Seq(("click", "LINEAR"), ("view", "LINEAR"), ("purchase", "LINEAR"))
        .toDF("series_name", "interpolation_type")
      ntz(
        TimeSeriesOps.resampleByMetadata(
          ev(s, dir).select(col("series_name"), col("ts"), col("value")),
          meta, Seq("series_name"), Start, End, stepSeconds = 3600L)
      )
    }, Oracle(
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
         SELECT * FROM lin UNION ALL SELECT * FROM stp""")),
    // A10b/A11b: the A10/A11 resamples under their historical `_exec`
    // names — the same plan and oracle; the entries stay so the oracle
    // counts remain comparable
    resampleStepped.copy(name = "ts_resample_stepped_exec"),
    resampleLinear.copy(name = "ts_resample_linear_exec"),
    // A18: metadata-driven physical-limit outlier screen
    QuerySpec("ts_outlier_limits", { (s, dir) =>
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
    }, Oracle(
      """WITH lim AS (
           SELECT * FROM (VALUES ('click', 0.5, 300.0), ('view', 0.5, 300.0), ('purchase', 1.0, 480.0),
                                 ('signup', 0.2, 200.0), ('error', 0.1, 100.0)) AS t(series_name, limit_low, limit_high))
         SELECT e.event_type AS series_name, e.ts, e.value,
                CASE WHEN e.value < l.limit_low THEN 'low' ELSE 'high' END AS violation
         FROM events e JOIN lim l ON e.event_type = l.series_name
         WHERE e.value < l.limit_low OR e.value > l.limit_high""")),
    // A19: as-of join — last click value before each purchase, per user
    QuerySpec("ts_asof_join", { (s, dir) =>
      val e = ev(s, dir)
      ntz(
        TimeSeriesOps.asofJoin(
          e.where(col("series_name") === "purchase"),
          e.where(col("series_name") === "click"),
          keyCols = Seq("user_id"),
          rightOut = "last_click_value",
        )
      )
    }, Oracle(
      """WITH clicks AS (
           SELECT user_id, ts, MAX(value) AS value FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         purchases AS (
           SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
         SELECT p.user_id, p.ts, p.value, c.value AS last_click_value
         FROM purchases p ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts""")),
    // A25: trailing-window z-score anomaly detection
    QuerySpec("ts_zscore_anomaly", { (s, dir) =>
      ntz(TimeSeriesOps.zscoreAnomalies(ev(s, dir).where(col("series_name") === "view"), Seq("series_name"), "event_id", nPoints = 50, zThreshold = 3.0))
    }, Oracle(
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
         WHERE abs(z) > 3.0""")),
    // A21: OHLC bars per series-hour
    QuerySpec("ts_ohlc", { (s, dir) =>
      ntz(
        TimeSeriesOps.ohlc(ev(s, dir), Seq("series_name"), date_trunc("hour", col("ts")).as("bucket"))
      )
    }, Oracle(
      """WITH r AS (SELECT event_type AS series_name, date_trunc('hour', ts) AS bucket, ts, value FROM events),
         o AS (SELECT series_name, bucket, value AS open FROM (
                 SELECT *, row_number() OVER (PARTITION BY series_name, bucket ORDER BY ts ASC, value ASC) AS rn FROM r) WHERE rn = 1),
         c AS (SELECT series_name, bucket, value AS close FROM (
                 SELECT *, row_number() OVER (PARTITION BY series_name, bucket ORDER BY ts DESC, value DESC) AS rn FROM r) WHERE rn = 1),
         hl AS (SELECT series_name, bucket, MAX(value) AS high, MIN(value) AS low, COUNT(*) AS n FROM r GROUP BY 1, 2)
         SELECT hl.series_name, hl.bucket, o.open, hl.high, hl.low, c.close, hl.n
         FROM hl JOIN o USING (series_name, bucket) JOIN c USING (series_name, bucket)""")),
    // A22: per-point derivative (rate of change per second)
    QuerySpec("ts_derivative", { (s, dir) =>
      ntz(TimeSeriesOps.derivative(ev(s, dir).where(col("series_name") === "error"), Seq("series_name"), "event_id"))
    }, Oracle(
      """SELECT series_name, ts, value, (value - prev_v) / ((epoch_us(ts) - prev_us) / 1000000.0) AS rate_per_sec
         FROM (SELECT event_type AS series_name, ts, value,
                      lag(value) OVER w AS prev_v, lag(epoch_us(ts)) OVER w AS prev_us
               FROM events WHERE event_type = 'error'
               WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))""")),
    // A23: trailing 10-point moving average (exact scaled-int sums)
    QuerySpec("ts_moving_avg", { (s, dir) =>
      ntz(TimeSeriesOps.movingAvg(ev(s, dir).where(col("series_name") === "signup"), Seq("series_name"), "event_id", nPoints = 10))
    }, Oracle(
      """SELECT series_name, ts, value,
                SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) OVER w / 1000000.0 / COUNT(*) OVER w AS moving_avg
         FROM (SELECT event_type AS series_name, ts, value, event_id FROM events WHERE event_type = 'signup')
         WINDOW w AS (PARTITION BY series_name ORDER BY ts, event_id ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)""")),
    // A33: last-write-wins point dedup — out-of-order/corrected
    // ingest cleanup: highest event_id wins per (series, ts)
    QuerySpec("ts_dedup_points", { (s, dir) =>
      ntz(TimeSeriesOps.dedupPoints(ev(s, dir), Seq("series_name", "user_id")))
    }, Oracle(
      """SELECT event_type AS series_name, user_id, ts,
                arg_max(value, event_id) AS value,
                MAX(event_id) AS last_event_id,
                COUNT(*) AS n_writes
         FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3""")),
    // A32: subsequence pattern search — top-k windows closest to a
    // query motif by integer-exact SSD (EDBT 2019 similarity search)
    QuerySpec("ts_pattern_search", { (s, dir) =>
      ntz(
        TimeSeriesOps.patternSearch(
          ev(s, dir),
          Seq("series_name", "user_id"),
          pattern = Seq(0.0, 0.5, 1.0, 0.5, 0.0, -0.5, -1.0, -0.5),
        )
      )
    }, Oracle(
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
         ORDER BY ssd_micro2, series_name, user_id, ts LIMIT 10""")),
    // A26: counter-wrap correction (monotone running total of a
    // resetting counter; every decrease treated as a reset)
    QuerySpec("ts_counter_reset", { (s, dir) =>
      ntz(
        TimeSeriesOps
          .counterReset(ev(s, dir).where(col("series_name") === "click"), Seq("series_name", "user_id"), "event_id")
      )
    }, Oracle(
      """WITH pts AS (SELECT event_type AS series_name, user_id, ts, value, event_id,
                             lag(value) OVER (PARTITION BY event_type, user_id ORDER BY ts, event_id) AS prev_v
                      FROM events WHERE event_type = 'click'),
         d AS (SELECT series_name, user_id, ts, value, event_id,
                      CASE WHEN prev_v IS NOT NULL AND value < prev_v THEN prev_v ELSE 0.0 END AS drop_amt
               FROM pts)
         SELECT series_name, user_id, ts, value,
                value + SUM(CAST(FLOOR(drop_amt * 1000000) AS BIGINT)) OVER (PARTITION BY series_name, user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 1000000.0 AS counter_total
         FROM d""")),
    // A27: per-series lag-1 autocorrelation (exact integer moment sums)
    QuerySpec("ts_autocorr", { (s, dir) =>
      TimeSeriesOps.autocorr(ev(s, dir), Seq("series_name"), "event_id", lagK = 1)
    }, Oracle(
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
         FROM s""")),
    // A30: trapezoidal time integral per series (value·seconds)
    QuerySpec("ts_integral", { (s, dir) =>
      TimeSeriesOps.integral(ev(s, dir), Seq("series_name"), "event_id")
    }, Oracle(
      """WITH pts AS (SELECT event_type AS series_name, value, ts, event_id,
                             lag(value) OVER w AS prev_v, lag(epoch_us(ts)) OVER w AS prev_us
                      FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
         terms AS (SELECT series_name,
                          (value + prev_v) / 2.0 * ((epoch_us(ts) - prev_us) / 1000000.0) AS term
                   FROM pts WHERE prev_v IS NOT NULL)
         SELECT series_name, COUNT(*) AS n_intervals,
                SUM(CAST(FLOOR(term * 1000000) AS BIGINT)) / 1000000.0 AS integral
         FROM terms GROUP BY 1""")),
    // A31: cross-correlation of two series' hourly activity (Pearson r
    // over hour-aligned counts; integer moment sums, exact at scale)
    QuerySpec("ts_cross_corr", { (s, dir) =>
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
    }, Oracle(
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
         FROM s""")),
    // A28: fixed-range value histogram (20 × 25-wide buckets over [0, 500))
    QuerySpec("ts_histogram", { (s, dir) =>
      TimeSeriesOps.valueHistogram(ev(s, dir), Seq("series_name"), lo = 0.0, hi = 500.0, bins = 20)
    }, Oracle(
      """WITH b AS (SELECT event_type AS series_name,
                           CAST(LEAST(GREATEST(FLOOR((value - 0.0) / 25.0), 0.0), 19.0) AS INTEGER) AS bin
                    FROM events)
         SELECT series_name, bin, 0.0 + CAST(bin AS DOUBLE) * 25.0 AS bin_lo, COUNT(*) AS n
         FROM b GROUP BY 1, 2""")),
    // A29: LTTB plot downsampling (Steinarsson 2013) — sequential
    // within a series, parallel across series. HASH-ORACLED via a
    // DuckDB recursive CTE that replays the per-bucket argmax walk
    // (anchors as explicitly-ordered list_reduce folds, so the
    // >2^53-magnitude micros sums round identically) + DownsampleSpec
    QuerySpec("ts_downsample_lttb", { (s, dir) =>
      ntz(Downsample.lttb(ev(s, dir).select(col("series_name"), col("ts"), col("value")), "series_name", nOut = 200))
    }, Oracle(
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
ORDER BY 1, 2, 3""")),
    // A24: as-of join with 1h staleness tolerance
    QuerySpec("ts_asof_tolerance", { (s, dir) =>
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
    }, Oracle(
      """WITH clicks AS (SELECT user_id, ts, MAX(value) AS value FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         purchases AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
         j AS (SELECT p.user_id, p.ts, p.value, c.ts AS c_ts, c.value AS c_value
               FROM purchases p ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts)
         SELECT user_id, ts, value,
                CASE WHEN c_ts IS NOT NULL AND (epoch_us(ts) - epoch_us(c_ts)) / 1000000.0 <= 3600.0 THEN c_value END AS last_click_value
         FROM j""")),
    // A20: gap detection (> 1h between points of a series)
    QuerySpec("ts_gap_detect", { (s, dir) =>
      ntz(TimeSeriesOps.gapDetect(ev(s, dir), Seq("series_name"), "event_id", thresholdSeconds = 3600.0))
    }, Oracle(
      """SELECT series_name, prev_ts, ts, gap_seconds FROM (
           SELECT event_type AS series_name,
                  lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev_ts, ts,
                  (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id))) / 1000000.0 AS gap_seconds
           FROM events)
         WHERE gap_seconds > 3600.0""")),
    // A14: pivot-layout source → canonical rows (stack unpivot)
    QuerySpec("ts_pivot_read", { (s, dir) =>
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
    }, Oracle(
      """SELECT event_type AS series_name, date_trunc('minute', ts) AS ts, MAX(value) AS value
         FROM events GROUP BY 1, 2""")),
    // A15: CSV row-layout source with column mapping + datetime format
    QuerySpec("ts_row_source_csv", { (s, dir) =>
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
    }, Oracle(
      """SELECT event_type AS series_name, user_id, 'value' AS field, ts, value
         FROM events WHERE event_type IN ('click', 'error')""")),
    // A15e: config-file-declared source (kukur/config.py + Kukur.toml,
    // SourceFactory vocabulary): a headerless positional CSV declared
    // in a JSON config, registered and read through Graft.fromConfig —
    // the reference's primary "declare sources in a file" UX on the
    // oracle surface, not just in specs
    QuerySpec("ts_config_source", { (s, dir) =>
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
    }, Oracle(
      """SELECT event_type AS series_name, 'value' AS field, ts, value
         FROM events WHERE event_type IN ('view', 'purchase')""")),
    // A15d: external-command plugin source (kukur/source/plugin) —
    // per-series Arrow IPC responses decoded distributed; the demo
    // plugin serves staged per-series stream files and ignores the
    // request's date range (full-series responses, like the fixture)
    QuerySpec("ts_plugin_source", { (s, dir) =>
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
    }, Oracle(
      """SELECT event_type AS series_name, ts, value
         FROM events WHERE event_type IN ('click', 'view')""")),
    // A15d (plot action): a plot-capable plugin (`features.plot` in its
    // config) answers the dedicated `plot` action with pre-reduced
    // buckets — here the staged per-series min/max/first/last frames a
    // plot server would compute — so the result hash-matches the
    // ts_plot_data oracle restricted to these series. Exercises the
    // plot/fallback selector end-to-end, not just in specs.
    QuerySpec("ts_plugin_plot", { (s, dir) =>
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
    }, Oracle(
      // the plot action serves exactly what ts_plot_data computes,
      // restricted to the two plugin series
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
           SELECT *, row_number() OVER (PARTITION BY series_name, bucket ORDER BY ts DESC, value DESC) AS rn FROM ranged) WHERE rn = 1""")),
    // A16: dir-layout source — series key in the path, partition pruning
    QuerySpec("ts_dir_source", { (s, dir) =>
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
    }, Oracle(
      """SELECT event_type AS series_name, ts, value FROM events
         WHERE event_type = 'click'
           AND ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'""")),
    // A15c: JSON row-layout source (kukur/source/json)
    QuerySpec("ts_row_source_json", { (s, dir) =>
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
    }, Oracle(
      """SELECT event_type AS series_name, user_id, 'value' AS field, ts, value
         FROM events WHERE event_type = 'purchase'""")),
    // A15f: ORC row-format source — the third columnar container the
    // open fileFormat string reaches (after parquet and Arrow IPC);
    // native timestamp round trip, no datetimeFormat parse needed
    QuerySpec("ts_row_source_orc", { (s, dir) =>
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
    }, Oracle(
      """SELECT event_type AS series_name, user_id, 'value' AS field, ts, value
         FROM events WHERE event_type IN ('view', 'error')""")),
    // A15g: Excel worksheet source (kukur/source/excel, inspect
    // arrow.py:133 `path@sheet` refs) — a workbook staged by the pure
    // JDK OOXML writer, read back distributed through Inspect's
    // worksheet resolution; string timestamps re-parse, longs stay
    // long, doubles round-trip exactly via their XML tokens
    QuerySpec("ts_excel_source", { (s, dir) =>
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
    }, Oracle(
      """SELECT event_type AS series_name, user_id, ts, value
         FROM events WHERE event_type = 'error' AND user_id % 7 = 0""")),
    // A15h: Delta Lake source (kukur/source/delta) WITHOUT delta-spark:
    // graft resolves the _delta_log itself and reads the active files
    // through the native parquet scan — staged here by graft's own
    // single-commit delta writer, partitioned by series so the tag
    // filter prunes hive dirs
    QuerySpec("ts_delta_source", { (s, dir) =>
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
    }, Oracle(
      """SELECT event_type AS series_name, 'value' AS field, ts, value
         FROM events WHERE user_id % 5 = 1""")),
    // A15i: SQL-over-files source (kukur/source/datafusion) — the
    // reference's embedded DataFusion engine re-expressed as Spark SQL
    // over registered temp views: $-parameter data query with ANSI
    // double-quoted identifiers, bound from the selector's tags
    QuerySpec("ts_datafusion_source", { (s, dir) =>
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
    }, Oracle(
      """SELECT event_type AS series_name, ts, value FROM events
         WHERE event_type = 'view'
           AND ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'""")),
    // A16b: the reference's DEFAULT dir layout — one flat headerless
    // CSV per series, filename = series key (csv.py:393), declared in
    // native TOML and read through Graft.fromConfig. Puts the
    // name-keyed dir path (positional columns + filename decode +
    // strftime-format timestamps) on the oracle surface beside A16's
    // Hive-layout scale variant
    QuerySpec("ts_dir_source_named", { (s, dir) =>
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
    }, Oracle("""SELECT event_type AS series_name, ts, value FROM events""")),
    // A15g: Arrow IPC STREAMING source (kukur/source/arrows) declared
    // in the reference's native TOML and read through Graft.fromConfig
    // — the ArrowIpcSource-as-ConfiguredSource path on the oracle
    // surface, not just in fixture specs
    QuerySpec("ts_row_source_arrows", { (s, dir) =>
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
    }, Oracle(
      """SELECT event_type AS series_name, user_id, 'value' AS field, ts, value
         FROM events WHERE event_type IN ('purchase', 'click')""")),
    // A15d: string-valued series end-to-end (kukur DataType.STRING,
    // kukur/base.py:152) — state labels stay text through the source
    QuerySpec("ts_string_series", { (s, dir) =>
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
    }, Oracle(
      """SELECT 'machine_state' AS series_name, 'value' AS field, ts, upper(event_type) AS value
         FROM events""")),
    // A15e: mixed-type promotion across sources (kukur concat_tables,
    // kukur/source/__init__.py:462): int + string frames ⇒ string values
    QuerySpec("ts_mixed_promotion", { (s, dir) =>
      val ev0 = Tables.canonicalEvents(s, dir)
      val intFrame = ev0
        .where(col("series_name") === "click")
        .select(col("series_name"), col("ts"), col("user_id").cast("long").as("value"))
      val strFrame = ev0
        .where(col("series_name") === "error")
        .select(col("series_name"), col("ts"), upper(col("series_name")).as("value"))
      ntz(ConfiguredSource.promoteUnion(Seq(intFrame, strFrame)))
    }, Oracle(
      """SELECT event_type AS series_name, ts, CAST(user_id AS VARCHAR) AS value
         FROM events WHERE event_type = 'click'
         UNION ALL
         SELECT event_type AS series_name, ts, 'ERROR' AS value
         FROM events WHERE event_type = 'error'""")),
    // A6b: quality mapping over string codes (kukur quality good-list is
    // list[str | int], kukur/source/quality.py:26)
    QuerySpec("ts_quality_map_str", { (s, dir) =>
      ev(s, dir)
        .withColumn("quality", TimeSeriesOps.qualityMapValues(col("series_name"), Seq("click", "purchase")))
        .select(col("event_id"), col("series_name"), col("quality"))
    }, Oracle(
      """SELECT event_id, event_type AS series_name,
                CASE WHEN event_type IN ('click', 'purchase') THEN 1 ELSE 0 END AS quality
         FROM events""")),
    // A15b: metadata sidecar source — mapping, value mapping, coercion
    QuerySpec("ts_metadata_source", { (s, dir) =>
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
    }, Oracle(
      """SELECT series_name, description, unit,
                CAST(limit_low_physical AS DOUBLE) AS limit_low_physical,
                CAST(limit_high_physical AS DOUBLE) AS limit_high_physical,
                interpolation_type, data_type
         FROM (VALUES
           ('temp', 'Temperature', 'degC', 0.0, 100.0, 'LINEAR', 'FLOAT64'),
           ('pressure', 'Pressure', 'bar', 0.5, 9.0, 'STEPPED', 'FLOAT32'),
           ('state', 'Machine state', NULL, NULL, NULL, 'STEPPED', 'DICTIONARY'),
           ('flow', 'Flow rate', 'm3/h', NULL, 50.0, 'LINEAR', 'FLOAT64'))
         AS t(series_name, description, unit, limit_low_physical, limit_high_physical, interpolation_type, data_type)""")),
    // A15e: derived accuracy (fields.py _calculate_accuracy): explicit
    // wins; else (high−low)·pct/100, pct valid in [0,100], limits fall
    // back physical → functional
    QuerySpec("ts_metadata_accuracy", { (s, dir) =>
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
    }, Oracle(
      """SELECT series_name, CAST(accuracy AS DOUBLE) AS accuracy,
                CAST(accuracy_percentage AS DOUBLE) AS accuracy_percentage,
                CAST(accuracy_calculated AS DOUBLE) AS accuracy_calculated
         FROM (VALUES
           ('a', 0.5, 2.0, 0.5),
           ('b', NULL, 2.5, 2.5),
           ('c', NULL, 10.0, 10.0),
           ('d', NULL, 150.0, NULL),
           ('e', NULL, 5.0, NULL))
         AS t(series_name, accuracy, accuracy_percentage, accuracy_calculated)""")),
    // A17: interval chunking (range-repartition; content unchanged)
    QuerySpec("ts_interval_chunks", { (s, dir) =>
      ntz(
        TimeSeriesOps
          .intervalChunks(
            TimeSeriesOps.filterRange(evRange(s, dir, Start, End).where(col("series_name").isin("click", "error")), Start, End),
            Seq("series_name"),
            chunkSeconds = 86400L,
          )
          .select(col("series_name"), col("user_id"), col("ts"), col("value"))
      )
    }, Oracle(GetDataMultiSql)),
    // C13: approximate per-series stats — the 100 TB scale path
    // (sketches, not exact aggregation; rows-only by nature)
    // The 100 TB sketch path, kept approx-only so the bench keeps
    // timing sketches (not the exact aggregation the certificate
    // needs) and stays comparable across rounds; its certified twin
    // below carries the oracle.
    QuerySpec("ts_approx_stats", { (s, dir) =>
      ev(s, dir)
        .groupBy(col("series_name"))
        .agg(
          approx_count_distinct(col("user_id")).as("approx_users"),
          expr("approx_percentile(value, array(0.5, 0.95), 10000)").as("approx_p"),
        )
        .select(col("series_name"), col("approx_users"), col("approx_p")(0).as("approx_p50"), col("approx_p")(1).as("approx_p95"))
    }, NoOracle("HLL/KLL sketch values (engine-specific); bounds certified by ts_approx_stats_certified")),
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
    QuerySpec("ts_approx_stats_certified", { (s, dir) =>
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
    }, Oracle(
      // bounds-certified sketches: the oracle recomputes the EXACT stats
      // and expects every in-envelope flag literally TRUE — see the
      // query's comment for the envelopes
      """SELECT event_type AS series_name,
                COUNT(DISTINCT user_id) AS exact_users,
                quantile_cont(value, 0.5) AS p50,
                quantile_cont(value, 0.95) AS p95,
                TRUE AS users_ok, TRUE AS p50_ok, TRUE AS p95_ok
         FROM events GROUP BY 1""")),
  )
}
