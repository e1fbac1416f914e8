package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.model.Time.micros
import graft.sources.SourceFrames

/** Loaders for the driver-generated test tables.
  *
  * All reads stay declarative (parquet relations through the
  * [[graft.sources.SourceFrames]] memo, so an unchanged table is listed
  * but not re-inferred) and Catalyst keeps predicate pushdown, column
  * pruning and partition pruning. The only normalization done eagerly
  * is the `events.ts` timestamp conversion, which adapts to how the
  * file stores time (see [[events]]).
  */
object Tables {

  private def parquet(spark: SparkSession, path: String): DataFrame =
    SourceFrames.load(spark, "parquet", Map.empty, path)

  /** `events.ts` has been generated in different physical types across
    * data drops; normalize all of them to the session-µs TimestampType
    * every downstream operator (and the `ntz` output boundary) expects:
    *   - parquet TIMESTAMP(NANOS): unmappable to Spark's µs timestamps,
    *     read as a raw nanos long (`nanosAsLong`) and truncated to µs —
    *     identical to DuckDB's ns→µs cast, keeping the oracle comparable;
    *   - parquet timestamp[us] without UTC adjustment (TIMESTAMP_NTZ):
    *     cast to TimestampType — with the session timezone pinned to
    *     UTC this is exact and epoch-preserving, so `unix_micros` on our
    *     side equals DuckDB's `epoch_us` on the naive value;
    *   - TimestampType: pass through.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(parquet(spark, s"$sfDir/events.parquet"))
  }

  private def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }

  /** Range-pushdown events read: the half-open [start, end) filter is
    * applied to the *stored* representation before any conversion, so
    * the predicate is exact and reaches the parquet scan (row-group
    * pruning on ts column stats). For nanos longs that means the bound
    * `ns div 1000 >= s_us ⇔ ns >= s_us·1000` (positive epochs), which
    * Catalyst cannot infer through the non-linear `div`; for NTZ it
    * means comparing against an NTZ literal rather than filtering above
    * the NTZ→LTZ cast, which the source API would not push. At 100 TB
    * the difference is scanning one day instead of the full history.
    */
  def eventsInRange(
      spark: SparkSession,
      sfDir: String,
      start: java.sql.Timestamp,
      end: java.sql.Timestamp,
  ): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = parquet(spark, s"$sfDir/events.parquet")
    val filtered = raw.schema("ts").dataType match {
      case LongType =>
        raw.where(col("ts") >= lit(micros(start) * 1000L) && col("ts") < lit(micros(end) * 1000L))
      case TimestampNTZType =>
        def asNtz(t: java.sql.Timestamp) =
          java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC)
        raw.where(col("ts") >= lit(asNtz(start)) && col("ts") < lit(asNtz(end)))
      case _ =>
        raw.where(col("ts") >= lit(start) && col("ts") < lit(end))
    }
    normalizeTs(filtered)
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else parquet(spark, s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** Canonical time-series frame derived from `events`.
    *
    * The reference normalizes every source into per-series Arrow tables
    * `(ts, value, quality?)` keyed by tags (kukur/source/__init__.py:462).
    * Graft's canonical form is one distributed frame holding *all*
    * series, keyed by tag columns — here `event_type` (series name tag)
    * and `user_id`.
    */
  def canonicalEvents(spark: SparkSession, sfDir: String): DataFrame =
    canonicalize(events(spark, sfDir))

  /** Range-pushdown variant of [[canonicalEvents]]. */
  def canonicalEventsInRange(
      spark: SparkSession,
      sfDir: String,
      start: java.sql.Timestamp,
      end: java.sql.Timestamp,
  ): DataFrame =
    canonicalize(eventsInRange(spark, sfDir, start, end))

  private def canonicalize(ev: DataFrame): DataFrame =
    ev.select(
      col("event_type").as("series_name"),
      col("user_id"),
      col("ts"),
      col("value"),
      col("event_id"),
      col("props"),
    )
}
