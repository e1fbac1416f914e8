package graftbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType, TimestampNTZType}

import graft.{Graft, SparkEntry, Tables}
import graft.operators.TimeSeriesOps
import graft.sources.{ConfiguredSource, SourceConfig}

/** One timed operation. `run` does the timed work and returns a thunk
  * that fetches the result rows for the digest, which is not timed.
  */
trait Op {
  def name: String
  def key: String
  def run(spark: SparkSession, tr: Trace): () => Seq[Row]
}

/** A batch op: one `SparkEntry.queries` entry whose result is written
  * as parquet, as a curation or training job publishes its output.
  */
final case class BatchOp(name: String, inputDir: String, outDir: String) extends Op {
  def key: String = name
  def run(spark: SparkSession, tr: Trace): () => Seq[Row] = {
    val df = tr.span("functions")(SparkEntry.queries(name)(spark, inputDir))
    val out = s"$outDir/$name"
    tr.span("action")(df.write.mode("overwrite").parquet(out))
    () => spark.read.parquet(out).collect().toSeq
  }
}

/** The batch workload's ops: curation pipelines (compute- and
  * shuffle-bound), then driver-iterative trainers (bound by driver
  * round trips).
  */
object Batch {
  val Curate: Vector[String] = Vector(
    "dedup_winnow", "dedup_jaccard_prefix", "dedup_groups", "dedup_substring_char", "text_ngram_novelty",
    "pipeline_clean_corpus", "pipeline_train_export",
  )
  val Fit: Vector[String] = Vector("text_quality_lr", "sim_pq_opqr_ann", "text_unigram", "emb_cluster_balance")
  val ops: Vector[String] = Curate ++ Fit
}

/** One kukur-API request of the provider workload. Windows are
  * half-open [start, end) in µs since the epoch.
  */
final case class Request(kind: String, source: String, series: String, user: Long, startUs: Long, endUs: Long, buckets: Int) {
  def key: String = s"$kind|$source|$series|$user|$startUs|$endUs|$buckets"
}

/** The provider's sources: the parquet events table plus three file
  * sources staged from it and read through graft's source layer.
  */
final class Provider(spark: SparkSession, dir: String) {
  import Provider._

  private val csvRow = new ConfiguredSource(
    SourceConfig(
      path = s"$dir/csv_row",
      fileFormat = "csv",
      dataFormat = "row",
      tagColumns = Seq("series_name", "user_id"),
      columnMapping = Map("series_name" -> "etype", "user_id" -> "uid", "ts" -> "tstamp", "value" -> "reading"),
      datetimeFormat = Some("yyyy-MM-dd HH:mm:ss.SSSSSS"),
    )
  )
  private val pivot = new ConfiguredSource(SourceConfig(path = s"$dir/pivot", fileFormat = "parquet", dataFormat = "pivot"))
  private val configured = Graft.fromConfig(spark, s"$dir/dir_csv/graft.toml")

  /** The canonical frame of `source`: tags, ts, value. */
  private def frame(source: String, window: Option[(Timestamp, Timestamp)]): DataFrame = source match {
    case "events" =>
      window
        .fold(Tables.canonicalEvents(spark, dir)) { case (s, e) => Tables.canonicalEventsInRange(spark, dir, s, e) }
        .select(col("series_name"), col("user_id"), col("ts"), col("value"))
    case "csv_row" => csvRow.read(spark).withColumn("user_id", col("user_id").cast("long"))
    case "pivot" => pivot.read(spark)
    case "dir_csv" => configured.readAll("events_dir")
  }

  def op(r: Request): Op = new Op {
    def name: String = r.kind
    def key: String = r.key
    def run(s: SparkSession, tr: Trace): () => Seq[Row] = {
      val (start, end) = (Data.ts(r.startUs), Data.ts(r.endUs))
      val tags = Tags(r.source)
      val one = col("series_name") === r.series && (if (tags.size == 2) col("user_id") === r.user else lit(true))
      val named = col("series_name") === r.series
      val src = tr.span("sources") {
        r.kind match {
          case "search" | "source_structure" | "resample_linear" | "resample_stepped" => frame(r.source, None)
          case _ => frame(r.source, Some((start, end)))
        }
      }
      val result = tr.span("operators") {
        r.kind match {
          case "search" => TimeSeriesOps.searchSeries(src, tags, Seq("value"))
          case "source_structure" => TimeSeriesOps.sourceStructure(src, tags, Seq("value"))
          case "get_data" => TimeSeriesOps.filterRange(src.where(one), start, end).select(col("ts"), col("value"))
          case "get_data_multi" =>
            val pair = Seq(r.series, EventTypes((EventTypes.indexOf(r.series) + 1) % EventTypes.size))
            TimeSeriesOps.filterRange(src.where(col("series_name").isin(pair: _*)), start, end)
          case "metadata_agg" => TimeSeriesOps.metadataAgg(TimeSeriesOps.filterRange(src, start, end), tags)
          case "latest" => TimeSeriesOps.latest(TimeSeriesOps.filterRange(src, start, end), tags)
          case "plot_data" =>
            TimeSeriesOps.plotData(src.where(named).select("series_name", "ts", "value"), Seq("series_name"), start, end, r.buckets)
          case "resample_linear" | "resample_stepped" =>
            val step = ((r.endUs - r.startUs) / 1000000L / r.buckets).max(1L)
            val in = src.where(named).select("series_name", "ts", "value")
            if (r.kind == "resample_linear") TimeSeriesOps.resampleLinear(in, Seq("series_name"), start, end, step)
            else TimeSeriesOps.resampleStepped(in, Seq("series_name"), start, end, step)
        }
      }
      val rows = tr.span("action")(result.collect().toSeq)
      () => rows
    }
  }
}

object Provider {
  val EventTypes: Vector[String] = Data.EventTypes
  val Tags: Map[String, Seq[String]] = Map(
    "events" -> Seq("series_name", "user_id"),
    "csv_row" -> Seq("series_name", "user_id"),
    "pivot" -> Seq("series_name"),
    "dir_csv" -> Seq("series_name"),
  )

  /** The request kinds of the kukur API, and the sources each is sent to. */
  val Kinds: Vector[String] = Vector("search", "get_data", "get_data_multi", "source_structure", "metadata_agg",
    "latest", "plot_data", "resample_linear", "resample_stepped")
  val Sources: Vector[String] = Vector("events", "csv_row", "pivot", "dir_csv")

  /** The pass schedule: every pass sends each (kind, source) class once,
    * 36 slots in a fixed order, so the JIT's settling in the first
    * requests falls on the same classes in every run. Each slot has a
    * fixed window length; the lengths spread log-uniformly from 1 h to
    * 30 days over the slots in a fixed shuffled order. Seeds therefore
    * differ in which series, window start and bucket count each slot
    * asks for, not in how much work the pass holds.
    */
  final case class Slot(kind: String, source: String, lenS: Long)

  val Schedule: Vector[Slot] = {
    val classes = for (k <- Kinds; s <- Sources) yield (k, s)
    val fractions = new scala.util.Random(CatalogSeed).shuffle(classes.indices.map(i => (i + 0.5) / classes.size).toVector)
    classes.zip(fractions).map { case ((k, s), f) =>
      Slot(k, s, math.exp(math.log(3600.0) + f * math.log(30.0 * 24)).toLong)
    }
  }

  /** Requests per slot in the catalog the run seed draws from. */
  val PerSlot = 12
  val CatalogSeed = 20240101L

  /** The series of the csv_row source. */
  val CsvRowSeries: Set[String] = Set("click", "error")

  /** The file sources hold the events of the first `SubsetUsers` users. */
  val SubsetUsers = 500

  /** Whether `source` holds event row `r`. */
  def holds(source: String)(r: Row): Boolean = source match {
    case "events" | "pivot" => true
    case "csv_row" => r.getLong(2) < SubsetUsers && CsvRowSeries(r.getString(3))
    case "dir_csv" => r.getLong(2) < SubsetUsers
  }

  /** Stage the events table and the three file sources under `dir`:
    * the CSV sources hold the first `SubsetUsers` users' events, the
    * pivot all of them.
    */
  def stage(spark: SparkSession, dir: String, events: Vector[Row]): Unit = {
    Data.write(spark, events, Data.eventsSchema, s"$dir/events.parquet", 1)
    // pivot: per-minute max of each event type, null where none occurred
    val minutes = new java.util.TreeMap[java.time.LocalDateTime, Array[Any]]
    events.foreach { r =>
      val slot = minutes.computeIfAbsent(r.getAs[java.time.LocalDateTime](1).withSecond(0).withNano(0), _ => new Array[Any](EventTypes.size))
      val i = EventTypes.indexOf(r.getString(3))
      slot(i) = slot(i) match {
        case null => r.getDouble(4)
        case d: Double => d.max(r.getDouble(4))
      }
    }
    val pivotSchema = StructType(StructField("ts", TimestampNTZType) +: EventTypes.map(StructField(_, DoubleType)))
    Data.write(spark, minutes.asScala.map { case (m, vs) => Row.fromSeq(m +: vs.toSeq) }.toVector, pivotSchema, s"$dir/pivot", 1)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    val subset = events.filter(holds("dir_csv"))
    def tsText(r: Row): String = r.getAs[java.time.LocalDateTime](1).format(fmt)
    Files.createDirectories(Paths.get(s"$dir/csv_row"))
    Files.writeString(
      Paths.get(s"$dir/csv_row/part-0.csv"),
      events.filter(holds("csv_row"))
        .map(r => s"${r.getString(3)},${r.getLong(2)},${tsText(r)},${r.getDouble(4)}")
        .mkString("etype,uid,tstamp,reading\n", "\n", "\n"),
    )
    // the reference's default dir layout: one headerless CSV per series
    val data = Paths.get(s"$dir/dir_csv/data")
    Files.createDirectories(data)
    subset.groupBy(_.getString(3)).foreach { case (series, rs) =>
      Files.writeString(data.resolve(s"$series.csv"), rs.map(r => s"${tsText(r)},${r.getDouble(4)}").mkString("", "\n", "\n"))
    }
    Files.writeString(
      Paths.get(s"$dir/dir_csv/graft.toml"),
      """[source.events_dir]
        |type = "csv"
        |format = "dir"
        |path = "data"
        |tag_columns = ["series_name"]
        |data_datetime_format = "yyyy-MM-dd HH:mm:ss.SSSSSS"
        |""".stripMargin,
    )
  }
}

/** The fixed request catalog, `PerSlot` requests per slot: a pure
  * function of the catalog seed and the staged events, so the committed
  * reference digests cover every request any run seed can send. Each
  * request is anchored on an event its source holds: it asks for that
  * event's series (and user, on sources tagged by user) over a window
  * that contains the event, so a get_data request returns rows.
  */
final class Catalog(events: Vector[Row]) {
  import Provider._

  val slots: Vector[Vector[Request]] = {
    val rnd = new java.util.SplittableRandom(CatalogSeed)
    val held = Sources.map(s => s -> events.filter(holds(s))).toMap
    Schedule.map { case Slot(kind, source, lenS) =>
      Vector.fill(PerSlot) {
        val e = held(source)(rnd.nextInt(held(source).size))
        val ts = Data.toMicros(e.getAs[java.time.LocalDateTime](1))
        val lenUs = lenS * 1000000L
        val start = (ts - rnd.nextLong(lenUs)).max(Data.MonthStartUs).min(Data.MonthStartUs + Data.MonthUs - lenUs)
        Request(kind, source, e.getString(3), e.getLong(2), start, start + lenUs, 10 + rnd.nextInt(191))
      }
    }
  }

  def all: Vector[Request] = slots.flatten

  /** Pass `p` of the run seed's request sequence: one seeded draw per slot. */
  def pass(seed: Long, p: Int): Vector[Request] = {
    val rnd = new scala.util.Random(seed * 1000003L + p)
    slots.map(c => c(rnd.nextInt(PerSlot)))
  }

  /** The warmup: one request per source, each of another kind. */
  def warmup(seed: Long): Vector[Request] = {
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    Sources.zipWithIndex.map { case (s, j) =>
      slots(Schedule.indexWhere(sl => sl.source == s && sl.kind == Kinds(2 * j % Kinds.size)))(rnd.nextInt(PerSlot))
    }
  }
}
