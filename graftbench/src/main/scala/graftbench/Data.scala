package graftbench

import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's inputs, generated in memory.
  *
  * The base tables mirror the shape of graft's driver test data
  * (`events`, `documents`, `embeddings`) and are a pure function of a
  * fixed generator seed and the row counts, so the expected outputs are
  * the same on every run. The run seed only decides how the batch
  * workloads' copies are laid out on disk (row order and file split) and
  * which requests the provider workload sends.
  */
object Data {

  val BaseSeed = 42L
  val MonthStartUs: Long = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L
  val MonthUs: Long = 30L * 86400L * 1000000L
  val EventTypes: Vector[String] = Vector("click", "view", "purchase", "signup", "error")
  val Users = 1500

  private val Vocab = Vector(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value", "data", "small",
    "join", "filter", "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch",
  )
  private val Langs = Vector("en", "zh", "es", "fr", "de")

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType), StructField("props", StringType),
  ))
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType),
  ))
  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType),
  ))

  /** `n` events spread evenly over 30 days in ts order, 1500 users × 5
    * event types = 7500 series, values rounded to cents.
    */
  def events(n: Int): Vector[Row] = {
    val rnd = new java.util.SplittableRandom(BaseSeed)
    val stepUs = MonthUs / n
    Vector.tabulate(n) { i =>
      val us = MonthStartUs + i * stepUs + rnd.nextLong(stepUs)
      val value = math.round(-math.log(1.0 - rnd.nextDouble()) * 5000.0) / 100.0
      Row(i.toLong, micros(us), rnd.nextInt(Users).toLong, EventTypes(rnd.nextInt(5)), value,
        s"""{"k": ${rnd.nextInt(100)}}""")
    }
  }

  /** Documents over a 30-word vocabulary, 10–100 words each; about one
    * in twenty is an earlier document plus a trailing " dup" (the
    * near-duplicates the dedup operators exist to find) and one in a
    * hundred an exact copy.
    */
  def documents(n: Int): Vector[Row] = {
    val rnd = new java.util.SplittableRandom(BaseSeed + 1)
    val texts = new Array[String](n)
    Vector.tabulate(n) { i =>
      val roll = rnd.nextInt(100)
      texts(i) =
        if (i > 0 && roll < 5) texts(rnd.nextInt(i)) + " dup"
        else if (i > 0 && roll < 6) texts(rnd.nextInt(i))
        else Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
      val lang = if (rnd.nextInt(100) < 41) "en" else Langs(1 + rnd.nextInt(4))
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
  }

  /** 64-dim embeddings with ten labels, components ~ N(0, 0.125). */
  def embeddings(n: Int): Vector[Row] = {
    val rnd = new java.util.Random(BaseSeed + 2)
    Vector.tabulate(n) { i =>
      val v = Array.fill(64)((rnd.nextGaussian() * 0.125).toFloat)
      Row(i.toLong, v.toSeq, rnd.nextInt(10))
    }
  }

  def micros(us: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000).toInt, ZoneOffset.UTC)

  def toMicros(t: LocalDateTime): Long = t.toEpochSecond(ZoneOffset.UTC) * 1000000L + t.getNano / 1000

  def ts(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000).toInt)
    t
  }

  /** Write `rows` as one parquet table of `files` part files, in the
    * given row order.
    */
  def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String, files: Int): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.mode("overwrite").parquet(path)

  /** The seed's layout of a batch input: a seeded permutation of the
    * rows split into 2–8 files. Outputs must not depend on it.
    */
  def layout(rows: Vector[Row], seed: Long): (Vector[Row], Int) = {
    val rnd = new scala.util.Random(seed)
    (rnd.shuffle(rows), 2 + rnd.nextInt(7))
  }
}
