package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.hive.ql.exec.vector._
import org.apache.orc.{OrcFile, Reader, TypeDescription}
import org.apache.orc.TypeDescription.Category
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** ORC reader for files Spark's native datasource cannot open: ORC
  * `timestamp with local time zone` (TIMESTAMP_INSTANT) columns —
  * what pyarrow writes for tz-aware timestamps — fail Spark's
  * footer-schema round trip through the SQL parser
  * (OrcUtils.toCatalystType has no production for that type string).
  * The reference's own ORC fixtures (tests/test_data/orc/row.orc) are
  * exactly this shape.
  *
  * Same distribution model as [[ArrowIpcSource]]: the driver reads ONE
  * footer for the schema and lists the files (metadata only), the
  * files parallelize one-per-task, and each task streams
  * VectorizedRowBatches through the ORC `RecordReader` — memory is one
  * batch, not a file. Flat primitive schemas only (the time-series
  * shape); nested types fail loudly at schema mapping.
  */
object OrcInstantSource {

  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root)
          .toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".orc"))
          .map(_.getPath.toString)
          .sorted
      else Seq(path)
    require(files.nonEmpty, s"no .orc files at $path")
    val schema = withReader(conf, files.head)(r => toSparkSchema(r.getSchema))
    val rows = spark.sparkContext
      .parallelize(files, files.length)
      .mapPartitions { paths =>
        // task-side default Configuration: resolves file:// and the
        // cluster's default FS without shipping the driver conf
        val taskConf = new Configuration()
        paths.flatMap(p => decodeFile(taskConf, p, schema))
      }
    spark.createDataFrame(rows, schema)
  }

  /** Whether `uri` (a file or a dir of .orc files) carries a
    * TIMESTAMP_INSTANT column and therefore needs THIS reader instead
    * of `spark.read.orc` — one driver-side footer probe, shared by
    * Inspect and ConfiguredSource, kept by [[SourceFrames.probe]] while
    * the listing of `uri` is unchanged.
    */
  def needsInstantReader(spark: SparkSession, uri: String): Boolean =
    SourceFrames.probe(spark, uri, "orc-instant")(footerHasInstant(spark, uri))

  private def footerHasInstant(spark: SparkSession, uri: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(uri)
    val fs = path.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(path).isDirectory)
        fs.listStatus(path)
          .toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".orc"))
          .map(_.getPath)
          .headOption
          .getOrElse(throw new IllegalArgumentException(s"no .orc files under $uri"))
      else path
    withReader(conf, file.toString)(_.getSchema.getChildren.asScala.exists(_.getCategory == Category.TIMESTAMP_INSTANT))
  }

  private def withReader[T](conf: Configuration, path: String)(f: Reader => T): T = {
    val reader = OrcFile.createReader(new Path(path), OrcFile.readerOptions(conf))
    try f(reader)
    finally reader.close()
  }

  private[sources] def toSparkSchema(td: TypeDescription): StructType = {
    require(td.getCategory == Category.STRUCT, s"expected a struct root, got ${td.getCategory}")
    StructType(td.getFieldNames.asScala.toSeq.zip(td.getChildren.asScala.toSeq).map { case (n, c) =>
      val dt: DataType = c.getCategory match {
        case Category.BOOLEAN => BooleanType
        case Category.BYTE => ByteType
        case Category.SHORT => ShortType
        case Category.INT => IntegerType
        case Category.LONG => LongType
        case Category.FLOAT => FloatType
        case Category.DOUBLE => DoubleType
        case Category.STRING | Category.VARCHAR | Category.CHAR => StringType
        case Category.DATE => DateType
        case Category.TIMESTAMP | Category.TIMESTAMP_INSTANT => TimestampType
        case Category.DECIMAL => DecimalType(c.getPrecision, c.getScale)
        case Category.BINARY => BinaryType
        case other => throw new UnsupportedOperationException(s"unsupported orc type $other (column $n)")
      }
      StructField(n, dt)
    })
  }

  /** Lazy per-batch decode: rows stream out one VectorizedRowBatch at
    * a time, so task memory is one batch, never the file. The reader
    * closes when the iterator drains; a task-completion listener covers
    * early termination (limit, failure) — the same lifecycle contract
    * as [[ArrowIpcSource.decodeAll]].
    */
  private def decodeFile(conf: Configuration, path: String, schema: StructType): Iterator[Row] =
    new Iterator[Row] {
      private val reader = OrcFile.createReader(new Path(path), OrcFile.readerOptions(conf))
      private val rows =
        try reader.rows()
        catch { case e: Throwable => reader.close(); throw e }
      private val batch = reader.getSchema.createRowBatch()
      private var rowIdx = 0
      private var open = true

      Option(org.apache.spark.TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => close()))

      private def close(): Unit =
        if (open) {
          open = false
          rows.close()
          reader.close()
        }

      private def advance(): Unit =
        while (open && rowIdx >= batch.size) {
          if (rows.nextBatch(batch)) rowIdx = 0
          else close()
        }

      override def hasNext: Boolean = { advance(); open }

      override def next(): Row = {
        advance()
        if (!open) throw new NoSuchElementException("exhausted orc batch iterator")
        val values = new Array[Any](schema.length)
        var c = 0
        while (c < schema.length) {
          values(c) = readValue(batch.cols(c), rowIdx, schema(c).dataType)
          c += 1
        }
        rowIdx += 1
        Row.fromSeq(values.toIndexedSeq)
      }
    }

  private def readValue(v: ColumnVector, rowIdx: Int, dt: DataType): Any = {
    val i = if (v.isRepeating) 0 else rowIdx
    if (!v.noNulls && v.isNull(i)) return null
    (v, dt) match {
      case (x: LongColumnVector, BooleanType) => x.vector(i) == 1L
      case (x: LongColumnVector, ByteType) => x.vector(i).toByte
      case (x: LongColumnVector, ShortType) => x.vector(i).toShort
      case (x: LongColumnVector, IntegerType) => x.vector(i).toInt
      case (x: LongColumnVector, LongType) => x.vector(i)
      case (x: LongColumnVector, DateType) => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(x.vector(i)))
      case (x: DoubleColumnVector, FloatType) => x.vector(i).toFloat
      case (x: DoubleColumnVector, DoubleType) => x.vector(i)
      case (x: BytesColumnVector, StringType) => new String(x.vector(i), x.start(i), x.length(i), "UTF-8")
      case (x: BytesColumnVector, BinaryType) => java.util.Arrays.copyOfRange(x.vector(i), x.start(i), x.start(i) + x.length(i))
      case (x: TimestampColumnVector, TimestampType) =>
        val ts = new java.sql.Timestamp(x.time(i))
        ts.setNanos(x.nanos(i))
        ts
      case (x: DecimalColumnVector, d: DecimalType) =>
        x.vector(i).getHiveDecimal.bigDecimalValue().setScale(d.scale)
      case (other, t) => throw new UnsupportedOperationException(s"unsupported orc vector ${other.getClass} for $t")
    }
  }
}
