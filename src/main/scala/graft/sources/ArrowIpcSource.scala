package graft.sources

import scala.collection.JavaConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowReader, ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Arrow IPC sources: the random-access *file* format (`.arrow`,
  * Feather v2 — kukur/source/feather) and the *streaming* format
  * (`.arrows` — kukur/source/arrows).
  *
  * Spark has no built-in Arrow IPC reader, so this distributes the
  * decode: files land as `binaryFile` rows (one per file, so a
  * directory of IPC files parallelizes per-file — the natural unit,
  * since IPC footers aren't splittable), and each partition decodes its
  * files with the Arrow Java reader. Schema is inferred driver-side
  * from the first file's metadata only.
  *
  * The decoded frame feeds the same canonical pipeline as every other
  * source (row/pivot semantics via ConfiguredSource-style reshaping).
  */
object ArrowIpcSource {

  /** Read a directory (or single file) of Arrow IPC files. `streaming`
    * selects the stream format (`.arrows`) over the file format.
    */
  def read(spark: SparkSession, path: String, streaming: Boolean = false): DataFrame = {
    val bin = spark.read.format("binaryFile").load(path).select("content")
    val sparkSchema = {
      val firstBytes = bin.limit(1).collect().headOption
        .map(_.getAs[Array[Byte]](0))
        .getOrElse(throw new IllegalArgumentException(s"no files at $path"))
      withReader(firstBytes, streaming)(r => toSparkSchema(r.getVectorSchemaRoot.getSchema))
    }
    val rows = bin.rdd.mapPartitions { files =>
      files.flatMap { fileRow =>
        val bytes = fileRow.getAs[Array[Byte]](0)
        decodeAll(bytes, streaming, sparkSchema)
      }
    }
    spark.createDataFrame(rows, sparkSchema)
  }

  /** Write a frame as a directory of Arrow IPC streaming files, one per
    * partition — the sink dual of [[read]]'s per-file parallel decode.
    * Each task writes its own `part-N.arrows` in batches of
    * `batchRows`, so executor memory holds one batch, not a partition.
    * Paths are executor-local unless `dir` is on a shared filesystem —
    * same contract as any local-FS sink.
    */
  def write(df: DataFrame, dir: String, batchRows: Int = 4096): Unit = {
    val schema = df.schema
    checkWritableSchema(schema)
    val d = new java.io.File(dir)
    d.mkdirs()
    // overwrite semantics: a previous wider write must not leave stale
    // part files that a later read (or glob) would mix into the result
    Option(d.listFiles()).getOrElse(Array.empty).filter(_.getName.endsWith(".arrows")).foreach(_.delete())
    df.rdd.foreachPartition { it =>
      if (it.hasNext) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        writeRows(it, schema, s"$dir/part-$pid.arrows", batchRows)
      }
    }
    // empty frame (or all-empty partitions): still emit one schema-only
    // file so the directory stays readable and globs stay non-empty
    if (Option(d.listFiles()).getOrElse(Array.empty).count(_.getName.endsWith(".arrows")) == 0)
      writeRows(Iterator.empty, schema, s"$dir/part-0.arrows", batchRows)
  }

  /** Supported write types — validated BEFORE any native allocation so
    * an unsupported schema cannot leak Arrow direct memory.
    */
  private def checkWritableSchema(schema: StructType): Unit =
    schema.fields.foreach { f =>
      f.dataType match {
        case LongType | IntegerType | DoubleType | FloatType | BooleanType | StringType | TimestampType => ()
        case other => throw new UnsupportedOperationException(s"unsupported arrow write type $other (column ${f.name})")
      }
    }

  /** Encode rows into one Arrow IPC streaming file (driver- or
    * task-side). Nested try/finally: each native resource closes even
    * when a later one fails to construct.
    */
  private[sources] def writeRows(rows: Iterator[Row], schema: StructType, path: String, batchRows: Int): Unit = {
    checkWritableSchema(schema)
    val allocator = new RootAllocator(Long.MaxValue)
    try {
      // cannot throw: schema pre-validated
      val vectors: Seq[FieldVector] = schema.fields.toSeq.map { f =>
        f.dataType match {
          case LongType => new BigIntVector(f.name, allocator)
          case IntegerType => new IntVector(f.name, allocator)
          case DoubleType => new Float8Vector(f.name, allocator)
          case FloatType => new Float4Vector(f.name, allocator)
          case BooleanType => new BitVector(f.name, allocator)
          case StringType => new VarCharVector(f.name, allocator)
          case TimestampType => new TimeStampMicroVector(f.name, allocator)
          case other => throw new UnsupportedOperationException(s"unreachable: $other")
        }
      }
      val root = new VectorSchemaRoot(vectors.asJava)
      try {
        val out = new java.io.FileOutputStream(path)
        try {
          val writer = new ArrowStreamWriter(root, null, out.getChannel)
          try {
            writer.start()
            rows.grouped(batchRows).foreach { batch =>
              root.allocateNew()
              batch.zipWithIndex.foreach { case (row, i) =>
                vectors.zipWithIndex.foreach { case (v, c) =>
                  if (row.isNullAt(c)) () // setSafe skipped → null slot
                  else writeValue(v, i, row.get(c))
                }
              }
              root.setRowCount(batch.size)
              writer.writeBatch()
            }
            // a zero-batch stream still carries the schema header
            writer.end()
          } finally writer.close()
        } finally out.close()
      } finally root.close()
    } finally allocator.close()
  }

  private def writeValue(v: FieldVector, i: Int, value: Any): Unit = (v, value) match {
    case (x: BigIntVector, a: Long) => x.setSafe(i, a)
    case (x: IntVector, a: Int) => x.setSafe(i, a)
    case (x: Float8Vector, a: Double) => x.setSafe(i, a)
    case (x: Float4Vector, a: Float) => x.setSafe(i, a)
    case (x: BitVector, a: Boolean) => x.setSafe(i, if (a) 1 else 0)
    case (x: VarCharVector, a: String) => x.setSafe(i, a.getBytes("UTF-8"))
    case (x: TimeStampMicroVector, a: java.sql.Timestamp) => x.setSafe(i, graft.model.Time.micros(a))
    case _ => throw new UnsupportedOperationException(s"cannot write $value to ${v.getClass}")
  }

  private[sources] def withReader[T](bytes: Array[Byte], streaming: Boolean)(f: ArrowReader => T): T = {
    val allocator = new RootAllocator(Long.MaxValue)
    // CommonsCompressionFactory decodes LZ4/ZSTD record batches —
    // pyarrow's write_feather compresses with LZ4 by default, so
    // Feather v2 files from the wild are usually compressed; the
    // factory is a no-op passthrough for uncompressed batches
    val codecs = org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE
    val reader =
      if (streaming) new ArrowStreamReader(new java.io.ByteArrayInputStream(bytes), allocator, codecs)
      else new ArrowFileReader(new ByteArrayReadableSeekableByteChannel(bytes), allocator, codecs)
    try f(reader)
    finally {
      reader.close()
      allocator.close()
    }
  }

  /** Lazy per-batch decode: rows stream out batch by batch, so task
    * memory is bounded by one file's raw bytes (the binaryFile row —
    * IPC footers aren't splittable) plus ONE decoded Arrow batch, not
    * the whole decoded file. The reader/allocator close when the
    * iterator drains; a task-completion listener covers early
    * termination (limit, failure).
    */
  private[sources] def decodeAll(bytes: Array[Byte], streaming: Boolean, schema: StructType): Iterator[Row] =
    new Iterator[Row] {
      private val allocator = new RootAllocator(Long.MaxValue)
      // corrupt bytes throw during construction — the allocator must
      // not outlive a reader that never existed
      private val reader: ArrowReader =
        try {
          if (streaming) new ArrowStreamReader(new java.io.ByteArrayInputStream(bytes), allocator)
          else new ArrowFileReader(new ByteArrayReadableSeekableByteChannel(bytes), allocator)
        } catch { case e: Throwable => allocator.close(); throw e }
      private val root =
        try reader.getVectorSchemaRoot
        catch { case e: Throwable => reader.close(); allocator.close(); throw e }
      private var vectors: Seq[(FieldVector, DataType)] = Nil
      private var rowIdx = 0
      private var rowCount = 0
      private var open = true

      Option(org.apache.spark.TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => close()))

      private def close(): Unit =
        if (open) {
          open = false
          reader.close()
          allocator.close()
        }

      private def advance(): Unit =
        while (open && rowIdx >= rowCount) {
          if (reader.loadNextBatch()) {
            rowIdx = 0
            rowCount = root.getRowCount
            // field-vector handles are per-batch state: hoist once here
            // instead of rebuilding the Seq on every row
            vectors = root.getFieldVectors.asScala.toSeq.zip(schema.fields.toSeq.map(_.dataType))
          } else close()
        }

      override def hasNext: Boolean = { advance(); open }

      override def next(): Row = {
        advance()
        if (!open) throw new NoSuchElementException("exhausted arrow batch iterator")
        val r = Row.fromSeq(vectors.map { case (v, dt) => readValue(v, rowIdx, dt) })
        rowIdx += 1
        r
      }
    }

  private def readValue(v: FieldVector, i: Int, dt: DataType): Any = {
    if (v.isNull(i)) null
    else
      (v, dt) match {
        case (x: BigIntVector, _) => x.get(i)
        case (x: IntVector, _) => x.get(i)
        case (x: Float8Vector, _) => x.get(i)
        case (x: Float4Vector, _) => x.get(i)
        case (x: BitVector, _) => x.get(i) == 1
        case (x: VarCharVector, _) => new String(x.get(i), "UTF-8")
        case (x: TimeStampMicroVector, _) => microsToTimestamp(x.get(i))
        case (x: TimeStampMicroTZVector, _) => microsToTimestamp(x.get(i))
        case (x: TimeStampNanoVector, _) => microsToTimestamp(Math.floorDiv(x.get(i), 1000L))
        case (x: TimeStampNanoTZVector, _) => microsToTimestamp(Math.floorDiv(x.get(i), 1000L))
        case (x: TimeStampMilliVector, _) => microsToTimestamp(x.get(i) * 1000L)
        case (x: TimeStampMilliTZVector, _) => microsToTimestamp(x.get(i) * 1000L)
        case (x: TimeStampSecVector, _) => microsToTimestamp(x.get(i) * 1000000L)
        case (x: TimeStampSecTZVector, _) => microsToTimestamp(x.get(i) * 1000000L)
        case _ => throw new UnsupportedOperationException(s"unsupported arrow vector ${v.getClass}")
      }
  }

  private def microsToTimestamp(us: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }

  private[sources] def toSparkSchema(schema: org.apache.arrow.vector.types.pojo.Schema): StructType =
    StructType(schema.getFields.asScala.toSeq.map { f =>
      import org.apache.arrow.vector.types.pojo.ArrowType
      val dt = f.getType match {
        case t: ArrowType.Int if t.getBitWidth == 64 => LongType
        case t: ArrowType.Int if t.getBitWidth == 32 => IntegerType
        case t: ArrowType.FloatingPoint if t.getPrecision.name == "DOUBLE" => DoubleType
        case _: ArrowType.FloatingPoint => FloatType
        case _: ArrowType.Utf8 => StringType
        case _: ArrowType.Bool => BooleanType
        case _: ArrowType.Timestamp => TimestampType
        case other => throw new UnsupportedOperationException(s"unsupported arrow type $other")
      }
      StructField(f.getName, dt, f.isNullable)
    })
}
