package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.hive.ql.exec.vector.{BytesColumnVector, DoubleColumnVector, TimestampColumnVector}
import org.apache.orc.{OrcFile, TypeDescription}
import org.apache.spark.graft.ListenerTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ConfiguredSource, SourceConfig, SourceFrames}

/** The [[SourceFrames]] memo: a repeated read of an unchanged file
  * source costs a listing and no Spark job; any change to the listing
  * rebuilds the frame.
  */
class SourceFramesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-memo").toString

  private def writeCsv(path: String, rows: Seq[(String, String, Double)]): Unit =
    Files.writeString(
      Paths.get(path),
      rows.map { case (s, ts, v) => s"$s,$ts,$v" }.mkString("series_name,ts,value\n", "\n", "\n"),
    )

  /** Spark jobs `f` launches, counted once the listener bus drained. */
  private def jobsOf[T](session: SparkSession)(f: => T): (T, Int) = {
    val sc = session.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerTestBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = f
      ListenerTestBridge.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def csvSource(path: String) =
    new ConfiguredSource(SourceConfig(path = path, fileFormat = "csv", valueType = "auto"))

  private def relationOf(df: DataFrame): HadoopFsRelation =
    GraftSqlBridge.logicalPlan(df).collectFirst { case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r }.get

  test("a second read of an unchanged CSV, parquet or Hive-dir source launches no Spark job before its action") {
    val csvDir = tmp()
    writeCsv(s"$csvDir/part-0.csv", Seq(("a", "2024-01-01 00:00:00", 1.0), ("b", "2024-01-01 01:00:00", 2.5)))
    val parquetDir = tmp()
    Seq(("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("series_name", "ts", "value")
      .write.mode("overwrite").parquet(s"$parquetDir/t")
    val hiveDir = tmp()
    Seq(("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0), ("b", java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 2.0))
      .toDF("series_name", "ts", "value")
      .write.partitionBy("series_name").mode("overwrite").parquet(s"$hiveDir/h")
    val sources = Seq(
      "csv" -> csvSource(csvDir),
      "parquet" -> new ConfiguredSource(SourceConfig(path = s"$parquetDir/t")),
      "hive dir" -> new ConfiguredSource(SourceConfig(path = s"$hiveDir/h", dataFormat = "dir")),
    )
    for ((name, src) <- sources) {
      val (first, _) = jobsOf(spark)(src.read(spark))
      val (second, jobs) = jobsOf(spark)(src.read(spark))
      assert(jobs == 0, s"$name: second read launched $jobs jobs")
      assert(second.collect().toSet == first.collect().toSet, name)
    }
    // a first read does run the CSV inference jobs, so the zero above
    // is the memo's doing
    val newDir = tmp()
    writeCsv(s"$newDir/x.csv", Seq(("a", "2024-01-01 00:00:00", 1.0)))
    val (_, fresh) = jobsOf(spark)(csvSource(newDir).read(spark))
    assert(fresh > 0)
  }

  test("rewritten, added and deleted files show on the next read without FileNotFoundException") {
    val dir = tmp()
    val src = csvSource(dir)
    writeCsv(s"$dir/part-0.csv", Seq(("a", "2024-01-01 00:00:00", 1.0), ("a", "2024-01-01 01:00:00", 2.0)))
    assert(src.read(spark).count() == 2)
    // rewrite with another length
    writeCsv(s"$dir/part-0.csv", Seq(("a", "2024-01-01 00:00:00", 1.0), ("a", "2024-01-01 01:00:00", 2.0), ("b", "2024-01-01 02:00:00", 3.0)))
    assert(src.read(spark).count() == 3)
    // add a file
    writeCsv(s"$dir/part-1.csv", Seq(("c", "2024-01-02 00:00:00", 4.0)))
    assert(src.read(spark).count() == 4)
    // delete a file: the kept frame would scan the deleted path
    Files.delete(Paths.get(s"$dir/part-0.csv"))
    assert(src.read(spark).select("series_name").as[String].collect().toSeq == Seq("c"))
    // parquet through Tables: an overwrite replaces every part file
    val sf = tmp()
    Seq((1L, "x")).toDF("k", "v").write.parquet(s"$sf/nation.parquet")
    assert(Tables.nation(spark, sf).count() == 1)
    Seq((1L, "x"), (2L, "y")).toDF("k", "v").write.mode("overwrite").parquet(s"$sf/nation.parquet")
    assert(Tables.nation(spark, sf).count() == 2)
  }

  test("glob paths read through the memo and pick up new matching files") {
    val dir = tmp()
    writeCsv(s"$dir/a.csv", Seq(("a", "2024-01-01 00:00:00", 1.0)))
    Files.writeString(Paths.get(s"$dir/notes.txt"), "not data\n")
    val src = csvSource(s"$dir/*.csv")
    assert(src.read(spark).count() == 1)
    val (again, jobs) = jobsOf(spark)(src.read(spark))
    assert(jobs == 0)
    assert(again.count() == 1)
    writeCsv(s"$dir/b.csv", Seq(("b", "2024-01-01 00:00:00", 2.0)))
    assert(src.read(spark).select("series_name").as[String].collect().sorted.toSeq == Seq("a", "b"))
  }

  test("a missing path raises the same error as a plain read") {
    val dir = tmp()
    for (missing <- Seq(s"$dir/absent", s"$dir/*.nomatch")) {
      val plain = intercept[AnalysisException](
        spark.read.format("csv").option("header", "true").option("sep", ",").load(missing)
      )
      val viaMemo = intercept[AnalysisException](new ConfiguredSource(SourceConfig(path = missing, fileFormat = "csv")).read(spark))
      assert(viaMemo.getCondition == plain.getCondition, viaMemo.getMessage)
      assert(viaMemo.getMessage == plain.getMessage)
    }
  }

  test("two sessions never share a frame") {
    val dir = tmp()
    writeCsv(s"$dir/part-0.csv", Seq(("a", "2024-01-01 00:00:00", 1.0), ("a", "2024-01-01 01:00:00", 2.0)))
    val src = csvSource(dir)
    val mine = src.read(spark)
    val other = spark.newSession()
    val (theirs, jobs) = jobsOf(other)(src.read(other))
    assert(jobs > 0, "the other session's first read must infer its own schema")
    assert(theirs.sparkSession eq other)
    assert(relationOf(theirs).sparkSession eq other)
    assert(relationOf(mine).sparkSession eq spark)
    assert(relationOf(src.read(spark)) eq relationOf(mine))
    assert(!(relationOf(src.read(other)) eq relationOf(mine)))
  }

  test("two reads of one table self-join like two independent loads") {
    // Tables hands out the raw relation, so both sides would carry the
    // same attribute ids unless each read gets fresh ones
    val sf = tmp()
    Seq((1L, "a", 1.0), (1L, "b", 2.0), (2L, "c", 3.0)).toDF("k", "name", "v").write.parquet(s"$sf/nation.parquet")
    Tables.nation(spark, sf).count()
    val (a, b) = (Tables.nation(spark, sf), Tables.nation(spark, sf))
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) intersect ids(b)).isEmpty)
    assert(a.join(b, a("k") === b("k") && a("v") < b("v")).select(a("name"), b("name")).as[(String, String)].collect().toSeq == Seq(("a", "b")))
  }

  test("a second read of an unchanged filename-keyed dir launches no Spark job; series file changes show on the next read") {
    val csvDir = Paths.get(tmp())
    Files.writeString(csvDir.resolve("a.csv"), "2024-01-01 00:00:00,1.0\n")
    Files.writeString(csvDir.resolve("b.csv"), "2024-01-01 00:00:01,2.0\n")
    val csv = new ConfiguredSource(
      SourceConfig(path = csvDir.toString, fileFormat = "csv", dataFormat = "dir", csvHeader = false, valueType = "auto",
        pathEncoding = Some("name"))
    )
    val parquetDir = Paths.get(tmp())
    val stage = tmp()
    Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0)).toDF("ts", "value").coalesce(1).write.parquet(s"$stage/p")
    val part = Files.list(Paths.get(s"$stage/p")).filter(_.toString.endsWith(".parquet")).findFirst().get
    def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    Files.copy(part, parquetDir.resolve(s"${b64("x")}.parquet"))
    val parquet = new ConfiguredSource(SourceConfig(path = parquetDir.toString, dataFormat = "dir", pathEncoding = Some("base64")))
    for ((name, src) <- Seq("plain csv" -> csv, "base64 parquet" -> parquet)) {
      val (first, firstJobs) = jobsOf(spark)(src.read(spark))
      assert(firstJobs > 0, s"$name: a first read infers its schema")
      val (second, jobs) = jobsOf(spark)(src.read(spark))
      assert(jobs == 0, s"$name: second read launched $jobs jobs")
      assert(relationOf(second) eq relationOf(first), name)
      assert(second.collect().toSet == first.collect().toSet, name)
    }
    def series(src: ConfiguredSource) =
      src.read(spark).select("series_name", "value").as[(String, Double)].collect().toSeq.sorted
    // rewrite a series file with another length
    Files.writeString(csvDir.resolve("a.csv"), "2024-01-01 00:00:00,1.0\n2024-01-01 00:00:02,3.0\n")
    assert(series(csv) == Seq(("a", 1.0), ("a", 3.0), ("b", 2.0)))
    // add one
    Files.writeString(csvDir.resolve("c.csv"), "2024-01-01 00:00:03,4.0\n")
    assert(series(csv) == Seq(("a", 1.0), ("a", 3.0), ("b", 2.0), ("c", 4.0)))
    // delete one: the kept index would open the deleted file
    Files.delete(csvDir.resolve("a.csv"))
    assert(series(csv) == Seq(("b", 2.0), ("c", 4.0)))
    assert(csv.read(spark).where($"series_name" === "b").count() == 1)
    Files.copy(part, parquetDir.resolve(s"${b64("y")}.parquet"))
    assert(series(parquet) == Seq(("x", 1.0), ("y", 1.0)))
    Files.delete(parquetDir.resolve(s"${b64("x")}.parquet"))
    assert(series(parquet) == Seq(("y", 1.0)))
  }

  test("a path probe's answer is kept while the listing is unchanged") {
    val dir = tmp()
    writeCsv(s"$dir/part-0.csv", Seq(("a", "2024-01-01 00:00:00", 1.0)))
    val asked = new AtomicInteger
    def probe() = SourceFrames.probe(spark, dir, "spec") { asked.incrementAndGet(); true }
    assert(probe() && probe())
    assert(asked.get == 1)
    writeCsv(s"$dir/part-1.csv", Seq(("b", "2024-01-01 00:00:00", 2.0)))
    assert(probe() && asked.get == 2)
  }

  test("the ORC instant-type reroute follows a swap of the file") {
    val dir = tmp()
    val file = Paths.get(dir, "row.orc")
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // what pyarrow writes for tz-aware timestamps: TIMESTAMP_INSTANT
    def writeInstant(): Unit = {
      val schema = TypeDescription.fromString("struct<series_name:string,ts:timestamp with local time zone,value:double>")
      val writer = OrcFile.createWriter(new HPath(file.toString), OrcFile.writerOptions(new Configuration()).setSchema(schema))
      val batch = schema.createRowBatch()
      batch.cols(0).asInstanceOf[BytesColumnVector].setVal(0, "instant".getBytes("UTF-8"))
      batch.cols(1).asInstanceOf[TimestampColumnVector].set(0, ts)
      batch.cols(2).asInstanceOf[DoubleColumnVector].vector(0) = 1.5
      batch.size = 1
      writer.addRowBatch(batch)
      writer.close()
    }
    val stage = tmp()
    Seq(("plain", ts, 2.5), ("plain", ts, 3.5)).toDF("series_name", "ts", "value").coalesce(1).write.orc(s"$stage/o")
    val plainPart = Files.list(Paths.get(s"$stage/o")).filter(_.toString.endsWith(".orc")).findFirst().get
    def swap(write: => Unit): Unit = {
      Files.list(Paths.get(dir)).iterator().asScala.toList.foreach(Files.delete)
      write
    }
    val src = new ConfiguredSource(SourceConfig(path = dir, fileFormat = "orc"))
    def read(): (Boolean, Seq[(String, Double)]) = {
      val df = src.read(spark)
      val rerouted = GraftSqlBridge.logicalPlan(df).collectFirst { case _: LogicalRDD => true }.isDefined
      (rerouted, df.select("series_name", "value").as[(String, Double)].collect().toSeq.sorted)
    }
    writeInstant()
    assert(read() == (true, Seq(("instant", 1.5))))
    assert(read() == (true, Seq(("instant", 1.5))))
    swap(Files.copy(plainPart, file))
    assert(read() == (false, Seq(("plain", 2.5), ("plain", 3.5))))
    swap(writeInstant())
    assert(read() == (true, Seq(("instant", 1.5))))
  }

  test("stopping a session drops its memo entries") {
    // stopping a session stops the shared SparkContext, so this runs in
    // its own JVM (see SourceFramesStopProbe)
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xlog") || a.startsWith("-agentlib"))
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"), "graft.SourceFramesStopProbe")
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toVector
    assert(proc.waitFor() == 0, out.takeRight(40).mkString("\n"))
    val result = out.filter(_.startsWith("memo-probe ")).lastOption.getOrElse(fail(out.takeRight(40).mkString("\n")))
    assert(result == "memo-probe kept=1 after_stop=0", result)
  }
}

/** Child-JVM probe for [[SourceFramesSpec]]: read a CSV source twice
  * through the memo, stop the session, then report the memo's entries
  * before and after the stop. (Whether the JVM then collects the
  * session is Spark's business: after any query Spark itself keeps a
  * stopped session reachable, memo or not.)
  */
object SourceFramesStopProbe {
  def main(args: Array[String]): Unit = {
    val dir = Files.createTempDirectory("graft-memo-stop")
    Files.writeString(dir.resolve("part-0.csv"), "series_name,ts,value\na,2024-01-01 00:00:00,1.0\n")
    val spark = SparkSession.builder().master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    val src = new ConfiguredSource(SourceConfig(path = dir.toString, fileFormat = "csv", valueType = "auto"))
    src.read(spark).count()
    src.read(spark).count()
    val kept = SourceFrames.size
    spark.stop()
    println(s"memo-probe kept=$kept after_stop=${SourceFrames.size}")
  }
}
