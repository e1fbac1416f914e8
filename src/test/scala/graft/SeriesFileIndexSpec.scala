package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.hive.ql.exec.vector.{DoubleColumnVector, TimestampColumnVector}
import org.apache.orc.{OrcFile, TypeDescription}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.SeriesSelector
import graft.sources.{ConfiguredSource, SourceConfig}

/** The one-scan read of a filename-keyed dir through
  * [[graft.sources.SeriesFileIndex]]: row-for-row parity with the
  * per-row `input_file_name()` decode ([[DirScanReference]]), and tag
  * predicates pruning the scan to the matching files.
  */
class SeriesFileIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): Path = Files.createTempDirectory("graft-series-index")
  private def b64(s: String): String = java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def write(dir: Path, name: String, body: String): Unit = Files.writeString(dir.resolve(name), body)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Index read and reference read of `cfg` agree row for row. */
  private def assertParity(cfg: SourceConfig): Seq[Row] = {
    val viaIndex = new ConfiguredSource(cfg).read(spark)
    val reference = DirScanReference.read(spark, cfg)
    assert(viaIndex.schema.map(f => f.name -> f.dataType) == reference.schema.map(f => f.name -> f.dataType))
    assert(rows(viaIndex) == rows(reference))
    viaIndex.collect().toSeq
  }

  private def csvDir(dir: Path, base64: Boolean = false, header: Boolean = false): SourceConfig =
    SourceConfig(
      path = dir.toString,
      fileFormat = "csv",
      dataFormat = "dir",
      datetimeFormat = Some("yyyy-MM-dd HH:mm:ss"),
      csvHeader = header,
      valueType = "auto",
      pathEncoding = Some(if (base64) "base64" else "name"),
    )

  private def keys(out: Seq[Row]): Set[String] = out.map(_.getAs[String]("series_name")).toSet

  test("plain names: escapes, odd extensions, empty and hidden files match the reference") {
    val dir = tmp()
    val names = Seq("plain.csv", "a b.csv", "x+y.csv", "p%q.csv", "k=v.csv", "multi.dot.name.csv",
      "odd.data2", "odd.csv~", "noext", "_x=1.csv")
    names.zipWithIndex.foreach { case (n, i) => write(dir, n, s"2024-01-01 00:00:0$i,${i + 0.5}\n") }
    write(dir, "empty.csv", "")
    // Spark's listing skips these; their content would not even parse
    write(dir, "_hidden.csv", "not,a,series,file\n")
    write(dir, ".dot.csv", "not,a,series,file\n")
    val out = assertParity(csvDir(dir))
    assert(out.length == names.length)
    // `odd.csv~` and `noext` have no alphanumeric extension: both read
    // under the empty key, as the reference always did
    assert(keys(out) == Set("plain", "a b", "x+y", "p%q", "k=v", "multi.dot.name", "odd", "", "_x=1"))
  }

  test("plain non-ASCII names match the reference") {
    // a JVM under the POSIX locale cannot name such a file at all, so
    // this runs in a child JVM under a UTF-8 locale
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xlog") || a.startsWith("-agentlib"))
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"), "graft.SeriesFileIndexUtf8Probe")
    val pb = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
    pb.environment().put("LC_ALL", "C.UTF-8")
    val proc = pb.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream)(scala.io.Codec.UTF8).getLines().toVector
    assert(proc.waitFor() == 0, out.takeRight(40).mkString("\n"))
    val result = out.filter(_.startsWith("utf8-probe ")).lastOption.getOrElse(fail(out.takeRight(40).mkString("\n")))
    assert(result == "utf8-probe parity=true keys=ascii|ünï çødé|日本", result)
  }

  test("plain names with a quality column match the reference") {
    val dir = tmp()
    write(dir, "s1.csv", "2024-01-01 00:00:00,1.5,192\n2024-01-01 00:00:01,2.5,0\n")
    write(dir, "s 2.csv", "2024-01-01 00:00:02,3.5,192\n")
    val out = assertParity(csvDir(dir).copy(qualityGood = Seq(192)))
    assert(out.map(_.getAs[Int]("quality")).sorted == Seq(0, 1, 1))
  }

  test("base64 names in CSV: '+', padding, non-ASCII, odd extensions, empty and hidden files match the reference") {
    val dir = tmp()
    val series = Seq("temp", "~~~", "a", "ü unit", "k=v")
    assert(b64("~~~").contains("+") && b64("a").endsWith("=="))
    series.zipWithIndex.foreach { case (s, i) => write(dir, s"${b64(s)}.csv", s"2024-01-01 00:00:0$i,$i.25\n") }
    write(dir, s"${b64("odd")}.txt", "2024-01-01 00:00:09,9.0\n")
    // an empty file holds no rows, so its name is never decoded, even
    // when it is no base64 at all
    write(dir, "abcde.csv", "")
    write(dir, "_SUCCESS", "")
    write(dir, ".crc", "garbage\n")
    val out = assertParity(csvDir(dir, base64 = true))
    assert(keys(out) == (series :+ "odd").toSet)
  }

  test("base64-named parquet matches the reference") {
    val dir = tmp()
    val stage = tmp()
    Seq(("2024-01-01 00:00:00", 1.0), ("2024-01-01 01:00:00", 2.0)).toDF("ts", "value")
      .select(to_timestamp(col("ts")).as("ts"), col("value"))
      .coalesce(1).write.mode("overwrite").parquet(stage.resolve("p").toString)
    val part = Files.list(stage.resolve("p")).filter(_.toString.endsWith(".parquet")).findFirst().get
    for (s <- Seq("one", "~~~", "ü")) Files.copy(part, dir.resolve(s"${b64(s)}.parquet"))
    write(dir, "_SUCCESS", "")
    write(dir, ".part.crc", "garbage\n")
    val cfg = SourceConfig(path = dir.toString, dataFormat = "dir", pathEncoding = Some("base64"))
    val out = assertParity(cfg)
    assert(out.length == 6 && keys(out) == Set("one", "~~~", "ü"))
  }

  test("a headered CSV whose header names the tag column reads the key from the path") {
    val dir = tmp()
    write(dir, "right.csv", "series_name,ts,value\nwrong,2024-01-01 00:00:00,1.0\n")
    write(dir, "other.csv", "series_name,ts,value\nwrong,2024-01-01 00:00:01,2.0\n")
    val out = assertParity(csvDir(dir, header = true))
    assert(keys(out) == Set("right", "other"))
    // with a BOM ahead of the tag header, too
    val bom = tmp()
    write(bom, "right.csv", "\uFEFFseries_name,ts,value\nwrong,2024-01-01 00:00:00,1.0\n")
    assert(keys(assertParity(csvDir(bom, header = true))) == Set("right"))
  }

  test("deliberate differences: an undecodable base64 name fails at read, a space in a base64 name is skipped") {
    val bad = tmp()
    write(bad, s"${b64("good")}.csv", "2024-01-01 00:00:00,1.0\n")
    write(bad, "abcde.csv", "2024-01-01 00:00:01,2.0\n")
    val e = intercept[IllegalArgumentException](new ConfiguredSource(csvDir(bad, base64 = true)).read(spark))
    assert(e.getMessage.contains("abcde.csv"))
    // the reference fails too, but only once the scan decodes that row
    val reference = DirScanReference.read(spark, csvDir(bad, base64 = true))
    intercept[Exception](reference.collect())
    // the index decodes the raw name, where a space is outside the
    // alphabet and skipped; the reference decoded the URI escape "%20",
    // whose digits are alphabet characters
    val spaced = tmp()
    write(spaced, "Y Q==.csv", "2024-01-01 00:00:00,1.0\n")
    assert(keys(new ConfiguredSource(csvDir(spaced, base64 = true)).read(spark).collect().toSeq) == Set("a"))
    intercept[Exception](DirScanReference.read(spark, csvDir(spaced, base64 = true)).collect())
  }

  test("a base64 dir of instant-typed ORC reads per file, each series under its key") {
    // Spark's ORC reader cannot open TIMESTAMP_INSTANT (what pyarrow
    // writes for tz-aware timestamps): no file index can key such a
    // scan, so the dir takes the per-file path
    val dir = tmp()
    val schema = TypeDescription.fromString("struct<ts:timestamp with local time zone,value:double>")
    for ((s, i) <- Seq("one", "~~~").zipWithIndex) {
      val writer = OrcFile.createWriter(new HPath(dir.resolve(s"${b64(s)}.orc").toString), OrcFile.writerOptions(new Configuration()).setSchema(schema))
      val batch = schema.createRowBatch()
      batch.cols(0).asInstanceOf[TimestampColumnVector].set(0, Timestamp.valueOf("2024-01-01 00:00:00"))
      batch.cols(1).asInstanceOf[DoubleColumnVector].vector(0) = i + 0.5
      batch.size = 1
      writer.addRowBatch(batch)
      writer.close()
    }
    val src = new ConfiguredSource(SourceConfig(path = dir.toString, fileFormat = "orc", dataFormat = "dir", pathEncoding = Some("base64")))
    assert(src.read(spark).select("series_name", "value").as[(String, Double)].collect().toSeq.sorted == Seq(("one", 0.5), ("~~~", 1.5)))
  }

  /** The file scans of `df`'s executed plan. */
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec    => Seq(s)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec        => scans(q.plan)
    case other                    => other.children.flatMap(scans)
  }

  /** Files the scans of `df` opened, read off the `numFiles` metric
    * once `df` ran.
    */
  private def filesOpened(df: DataFrame): (Seq[Row], Long) = {
    val out = df.collect().toSeq
    (out, scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum)
  }

  test("a tag predicate opens only the matching files") {
    val dir = tmp()
    for (s <- Seq("a", "b", "c", "d")) write(dir, s"$s.csv", s"2024-01-01 00:00:00,1.0\n2024-01-01 00:00:01,2.0\n")
    val src = new ConfiguredSource(csvDir(dir))
    val (all, allFiles) = filesOpened(src.read(spark))
    assert(all.length == 8 && allFiles == 4)
    val (one, oneFile) = filesOpened(src.read(spark).where(col("series_name") === "b"))
    assert(keys(one) == Set("b") && one.length == 2 && oneFile == 1)
    val (two, twoFiles) = filesOpened(src.read(spark).where(col("series_name").isin("a", "d")))
    assert(keys(two) == Set("a", "d") && twoFiles == 2)
    // Graft.filterTags' formulation: a string cast of the tag
    val (cast, castFiles) = filesOpened(src.read(spark).where(col("series_name").cast("string") === lit("c")))
    assert(keys(cast) == Set("c") && castFiles == 1)
  }

  test("Graft.getData's filterTags path prunes the scan") {
    val dir = tmp()
    Files.createDirectories(dir.resolve("data"))
    for (s <- Seq("a", "b", "c")) write(dir.resolve("data"), s"$s.csv", s"2024-01-01 00:00:00,1.0\n")
    write(dir, "graft.toml",
      """[source.d]
        |type = "csv"
        |format = "dir"
        |path = "data"
        |tag_columns = ["series_name"]
        |data_datetime_format = "yyyy-MM-dd HH:mm:ss"
        |""".stripMargin)
    val graft = Graft.fromConfig(spark, dir.resolve("graft.toml").toString)
    val (start, end) = (Timestamp.valueOf("2024-01-01 00:00:00"), Timestamp.valueOf("2024-01-02 00:00:00"))
    // an unknown series names no file, so getData's tag filter on the
    // whole-source read opens nothing
    val (none, noFiles) = filesOpened(graft.getData("d", SeriesSelector("d", Map("series_name" -> "zz")), start, end))
    assert(none.isEmpty && noFiles == 0)
    val (one, _) = filesOpened(graft.getData("d", SeriesSelector("d", Map("series_name" -> "b")), start, end))
    assert(one.map(_.getAs[Double]("value")) == Seq(1.0))
  }

  test("a tag filter reads a base64-parquet series beside a corrupt file") {
    val dir = tmp()
    val stage = tmp()
    Seq((Timestamp.valueOf("2024-01-01 00:00:00"), 1.0)).toDF("ts", "value")
      .coalesce(1).write.mode("overwrite").parquet(stage.resolve("p").toString)
    val part = Files.list(stage.resolve("p")).filter(_.toString.endsWith(".parquet")).findFirst().get
    Files.copy(part, dir.resolve(s"${b64("good")}.parquet"))
    // parquet schema inference reads one footer, the first series
    // file's by path, as a plain load reads its first file's: the
    // corrupt file sorts after the good one ("eno=" > "Z29vZA==")
    write(dir, s"${b64("zz")}.parquet", "not a parquet file")
    val src = new ConfiguredSource(SourceConfig(path = dir.toString, dataFormat = "dir", pathEncoding = Some("base64")))
    val good = src.read(spark).where(col("series_name") === "good").collect()
    assert(good.map(_.getAs[Double]("value")).toSeq == Seq(1.0))
    intercept[Exception](src.read(spark).collect())
  }
}

/** Child-JVM probe for [[SeriesFileIndexSpec]], run under a UTF-8
  * locale: a plain dir with non-ASCII series file names, read through
  * the index and through [[DirScanReference]].
  */
object SeriesFileIndexUtf8Probe {
  def main(args: Array[String]): Unit = {
    val dir = Files.createTempDirectory("graft-series-utf8")
    for ((n, i) <- Seq("ascii", "ünï çødé", "日本").zipWithIndex)
      Files.writeString(dir.resolve(s"$n.csv"), s"2024-01-01 00:00:0$i,$i.5\n")
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    val cfg = SourceConfig(path = dir.toString, fileFormat = "csv", dataFormat = "dir", csvHeader = false,
      datetimeFormat = Some("yyyy-MM-dd HH:mm:ss"), pathEncoding = Some("name"))
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val viaIndex = new ConfiguredSource(cfg).read(spark)
    val parity = rows(viaIndex) == rows(DirScanReference.read(spark, cfg))
    val keys = viaIndex.select("series_name").collect().map(_.getString(0)).sorted.mkString("|")
    new java.io.PrintStream(System.out, true, "UTF-8").println(s"utf8-probe parity=$parity keys=$keys")
    spark.stop()
  }
}
