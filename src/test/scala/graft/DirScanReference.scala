package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ConfiguredSource, SourceConfig}

/** The `input_file_name()` formulation of a one-scan filename-keyed dir
  * read, kept as the reference the specs compare the
  * [[graft.sources.SeriesFileIndex]] scan against: a plain load of the
  * whole dir, the series key decoded on every row from the URI-escaped
  * path the scan reports, then the same canonical projection.
  */
object DirScanReference {

  def read(spark: SparkSession, cfg: SourceConfig): DataFrame = {
    val src = new ConfiguredSource(cfg)
    val tag = cfg.tagColumns.head
    val loaded = spark.read
      .format(cfg.fileFormat)
      .options(src.readerOptions(spark, infer = cfg.valueType == "auto"))
      .load(cfg.path)
    val fileName = regexp_extract(input_file_name(), "([^/]+)\\.[A-Za-z0-9]+$", 1)
    val series =
      if (cfg.pathEncoding.contains("base64")) {
        // NO url_decode: it is x-www-form-urlencoded and would turn a
        // literal '+' — a standard base64 alphabet character that
        // input_file_name() leaves unencoded — into a space. Only %XX
        // escapes need undoing; base64 names never contain '%'.
        decode(unbase64(regexp_replace(fileName, "%2[Bb]", "+")), "UTF-8")
      } else {
        // plain names: undo input_file_name()'s URI escapes (%20 for a
        // space, …) after protecting any literal '+' from url_decode's
        // form-encoding rule
        url_decode(regexp_replace(fileName, "\\+", "%2B"))
      }
    src.canonicalKeyed(loaded.withColumn(tag, series), tag)
  }
}
