package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.TimeSeriesOps
import graft.queries._
import graft.queries.QueryFixtures._

/** Driver contract: the flagship `entry`, and the query registry — one
  * [[QuerySpec]] per operator in SURVEY.md §2, each with its DuckDB
  * oracle SQL or its named reason for having none.
  */
object SparkEntry {

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

  private val registry: Map[String, QuerySpec] = QuerySpec.registry(
    TsQueries.specs ++ RelationalQueries.specs ++ DedupQueries.specs ++ EmbeddingQueries.specs ++
      TextQueries.specs ++ CorpusQueries.specs ++ MultimodalQueries.specs ++ PipelineQueries.specs
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.plan }

  val oracleSql: Map[String, String] =
    registry.collect { case (n, QuerySpec(_, _, Oracle(sql))) => n -> sql }

  val noOracleReasons: Map[String, String] =
    registry.collect { case (n, QuerySpec(_, _, NoOracle(reason))) => n -> reason }
}
