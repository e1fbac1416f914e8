package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a query's result is checked. Every query has exactly one. */
sealed trait Check

/** DuckDB-dialect SQL over the same parquet tables; the verify gate
  * hash-compares the query's result against it.
  */
final case class Oracle(sql: String) extends Check

/** Why the query cannot be replayed in DuckDB. The verify dump ships
  * the reason with the rows-only result; each such operator is covered
  * by ScalaTest property and parity specs instead.
  */
final case class NoOracle(reason: String) extends Check

/** One registry entry: a query's name, its plan over a scale-factor
  * directory, and how its result is checked.
  */
final case class QuerySpec(name: String, plan: (SparkSession, String) => DataFrame, check: Check)

object QuerySpec {

  /** Index `specs` by name. A `Map(...)` literal silently keeps the
    * last of two equal keys; this fails instead and names every
    * duplicate.
    */
  def registry(specs: Seq[QuerySpec]): Map[String, QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    specs.map(q => q.name -> q).toMap
  }
}
