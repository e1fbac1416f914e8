package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Materialize

/** The registry's release property: each query, run and written at
  * sf0.001, leaves persisted only the checkpoints and caches its result
  * reads. Every other intermediate is released as the query's plan
  * returns, not by the harness sweep between queries.
  */
class RegistryReleaseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def reads(df: DataFrame): Set[Int] =
    GraftSqlBridge.rddReads(df) ++ GraftSqlBridge.cacheReads(df).map(_.cachedColumnBuffers.id)

  test("every registry entry leaves persisted only what its result reads") {
    val leaks = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, plan) =>
      Materialize.releaseAll(spark)
      val out = plan(spark, "/root/testdata/sf0.001")
      out.write.format("noop").mode("overwrite").save()
      val unread = spark.sparkContext.getPersistentRDDs.keySet.toSet -- reads(out)
      unread.toSeq.sorted.map(id => s"$name: rdd $id (${spark.sparkContext.getPersistentRDDs(id)})")
    }
    Materialize.releaseAll(spark)
    assert(leaks.isEmpty, leaks.mkString("\n"))
  }
}
