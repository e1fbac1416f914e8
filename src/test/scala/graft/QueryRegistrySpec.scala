package graft

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{NoOracle, Oracle, QuerySpec}

class QueryRegistrySpec extends AnyFunSuite {

  test("a registry with two specs of one name fails at construction and names the duplicate") {
    val plan = (s: org.apache.spark.sql.SparkSession, _: String) => s.range(1).select(lit(1))
    val specs = Seq(
      QuerySpec("a", plan, Oracle("SELECT 1")),
      QuerySpec("b", plan, Oracle("SELECT 1")),
      QuerySpec("a", plan, NoOracle("second entry")),
    )
    val e = intercept[IllegalArgumentException](QuerySpec.registry(specs))
    assert(e.getMessage.endsWith("duplicate query names: a"))
  }

  test("every query is checked once: 157 oracled, 16 reasoned, 171 distinct plans") {
    assert(SparkEntry.queries.size == 173)
    assert(SparkEntry.oracleSql.size == 157)
    assert(SparkEntry.noOracleReasons.size == 16)
    // the two `_exec` names share their base spec's plan and oracle
    for (base <- Seq("ts_resample_stepped", "ts_resample_linear")) {
      assert(SparkEntry.queries(s"${base}_exec") eq SparkEntry.queries(base))
      assert(SparkEntry.oracleSql(s"${base}_exec") eq SparkEntry.oracleSql(base))
    }
    assert(SparkEntry.queries.values.toSet.size == 171)
  }
}
