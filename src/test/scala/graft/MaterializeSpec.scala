package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CorpusFunctions, Materialize, VectorFunctions}

/** The materialization contract of [[Materialize]]: a release frees what
  * a frame holds and blocks, a scope releases everything it registered
  * on a throw, and on return everything its result no longer reads —
  * never what it still reads.
  */
class MaterializeSpec extends AnyFunSuite with BeforeAndAfterEach {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def reads(df: DataFrame): Set[Int] =
    GraftSqlBridge.rddReads(df) ++ GraftSqlBridge.cacheReads(df).map(_.cachedColumnBuffers.id)
  private def cacheEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.isEmpty

  // each case starts from a session that holds no storage
  override def beforeEach(): Unit = Materialize.releaseAll(spark)

  private def docs: DataFrame =
    Seq((1L, "the cat sat on the mat"), (2L, "a dog sat on the log"), (3L, "the cat ran")).toDF("doc_id", "text")

  private def embeddings(n: Int): DataFrame =
    (0 until n)
      .map(i => (i.toLong, Array.tabulate(8)(j => ((i * 7 + j * 3) % 11).toFloat), s"l${i % 2}"))
      .toDF("vec_id", "embedding", "label")

  test("(a) release frees a pinned and a cached frame, returning the session to its state before") {
    assert(persisted.isEmpty && cacheEmpty)
    val pinned = Materialize.pin(spark.range(100).toDF("x"))
    val cached = Materialize.cache(spark.range(50).toDF("y"))
    assert(cached.count() == 50L)
    assert(persisted.size == 2 && !cacheEmpty)
    Materialize.release(pinned, cached)
    assert(persisted.isEmpty && cacheEmpty)
    // a view of a pinned frame releases the pin it reads
    val counts = Materialize.pin(spark.range(10).toDF("x"))
    Materialize.release(counts.select(col("x")).where(col("x") > 3))
    assert(persisted.isEmpty)
  }

  test("(b) an op that throws leaves nothing registered: wordRarity and an ivfScored op") {
    // the repartition keeps the optimizer from folding raise_error into
    // the local relation at planning time: the ops must fail in a job
    val bad = docs.repartition(2).withColumn("text", when(col("doc_id") === 2L, raise_error(lit("boom"))).otherwise(col("text")))
    intercept[Exception](CorpusFunctions.wordRarity(bad, col("doc_id"), col("text")))
    assert(persisted.isEmpty && cacheEmpty)

    val badEmb = embeddings(40).repartition(2).withColumn(
      "embedding",
      when(col("vec_id") === 7L, raise_error(lit("boom")).cast(ArrayType(FloatType))).otherwise(col("embedding")),
    )
    intercept[Exception](VectorFunctions.knnLabelNoiseCells(badEmb, k = 3, nCells = 3, nProbe = 2, lloydIterations = 2))
    assert(persisted.isEmpty && cacheEmpty)
  }

  test("(c) pqAnn with a full OPQ rotation leaves only what its result reads") {
    val emb = embeddings(60)
    val out = VectorFunctions.pqAnn(emb, emb.limit(3), k = 2, m = 2, codebookSize = 4, lloydIterations = 2, opqRotate = 1)
    assert(persisted.nonEmpty)
    assert(persisted.subsetOf(reads(out)), "the rotated corpus outlived pqAnn")
    assert(cacheEmpty)
    assert(out.count() == 6L)
  }

  test("(d) a scope keeps the checkpoints and caches its result reads, and hands them to the enclosing scope") {
    val out = Materialize.scoped {
      val inner = Materialize.scoped {
        val pinned = Materialize.pin(spark.range(20).toDF("x"))
        val cached = Materialize.cache(spark.range(30).toDF("y"))
        Materialize.pin(spark.range(5).toDF("z")) // read by nothing
        pinned.join(cached, col("x") === col("y"))
      }
      // only the unread pin is gone; the cache is built on first use
      assert(persisted.size == 1 && !cacheEmpty)
      assert(inner.count() == 20L && persisted.size == 2)
      // a frame built over a pinned frame's RDD reads that pin
      Materialize.scoped {
        val p = Materialize.pin(spark.range(7).toDF("w"))
        spark.createDataFrame(p.rdd.map(identity), p.schema)
      }
    }
    // the outer result reads only its own pin: `inner`'s storage is gone
    assert(persisted.size == 1 && persisted.subsetOf(reads(out)))
    assert(cacheEmpty)
    assert(out.count() == 7L)
  }

  test("(d) pipeline_clean_corpus keeps its cached `kept` frame until the write") {
    val out = SparkEntry.queries("pipeline_clean_corpus")(spark, "/root/testdata/sf0.001")
    // the result still reads the cache and every checkpoint it reads is alive
    assert(GraftSqlBridge.cacheReads(out).nonEmpty)
    assert(persisted.nonEmpty && persisted.subsetOf(reads(out)))
    out.write.format("noop").mode("overwrite").save()
  }

  test("a throw releases what nested scopes handed up, and keeps the exception") {
    val e = intercept[IllegalStateException] {
      Materialize.scoped {
        Materialize.scoped(Materialize.pin(spark.range(3).toDF("x")))
        throw new IllegalStateException("late failure")
      }
    }
    assert(e.getMessage == "late failure")
    assert(persisted.isEmpty)
  }
}
