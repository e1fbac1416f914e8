package graft

import java.math.BigInteger

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Decimal38Sums, QualityModel, TrainSample, VectorFunctions}

/** The driver-iterative trainers (Lloyd, PQ codebooks, the balanced-
  * variance permutation, the OPQ rotation, the quality model's gradient
  * descent) run as one `treeAggregate` per iteration over a persisted
  * [[TrainSample]]. These specs pin them to the SQL formulation in
  * [[TrainerReference]] bit for bit, on any partitioning and row order,
  * with the same ANSI overflow behavior, and check that the sample
  * never outlives its trainer.
  */
class TrainerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val partitionings = Seq(1, 3, 17)

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
  ))

  private def vecFrame(rows: Seq[(Long, Array[Float])], parts: Int, shuffleSeed: Long): DataFrame = {
    val shuffled = new Random(shuffleSeed).shuffle(rows).map { case (id, v) => Row(id, if (v == null) null else v.toSeq) }
    spark.createDataFrame(spark.sparkContext.parallelize(shuffled, parts), vecSchema)
  }

  private def gdFrame(rows: Seq[Seq[Option[Double]]], parts: Int, shuffleSeed: Long): DataFrame = {
    val d = rows.head.length - 1
    val schema = StructType((0 until d).map(i => StructField(s"__x$i", DoubleType)) :+ StructField("__y", DoubleType))
    val shuffled = new Random(shuffleSeed).shuffle(rows).map(r => Row(r.map(_.map(Double.box).orNull): _*))
    spark.createDataFrame(spark.sparkContext.parallelize(shuffled, parts), schema)
  }

  private def bits(a: Array[Double]): Seq[Long] = a.toSeq.map(java.lang.Double.doubleToLongBits)
  private def bits2(a: Array[Array[Double]]): Seq[Seq[Long]] = a.toSeq.map(bits)
  private def bits3(a: Array[Array[Array[Double]]]): Seq[Seq[Seq[Long]]] = a.toSeq.map(bits2)

  private def raisesArithmetic(body: => Any): Boolean =
    try { body; false }
    catch {
      case e: Throwable =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[ArithmeticException])
    }

  private def sampleRdds: Iterable[org.apache.spark.rdd.RDD[_]] =
    spark.sparkContext.getPersistentRDDs.values.filter(_.name == TrainSample.Name)

  case class VecCase(
      rows: Seq[(Long, Array[Float])],
      dim: Int,
      m: Int,
      nCells: Int,
      codebookSize: Int,
      lloyd: Int,
      shuffleSeed: Long,
  )

  // a few clusters with duplicated vectors (duplicate init centroids
  // leave cells empty), nulls only beyond the init rows (a null init
  // vector fails in both formulations), and as few rows as one —
  // fewer than nCells or codebookSize
  private val vecCase: Gen[VecCase] = for {
    dim <- Gen.oneOf(4, 8)
    m <- Gen.oneOf(2, 4)
    nCells <- Gen.choose(2, 5)
    cs <- Gen.choose(2, 5)
    lloyd <- Gen.choose(1, 3)
    n <- Gen.choose(1, 30)
    ids <- Gen.listOfN(n, Gen.choose(-1000L, 1000L)).map(_.distinct.sorted)
    centers <- Gen.listOfN(3, Gen.listOfN(dim, Gen.choose(-5.0, 5.0)))
    picks <- Gen.listOfN(ids.length, Gen.choose(0, 2))
    noise <- Gen.listOfN(ids.length, Gen.listOfN(dim, Gen.choose(-0.5, 0.5)))
    dupOrNull <- Gen.listOfN(ids.length, Gen.choose(0, 9))
    shuffleSeed <- Gen.choose(0L, Long.MaxValue)
  } yield {
    val fresh = ids.indices.map(i => centers(picks(i)).zip(noise(i)).map { case (c, e) => (c + e).toFloat }.toArray)
    val vecs = ids.indices.map { i =>
      if (dupOrNull(i) < 2 && i > 0) fresh(i - 1)
      else if (dupOrNull(i) == 9 && i >= math.max(nCells, cs)) null
      else fresh(i)
    }
    VecCase(ids.zip(vecs), dim, m, nCells, cs, lloyd, shuffleSeed)
  }

  case class GdCase(rows: Seq[Seq[Option[Double]]], shuffleSeed: Long)

  // null features and labels anywhere except the first row, so at
  // least one row carries a gradient
  private val gdCase: Gen[GdCase] = for {
    d <- Gen.choose(1, 4)
    n <- Gen.choose(1, 40)
    cells <- Gen.listOfN(n, Gen.listOfN(d, Gen.frequency(9 -> Gen.choose(-1.0, 2.0).map(Option(_)), 1 -> Gen.const(None))))
    labels <- Gen.listOfN(n, Gen.frequency(9 -> Gen.oneOf(0.0, 1.0).map(Option(_)), 1 -> Gen.const(None)))
    fill <- Gen.listOfN(d + 1, Gen.choose(-1.0, 1.0))
    shuffleSeed <- Gen.choose(0L, Long.MaxValue)
  } yield {
    val rows = cells.zip(labels).map { case (xs, y) => xs :+ y }
    GdCase(rows.head.zip(fill).map { case (v, f) => v.orElse(Some(f)) } +: rows.tail, shuffleSeed)
  }

  test("vector trainers are bit-identical to the SQL reference on any partitioning and row order") {
    var caseNo = 0
    val prop = Prop.forAll(vecCase) { c =>
      val dsub = c.dim / c.m
      val refParts = partitionings(caseNo % partitionings.length)
      caseNo += 1
      val ref = vecFrame(c.rows, refParts, c.shuffleSeed)
      val kmeans = bits2(TrainerReference.trainKmeans(ref, c.nCells, c.lloyd))
      val books = bits3(TrainerReference.trainPqBooks(ref, c.m, dsub, c.codebookSize, c.lloyd))
      val perm = TrainerReference.balancedVariancePerm(ref, c.dim, c.m).toSeq
      val (rot, rotBooks, mses) = TrainerReference.opqTrainRotation(ref, c.dim, c.m, c.codebookSize, c.lloyd, 2)
      partitionings.forall { p =>
        val df = vecFrame(c.rows, p, c.shuffleSeed + p)
        // the passes run over p partitions too, not only the coalesced view
        val (k2, b2, p2) = TrainSample.vectors(df) { s =>
          val spread = s.repartition(p)
          (
            bits2(VectorFunctions.trainKmeansOn(spread, c.nCells, c.lloyd)),
            bits3(VectorFunctions.trainPqBooksOn(spread, c.m, dsub, c.codebookSize, c.lloyd)),
            VectorFunctions.balancedVariancePerm(spread, c.dim, c.m).toSeq,
          )
        }
        val (rot2, rotBooks2, mses2) = VectorFunctions.opqTrainRotation(df, c.dim, c.m, c.codebookSize, c.lloyd, 2)
        k2 == kmeans && b2 == books && p2 == perm &&
        bits2(rot2) == bits2(rot) && bits3(rotBooks2) == bits3(rotBooks) && bits(mses2) == bits(mses)
      }
    }
    val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(6).withInitialSeed(Seed(20261017L)), prop)
    assert(result.passed, result.status.toString)
  }

  test("gradient descent is bit-identical to the SQL reference on any partitioning and row order") {
    var caseNo = 0
    val prop = Prop.forAll(gdCase) { c =>
      val refParts = partitionings(caseNo % partitionings.length)
      caseNo += 1
      val want = bits(TrainerReference.trainLogistic(gdFrame(c.rows, refParts, c.shuffleSeed), 5, 2.0))
      partitionings.forall(p => bits(QualityModel.descend(gdFrame(c.rows, p, c.shuffleSeed + p), 5, 2.0)) == want)
    }
    val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(8).withInitialSeed(Seed(20261017L)), prop)
    assert(result.passed, result.status.toString)
  }

  test("planted overflow raises in the new path exactly where the SQL reference raises") {
    // a component at 1e13 quantizes to a saturated floor(x·1e6) =
    // Long.MaxValue, whose square is ~8.5e37: one such row fits
    // decimal(38,0), two overflow it
    def planted(k: Int): DataFrame = vecFrame(
      (0 until 4).map(i => (i.toLong, Array(if (i < k) 1e13f else i.toFloat, 1.0f, 2.0f, 3.0f))),
      2,
      1L,
    )
    def permNew(df: DataFrame) = TrainSample.vectors(df)(VectorFunctions.balancedVariancePerm(_, 4, 2)).toSeq
    assert(permNew(planted(1)) == TrainerReference.balancedVariancePerm(planted(1), 4, 2).toSeq)
    assert(raisesArithmetic(TrainerReference.balancedVariancePerm(planted(2), 4, 2)))
    assert(raisesArithmetic(permNew(planted(2))))

    // Lloyd: a component at 1e11 saturates floor(x·1e9); one such row
    // alone in its cell fits the bigint sum, two in one cell overflow it
    def lloyd(k: Int): DataFrame = vecFrame(
      (0 until 4).map(i => (i.toLong, Array(if (i >= 1 && i < 1 + k) 1e11f else i.toFloat, 0.0f))),
      2,
      1L,
    )
    def kmNew(df: DataFrame) = bits2(TrainSample.vectors(df)(VectorFunctions.trainKmeansOn(_, 2, 1)))
    assert(kmNew(lloyd(1)) == bits2(TrainerReference.trainKmeans(lloyd(1), 2, 1)))
    assert(raisesArithmetic(TrainerReference.trainKmeans(lloyd(2), 2, 1)))
    assert(raisesArithmetic(kmNew(lloyd(2))))

    // gradient descent: err = 0.5 − y at w = 0, so a 0-labelled
    // feature at 1e12 saturates floor(err·x·1e9); the 1-labelled rows
    // add small negative terms
    def gd(k: Int): DataFrame =
      gdFrame((0 until 3).map(i => if (i < k) Seq(Some(1e12), Some(0.0)) else Seq(Some(0.5), Some(1.0))), 2, 1L)
    assert(bits(QualityModel.descend(gd(1), 1, 2.0)) == bits(TrainerReference.trainLogistic(gd(1), 1, 2.0)))
    assert(raisesArithmetic(TrainerReference.trainLogistic(gd(2), 1, 2.0)))
    assert(raisesArithmetic(QualityModel.descend(gd(2), 1, 2.0)))
  }

  test("null embeddings count in the variance pass's row count, as SQL count(1) does") {
    // a constant dimension has zero variance over its non-null rows but
    // a positive one once the null rows count in n — enough to move it
    // ahead of a dimension with real spread
    val rows = (0 until 4).map(i => (i.toLong, Array(10.0f, if (i % 2 == 0) 0.1f else -0.1f, 0.0f, 0.0f)))
    val nulls = (4 until 8).map(i => (i.toLong, null: Array[Float]))
    def perm(df: DataFrame) = TrainSample.vectors(df)(VectorFunctions.balancedVariancePerm(_, 4, 2)).toSeq
    val withNulls = vecFrame(rows ++ nulls, 3, 1L)
    assert(perm(withNulls) == TrainerReference.balancedVariancePerm(withNulls, 4, 2).toSeq)
    assert(perm(withNulls) != perm(vecFrame(rows, 3, 1L)))
  }

  test("128-bit moment sums match BigInteger sums under any split and raise beyond decimal(38,0)") {
    val rnd = new Random(7L)
    val pairs = Seq.fill(400)((rnd.nextLong() >> rnd.nextInt(40), rnd.nextLong() >> rnd.nextInt(40)))
    val exact = pairs.map { case (a, b) => BigInteger.valueOf(a).multiply(BigInteger.valueOf(b)) }
      .foldLeft(BigInteger.ZERO)(_.add(_))
    val limit = BigInteger.TEN.pow(38)
    assert(exact.abs.compareTo(limit) < 0)
    for (split <- Seq(0, 1, 137, 400)) {
      val (l, r) = pairs.splitAt(split)
      val (a, b) = (new Decimal38Sums(1), new Decimal38Sums(1))
      l.foreach { case (x, y) => a.addProduct(0, x, y) }
      r.foreach { case (x, y) => b.addProduct(0, x, y) }
      assert(a.merge(b).toDouble(0) == new java.math.BigDecimal(exact).doubleValue(), s"split $split")
    }
    val big = new Decimal38Sums(1)
    big.addProduct(0, Long.MaxValue, Long.MaxValue)
    assert(raisesArithmetic(big.addProduct(0, Long.MaxValue, Long.MaxValue)))
    val low = new Decimal38Sums(1)
    low.addProduct(0, Long.MinValue, Long.MaxValue)
    assert(raisesArithmetic(low.addProduct(0, Long.MinValue, Long.MaxValue)))
  }

  test("the train sample is the only persisted copy and never outlives its trainer, also when it throws") {
    import spark.implicits._
    val emb = vecFrame((0 until 60).map(i => (i.toLong, Array.tabulate(8)(j => ((i * 7 + j * 3) % 11).toFloat))), 3, 1L)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val newlyPersisted = TrainSample.vectors(emb.where(col("vec_id") < 40)) { s =>
      s.count()
      spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }.values.map(_.name).toSeq
    }
    // the frame the sample is built from is not cached alongside it
    assert(newlyPersisted == Seq(TrainSample.Name))
    assert(sampleRdds.isEmpty)

    val balanced = VectorFunctions.clusterBalance(emb, targetPerCell = 10L, nCells = 3, lloydIterations = 2)
    assert(sampleRdds.isEmpty)
    // only the checkpointed result remains
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left == org.apache.spark.sql.GraftSqlBridge.checkpointedRdd(balanced).map(_.id).toSet)
    left.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = true))

    VectorFunctions.pqAnn(emb, emb.limit(3), k = 2, m = 2, codebookSize = 4, lloydIterations = 2, opqRotate = 1).collect()
    VectorFunctions.ivfPqAnn(emb, emb.limit(3), k = 2, nCells = 3, nProbe = 2, m = 2, codebookSize = 4, lloydIterations = 2)
      .collect()
    assert(sampleRdds.isEmpty)

    val docs = Seq((1L, "the cat sat on the mat and the dog ran"), (2L, "!!! 123 456 ??? ###"), (3L, "a plain sentence of words"))
      .toDF("doc_id", "text")
    QualityModel.distillQualityGate(docs, col("doc_id"), col("text"), iterations = 3).collect()
    assert(sampleRdds.isEmpty)

    // a vector of the wrong dimension fails the first Lloyd pass
    val bad = emb.union(vecFrame(Seq((1000L, Array(1.0f, 2.0f))), 1, 1L))
    intercept[Exception](VectorFunctions.trainKmeans(bad, nCells = 3, lloydIterations = 2, trainLimit = 1000))
    assert(sampleRdds.isEmpty)
    intercept[Exception](TrainSample.features(Seq((1.0, 0.0)).toDF("x", "y"))(_ => throw new IllegalStateException("planted")))
    assert(sampleRdds.isEmpty)
  }
}
