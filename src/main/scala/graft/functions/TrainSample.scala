package graft.functions

import java.math.BigInteger

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.storage.StorageLevel

import graft.plans.VecModel

/** The bounded training sample every driver-iterative trainer runs on
  * (the Lloyd quantizers, the PQ codebooks, the OPQ rotation, the
  * quality model's gradient descent): the training frame converted
  * ONCE into a persisted RDD of primitive rows, so each iteration is
  * one `treeAggregate` with the model carried in the task closure —
  * no per-iteration query to plan, no literal model to compile, and
  * only the summary sums reach the driver (MLlib's `KMeans` and
  * `LogisticRegression` train in the same shape).
  *
  * The sample is materialized at the frame's own parallelism (the
  * feature or limit/spread computation behind it wants every core);
  * the iterations then read a coalesced view of ~20k rows per task:
  * a bounded sample is a few hundred KB, so a pass over the source
  * partitioning would be dozens of near-empty tasks per iteration —
  * pure scheduler overhead — while a 1M-row sample still fans each
  * pass out to 50+ tasks. The per-pass sums are order-independent
  * scaled integers, so results are identical on any partitioning.
  *
  * The sample is released with `unpersist(blocking = true)` when the
  * trainer returns or throws: a non-blocking release followed by
  * back-to-back trainers races the async block removal into
  * lost-block recompute storms.
  */
private[graft] object TrainSample {

  /** Name of every persisted sample RDD (visible in `getPersistentRDDs`). */
  val Name = "graft.TrainSample"

  /** `(vec_id, embedding)`; the embedding is null when the row's is. */
  type VecRow = (Long, Array[Double])

  /** Tasks per iteration pass for a sample of `rows` rows. */
  private def iterPartitions(rows: Long): Int = math.max(1L, math.min(rows / 20000L + 1L, 10000L)).toInt

  /** Vector sample of a `(vec_id, embedding)` frame, embedding
    * `array<float>` or `array<double>`, float widened to double exactly
    * as [[graft.plans.VecModel.elem]] does (a null element slot throws,
    * as every model kernel does). `vec_id` is read as a long; a null id
    * orders first, as `orderBy` puts it.
    */
  def vectors[A](frame: DataFrame)(train: RDD[VecRow] => A): A = {
    val isFloat = frame.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    val rows = frame.select(col("vec_id").cast("long"), col("embedding"))
    withSample(rows) { r =>
      val id = if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
      (id, if (r.isNullAt(1)) null else widen(r.getArray(1), isFloat))
    }(train)
  }

  /** Gradient-descent sample of an all-numeric frame: one
    * `Array[Double]` per row holding every column cast to double, or
    * null when any of them is null.
    */
  def features[A](frame: DataFrame)(train: RDD[Array[Double]] => A): A = {
    val width = frame.schema.length
    // positional names: expression-named columns may hold dots
    val names = (0 until width).map(i => s"__x$i")
    val rows = frame.toDF(names: _*).select(names.map(c => col(c).cast("double")): _*)
    withSample(rows) { r =>
      var i = 0
      while (i < width && !r.isNullAt(i)) i += 1
      if (i < width) null else Array.tabulate(width)(r.getDouble)
    }(train)
  }

  private def widen(a: ArrayData, isFloat: Boolean): Array[Double] =
    Array.tabulate(a.numElements())(i => VecModel.elem(a, i, isFloat, "graft train sample"))

  private def withSample[T: ClassTag, A](frame: DataFrame)(convert: InternalRow => T)(train: RDD[T] => A): A = {
    val sample = frame.queryExecution.toRdd.map(convert).setName(Name).persist(StorageLevel.MEMORY_ONLY)
    try {
      val rows = sample.count()
      train(sample.coalesce(iterPartitions(rows)))
    } finally sample.unpersist(blocking = true)
  }

  /** `floor(v · scale)` as a long — the SQL `CAST(FLOOR(v * s) AS
    * BIGINT)` every trainer sums (saturating, NaN → 0, as Spark's
    * `floor` on a double).
    */
  def scaled(v: Double, scale: Double): Long = math.floor(v * scale).toLong

  /** Element-wise `Math.addExact` merge of two scaled-integer sum
    * vectors — the ANSI `sum(bigint)` overflow contract.
    */
  def mergeExact(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) {
      a(i) = Math.addExact(a(i), b(i))
      i += 1
    }
    a
  }
}

/** `n` exact `decimal(38,0)` sums as 128-bit two's-complement
  * (hi, lo) pairs — the trainers' moment sums, bit-for-bit the SQL
  * `sum(decimal)` they replace: a running sum that leaves the
  * `decimal(38,0)` range raises `ArithmeticException`, as the ANSI sum
  * does, and [[toDouble]] converts through `BigDecimal` as the SQL
  * result's `doubleValue` does.
  */
private[graft] final class Decimal38Sums(n: Int) extends Serializable {
  private val hi = new Array[Long](n)
  private val lo = new Array[Long](n)

  def add(k: Int, v: Long): Unit = add128(k, v >> 63, v)

  /** `sum(CAST(a AS decimal(19,0)) * CAST(b AS decimal(19,0)))`: the
    * full 126-bit product, never truncated.
    */
  def addProduct(k: Int, a: Long, b: Long): Unit = add128(k, Math.multiplyHigh(a, b), a * b)

  def merge(o: Decimal38Sums): Decimal38Sums = {
    var k = 0
    while (k < n) {
      add128(k, o.hi(k), o.lo(k))
      k += 1
    }
    this
  }

  def toDouble(k: Int): Double = new java.math.BigDecimal(bigInteger(hi(k), lo(k))).doubleValue()

  // every addend is a product of two longs or a bounded running sum, so
  // `h + carry` stays far from the long range and only the final high
  // word addition can overflow 128 bits
  private def add128(k: Int, h: Long, l: Long): Unit = {
    val nl = lo(k) + l
    val carry = if (java.lang.Long.compareUnsigned(nl, l) < 0) 1L else 0L
    val nh =
      try Math.addExact(hi(k), h + carry)
      catch { case _: ArithmeticException => throw Decimal38Sums.overflow }
    if (Decimal38Sums.outOfRange(nh, nl)) throw Decimal38Sums.overflow
    hi(k) = nh
    lo(k) = nl
  }

  private def bigInteger(h: Long, l: Long): BigInteger =
    BigInteger.valueOf(h).shiftLeft(64).or(BigInteger.valueOf(l).and(Decimal38Sums.Mask64))
}

private[graft] object Decimal38Sums {
  private val Mask64 = BigInteger.ONE.shiftLeft(64).subtract(BigInteger.ONE)
  private val Max = BigInteger.TEN.pow(38).subtract(BigInteger.ONE)
  private val (maxHi, maxLo) = (Max.shiftRight(64).longValue, Max.longValue)
  private val (minHi, minLo) = (Max.negate.shiftRight(64).longValue, Max.negate.longValue)

  private def outOfRange(h: Long, l: Long): Boolean =
    h > maxHi || (h == maxHi && java.lang.Long.compareUnsigned(l, maxLo) > 0) ||
      h < minHi || (h == minHi && java.lang.Long.compareUnsigned(l, minLo) < 0)

  private def overflow = new ArithmeticException("decimal(38,0) sum overflow: the sum leaves the decimal(38,0) range")
}
