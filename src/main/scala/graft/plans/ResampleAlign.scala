package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Ascending, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator resampling: a custom LogicalPlan + Strategy +
  * physical operator for grid interpolation (SURVEY A10/A11, kukur
  * InterpolationType semantics).
  *
  * This is graft's only resample plan
  * (`TimeSeriesOps.resampleStepped` / `resampleLinear`). It declares
  * `requiredChildDistribution` (cluster by series tags) and
  * `requiredChildOrdering` (tags, ts) — Catalyst inserts exactly one
  * exchange + one sort — and then a single forward pass per partition
  * emits the whole grid: O(points + grid), no grid union, no window
  * sort. It collapses duplicate timestamps (max value wins), ignores
  * null values, leaves nulls outside the observed range (LINEAR) and
  * carries forward (STEPPED). A union + window formulation of the same
  * semantics lives in the test sources as the reference the specs
  * compare against.
  *
  * Child schema contract: tag columns ++ (ts timestamp, value double),
  * ts and value last. Output schema = child schema, one row per
  * (series, grid point).
  */
final case class ResampleAlignPlan(
    child: LogicalPlan,
    tagCount: Int,
    linear: Boolean,
    startUs: Long,
    endUs: Long,
    stepUs: Long,
) extends UnaryNode {
  override def output: Seq[Attribute] = child.output.map(_.withNullability(true))
  override protected def withNewChildInternal(newChild: LogicalPlan): ResampleAlignPlan =
    copy(child = newChild)
}

object ResampleAlignStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ResampleAlignPlan(child, tagCount, linear, startUs, endUs, stepUs) =>
      ResampleAlignExec(planLater(child), tagCount, linear, startUs, endUs, stepUs) :: Nil
    case _ => Nil
  }
}

final case class ResampleAlignExec(
    child: SparkPlan,
    tagCount: Int,
    linear: Boolean,
    startUs: Long,
    endUs: Long,
    stepUs: Long,
) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output.map(_.withNullability(true))

  private def tagAttrs: Seq[Attribute] = child.output.take(tagCount)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(tagAttrs) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(tagAttrs.map(SortOrder(_, Ascending)) :+ SortOrder(child.output(tagCount), Ascending))

  override protected def withNewChildInternal(newChild: SparkPlan): ResampleAlignExec =
    copy(child = newChild)

  private val nGrid: Int = (((endUs - startUs) + stepUs - 1) / stepUs).toInt

  override protected def doExecute(): RDD[InternalRow] = {
    val tsOrdinal = tagCount
    val valueOrdinal = tagCount + 1
    val schema = output
    val (tc, lin, s0, st, n) = (tagCount, linear, startUs, stepUs, nGrid)
    child.execute().mapPartitions { iter =>
      new Iterator[InternalRow] {
        private val toUnsafe = UnsafeProjection.create(schema.map(_.dataType).toArray)
        private val in = iter.buffered
        private val out = new Array[Any](schema.length)
        private val pending = scala.collection.mutable.Queue.empty[InternalRow]

        private var groupTags: Array[Any] = _
        private var gridPos = 0
        private var prevUs = 0L
        private var prevV = 0.0
        private var hasPrev = false
        private var inGroup = false

        private def tagsOf(r: InternalRow): Array[Any] =
          Array.tabulate[Any](tc)(i => r.get(i, schema(i).dataType) match {
            case u: org.apache.spark.unsafe.types.UTF8String => u.copy()
            case other => other
          })

        private def sameTags(a: Array[Any], r: InternalRow): Boolean = {
          var i = 0
          while (i < tc) {
            val v = r.get(i, schema(i).dataType)
            if (a(i) == null) { if (v != null) return false }
            else if (v == null || a(i) != v) return false
            i += 1
          }
          true
        }

        private def emitGrid(tUs: Long, value: Any): Unit = {
          var i = 0
          while (i < tc) { out(i) = groupTags(i); i += 1 }
          out(tsOrdinal) = tUs
          out(valueOrdinal) = value
          pending.enqueue(toUnsafe(InternalRow.fromSeq(out.toIndexedSeq)).copy())
        }

        /** Emit grid points strictly before `limitUs` (or all remaining
          * when closing), valued against the current prev/next state.
          */
        private def drainBefore(limitUs: Long, nextUs: Long, nextV: Double, haveNext: Boolean): Unit = {
          while (gridPos < n && (s0 + gridPos.toLong * st) < limitUs) {
            val t = s0 + gridPos.toLong * st
            val v: Any =
              if (lin) {
                if (!hasPrev || !haveNext) null
                else if (nextUs == prevUs) prevV
                else prevV + (nextV - prevV) * (t - prevUs).toDouble / (nextUs - prevUs).toDouble
              } else {
                if (!hasPrev) null else prevV
              }
            emitGrid(t, v)
            gridPos += 1
          }
        }

        /** Consume one data point (collapsing duplicate timestamps to
          * their max value) and emit every grid point it resolves.
          */
        private def advance(): Unit = {
          if (!inGroup) {
            groupTags = tagsOf(in.head)
            gridPos = 0
            hasPrev = false
            inGroup = true
          }
          if (!in.hasNext || !sameTags(groupTags, in.head)) {
            // close group: no next neighbour for what's left
            drainBefore(Long.MaxValue, 0L, 0.0, haveNext = false)
            inGroup = false
            return
          }
          // null values are invisible to interpolation — identical to
          // the window formulation's last(..., ignoreNulls = true): a
          // null never becomes a prev/next neighbour, and a duplicate
          // timestamp collapses to the max over its NON-null values
          // (all-null timestamps vanish entirely)
          val row = in.next()
          val curUs = row.getLong(tsOrdinal)
          var haveVal = !row.isNullAt(valueOrdinal)
          var curV = if (haveVal) row.getDouble(valueOrdinal) else 0.0
          while (in.hasNext && sameTags(groupTags, in.head) && in.head.getLong(tsOrdinal) == curUs) {
            val dup = in.next()
            if (!dup.isNullAt(valueOrdinal)) {
              val v = dup.getDouble(valueOrdinal)
              if (!haveVal || v > curV) curV = v
              haveVal = true
            }
          }
          if (!haveVal) return
          // grid points before cur interpolate prev→cur; a grid point
          // exactly at cur takes cur's value
          drainBefore(curUs, curUs, curV, haveNext = true)
          if (gridPos < n && s0 + gridPos.toLong * st == curUs) {
            emitGrid(curUs, curV)
            gridPos += 1
          }
          prevUs = curUs
          prevV = curV
          hasPrev = true
        }

        override def hasNext: Boolean = {
          while (pending.isEmpty && (in.hasNext || inGroup)) advance()
          pending.nonEmpty
        }

        override def next(): InternalRow = pending.dequeue()
      }
    }
  }
}

object ResampleAlign {

  /** Install the strategy into a live session (idempotent). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(ResampleAlignStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ (ResampleAlignStrategy: SparkStrategy)
    }
}
