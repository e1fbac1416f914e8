package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Optimizer rule: derive raw-nanosecond predicates from time-range
  * filters on a converted µs timestamp.
  *
  * Nanosecond-precision parquet is read as a raw long (`nanosAsLong`)
  * and converted with `timestamp_micros(ns div 1000)`. A filter on the
  * conversion cannot reach the parquet scan — the data source API
  * only pushes plain column comparisons — so a range query would scan
  * the full history. The conversion is monotonic and exactly
  * invertible on half-open bounds (`ns div 1000 >= s ⇔ ns >= s·1000`
  * for positive epochs), so this rule adds the equivalent raw-long
  * conjunct; source pushdown then carries it into the scan (row-group
  * pruning on column stats — at 100 TB, one day scanned instead of
  * years).
  *
  * By the time user rules run, earlier batches have already collapsed
  * projections, so the conversion appears inline in the filter
  * condition; the rule matches that shape. The original µs conjunct
  * stays (cheap, and keeps the rewrite trivially semantics-preserving).
  *
  * Install session-local via [[GraftOptimizations.install]] or
  * cluster-wide via `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object PushRangeThroughNanos extends Rule[LogicalPlan] {

  /** Matches `timestamp_micros(ns div 1000)` and yields `ns`. */
  private object UsOfNanos {
    def unapply(e: Expression): Option[Expression] = e match {
      case MicrosToTimestamp(IntegralDivide(ns, Literal(1000L, LongType), _)) => Some(ns)
      case _ => None
    }
  }

  /** Exact preimage bounds of `trunc(ns div 1000) cmp us` — valid for
    * ALL signs. `div` truncates toward zero, so for negative epochs the
    * naive `ns >= us·1000` is unsound (ns = −1500 satisfies
    * `div >= −1` but not `ns >= −1000`); the preimage of `div >= us`
    * is `ns >= us·1000 − 999` when us ≤ 0 and `ns >= us·1000` when
    * us > 0, and symmetrically for upper bounds.
    */
  private def nsLower(us: Long): Option[Long] =
    try Some(if (us > 0) Math.multiplyExact(us, 1000L) else Math.subtractExact(Math.multiplyExact(us, 1000L), 999L))
    catch { case _: ArithmeticException => None }

  private def nsUpper(us: Long): Option[Long] =
    try Some(if (us >= 0) Math.addExact(Math.multiplyExact(us, 1000L), 999L) else Math.multiplyExact(us, 1000L))
    catch { case _: ArithmeticException => None }

  private def geq(ns: Expression, us: Long): Option[Expression] =
    nsLower(us).map(lo => GreaterThanOrEqual(ns, Literal(lo, LongType)))

  private def leq(ns: Expression, us: Long): Option[Expression] =
    nsUpper(us).map { hi =>
      // prefer the equivalent strict form (`ns < hi+1`): round bounds
      // like `< 1705276800000000000` instead of `<= ...799999999999`
      if (hi < Long.MaxValue) LessThan(ns, Literal(hi + 1L, LongType))
      else LessThanOrEqual(ns, Literal(hi, LongType))
    }

  private def nsBound(conjunct: Expression): Option[Expression] = conjunct match {
    case GreaterThanOrEqual(UsOfNanos(ns), Literal(us: Long, TimestampType)) => geq(ns, us)
    case GreaterThan(UsOfNanos(ns), Literal(us: Long, TimestampType)) if us < Long.MaxValue =>
      geq(ns, us + 1L)
    case LessThan(UsOfNanos(ns), Literal(us: Long, TimestampType)) if us > Long.MinValue =>
      leq(ns, us - 1L)
    case LessThanOrEqual(UsOfNanos(ns), Literal(us: Long, TimestampType)) => leq(ns, us)
    case EqualTo(UsOfNanos(ns), Literal(us: Long, TimestampType)) =>
      for (lo <- geq(ns, us); hi <- leq(ns, us)) yield And(lo, hi)
    // literal-first spellings
    case LessThanOrEqual(Literal(us: Long, TimestampType), UsOfNanos(ns)) => geq(ns, us)
    case LessThan(Literal(us: Long, TimestampType), UsOfNanos(ns)) if us < Long.MaxValue =>
      geq(ns, us + 1L)
    case GreaterThanOrEqual(Literal(us: Long, TimestampType), UsOfNanos(ns)) => leq(ns, us)
    case GreaterThan(Literal(us: Long, TimestampType), UsOfNanos(ns)) if us > Long.MinValue =>
      leq(ns, us - 1L)
    case _ => None
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other     => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjuncts(cond)
      // only top-level conjuncts are safe to strengthen (inside an
      // OR/NOT the derived bound would change results)
      val derived = conjuncts.flatMap(nsBound)
      val missing = derived.filterNot(d => conjuncts.exists(_.semanticEquals(d)))
      if (missing.isEmpty) f
      else Filter(And(missing.reduce(And), cond), child)
  }
}

object GraftOptimizations {

  /** Install graft's optimizer rules and planner strategies into a live
    * session (idempotent).
    */
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(PushRangeThroughNanos)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ (PushRangeThroughNanos: Rule[LogicalPlan])
    }
    ResampleAlign.install(spark)
    GraftFunctions.register(spark)
  }
}
