package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed skyline (Pareto frontier): the rows no other row
  * dominates, where a dominator is at least as good on EVERY criterion
  * and strictly better on at least one. The multi-criteria selection
  * operator relational engines lack (EDBT 2023, "Integration of
  * Skyline Queries into Spark SQL") — in a training-data pipeline it
  * answers "which documents are on the quality/length/novelty
  * frontier" without collapsing the criteria into one weighted score
  * first (every weighting picks a frontier point; the skyline is all
  * of them).
  *
  * Algorithm — the standard two-phase distributed decomposition, which
  * works because the skyline operator is DISTRIBUTIVE: the global
  * skyline is a subset of the union of per-partition skylines, so
  * pass 1 prunes each partition to its local frontier (usually a tiny
  * fraction) and only those survivors travel. Pass 1: per-partition
  * lexicographic sort on the criteria (Spark's spillable
  * sortWithinPartitions — no collect) + one linear scan; under that
  * order a later row can never dominate an earlier one (its first
  * differing criterion is worse), so the scan only checks new rows
  * against the kept frontier — O(n·s) per partition for frontier size
  * s. Pass 2: the same scan over the gathered survivors in one
  * partition. The one-partition gather is the documented assumption:
  * union-of-local-frontiers is small for low-dimensional/correlated
  * criteria (the corpus-signal case); anti-correlated high-d inputs
  * whose frontier outgrows a partition would need grid partitioning
  * (ibid.) — out of scope, but GUARDED: any scan whose frontier
  * exceeds `maxFrontier` rows fails fast with the grid-partitioning
  * escape hatch instead of OOM-ing the gather task.
  *
  * Determinism: the output SET is unique by definition (dominance
  * does not depend on partitioning or scan order — the spec asserts
  * partitioning-invariance), which is what lets it hash-verify
  * against a quadratic NOT-EXISTS SQL oracle. Criteria must be
  * LongType (the house integer policy — floor-scale doubles to ppm
  * first); rows with a NULL criterion are dominance-undefined and
  * excluded, mirroring the oracle's NOT NULL guard.
  */
object Skyline {

  /** Frontier-size guard default: the distributivity argument assumes
    * frontiers stay small; an anti-correlated input breaks that
    * silently, funneling a huge union into pass 2's single partition.
    * Above this many frontier rows in any one scan the operator fails
    * fast with the grid-partitioning escape hatch instead of OOM-ing.
    */
  val DefaultMaxFrontier: Int = 1000000

  def skyline(
      df: DataFrame,
      maximize: Seq[String],
      minimize: Seq[String] = Nil,
      maxFrontier: Int = DefaultMaxFrontier,
  ): DataFrame = {
    require(maximize.nonEmpty || minimize.nonEmpty, "skyline needs at least one criterion")
    require(maxFrontier > 0, "maxFrontier must be positive")
    val dims = maximize ++ minimize
    dims.foreach { d =>
      val dt = df.schema(d).dataType
      require(dt == LongType, s"skyline criterion '$d' must be LongType (floor-scale to ppm first), got $dt")
    }
    val clean = df.where(dims.map(col(_).isNotNull).reduce(_ && _))
    val local = pass(clean, maximize, minimize, maxFrontier, "local")
    // survivors of pass 1 are the union of local frontiers — small by
    // the distributivity argument above; finish in one partition.
    // repartition(1), NOT coalesce(1): coalesce is a narrow dependency
    // that would fuse both passes into a single task (pass 1 would run
    // serially inside it, pruning nothing before travel); the shuffle
    // barrier keeps pass 1 a parallel stage and ships only frontiers.
    pass(local.repartition(1), maximize, minimize, maxFrontier, "global")
  }

  /** Grid-partitioned skyline — the escape hatch [[skyline]]'s guard
    * names, for inputs whose frontier outgrows a single partition
    * (anti-correlated criteria, where the union-of-local-frontiers
    * argument collapses). Exact, and never gathers the data into one
    * task:
    *
    *  1. Quantile-cut each criterion into `gridPerDim` buckets (in the
    *     all-maximize working space; minimize dims negate) and assign
    *     every row its cell.
    *  2. Per-cell local skyline: one shuffle on the cell id, then the
    *     same sort-and-scan as [[skyline]] with the frontier reset at
    *     each cell boundary.
    *  3. Cell-level pruning on the driver (≤ gridPerDim^d cell ids, a
    *     bounded collect): cell A dies if some nonempty cell B is
    *     strictly above it on EVERY dimension — bucketing is monotone,
    *     so every B point then dominates every A point.
    *  4. Cross-cell verify: a dominator of a point in cell A can only
    *     live in a cell ≥ A on every dimension (monotonicity again),
    *     and checking those cells' LOCAL SKYLINES suffices (dominance
    *     is transitive). Each surviving cell's candidates meet their
    *     threat cells' frontiers in one grouped task — per-task work
    *     is bounded by the cell frontier sizes, never by the global
    *     frontier, so a skyline LARGER than `maxFrontier` is returned
    *     rather than raised on.
    *
    * The output SET equals [[skyline]]'s (the spec asserts equality
    * with the quadratic NOT-EXISTS oracle on an adversarial input the
    * two-phase operator refuses).
    */
  def skylineGrid(
      df: DataFrame,
      maximize: Seq[String],
      minimize: Seq[String] = Nil,
      gridPerDim: Int = 8,
      maxFrontier: Int = DefaultMaxFrontier,
  ): DataFrame = {
    require(maximize.nonEmpty || minimize.nonEmpty, "skyline needs at least one criterion")
    require(gridPerDim >= 2, "gridPerDim must be at least 2")
    val dims = maximize ++ minimize
    require(
      math.pow(gridPerDim.toDouble, dims.size.toDouble) <= (1 << 20),
      s"gridPerDim^dims must stay ≤ 2^20 (got $gridPerDim^${dims.size})",
    )
    dims.foreach { d =>
      val dt = df.schema(d).dataType
      require(dt == LongType, s"skyline criterion '$d' must be LongType (floor-scale to ppm first), got $dt")
    }
    val clean = df.where(dims.map(col(_).isNotNull).reduce(_ && _))

    // working space: every dim maximized (minimize dims negate)
    val working: Seq[org.apache.spark.sql.Column] =
      maximize.map(col) ++ minimize.map(d => -col(d))

    // per-dim quantile cuts (gridPerDim-1 interior cuts). Cut choice
    // only routes rows to cells — the result set is exact regardless.
    val probs = (1 until gridPerDim).map(_.toDouble / gridPerDim).toArray
    val wNames = dims.indices.map(i => s"__w$i").toArray
    val wFrame = clean.select(working.zip(wNames).map { case (c, n) => c.as(n) }: _*)
    // one pass for every dimension's cuts (multi-column approxQuantile)
    val cuts: Seq[Array[Double]] =
      wFrame.stat.approxQuantile(wNames, probs, 0.001).toSeq.map(_.distinct.sorted)

    // cell id: Σ bucket_i · g^i, bucket = #cuts at or below the value
    val cellExpr = dims.indices
      .map { i =>
        val w = working(i)
        val bucket = cuts(i).foldLeft(lit(0))((acc, cut) => acc + when(w >= lit(cut.toLong), 1).otherwise(0))
        bucket.cast("long") * lit(math.pow(gridPerDim.toDouble, i.toDouble).toLong)
      }
      .reduce(_ + _)
    val withCell = clean.withColumn("__cell", cellExpr)

    // per-cell local skyline: shuffle on the cell, scan with the
    // frontier reset at each cell boundary
    val schema = withCell.schema
    val cellIdx = schema.fieldIndex("__cell")
    val maxIdx = maximize.map(schema.fieldIndex).toArray
    val minIdx = minimize.map(schema.fieldIndex).toArray
    val sorted = withCell
      .repartition(col("__cell"))
      .sortWithinPartitions(
        col("__cell") +: (maximize.map(col(_).desc) ++ minimize.map(col(_).asc)): _*
      )
    def dominates(a: Row, b: Row): Boolean = {
      var strict = false
      var i = 0
      while (i < maxIdx.length) {
        val av = a.getLong(maxIdx(i)); val bv = b.getLong(maxIdx(i))
        if (av < bv) return false
        if (av > bv) strict = true
        i += 1
      }
      i = 0
      while (i < minIdx.length) {
        val av = a.getLong(minIdx(i)); val bv = b.getLong(minIdx(i))
        if (av > bv) return false
        if (av < bv) strict = true
        i += 1
      }
      strict
    }
    val bound = maxFrontier
    val localSky = sorted.mapPartitions { it =>
      val frontier = scala.collection.mutable.ArrayBuffer.empty[Row]
      var cell = Long.MinValue
      it.flatMap { r =>
        val c = r.getLong(cellIdx)
        if (c != cell) { frontier.clear(); cell = c }
        if (frontier.exists(dominates(_, r))) None
        else {
          if (frontier.size >= bound)
            throw new IllegalStateException(
              s"skyline grid cell frontier exceeded $bound rows — raise gridPerDim or maxFrontier"
            )
          frontier += r
          Some(r)
        }
      }
    }(Encoders.row(schema))

    // bounded driver step: the distinct surviving cells (≤ g^d ids)
    val g = gridPerDim
    val nDims = dims.size
    def decode(cell: Long): Array[Int] = {
      val v = new Array[Int](nDims)
      var rest = cell
      var i = 0
      while (i < nDims) { v(i) = (rest % g).toInt; rest /= g; i += 1 }
      v
    }
    val localCached = graft.functions.Materialize.pin(localSky)
    val cellIds = localCached.select(col("__cell")).distinct().collect().map(_.getLong(0))
    // the driver step below is quadratic in NONEMPTY cells (pruning +
    // threat pairs), not merely a collect — bound it explicitly. 4096
    // cells → ≤ 16.8M vector comparisons and a threat map well under
    // broadcast size; denser grids need a coarser gridPerDim.
    require(
      cellIds.length <= 4096,
      s"skyline grid populated ${cellIds.length} cells (> 4096) — lower gridPerDim " +
        "(fewer, larger cells) or raise maxFrontier and use the two-phase skyline",
    )
    val vectors = cellIds.map(c => c -> decode(c)).toMap
    def strictlyAbove(b: Array[Int], a: Array[Int]): Boolean = {
      var i = 0
      while (i < nDims) { if (b(i) <= a(i)) return false; i += 1 }
      true
    }
    def atOrAbove(b: Array[Int], a: Array[Int]): Boolean = {
      var i = 0
      while (i < nDims) { if (b(i) < a(i)) return false; i += 1 }
      true
    }
    val pruned = cellIds.filter(a => cellIds.exists(b => b != a && strictlyAbove(vectors(b), vectors(a)))).toSet
    val alive = cellIds.filterNot(pruned)
    // threat fan-out: cell B's frontier visits every alive cell ≤ it
    val targetsOf: Map[Long, Seq[Long]] = alive.map { b =>
      b -> alive.filter(a => a != b && atOrAbove(vectors(b), vectors(a))).toSeq
    }.toMap
    val targetsBc = localCached.sparkSession.sparkContext.broadcast(targetsOf)

    // cross-cell verify: group each alive cell's candidates with the
    // frontiers of its threat cells; emit the candidates no threat row
    // dominates. Task size = cell frontier + its threats, never global.
    val origLen = schema.size - 1
    val outSchema = org.apache.spark.sql.types.StructType(schema.dropRight(1))
    val verified = localCached.rdd
      .flatMap { r =>
        val c = r.getLong(cellIdx)
        targetsBc.value.get(c) match {
          case None => Iterator.empty // pruned cell: neither candidate nor needed as threat
          case Some(targets) => Iterator((c, (true, r))) ++ targets.iterator.map(a => (a, (false, r)))
        }
      }
      .groupByKey()
      .flatMap { case (_, members) =>
        val (own, threats) = members.partition(_._1)
        val threatRows = threats.map(_._2).toArray
        own.iterator.collect {
          case (_, r) if !threatRows.exists(dominates(_, r)) => Row.fromSeq(r.toSeq.take(origLen))
        }
      }
    localCached.sparkSession.createDataFrame(verified, outSchema)
  }

  /** One sort-and-scan skyline pass over each partition independently. */
  private def pass(
      df: DataFrame,
      maximize: Seq[String],
      minimize: Seq[String],
      maxFrontier: Int,
      phase: String,
  ): DataFrame = {
    val schema = df.schema
    val maxIdx = maximize.map(schema.fieldIndex).toArray
    val minIdx = minimize.map(schema.fieldIndex).toArray
    val sorted = df.sortWithinPartitions(maximize.map(col(_).desc) ++ minimize.map(col(_).asc): _*)
    sorted.mapPartitions { it =>
      val frontier = scala.collection.mutable.ArrayBuffer.empty[Row]
      def dominates(a: Row, b: Row): Boolean = {
        var strict = false
        var i = 0
        while (i < maxIdx.length) {
          val av = a.getLong(maxIdx(i)); val bv = b.getLong(maxIdx(i))
          if (av < bv) return false
          if (av > bv) strict = true
          i += 1
        }
        i = 0
        while (i < minIdx.length) {
          val av = a.getLong(minIdx(i)); val bv = b.getLong(minIdx(i))
          if (av > bv) return false
          if (av < bv) strict = true
          i += 1
        }
        strict
      }
      it.flatMap { r =>
        if (frontier.exists(dominates(_, r))) None
        else {
          if (frontier.size >= maxFrontier)
            throw new IllegalStateException(
              s"skyline $phase frontier exceeded $maxFrontier rows in one partition — " +
                "the criteria are anti-correlated enough that the distributive " +
                "two-phase decomposition does not prune; use Skyline.skylineGrid " +
                "(the grid-partitioned fallback, EDBT 2023 §4) or raise maxFrontier"
            )
          frontier += r
          Some(r)
        }
      }
    }(Encoders.row(schema))
  }
}
