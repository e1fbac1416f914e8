package graft

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** The DataFrame formulation of graft's five driver-iterative trainer
  * loops — one SQL aggregate per iteration with the model inlined as
  * literals or native-expression constructor data — kept as the
  * reference the specs compare the [[graft.functions.TrainSample]]
  * `treeAggregate` passes against: the Lloyd quantizer, the PQ
  * codebooks, the balanced-variance permutation, the OPQ rotation and
  * the quality model's gradient descent.
  *
  * Every sum is the scaled integer the production passes reproduce:
  * `floor(v·1e9)` / `floor(v·1e6)` as `bigint` sums and the moment sums
  * as `decimal(38,0)`, so under ANSI the reference raises exactly where
  * an integer sum overflows.
  */
object TrainerReference {

  private def nat(e: Expression): Column = GraftSqlBridge.column(e)
  private def ex(c: Column): Expression = GraftSqlBridge.expression(c)

  private def cellOf(emb: Column, centroids: Array[Array[Double]]): Column =
    nat(graft.plans.CellAssign(ex(emb), centroids.map(_.toSeq).toSeq)).getField("cell")

  private def pqCodes(books: Array[Array[Array[Double]]], vec: Column): Column =
    nat(graft.plans.PqEncode(ex(vec), books.map(_.map(_.toSeq).toSeq).toSeq))

  private def rotate(rot: Array[Array[Double]], vec: Column): Column =
    nat(graft.plans.RotateVec(ex(vec), rot.map(_.toSeq).toSeq))

  private def asDoubles(v: scala.collection.Seq[Any]): Array[Double] =
    v.map {
      case f: Float  => f.toDouble
      case d: Double => d
    }.toArray

  /** Gradient descent over `__x0 … __x{d−1}, __y`: one aggregate per
    * step with the weights inlined as literals.
    */
  def trainLogistic(frame: DataFrame, iterations: Int, learningRate: Double): Array[Double] = {
    val d = frame.columns.length - 1
    var w = Array.fill(d + 1)(0.0)
    for (_ <- 1 to iterations) {
      val z = (0 until d).map(i => col(s"__x$i") * lit(w(i))).reduce(_ + _) + lit(w(d))
      val err = lit(1.0) / (lit(1.0) + exp(-z)) - col("__y")
      val aggs = (0 until d).map(i => sum(floor(err * col(s"__x$i") * lit(1e9)).cast("long")).as(s"g$i")) ++
        Seq(sum(floor(err * lit(1e9)).cast("long")).as("gb"), count(lit(1)).as("n"))
      val row = frame.agg(aggs.head, aggs.tail: _*).first()
      val n = math.max(row.getLong(d + 1), 1L).toDouble
      w = Array.tabulate(d + 1) { j =>
        val g = row.getLong(j) / 1e9 / n
        w(j) - learningRate * g
      }
    }
    w
  }

  /** Lloyd over `(vec_id, embedding)`: init = the `nCells` lowest
    * vec_ids, per-(cell, position) `floor(x·1e9)` sums in one hash
    * aggregate per pass; empty cells keep their centroid.
    */
  def trainKmeans(train: DataFrame, nCells: Int, lloydIterations: Int): Array[Array[Double]] = {
    var centroids: Array[Array[Double]] = train
      .orderBy("vec_id")
      .limit(nCells)
      .collect()
      .map(r => asDoubles(r.getSeq[Any](r.fieldIndex("embedding"))))
    for (_ <- 1 to lloydIterations) {
      val sums = train
        .withColumn("cell", cellOf(col("embedding"), centroids))
        .select(
          col("cell"),
          posexplode(expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e9) AS BIGINT))")).as(Seq("pos", "qv")),
        )
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("qv")).as("s"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      centroids = centroids.zipWithIndex.map { case (old, i) =>
        old.indices.map { p =>
          sums.get((i, p)) match {
            case Some((s, n)) if n > 0 => s.toDouble / 1e9 / n
            case _                     => old(p)
          }
        }.toArray
      }
    }
    centroids
  }

  /** Per-subspace Lloyd codebooks: init = subspace slices of the
    * `codebookSize` lowest ids, per-(subspace, code, position) sums.
    */
  def trainPqBooks(
      train: DataFrame,
      m: Int,
      dsub: Int,
      codebookSize: Int,
      lloydIterations: Int,
  ): Array[Array[Array[Double]]] = {
    var books: Array[Array[Array[Double]]] = {
      val seed = train
        .orderBy("vec_id")
        .limit(codebookSize)
        .collect()
        .map(r => asDoubles(r.getSeq[Any](r.fieldIndex("embedding"))))
      Array.tabulate(m)(s => seed.map(v => v.slice(s * dsub, (s + 1) * dsub)))
    }
    for (_ <- 1 to lloydIterations) {
      val sums = train
        .withColumn("__codes", pqCodes(books, col("embedding")))
        .select(
          col("__codes"),
          posexplode(expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e9) AS BIGINT))")).as(Seq("pos", "qv")),
        )
        .select(
          (col("pos") / dsub).cast("int").as("s"),
          (col("pos") % dsub).as("p"),
          element_at(col("__codes"), (col("pos") / dsub).cast("int") + 1).as("c"),
          col("qv"),
        )
        .groupBy(col("s"), col("c"), col("p"))
        .agg(sum(col("qv")).as("sum"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> (r.getLong(3), r.getLong(4)))
        .toMap
      books = Array.tabulate(m) { s =>
        books(s).zipWithIndex.map { case (old, c) =>
          old.indices.map { p =>
            sums.get((s, c, p)) match {
              case Some((sv, n)) if n > 0 => sv.toDouble / 1e9 / n
              case _                      => old(p)
            }
          }.toArray
        }
      }
    }
    books
  }

  /** Balanced-variance permutation from one aggregate of
    * `decimal(38,0)` first and second moments of `floor(x·1e6)`.
    */
  def balancedVariancePerm(train: DataFrame, dim: Int, m: Int): Array[Int] = {
    val aggs = (0 until dim).flatMap { i =>
      val q = floor(element_at(col("embedding"), i + 1).cast("double") * lit(1e6)).cast("long")
      Seq(
        sum(q.cast("decimal(38,0)")).as(s"s$i"),
        sum(q.cast("decimal(19,0)") * q.cast("decimal(19,0)")).as(s"q$i"),
      )
    } :+ count(lit(1)).as("n")
    val row = train.agg(aggs.head, aggs.tail: _*).first()
    val n = math.max(row.getLong(2 * dim), 1L).toDouble
    val vars = Array.tabulate(dim) { i =>
      val s = row.getDecimal(2 * i).doubleValue() / 1e6
      val q = row.getDecimal(2 * i + 1).doubleValue() / 1e12
      q / n - (s / n) * (s / n)
    }
    val dsub = dim / m
    val order = (0 until dim).sortBy(i => (-vars(i), i))
    val load = Array.fill(m)(0.0)
    val slots = Array.fill(m)(0)
    val groups = Array.fill(m)(List.newBuilder[Int])
    order.foreach { i =>
      val s = (0 until m).filter(slots(_) < dsub).minBy(j => (load(j), j))
      load(s) += vars(i)
      slots(s) += 1
      groups(s) += i
    }
    groups.flatMap(_.result())
  }

  /** OPQ alternation: per iteration, codebooks on the rotated frame,
    * then the cross-moment matrix as d groups × d `decimal(38,0)` sums
    * over a d-way explode of the reconstruction; each derived frame is
    * localCheckpoint-materialized and released when its consumers
    * finish.
    */
  def opqTrainRotation(
      train: DataFrame,
      dim: Int,
      m: Int,
      codebookSize: Int,
      lloydIterations: Int,
      iterations: Int,
  ): (Array[Array[Double]], Array[Array[Array[Double]]], Array[Double]) = {
    val dsub = dim / m
    def release(df: DataFrame): Unit =
      GraftSqlBridge.checkpointedRdd(df).foreach(_.unpersist(blocking = true))
    val perm = balancedVariancePerm(train, dim, m)
    var rot = Array.tabulate(dim, dim)((j, i) => if (perm(j) == i) 1.0 else 0.0)
    var books: Array[Array[Array[Double]]] = null
    val mses = Array.newBuilder[Double]
    for (_ <- 0 until iterations) {
      val prepared = train.withColumn("__r", rotate(rot, col("embedding"))).localCheckpoint()
      books = trainPqBooks(prepared.select(col("vec_id"), col("__r").as("embedding")), m, dsub, codebookSize, lloydIterations)
      val coded = prepared.withColumn("__codes", pqCodes(books, col("__r"))).localCheckpoint()
      release(prepared)
      val yhat = nat(graft.plans.PqDecode(ex(col("__codes")), books.map(_.map(_.toSeq).toSeq).toSeq))
      val expl = coded
        .withColumn("__yhat", yhat)
        .select(col("embedding"), col("__r"), posexplode(col("__yhat")).as(Seq("__j", "__yj")))
      val qy = floor(col("__yj") * lit(1e6)).cast("decimal(19,0)")
      val aggs = (0 until dim).map { i =>
        val qx = floor(element_at(col("embedding"), i + 1).cast("double") * lit(1e6)).cast("decimal(19,0)")
        sum(qy * qx).as(s"m$i")
      } :+ sum(
        floor(
          (element_at(col("__r"), col("__j") + 1) - col("__yj")) *
            (element_at(col("__r"), col("__j") + 1) - col("__yj")) * lit(1e9)
        ).cast("long")
      ).as("err")
      val rows = expl.groupBy(col("__j")).agg(aggs.head, aggs.tail: _*).collect()
      release(coded)
      val mm = Array.ofDim[Double](dim, dim)
      var errSum = 0L
      rows.foreach { r =>
        val j = r.getInt(0)
        (0 until dim).foreach(i => mm(j)(i) = r.getDecimal(i + 1).doubleValue() / 1e12)
        errSum += r.getLong(dim + 1)
      }
      mses += errSum / 1e9
      rot = VectorFunctions.procrustes(mm)
    }
    val rotated = train.withColumn("embedding", rotate(rot, col("embedding"))).localCheckpoint()
    books = trainPqBooks(rotated, m, dsub, codebookSize, lloydIterations)
    release(rotated)
    (rot, books, mses.result())
  }
}
