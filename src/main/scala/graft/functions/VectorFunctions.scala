package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Dot products are computed on scaled integers
  * (`Σ floor(x·y·1e12)` as long) so results are order-independent and
  * bit-identical across engines; the final cosine uses IEEE sqrt and
  * division on exactly-representable longs — still deterministic.
  */
object VectorFunctions {

  /** Scaled-integer squared norm of an embedding array (native
    * graft_dot12 expression — bit-identical to the SQL formulation,
    * one compiled loop instead of interpreted lambdas).
    */
  def norm2Int(emb: String): Column = expr(s"graft_dot12($emb, $emb)")

  /** Scaled-integer dot product of two embedding arrays. */
  def dotInt(a: String, b: String): Column = expr(s"graft_dot12($a, $b)")

  /** Ensure the native expressions are registered in df's session. */
  private def withFns(df: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    df
  }

  /** The one cosine-scoring expression every exact-kNN operator in
    * this file shares (cosineTopK, hardNegatives, knnLabelNoise):
    * scaled-integer dot over IEEE sqrt norms of the `qe`/`ce` pair
    * columns. Kept in one place so a change to the formula or its
    * determinism contract cannot silently diverge the operators (and
    * their common DuckDB oracle shape).
    *
    * The norms ride as the precomputed `__nq`/`__nc` columns (built by
    * [[withQNorm]]/[[withCNorm]] on each side BEFORE the pair join):
    * the historical spelling evaluated `sqrt(graft_dot12(v, v))` for
    * both vectors inside the per-pair projection — 3 dot products per
    * candidate pair instead of 1 at probe volume, the dominant scoring
    * term once the rank went map-side (guide §1.2 step 2). The value is
    * bit-identical: same scaled-integer dot per vector, same IEEE sqrt,
    * same multiply — just evaluated once per row instead of once per
    * pair.
    */
  private def qcCosine: Column =
    dotInt("qe", "ce").cast("double") / (col("__nq") * col("__nc"))

  /** IEEE norm `sqrt(Σ floor(x_i·x_i·1e12))` of the query-side vector,
    * once per row — see [[qcCosine]].
    */
  private def withQNorm(df: DataFrame): DataFrame =
    df.withColumn("__nq", sqrt(norm2Int("qe").cast("double")))

  private def withCNorm(df: DataFrame): DataFrame =
    df.withColumn("__nc", sqrt(norm2Int("ce").cast("double")))

  /** Brute-force cosine top-k: broadcast the (small) query set against
    * all candidates — the exact baseline. One broadcast join, no
    * shuffle of the candidate side until the final per-query top-k
    * (rank window over query_id).
    */
  def cosineTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    withFns(queries)
    val q = withQNorm(queries.select(col("vec_id").as("query_id"), col("embedding").as("qe")))
    val c = withCNorm(candidates.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce")))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", qcCosine)
    scored
      .groupBy(col("query_id"))
      .agg(topK(k, asc = false, col("cosine"), col("neighbor_id")).as("__tk"))
      .select(col("query_id"), posexplode(col("__tk")).as(Seq("__r", "__e")))
      .select(col("query_id"), col("__e.id").as("neighbor_id"), col("__e.score").as("cosine"), (col("__r") + lit(1)).as("rank"))
  }

  /** Hard-negative mining for contrastive/retrieval training
    * (Karpukhin et al. 2020 "Dense Passage Retrieval", Xiong et al.
    * 2021 ANCE): for each query vector, the top-k most similar
    * candidates with a DIFFERENT label — the near-misses a bi-encoder
    * learns the most from. Identical plan shape to [[cosineTopK]]
    * (broadcast query side, scaled-integer dots, per-query window
    * rank), with the label mismatch pushed into the join condition so
    * same-label pairs never materialize. At 100 TB the candidate scan
    * stays embarrassingly parallel; [[hardNegativesIvf]] is the
    * cell-pruned swap for when the query side outgrows a broadcast.
    */
  def hardNegatives(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    withFns(queries)
    val q = withQNorm(queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("label").as("query_label")))
    val c = withCNorm(candidates.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"), col("label").as("neg_label")))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id") && col("query_label") =!= col("neg_label"))
      .withColumn("cosine", qcCosine)
    scored
      .groupBy(col("query_id"), col("query_label"))
      .agg(topK(k, asc = false, col("cosine"), col("neighbor_id"), Some(col("neg_label"))).as("__tk"))
      .select(col("query_id"), col("query_label"), posexplode(col("__tk")).as(Seq("__r", "__e")))
      .select(
        col("query_id"),
        col("query_label"),
        col("__e.id").as("neighbor_id"),
        col("__e.p0").as("neg_label"),
        col("__e.score").as("cosine"),
        (col("__r") + lit(1)).as("rk"),
      )
  }

  /** kNN label-agreement noise detection (the model-free cousin of
    * confident learning, Northcutt et al. 2021; "neighborhood
    * cleaning" in the instance-selection literature): for every
    * labeled embedding, the fraction of its k nearest neighbors
    * sharing its label. A vector whose neighborhood votes against it
    * (`agree_ppm < minAgreePpm`) is a labeling-error / outlier
    * suspect — the embedding-space audit a labeled training set gets
    * before the label ever reaches a loss function.
    *
    * This is the exact all-pairs baseline, quadratic by definition
    * (like [[cosineDedupPairs]]); the scale path is
    * [[knnLabelNoiseCells]], which scopes the neighborhood scan to
    * k-means cells with identical scoring. Integer-exact agreement
    * counts, ties on neighbor_id, ppm by integer division of
    * non-negative longs — deterministic across engines.
    */
  def knnLabelNoise(df: DataFrame, k: Int, minAgreePpm: Long = 500000L): DataFrame = {
    withFns(df)
    val spread = DedupFunctions.spread(df)
    val q = withQNorm(spread.select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("label").as("label")))
    val c = withCNorm(spread.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"), col("label").as("n_label")))
    val scored = q
      .join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", qcCosine)
    scored
      .groupBy(col("query_id"), col("label"))
      .agg(topK(k, asc = false, col("cosine"), col("neighbor_id"), Some(col("n_label"))).as("__tk"))
      // agreement over the neighbors that EXIST (size of the retained
      // top-k, ≤ k when the group is small): with fewer than k
      // candidates a literal-k denominator would flag
      // perfectly-agreeing vectors as suspect. n_same counts matching
      // labels within the top-k exactly like the historical
      // sum(when(n_label === label, 1L)) over the rank-filtered rows.
      .withColumn("n_same", size(filter(col("__tk"), e => e.getField("p0") === col("label"))).cast("long"))
      .withColumn("__n_nb", size(col("__tk")).cast("long"))
      .select(
        col("query_id"),
        col("label"),
        col("n_same"),
        expr("1000000 * n_same div __n_nb").as("agree_ppm"),
        (expr("1000000 * n_same div __n_nb") < minAgreePpm).as("suspect"),
      )
  }

  /** Shared IVF scaffold for the cell-scoped duals: train the
    * deterministic Lloyd quantizer on the CANDIDATE side, cell-index
    * the candidates once, probe each query's nProbe nearest cells,
    * and cosine-score every (query, candidate) pair within probed
    * cells — cells are disjoint, so a pair appears at most once
    * across the probe arms. `finish` shapes the scored frame
    * (query_id, qe, q_label, neighbor_id, ce, n_label, cosine); its
    * result is pinned so the scope releases BOTH cached embedding
    * copies before returning.
    */
  private def ivfScored(
      opName: String,
      queries: DataFrame,
      candidates: DataFrame,
      nCells: Int,
      nProbe: Int,
      lloydIterations: Int,
      trainLimit: Int,
      samePair: Boolean,
      pairPred: Column = lit(true),
  )(finish: DataFrame => DataFrame): DataFrame = Materialize.scoped {
    require(nCells >= 2, s"$opName needs at least 2 cells (least() argmin is binary-plus)")
    require(nProbe >= 1 && nProbe <= nCells, "nProbe must be in [1, nCells]")
    withFns(queries)
    val cand = Materialize.cache(candidates)
    val centroids = trainKmeans(cand.select(col("vec_id"), col("embedding")), nCells, lloydIterations, trainLimit)
    // the candidate norm is materialized INTO the cache — computed once
    // per vector for the whole probe scan (see qcCosine)
    val indexed = withCNorm(
      assignCell(cand, centroids)
        .select(col("cell"), col("vec_id").as("neighbor_id"), col("embedding").as("ce"), col("label").as("n_label"))
    ).transform(Materialize.cache)
    val probes = withQNorm(
      queries
        .withColumn("cell", explode(cellNearest(col("embedding"), centroids, nProbe)))
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("label").as("q_label"), col("cell"))
    )
    val scored = probes
      .join(indexed, Seq("cell"))
      .where((if (samePair) lit(true) else col("query_id") =!= col("neighbor_id")) && pairPred)
      .withColumn("cosine", qcCosine)
    Materialize.pin(finish(scored))
  }

  /** Cell-scoped scale dual of [[knnLabelNoise]] — the IVF recipe
    * applied to the label audit: assign every vector to a
    * deterministic k-means cell ([[semanticDedup]]'s quantizer), and
    * scan each query's neighborhood over its `nProbe` nearest cells
    * only, scoring agreement IDENTICALLY to the exact form (same
    * cosine expression, same per-existing-neighbor denominator, same
    * ppm arithmetic). Pair volume drops from N² to
    * Σ |probe_q ∩ cell_c| ≈ N²·nProbe/nCells with nCells ∝ √N — the
    * bounded-cell path every other quadratic baseline in this file
    * already has. With `nProbe = nCells` the probed set is the whole
    * corpus and the output equals [[knnLabelNoise]] exactly (the
    * equality the spec pins); the quantizer is the file's
    * scaled-integer Lloyd, so cells — and therefore the audit — are
    * identical on every run and partitioning.
    */
  def knnLabelNoiseCells(
      df: DataFrame,
      k: Int,
      minAgreePpm: Long = 500000L,
      nCells: Int = 16,
      nProbe: Int = 4,
      lloydIterations: Int = 5,
      trainLimit: Int = 100000,
  ): DataFrame = {
    val spread = DedupFunctions.spread(df).select(col("vec_id"), col("embedding"), col("label"))
    ivfScored("knnLabelNoiseCells", spread, spread, nCells, nProbe, lloydIterations, trainLimit, samePair = false) {
      scored =>
        scored
          .groupBy(col("query_id"), col("q_label").as("label"))
          .agg(topK(k, asc = false, col("cosine"), col("neighbor_id"), Some(col("n_label"))).as("__tk"))
          .withColumn("n_same", size(filter(col("__tk"), e => e.getField("p0") === col("label"))).cast("long"))
          .withColumn("__n_nb", size(col("__tk")).cast("long"))
          .select(
            col("query_id"),
            col("label"),
            col("n_same"),
            expr("1000000 * n_same div __n_nb").as("agree_ppm"),
            (expr("1000000 * n_same div __n_nb") < minAgreePpm).as("suspect"),
          )
    }
  }

  /** IVF scale dual of [[hardNegatives]] — the documented swap for
    * when the query side outgrows a broadcast: train the coarse
    * quantizer on the CANDIDATES, assign them to cells once, and let
    * each query mine its negatives from its `nProbe` nearest cells
    * instead of the full candidate scan. The label-mismatch predicate
    * and scoring are identical to the exhaustive form, so within the
    * probed cells the ranking is exact; recall vs the exhaustive form
    * follows the IVF curve the spec measures. Both sides shuffle on
    * `cell` — no broadcast required on either side at any scale.
    */
  def hardNegativesIvf(
      queries: DataFrame,
      candidates: DataFrame,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      lloydIterations: Int = 5,
      trainLimit: Int = 100000,
  ): DataFrame = {
    val q = queries.select(col("vec_id"), col("embedding"), col("label"))
    val cand = DedupFunctions.spread(candidates).select(col("vec_id"), col("embedding"), col("label"))
    ivfScored("hardNegativesIvf", q, cand, nCells, nProbe, lloydIterations, trainLimit, samePair = false,
      pairPred = col("q_label") =!= col("n_label")) { scored =>
      scored
        .groupBy(col("query_id"), col("q_label"))
        .agg(topK(k, asc = false, col("cosine"), col("neighbor_id"), Some(col("n_label"))).as("__tk"))
        .select(col("query_id"), col("q_label"), posexplode(col("__tk")).as(Seq("__r", "__e")))
        .select(
          col("query_id"),
          col("q_label").as("query_label"),
          col("__e.id").as("neighbor_id"),
          col("__e.p0").as("neg_label"),
          col("__e.score").as("cosine"),
          (col("__r") + lit(1)).as("rk"),
        )
    }
  }

  /** Embedding-cosine near-duplicate pairs — the exact baseline: all
    * (a < b) pairs with cosine ≥ τ. Quadratic in candidates by
    * definition; the scale path swaps the cross product for
    * [[lshAnn]]-style bucket collisions while keeping this exact
    * scoring. Threshold compares deterministic doubles (scaled-integer
    * dots, IEEE sqrt), so the cut is engine-exact.
    */
  def cosineDedupPairs(df: DataFrame, threshold: Double): DataFrame = {
    withFns(df)
    val spread = DedupFunctions.spread(df)
    // norms once per row per arm, not per pair (see qcCosine)
    val a = withQNorm(spread.select(col("vec_id").as("vec_a"), col("embedding").as("qe")))
    val b = withCNorm(spread.select(col("vec_id").as("vec_b"), col("embedding").as("ce")))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("dot", dotInt("qe", "ce"))
      .withColumn("cosine", col("dot").cast("double") / (col("__nq") * col("__nc")))
      .where(col("cosine") >= lit(threshold))
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** Embedding near-duplicate pairs at scale: banded hyperplane-LSH
    * candidates verified by exact cosine — the embedding analog of the
    * MinHash→Jaccard composition (C3). A 64-bit hyperplane signature
    * (native `graft_hplane_sig`, one compiled planes×dim loop per row)
    * is split into `bands` bands of `planesPerBand` sign bits; vectors
    * sharing any band collide, and only collisions get the exact
    * scaled-integer cosine. Never all-pairs: candidate volume is
    * bounded by band collisions, every stage a hash shuffle.
    *
    * Recall for a pair at angle θ is `1 − (1 − p^r)^b` with
    * `p = 1 − θ/π`, r = planesPerBand, b = bands. The default (4, 16)
    * gives ≥ 0.91 recall down to cosine 0.35; tighter thresholds
    * (near-dup at ≥ 0.9) allow far more selective settings like
    * (8, 8). Verified pairs are exact — precision is 1 by
    * construction, only recall is approximate.
    */
  def cosineDedupPairsLsh(
      df: DataFrame,
      threshold: Double,
      planesPerBand: Int = 4,
      bands: Int = 16,
  ): DataFrame = {
    withFns(df)
    require(planesPerBand * bands <= 64, "banded signature must fit in 64 bits")
    val mask = (1L << planesPerBand) - 1L
    // norm computed once per vector, before the band explode replicates
    // rows (see qcCosine); it is a function of the embedding, so
    // carrying it through distinct() changes no row identity
    val banded = DedupFunctions.spread(df)
      .select(
        col("vec_id"),
        col("embedding"),
        sqrt(norm2Int("embedding").cast("double")).as("__n"),
        expr(s"graft_hplane_sig(embedding, ${planesPerBand * bands})").as("sig"),
      )
      .select(
        col("vec_id"),
        col("embedding"),
        col("__n"),
        posexplode(
          expr(s"transform(sequence(0, ${bands - 1}), b -> shiftright(sig, b * $planesPerBand) & ${mask}L)")
        ).as(Seq("band", "band_bits")),
      )
    banded
      .select(col("band"), col("band_bits"), col("vec_id").as("vec_a"), col("embedding").as("qe"), col("__n").as("__nq"))
      .join(
        banded.select(col("band"), col("band_bits"), col("vec_id").as("vec_b"), col("embedding").as("ce"), col("__n").as("__nc")),
        Seq("band", "band_bits"),
      )
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("qe"), col("ce"), col("__nq"), col("__nc"))
      .distinct()
      .withColumn("dot", dotInt("qe", "ce"))
      .withColumn("cosine", col("dot").cast("double") / (col("__nq") * col("__nc")))
      .where(col("cosine") >= lit(threshold))
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** Column over a raw native expression (model matrices ride as
    * constructor data — see [[graft.plans.CellAssign]] et al.).
    */
  private def nat(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftSqlBridge.column(e)
  private def ex(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftSqlBridge.expression(c)

  /** Bounded exact top-k of (score, id[, payload]) per group —
    * [[graft.plans.TopKPairs]], the map-side replacement for
    * `row_number().over(partitionBy(g).orderBy(score, id))` +
    * `rank <= k`: the Exchange carries ≤ k entries per (group, map
    * partition) instead of every scored candidate row, and nothing
    * sorts more than k elements per group (guide §2.3/§5). Entry i of
    * the returned array is the row that held row_number i + 1; the
    * ordering (incl. ±0.0/NaN and tie-break on id) is pinned to the
    * window sort's by TopKAggSpec. TopKPairs carries at most one
    * payload column, hence the Option.
    */
  private def topK(k: Int, asc: Boolean, score: Column, id: Column, payload: Option[Column] = None): Column =
    nat(graft.plans.TopKPairs(ex(score), ex(id), payload.map(ex).toSeq, k, asc).toAggregateExpression())

  /** Nearest-centroid struct `(d, cell)` — native argmin with the
    * arithmetic and ordering of the historical
    * `least(struct(dist2(emb, c_i), i)…)` literal tree (fixed-order
    * `Σ (double(x)−c)²`, ties on lowest cell; VectorNativeExprSpec
    * pins the equivalence). One compiled nCells × dim loop per row
    * instead of ~3 interpreted lambda dispatches per element — the
    * argmin is O(nCells·dim) per ROW with nCells ∝ √N at scale, so
    * this constant multiplies the whole index/probe term.
    */
  private def cellAssign(emb: Column, centroids: Array[Array[Double]]): Column =
    nat(graft.plans.CellAssign(ex(emb), centroids.map(_.toSeq).toSeq))

  /** The `n` nearest cells in ascending (d, cell) order — native form
    * of `slice(array_sort(array(struct(dist2…, i)…)), 1, n)`.
    */
  private def cellNearest(emb: Column, centroids: Array[Array[Double]], n: Int): Column =
    nat(graft.plans.CellNearest(ex(emb), centroids.map(_.toSeq).toSeq, n))

  /** Nearest-centroid assignment as a `cell` column (argmin, ties
    * break on cell id).
    */
  private def assignCell(frame: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    frame.withColumn("cell", cellAssign(col("embedding"), centroids).getField("cell"))

  /** The bounded training frame of the vector trainers: the
    * `trainLimit` lowest vec_ids (train small, index everything — the
    * standard coarse-quantizer recipe), respread (limit() collapses to
    * one partition — the sample would materialize single-core
    * otherwise).
    */
  private def trainFrame(vecs: DataFrame, trainLimit: Int): DataFrame =
    DedupFunctions.spread(vecs.orderBy("vec_id").limit(trainLimit))

  /** The vectors of the `k` lowest vec_ids, ascending — the
    * deterministic Lloyd init (fewer when the sample is smaller).
    */
  private def lowestIds(train: RDD[TrainSample.VecRow], k: Int, what: String): Array[Array[Double]] = {
    val init = train.takeOrdered(k)(Ordering.by[TrainSample.VecRow, Long](_._1)).map(_._2)
    require(init.nonEmpty, s"$what needs at least one training vector")
    if (init.contains(null)) throw new IllegalStateException(s"$what: null embedding among the $k lowest vec_ids")
    init
  }

  /** Deterministic k-means over `(vec_id, embedding)` on the
    * `trainLimit` lowest ids — see [[trainKmeansOn]].
    */
  private[graft] def trainKmeans(
      vecs: DataFrame,
      nCells: Int,
      lloydIterations: Int,
      trainLimit: Int,
  ): Array[Array[Double]] =
    TrainSample.vectors(trainFrame(vecs, trainLimit))(trainKmeansOn(_, nCells, lloydIterations))

  /** Lloyd over a [[TrainSample]]: init = the `nCells` lowest vec_ids;
    * each pass is one treeAggregate of per-(cell, position)
    * `floor(x·1e9)` long sums and per-cell counts (order-independent —
    * identical centroids on every run and partitioning), with the
    * centroids carried in the task closure and the argmin the
    * [[graft.plans.CellAssign]] kernel. Only nCells × dim sums reach
    * the driver; empty cells keep their centroid, null embeddings add
    * nothing.
    */
  private[graft] def trainKmeansOn(
      train: RDD[TrainSample.VecRow],
      nCells: Int,
      lloydIterations: Int,
  ): Array[Array[Double]] = {
    var centroids = lowestIds(train, nCells, "k-means")
    val k = centroids.length
    val dim = centroids(0).length
    for (_ <- 1 to lloydIterations) {
      val cents = centroids
      val acc = train.treeAggregate(new Array[Long](k * dim + k))(
        (acc, row) => {
          val v = row._2
          if (v != null) {
            val cell = graft.plans.VecKernels.cellAssign(UnsafeArrayData.fromPrimitiveArray(v), cents, false).getInt(1)
            var p = 0
            while (p < dim) {
              acc(cell * dim + p) = Math.addExact(acc(cell * dim + p), TrainSample.scaled(v(p), 1e9))
              p += 1
            }
            acc(k * dim + cell) += 1
          }
          acc
        },
        TrainSample.mergeExact,
      )
      centroids = Array.tabulate(k) { i =>
        val n = acc(k * dim + i)
        if (n > 0) Array.tabulate(dim)(p => acc(i * dim + p).toDouble / 1e9 / n)
        else cents(i) // empty cell keeps its centroid
      }
    }
    centroids
  }

  /** SemDeDup semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embedding space with k-means, then
    * drop every vector whose cosine to a LOWER-id vector in the SAME
    * cluster exceeds τ — near-duplicates in meaning, not just form.
    * Clustering bounds the pair volume to Σ cell² (pick `nCells` ∝ √n
    * at scale, exactly the paper's recipe) instead of all-pairs, and
    * pair scoring reuses the exact scaled-integer cosine, so given the
    * learned cells the keep/drop decision is engine-exact and the
    * greedy keep-lowest-id rule is deterministic.
    *
    * Returns survivors: `(vec_id, cell)` — one row per kept vector.
    */
  def semanticDedup(
      df: DataFrame,
      threshold: Double,
      nCells: Int = 16,
      lloydIterations: Int = 5,
      trainLimit: Int = 100000,
      planesPerBand: Int = 4,
      bands: Int = 16,
  ): DataFrame = Materialize.scoped {
    require(nCells >= 2, "semanticDedup needs at least 2 cells")
    require(planesPerBand * bands <= 64, "banded signature must fit in 64 bits")
    withFns(df)
    val spark = df.sparkSession
    val vecs = DedupFunctions.spread(df)
      .select(col("vec_id"), col("embedding"))
      .transform(Materialize.cache)
    val centroids = trainKmeans(vecs, nCells, lloydIterations, trainLimit)
    val indexed = Materialize.cache(assignCell(vecs, centroids).select(col("cell"), col("vec_id"), col("embedding")))
    // candidate pairs WITHIN a cell via banded hyperplane LSH: joining
    // all pairs per cell is Σ cell² — quadratic once the corpus
    // outgrows nCells (and the expression-literal argmin bounds how far
    // nCells can stretch). Keying the self-join on (cell, band, bits)
    // bounds candidates by genuine band collisions instead, with the
    // same ≥0.9 recall the C5c path measures in this τ regime.
    val mask = (1L << planesPerBand) - 1L
    // norm computed once per vector, before the band explode replicates
    // rows (see qcCosine); a function of the embedding, so distinct()
    // semantics are unchanged
    val banded = indexed
      .select(
        col("cell"),
        col("vec_id"),
        col("embedding"),
        sqrt(norm2Int("embedding").cast("double")).as("__n"),
        expr(s"graft_hplane_sig(embedding, ${planesPerBand * bands})").as("sig"),
      )
      .select(
        col("cell"),
        col("vec_id"),
        col("embedding"),
        col("__n"),
        posexplode(
          expr(s"transform(sequence(0, ${bands - 1}), b -> shiftright(sig, b * $planesPerBand) & ${mask}L)")
        ).as(Seq("band", "band_bits")),
      )
    val dupped = banded
      .select(col("cell"), col("band"), col("band_bits"), col("vec_id").as("vec_b"), col("embedding").as("ce"), col("__n").as("__nc"))
      .join(
        banded.select(col("cell"), col("band"), col("band_bits"), col("vec_id").as("vec_a"), col("embedding").as("qe"), col("__n").as("__nq")),
        Seq("cell", "band", "band_bits"),
      )
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("qe"), col("ce"), col("__nq"), col("__nc"))
      .distinct()
      .withColumn("dot", dotInt("qe", "ce"))
      .withColumn("cosine", col("dot").cast("double") / (col("__nq") * col("__nc")))
      .where(col("cosine") >= lit(threshold))
      .select(col("vec_b").as("vec_id"))
      .distinct()
    indexed
      .join(dupped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
      // small survivor list; the scope releases the cached inputs now
      .transform(Materialize.pin)
  }

  /** Self-supervised prototype pruning (Sorscher, Geirhos, Shekhar,
    * Ganguli & Morcos 2022, "Beyond neural scaling laws: beating
    * power-law scaling via data pruning"): learn k-means prototypes
    * over the embeddings, score each example by its squared distance
    * to its assigned prototype, and PRUNE the easiest `pruneFrac` of
    * each cluster — in the abundant-data regime the paper's metric
    * keeps hard (far-from-prototype) examples and beats random
    * pruning. Emits survivors as (vec_id, cell, proto_d2_nano).
    *
    * Two ranking modes. `exactRank = true` (default): per-cluster
    * `row_number` over (distance, vec_id) — exact and fully
    * deterministic, but each cluster is one window partition, so a
    * 100 TB corpus sorts each cell. `exactRank = false` is the scale
    * path: per-cell `approx_percentile` thresholds (one bounded
    * aggregate of nCells rows, broadcast back, stateless filter — no
    * per-cell sort anywhere); PrototypePruneSpec bounds its deviation
    * from the exact rank.
    *
    * Determinism: k-means is the file's scaled-integer Lloyd (same
    * cells on any partitioning), the distance is a fixed-order per-row
    * fold, and ties break on vec_id.
    */
  def prototypePrune(
      df: DataFrame,
      pruneFrac: Double,
      nCells: Int = 16,
      lloydIterations: Int = 5,
      trainLimit: Int = 100000,
      exactRank: Boolean = true,
  ): DataFrame = Materialize.scoped {
    require(pruneFrac >= 0.0 && pruneFrac < 1.0, "pruneFrac must be in [0, 1)")
    require(nCells >= 2, "prototypePrune needs at least 2 cells (least() argmin is binary-plus)")
    val spark = df.sparkSession
    val vecs = DedupFunctions.spread(df)
      .select(col("vec_id"), col("embedding"))
      .transform(Materialize.cache)
    val centroids = trainKmeans(vecs, nCells, lloydIterations, trainLimit)
    val assigned = vecs
      .withColumn("__a", cellAssign(col("embedding"), centroids))
      .select(
        col("vec_id"),
        col("__a").getField("cell").as("cell"),
        floor(col("__a").getField("d") * lit(1e9)).cast("long").as("proto_d2_nano"),
      )
    val out =
      if (exactRank) {
        val byCell = Window.partitionBy(col("cell"))
        val w = byCell.orderBy(col("proto_d2_nano").asc, col("vec_id"))
        assigned
          .withColumn("__rk", row_number().over(w))
          .withColumn("__n", count(lit(1)).over(byCell))
          .where(col("__rk") > floor(lit(pruneFrac) * col("__n")))
          .select(col("vec_id"), col("cell"), col("proto_d2_nano"))
      } else {
        val cuts = assigned
          .groupBy(col("cell"))
          .agg(expr(s"approx_percentile(proto_d2_nano, $pruneFrac)").as("__cut"))
        assigned
          .join(broadcast(cuts), Seq("cell"))
          .where(col("proto_d2_nano") >= col("__cut"))
          .select(col("vec_id"), col("cell"), col("proto_d2_nano"))
      }
    Materialize.pin(out)
  }

  /** Cluster-balanced diversity sampling — flatten the cluster-mass
    * distribution of an embedding lake (the balancing step of
    * SemDeDup-style pipelines, Abbas et al. 2023, and the DataComp
    * curation recipes): assign every vector to a deterministic k-means
    * cell, then keep each cell at rate `min(1, targetPerCell / n_c)`
    * via the md5-threshold sampler, so over-represented modes are
    * down-weighted and rare modes survive whole. Expected kept mass
    * per cell ≤ targetPerCell; the sample is content-stable (a vector
    * keeps/drops identically on every run, engine and partitioning —
    * the property `sample()` lacks).
    *
    * Plan: Lloyd on the bounded train sample, one per-row assignment
    * pass, a nCells-row count aggregate broadcast back, one stateless
    * filter — no per-cell sort, no global shuffle beyond the bounded
    * count. Scale-safe at any corpus size.
    */
  def clusterBalance(
      df: DataFrame,
      targetPerCell: Long,
      nCells: Int = 16,
      lloydIterations: Int = 5,
      trainLimit: Int = 100000,
  ): DataFrame = Materialize.scoped {
    require(targetPerCell >= 1L, "targetPerCell must be positive")
    require(nCells >= 2, "clusterBalance needs at least 2 cells (least() argmin is binary-plus)")
    val spark = df.sparkSession
    val vecs = DedupFunctions.spread(df)
      .select(col("vec_id"), col("embedding"))
      .transform(Materialize.cache)
    val centroids = trainKmeans(vecs, nCells, lloydIterations, trainLimit)
    val assigned = assignCell(vecs, centroids).select(col("vec_id"), col("cell"))
    val counts = assigned.groupBy(col("cell")).agg(count(lit(1)).as("__n"))
    // keep iff the first 8 md5 hex digits of the id fall below
    // rate·16^8 — the stratifiedSample cut, with the rate computed
    // per cell from the broadcast counts instead of a literal map
    val digits = substring(md5(col("vec_id").cast("string")), 1, 8)
    // floor(rate·16^8) as 8 hex digits; only evaluated on the
    // `__n > targetPerCell` arm, where rate < 1 so the hex fits 8 chars
    val cut = lpad(
      lower(hex(((lit(4294967296L) * targetPerCell).cast("double") / col("__n").cast("double")).cast("long"))),
      8,
      "0",
    )
    assigned
      .join(broadcast(counts), Seq("cell"))
      .where(col("__n") <= targetPerCell || digits < cut)
      .select(col("vec_id"), col("cell"))
      .transform(Materialize.pin)
  }

  /** IVF (inverted-file) ANN — the coarse-quantizer alternative to
    * [[lshAnn]]: k-means cells learned with a few Lloyd iterations,
    * then exact cosine ranking within each query's `nProbe` nearest
    * cells. Centroids are driver-side literals (nCells × dim doubles —
    * dictionary-broadcast sized); everything per-row is a distributed
    * plan. Deterministic end to end: init takes the nCells lowest
    * vec_ids, per-cell means accumulate as scaled integers (order-
    * independent), and ties break on cell id — same cells on every
    * run and every partitioning.
    *
    * At 100 TB the train step runs on a sample (`trainLimit` lowest
    * ids) while assignment and probing stay full-table — the standard
    * IVF recipe (train small, index everything).
    */
  def ivfAnn(
      df: DataFrame,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      lloydIterations: Int = 5,
      trainLimit: Int = 100000,
  ): DataFrame = Materialize.scoped {
    require(nCells >= 2, "ivfAnn needs at least 2 cells (least() argmin is binary-plus)")
    require(nProbe >= 1 && nProbe <= nCells, "nProbe must be in [1, nCells]")
    withFns(df)
    val spark = df.sparkSession
    val vecs = DedupFunctions.spread(df)
      .select(col("vec_id"), col("embedding"))
      .transform(Materialize.cache)

    val centroids = trainKmeans(vecs, nCells, lloydIterations, trainLimit)

    // the candidate norm is materialized INTO the cache — computed once
    // per vector for the whole probe scan (see qcCosine)
    val indexed = assignCell(vecs, centroids)
      .select(col("cell"), col("vec_id"), col("embedding"))
      .withColumn("__nc", sqrt(expr("graft_dot12(embedding, embedding)").cast("double")))
      .transform(Materialize.cache)
    // probe list: each query's nProbe nearest cells
    val probes = withQNorm(
      vecs
        .withColumn("cell", explode(cellNearest(col("embedding"), centroids, nProbe)))
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("cell"))
    )
    val ranked = probes
      .join(indexed.select(col("cell"), col("vec_id").as("neighbor_id"), col("embedding").as("ce"), col("__nc")), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", dotInt("qe", "ce"))
      .withColumn("cosine", col("dot").cast("double") / (col("__nq") * col("__nc")))
    ranked
      .groupBy(col("query_id"))
      .agg(topK(k, asc = false, col("cosine"), col("neighbor_id")).as("__tk"))
      .select(col("query_id"), posexplode(col("__tk")).as(Seq("__r", "__e")))
      .select(col("query_id"), col("__e.id").as("neighbor_id"), col("__e.score").as("cosine"), (col("__r") + lit(1)).as("rank"))
      // pin the small result (|queries| × k rows) so the scope releases
      // the big cached inputs NOW — without this every call holds two
      // cached copies of the table until the caller drops the frame
      .transform(Materialize.pin)
  }

  /** Product quantization with ADC search — the memory-scale ANN path
    * beyond [[quantizeInt8]]: each vector is encoded as `m` small codes
    * (one per contiguous subspace of `dim / m` dimensions, argmin over
    * a `codebookSize`-entry codebook), compressing the corpus
    * ~`dim·4 / m` ×; queries rank candidates by ADC (asymmetric
    * distance): the query precomputes its `m × codebookSize` lookup
    * table of exact subspace distances ONCE, and every candidate then
    * costs just `m` array lookups — the real PQ scan kernel.
    *
    * Determinism mirrors [[ivfAnn]]: codebooks train with the same
    * scaled-integer Lloyd on the `trainLimit` lowest vec_ids (init =
    * first `codebookSize` train vectors per subspace, empty clusters
    * keep their codeword, ties break on code index), so codes and
    * rankings are identical across runs and partitionings. Ranking is
    * by approximate squared L2, ties on neighbor_id.
    *
    * The ADC scan keeps a shortlist of `rerankFactor · k` candidates
    * per query, which are then re-ranked by EXACT distance on their
    * full vectors — the standard two-stage PQ recipe: compression
    * bounds the scan cost, the exact rerank restores precision on the
    * tiny shortlist (|queries| × rerankFactor · k rows).
    *
    * At 100 TB: codes live comfortably in memory (m bytes per vector),
    * the query side broadcasts, and cell pruning composes with
    * [[ivfAnn]] (IVF-PQ) — here the scan is exhaustive over codes, the
    * standard flat-PQ formulation.
    */
  def pqAnn(
      df: DataFrame,
      queries: DataFrame,
      k: Int,
      m: Int = 4,
      codebookSize: Int = 16,
      rerankFactor: Int = 10,
      lloydIterations: Int = 5,
      trainLimit: Int = 100000,
      opq: Boolean = false,
      opqRotate: Int = 0,
  ): DataFrame = Materialize.scoped {
    val spark = df.sparkSession
    val dim = df.select(size(col("embedding"))).first().getInt(0)
    require(dim % m == 0, s"embedding dim $dim must divide into $m subspaces")
    require(codebookSize >= 2, "pqAnn needs at least 2 codewords per subspace")
    val dsub = dim / m
    val vecs = DedupFunctions.spread(df)
      .select(col("vec_id"), col("embedding"))
      .transform(Materialize.cache)

    // OPQ-lite: permute dimensions into balanced-variance subspaces
    // before training. A permutation is orthogonal, so true L2
    // distances (and the exact rerank) are untouched — only the
    // subspace decomposition the codebooks quantize changes. ONE
    // training sample serves both the permutation and the codebooks —
    // the sample sort is the expensive half of training at scale.
    // opqRotate > 0 upgrades the permutation to the full Ge et al.
    // alternating rotation ([[opqTrainRotation]]) seeded from it.
    val train = trainFrame(vecs, trainLimit)
    val (applyT, books): (Column => Column, Array[Array[Array[Double]]]) =
      if (opqRotate > 0) {
        val (rotM, bks, _) = opqTrainRotation(train, dim, m, codebookSize, lloydIterations, opqRotate)
        ((c: Column) => rotateExpr(rotM, c), bks)
      } else
        TrainSample.vectors(train) { sample =>
          val perm: Array[Int] =
            if (!opq) Array.range(0, dim)
            else balancedVariancePerm(sample, dim, m)
          def permuted(c: Column): Column =
            if (!opq) c else array(perm.map(i => element_at(c, i + 1)): _*)
          val view = if (!opq) sample else sample.map { case (id, v) => (id, if (v == null) null else perm.map(i => v(i))) }
          (permuted _, trainPqBooksOn(view, m, dsub, codebookSize, lloydIterations))
        }
    // under a full rotation, materialize the rotated corpus once:
    // projection collapse would otherwise inline the d²-op rotation
    // into all m×codebookSize codeword distances of the encode (the
    // production pipeline persists codes anyway — this is its
    // in-session stand-in, released by the scope)
    val pvecs =
      if (opqRotate > 0) Materialize.pin(vecs.withColumn("embedding", applyT(col("embedding"))))
      else vecs.withColumn("embedding", applyT(col("embedding")))

    // encode the whole corpus; codes are the only per-candidate state
    // the scan reads
    val coded = pvecs.withColumn("codes", pqCodesExpr(books, m, dsub)).select(col("vec_id"), col("codes"))

    val q = queries
      .select(col("vec_id").as("query_id"), pqLutExpr(books, m, dsub, codebookSize, applyT(col("embedding"))).as("lut"))

    // ADC scan: m lookups + a sum per (query, candidate); keep a
    // rerankFactor·k shortlist per query
    val scored = coded
      .join(broadcast(q), col("query_id") =!= col("vec_id"))
      .withColumn("approx_d2", adcExpr(m, codebookSize))
    val shortlist = scored
      .groupBy(col("query_id"))
      .agg(topK(k * rerankFactor, asc = true, col("approx_d2"), col("vec_id")).as("__tk"))
      .select(col("query_id"), explode(col("__tk.id")).as("neighbor_id"))

    rerankExact(shortlist, vecs, queries, k)
  }

  /** OPQ-lite rotation: the balanced-variance dimension permutation —
    * the standard initialization of Optimized Product Quantization
    * (Ge et al. 2014, "Optimized Product Quantization"; Faiss's OPQ
    * pre-rotation seed, restricted here to a permutation matrix so it
    * stays exactly orthogonal and collect-bounded). Dimensions are
    * assigned in decreasing-variance order to the open subspace with
    * the least variance mass, so no subspace is starved of signal and
    * none hoards it — the imbalance plain index-order slicing suffers
    * when energy concentrates in a few dimensions. One bounded
    * aggregate (2·dim + 1 scalars) reaches the driver; ties break on
    * dimension/subspace index, so the permutation is deterministic.
    */
  private[graft] def balancedVariancePerm(train: RDD[TrainSample.VecRow], dim: Int, m: Int): Array[Int] = {
    // scaled-integer moment sums, like every trainer in this file:
    // raw double sums would make the variance order — and therefore
    // the permutation — depend on partition layout through last-ulp
    // addition-order noise (near-equal variances DO flip). Squares
    // accumulate exactly at 128 bits: a long×long square overflows for
    // components beyond ~3e3 at 1e6 scaling. The row count includes
    // null embeddings, which add no moments.
    val (sums, rows) = train.treeAggregate((new Decimal38Sums(2 * dim), 0L))(
      { case ((acc, n), (_, v)) =>
        if (v != null) {
          if (v.length < dim) throw new IllegalStateException(s"balancedVariancePerm: embedding dim ${v.length} < $dim")
          var i = 0
          while (i < dim) {
            val q = TrainSample.scaled(v(i), 1e6)
            acc.add(2 * i, q)
            acc.addProduct(2 * i + 1, q, q)
            i += 1
          }
        }
        (acc, n + 1)
      },
      { case ((a, na), (b, nb)) => (a.merge(b), na + nb) },
    )
    val n = math.max(rows, 1L).toDouble
    val vars = Array.tabulate(dim) { i =>
      val s = sums.toDouble(2 * i) / 1e6
      val q = sums.toDouble(2 * i + 1) / 1e12
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

  /** Apply a literal rotation matrix to an embedding column:
    * `y_j = Σ_i R(j,i)·x_i` — native [[graft.plans.RotateVec]] (the
    * matrix rides as constructor DATA, one compiled d² loop per row;
    * arithmetic identical to the historical typedlit/zip_with dot in
    * fixed array order — deterministic).
    */
  private def rotateExpr(rot: Array[Array[Double]], vec: Column): Column =
    nat(graft.plans.RotateVec(ex(vec), rot.map(_.toSeq).toSeq))

  /** Full OPQ rotation — the non-parametric alternation of Ge et al.
    * 2014 ("Optimized Product Quantization", Alg. 2; Faiss's OPQMatrix
    * training shape), seeded from [[balancedVariancePerm]]:
    * repeat { train codebooks under R (the Lloyd step); re-solve R as
    * the orthogonal Procrustes alignment of the data onto its own
    * reconstructions }. Each half-step minimizes the shared objective
    * `Σ ‖R·x − ŷ‖²`, so the distortion falls across iterations (up to
    * the finite Lloyd budget per step).
    *
    * Scale shape: everything distributed is one [[TrainSample]] of
    * the bounded training frame. Each codebook step is the Lloyd
    * passes of [[trainPqBooksOn]] over the rotated view, and each
    * cross-moment step is ONE treeAggregate that rotates, encodes and
    * decodes every row in the task (the [[graft.plans.VecKernels]]
    * kernels the SQL expressions call) and accumulates `M = Σ ŷ·xᵀ` as
    * d × d exact 128-bit sums of `floor(·1e6)` products
    * (order-independent, like every trainer in this file) next to d
    * per-component distortion sums, so d·(d+1) summary scalars reach
    * the driver per iteration. The SVD behind the Procrustes solve
    * runs on the driver over the d×d moment matrix via cyclic Jacobi —
    * pure Scala, fixed sweep order, deterministic.
    *
    * Returns (rotation, final codebooks, per-iteration train
    * distortion in 1e-9 units — monotone evidence for the spec).
    */
  private[graft] def opqTrainRotation(
      train: DataFrame,
      dim: Int,
      m: Int,
      codebookSize: Int,
      lloydIterations: Int,
      iterations: Int,
  ): (Array[Array[Double]], Array[Array[Array[Double]]], Array[Double]) = {
    require(iterations >= 1, "opq rotation needs at least one iteration")
    val dsub = dim / m
    TrainSample.vectors(train) { sample =>
      def rotated(rot: Array[Array[Double]]): RDD[TrainSample.VecRow] =
        sample.map { case (id, v) =>
          (id, if (v == null) null else graft.plans.VecKernels.rotate(UnsafeArrayData.fromPrimitiveArray(v), rot, false).toDoubleArray())
        }
      val perm = balancedVariancePerm(sample, dim, m)
      var rot = Array.tabulate(dim, dim)((j, i) => if (perm(j) == i) 1.0 else 0.0)
      val mses = Array.newBuilder[Double]
      for (_ <- 0 until iterations) {
        val r0 = rot
        val books = trainPqBooksOn(rotated(r0), m, dsub, codebookSize, lloydIterations)
        val (moments, err) = sample.treeAggregate((new Decimal38Sums(dim * dim), new Array[Long](dim)))(
          { case (acc @ (mm, err), (_, x)) =>
            if (x != null) {
              val r = graft.plans.VecKernels.rotate(UnsafeArrayData.fromPrimitiveArray(x), r0, false)
              val yhat = graft.plans.VecKernels.pqDecode(graft.plans.VecKernels.pqEncode(r, books, false), books)
              val qx = Array.tabulate(dim)(i => TrainSample.scaled(x(i), 1e6))
              var j = 0
              while (j < dim) {
                val yj = yhat.getDouble(j)
                val qy = TrainSample.scaled(yj, 1e6)
                var i = 0
                while (i < dim) {
                  mm.addProduct(j * dim + i, qy, qx(i))
                  i += 1
                }
                val e = r.getDouble(j) - yj
                err(j) = Math.addExact(err(j), TrainSample.scaled(e * e, 1e9))
                j += 1
              }
            }
            acc
          },
          { case ((ma, ea), (mb, eb)) => (ma.merge(mb), TrainSample.mergeExact(ea, eb)) },
        )
        mses += err.sum / 1e9
        rot = procrustes(Array.tabulate(dim, dim)((j, i) => moments.toDouble(j * dim + i) / 1e12))
      }
      // codebooks must match the FINAL rotation the caller encodes with
      (rot, trainPqBooksOn(rotated(rot), m, dsub, codebookSize, lloydIterations), mses.result())
    }
  }

  /** Orthogonal Procrustes: the R minimizing ‖R·X − Ŷ‖_F over
    * orthogonal matrices is U·Vᵀ from the SVD of M = Ŷ·Xᵀ. The SVD
    * comes from the Jacobi eigendecomposition of MᵀM (V and Σ²). U
    * columns are built in fixed order by modified Gram-Schmidt over
    * the M·v_k directions — for well-separated singular values this IS
    * U (the directions are already orthogonal), and for
    * ill-conditioned small-σ tails (whose optimal alignment is noise
    * anyway) it guarantees the orthogonality contract instead of
    * amplifying eigenvector error through the 1/σ division. Null
    * directions complete from identity seeds. All fixed-order pure
    * Scala — deterministic.
    */
  private[graft] def procrustes(mm: Array[Array[Double]]): Array[Array[Double]] = {
    val d = mm.length
    val b = Array.tabulate(d, d)((i, k) => (0 until d).map(r => mm(r)(i) * mm(r)(k)).sum)
    val (eig, v) = jacobiEigSym(b)
    val idx = (0 until d).sortBy(k => (-eig(k), k))
    val sigma = idx.map(k => math.sqrt(math.max(eig(k), 0.0))).toArray
    val vcols = idx.map(k => Array.tabulate(d)(r => v(r)(k))).toArray
    val eps = 1e-6 * math.max(sigma.headOption.getOrElse(0.0), java.lang.Double.MIN_NORMAL)
    val ucols = Array.ofDim[Array[Double]](d)
    // subtract projections on the already-placed columns, then
    // normalize; None if the remainder is too small to trust
    def orthonormalized(cand0: Array[Double], upTo: Int): Option[Array[Double]] = {
      val cand = cand0.clone()
      for (k2 <- 0 until upTo) {
        val proj = (0 until d).map(r => cand(r) * ucols(k2)(r)).sum
        (0 until d).foreach(r => cand(r) -= proj * ucols(k2)(r))
      }
      val nrm = math.sqrt(cand.map(x => x * x).sum)
      if (nrm > 1e-6 * math.max(math.sqrt(cand0.map(x => x * x).sum), 1e-300)) Some(cand.map(_ / nrm)) else None
    }
    var seed = 0
    for (k <- 0 until d) {
      val fromM =
        if (sigma(k) > eps)
          orthonormalized(Array.tabulate(d)(r => (0 until d).map(c => mm(r)(c) * vcols(k)(c)).sum), k)
        else None
      ucols(k) = fromM.getOrElse {
        var u: Array[Double] = null
        while (u == null) {
          require(seed < d, "procrustes: failed to complete an orthogonal basis")
          u = orthonormalized(Array.tabulate(d)(r => if (r == seed) 1.0 else 0.0), k).orNull
          seed += 1
        }
        u
      }
    }
    Array.tabulate(d, d)((r, c) => (0 until d).map(k => ucols(k)(r) * vcols(k)(c)).sum)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: fixed
    * (p,q) sweep order and a fixed convergence budget, so the result —
    * eigenvalues on the diagonal, eigenvectors as columns of V — is
    * deterministic for a given input.
    */
  private[graft] def jacobiEigSym(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      for (i <- 0 until d; j <- 0 until d if i != j) s += a(i)(j) * a(i)(j)
      math.sqrt(s)
    }
    var sweep = 0
    while (sweep < 64 && off() > 1e-14) {
      for (p <- 0 until d - 1; q <- p + 1 until d if math.abs(a(p)(q)) > 1e-300) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t =
          if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
          else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (i <- 0 until d) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = c * aip - s * aiq
          a(i)(q) = s * aip + c * aiq
        }
        for (i <- 0 until d) {
          val api = a(p)(i); val aqi = a(q)(i)
          a(p)(i) = c * api - s * aqi
          a(q)(i) = s * api + c * aqi
        }
        for (i <- 0 until d) {
          val vip = v(i)(p); val viq = v(i)(q)
          v(i)(p) = c * vip - s * viq
          v(i)(q) = s * vip + c * viq
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Per-subspace argmin code over the codebooks (ties → lowest code) —
    * native [[graft.plans.PqEncode]]: arithmetic and ordering of the
    * historical m × codebookSize `least(struct(subDist2…, c)…)` tree
    * in one compiled loop per row (VectorNativeExprSpec pins the
    * equivalence). m/dsub ride in the codebook shape.
    */
  private def pqCodesExpr(
      books: Array[Array[Array[Double]]],
      m: Int,
      dsub: Int,
      vec: Column = col("embedding"),
  ): Column =
    nat(graft.plans.PqEncode(ex(vec), books.map(_.map(_.toSeq).toSeq).toSeq))

  /** Query-side ADC lookup table: exact subspace distance to every
    * codeword, laid out `[s * codebookSize + c]` — native
    * [[graft.plans.PqLookupTable]].
    */
  private def pqLutExpr(
      books: Array[Array[Array[Double]]],
      m: Int,
      dsub: Int,
      codebookSize: Int,
      vec: Column = col("embedding"),
  ): Column =
    nat(graft.plans.PqLookupTable(ex(vec), books.map(_.map(_.toSeq).toSeq).toSeq))

  /** ADC distance: m LUT lookups summed in subspace order — native
    * [[graft.plans.AdcDistance]] over the `codes`/`lut` columns.
    */
  private def adcExpr(m: Int, codebookSize: Int): Column =
    nat(graft.plans.AdcDistance(ex(col("codes")), ex(col("lut"))))

  /** Deterministic per-subspace Lloyd codebooks over a
    * [[TrainSample]] (init = subspace slices of the `codebookSize`
    * lowest train ids): each pass is one treeAggregate of
    * per-(subspace, code, position) `floor(x·1e9)` long sums and
    * per-(subspace, code) counts with the codebooks carried in the
    * task closure and the argmin the [[graft.plans.PqEncode]] kernel,
    * so one pass refines ALL m codebooks and only
    * m × codebookSize × dsub sums reach the driver. Empty clusters
    * keep their codeword; null embeddings add nothing.
    */
  private[graft] def trainPqBooksOn(
      train: RDD[TrainSample.VecRow],
      m: Int,
      dsub: Int,
      codebookSize: Int,
      lloydIterations: Int,
  ): Array[Array[Array[Double]]] = {
    val seed = lowestIds(train, codebookSize, "PQ codebooks")
    val cs = seed.length
    var books = Array.tabulate(m)(s => seed.map(v => v.slice(s * dsub, (s + 1) * dsub)))
    val counts = m * cs * dsub
    for (_ <- 1 to lloydIterations) {
      val bks = books
      val acc = train.treeAggregate(new Array[Long](counts + m * cs))(
        (acc, row) => {
          val v = row._2
          if (v != null) {
            val codes = graft.plans.VecKernels.pqEncode(UnsafeArrayData.fromPrimitiveArray(v), bks, false)
            var s = 0
            while (s < m) {
              val sc = s * cs + codes.getInt(s)
              var p = 0
              while (p < dsub) {
                acc(sc * dsub + p) = Math.addExact(acc(sc * dsub + p), TrainSample.scaled(v(s * dsub + p), 1e9))
                p += 1
              }
              acc(counts + sc) += 1
              s += 1
            }
          }
          acc
        },
        TrainSample.mergeExact,
      )
      books = Array.tabulate(m, cs) { (s, c) =>
        val sc = s * cs + c
        val n = acc(counts + sc)
        if (n > 0) Array.tabulate(dsub)(p => acc(sc * dsub + p).toDouble / 1e9 / n)
        else bks(s)(c) // empty cluster keeps its codeword
      }
    }
    books
  }

  /** Exact squared L2 on full vectors — per-pair fixed evaluation
    * order, so distances (and every cut on them) are deterministic.
    */
  private def fullDist2(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0),
      (acc, x) => acc + x,
    )

  /** Exact rerank of a `(query_id, neighbor_id)` shortlist on full
    * vectors → `(query_id, neighbor_id, d2, rank)`, rank ≤ k.
    */
  private def rerankExact(shortlist: DataFrame, vecs: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val qVecs = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val reranked = shortlist
      .join(vecs.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce")), "neighbor_id")
      .join(broadcast(qVecs), "query_id")
      .withColumn("d2", fullDist2(col("qe"), col("ce")))
    reranked
      .groupBy(col("query_id"))
      .agg(topK(k, asc = true, col("d2"), col("neighbor_id")).as("__tk"))
      .select(col("query_id"), posexplode(col("__tk")).as(Seq("__r", "__e")))
      .select(col("query_id"), col("__e.id").as("neighbor_id"), round(col("__e.score"), 6).as("d2"), (col("__r") + lit(1)).as("rank"))
      .transform(Materialize.pin)
  }

  /** IVF-PQ — the composition the 100 TB path actually runs (Jégou et
    * al. 2011; the Faiss `IVFx,PQy` index): the coarse quantizer
    * ([[ivfAnn]]'s deterministic k-means cells) prunes the corpus to
    * each query's `nProbe` nearest cells, and WITHIN those cells
    * candidates are ranked by the PQ ADC lookup-table scan, then the
    * shortlist is re-ranked exactly. Scan cost per query drops from
    * O(N·m) to O(N·m·nProbe/nCells); memory per candidate stays m
    * bytes. With `residual = true` (default) PQ codes are trained on
    * and encode RESIDUALS (vector − its cell centroid) — the full
    * Faiss refinement: residual magnitudes are much smaller than raw
    * coordinates, so the same codebook budget quantizes finer. Both
    * query LUT and candidate codes use the SAME probed cell's
    * centroid (the join key is the cell), so ADC stays asymmetric-
    * exact on the query side. Determinism: both quantizers are the
    * deterministic Lloyd trainers (residuals are IEEE doubles from
    * fixed literals), ADC ties break on vec_id, rerank ties on
    * neighbor_id.
    */
  def ivfPqAnn(
      df: DataFrame,
      queries: DataFrame,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      m: Int = 4,
      codebookSize: Int = 16,
      rerankFactor: Int = 10,
      lloydIterations: Int = 5,
      trainLimit: Int = 100000,
      residual: Boolean = true,
  ): DataFrame = Materialize.scoped {
    require(nCells >= 2 && nProbe >= 1 && nProbe <= nCells, "nProbe must be in [1, nCells], nCells >= 2")
    val spark = df.sparkSession
    val dim = df.select(size(col("embedding"))).first().getInt(0)
    require(dim % m == 0, s"embedding dim $dim must divide into $m subspaces")
    val dsub = dim / m
    val vecs = DedupFunctions.spread(df)
      .select(col("vec_id"), col("embedding"))
      .transform(Materialize.cache)

    // ONE shared training sample for both quantizers
    val (centroids, books) = TrainSample.vectors(trainFrame(vecs, trainLimit)) { train =>
      val cents = trainKmeansOn(train, nCells, lloydIterations)
      // with residual encoding the codebooks learn the residual
      // distribution: each Lloyd pass derives cell + residual per row
      // with the same kernels ResidualVec and CellAssign run
      val view =
        if (!residual) train
        else
          train.map { case (id, v) =>
            if (v == null) (id, null)
            else {
              val emb = UnsafeArrayData.fromPrimitiveArray(v)
              val cell = graft.plans.VecKernels.cellAssign(emb, cents, false).getInt(1)
              (id, graft.plans.VecKernels.residual(emb, cell, cents, false).toDoubleArray())
            }
          }
      (cents, trainPqBooksOn(view, m, dsub, codebookSize, lloydIterations))
    }

    // residual = vector − centroid[cell]: native ResidualVec (the
    // centroid table rides as constructor data, one compiled dim loop
    // per row — arithmetic identical to the historical zip_with over a
    // nested element_at literal)
    def resid(vec: Column, cellCol: Column): Column =
      nat(graft.plans.ResidualVec(ex(vec), ex(cellCol), centroids.map(_.toSeq).toSeq))

    // inverted file: cell + m byte codes per corpus vector. The
    // repartition is a projection barrier: it materializes the residual
    // ONCE per row before pqCodesExpr's m×codebookSize subspace
    // distances reference it (projection collapse would otherwise
    // inline the zip_with into every distance term).
    val assigned = assignCell(vecs, centroids)
    val codedInput =
      if (residual)
        DedupFunctions.spread(
          assigned
            .select(col("cell"), col("vec_id"), resid(col("embedding"), col("cell")).as("__cv"))
        )
      else assigned.select(col("cell"), col("vec_id"), col("embedding").as("__cv"))
    val coded = codedInput
      .withColumn("codes", pqCodesExpr(books, m, dsub, col("__cv")))
      .select(col("cell"), col("vec_id"), col("codes"))

    // each query: nProbe nearest cells × its ADC lookup table — with
    // residual encoding the LUT is per (query, probed cell), against
    // the SAME centroid the cell's candidates were encoded against
    val qprobed = queries
      .withColumn("cell", explode(cellNearest(col("embedding"), centroids, nProbe)))
      .select(col("vec_id").as("query_id"), col("cell"), col("embedding"))
    val qVec = if (residual) resid(col("embedding"), col("cell")) else col("embedding")
    val q = qprobed
      .select(col("query_id"), col("cell"), pqLutExpr(books, m, dsub, codebookSize, qVec).as("lut"))

    // ADC scan restricted to probed cells: the join key IS the cell
    val scored = coded
      .join(broadcast(q), Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("approx_d2", adcExpr(m, codebookSize))
    val shortlist = scored
      .groupBy(col("query_id"))
      .agg(topK(k * rerankFactor, asc = true, col("approx_d2"), col("vec_id")).as("__tk"))
      .select(col("query_id"), explode(col("__tk.id")).as("neighbor_id"))

    rerankExact(shortlist, vecs, queries, k)
  }

  /** Per-dimension symmetric int8 quantization — the standard ANN
    * memory optimization (4× smaller vectors, SIMD-friendly integer
    * dot products): `scale_j = max |x_j|` over the corpus,
    * `q_j = floor(x_j · 127 / scale_j + 0.5)` ∈ [−127, 127].
    *
    * The scale pass is one explode + dim-cardinality hash aggregate
    * folded into a single broadcast row, so the corpus itself never
    * shuffles; the quantize step is a pure per-row `zip_with`
    * projection. `max` over floats is order-independent, and the
    * arithmetic is IEEE doubles on exactly-converted floats — the
    * quantized codes are deterministic across engines, runs and
    * partitionings. An all-zero dimension quantizes to 0 rather than
    * dividing by zero. Emits (vec_id, qvec array<int>).
    */
  def quantizeInt8(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val spread = DedupFunctions.spread(emb)
    val scales = spread
      .select(posexplode(col(vecCol)).as(Seq("__i", "__x")))
      .groupBy(col("__i"))
      .agg(max(abs(col("__x"))).as("__mx"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("__i"), col("__mx")))),
          e => e.getField("__mx"),
        ).as("__scales")
      )
    spread
      .crossJoin(broadcast(scales))
      .select(
        col("vec_id"),
        expr(
          s"""zip_with($vecCol, __scales, (x, s) ->
                CASE WHEN s = CAST(0.0 AS FLOAT) THEN 0
                     ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / CAST(s AS DOUBLE) + 0.5) AS INT) END)"""
        ).as("qvec"),
      )
  }

  /** Per-dimension embedding statistics — the calibration pass feeding
    * normalization, [[quantizeInt8]] scale choice and drift monitoring
    * between embedding-model versions: for every vector position,
    * count, scaled-integer sum and sum-of-squares (mean/variance
    * derive exactly), and min/max.
    *
    * One posexplode + a dim-cardinality hash aggregate with map-side
    * partial combine — shuffle volume is #partitions × d summary rows
    * at any corpus size. Exactness: a float widens to double losslessly
    * and `floor(x·1e9)` / `floor(x·x·1e9)` are single correctly-rounded
    * IEEE ops, so the long sums are order-independent and the output
    * hash-matches any engine (the SURVEY determinism policy, no libm
    * involved). The mean is one integer division of exact longs.
    */
  def embDimStats(emb: DataFrame, vecCol: String = "embedding"): DataFrame =
    DedupFunctions
      .spread(emb)
      .select(posexplode(col(vecCol)).as(Seq("pos", "__x")))
      .withColumn("__xd", col("__x").cast("double"))
      .groupBy(col("pos"))
      .agg(
        count(lit(1)).as("n"),
        sum(floor(col("__xd") * lit(1e9)).cast("long")).as("sum_nano"),
        sum(floor(col("__xd") * col("__xd") * lit(1e9)).cast("long")).as("sumsq_nano"),
        min(col("__xd")).as("min_val"),
        max(col("__xd")).as("max_val"),
      )
      // floor of one exact-input IEEE division (NOT integer `div`:
      // Spark truncates toward zero, DuckDB `//` floors — they differ
      // on the negative sums embeddings produce)
      .withColumn("mean_nano", floor(col("sum_nano").cast("double") / col("n").cast("double")).cast("long"))

  /** PCA projection of the embedding column — the dimensionality
    * reduction / whitening front end of embedding pipelines (and the
    * full-rotation big sibling of [[balancedVariancePerm]]'s OPQ-lite
    * permutation). Three stages, each scale-safe:
    *
    *  1. mean + second-moment matrix in ONE aggregation pass over
    *     quantized components (`floor(x·1e6)` longs, products summed
    *     as decimal(38,0) — order-independent, overflow-proof): the
    *     d(d+1)/2 upper-triangle pair rows explode map-side but
    *     partial aggregation combines them before the shuffle, so
    *     shuffle volume is #partitions × d² summary rows, never n·d².
    *  2. eigendecomposition of the d×d covariance at the driver —
    *     cyclic Jacobi sweeps ([[jacobiEigSym]]) in fixed (p,q)
    *     order, deterministic for a deterministic input matrix;
    *     d = embedding dim, O(d³) work on ~d² doubles (bounded like
    *     the Lloyd summaries).
    *  3. per-row projection onto the top-`k` components as literal
    *     column expressions (fixed left-fold order — deterministic),
    *     no shuffle, no driver data loop.
    *
    * Components are sorted by descending eigenvalue (ties on index)
    * and sign-normalized (largest-|coordinate| entry positive, ties on
    * the lowest index), so the basis — and every projection — is fully
    * reproducible across runs and partitionings. Training runs on the
    * `trainLimit` lowest vec_ids (train small, project everything).
    * Emits (vec_id, pc0 … pc{k−1}).
    */
  def pcaProject(df: DataFrame, k: Int = 8, trainLimit: Int = 100000): DataFrame = Materialize.scoped {
    val dim = df.select(size(col("embedding"))).first().getInt(0)
    require(k >= 1 && k <= dim, s"k=$k out of range for dim=$dim")
    val vecs = Materialize.cache(spreadVecs(df))
    // one aggregate pass over the training frame: nothing to cache
    val (mean, cov) = pcaMeanCov(trainFrame(vecs, trainLimit), dim)
    val (eigVals, eigVecs) = jacobiEigSym(cov)
    val order = (0 until dim).sortBy(i => (-eigVals(i), i)).take(k)
    val comps = order.map { i =>
      val v = Array.tabulate(dim)(r => eigVecs(r)(i))
      val pivot = v.indices.minBy(j => (-math.abs(v(j)), j))
      if (v(pivot) < 0) v.map(x => -x) else v
    }
    val mArr = array(mean.map(lit): _*)
    val centered = zip_with(col("embedding"), mArr, (a, b) => a.cast("double") - b)
    val out = comps.zipWithIndex.foldLeft(vecs.withColumn("__c", centered)) { case (d, (v, j)) =>
      val wArr = array(v.map(lit): _*)
      d.withColumn(s"pc$j", aggregate(zip_with(col("__c"), wArr, (a, b) => a * b), lit(0.0), (acc, x) => acc + x))
    }
    Materialize.pin(out.select(col("vec_id") +: comps.indices.map(j => round(col(s"pc$j"), 6).as(s"pc$j")): _*))
  }

  /** Respread helper shared by trainers: single-file inputs collapse
    * to one partition and would train single-core.
    */
  private def spreadVecs(df: DataFrame): DataFrame =
    DedupFunctions.spread(df.select(col("vec_id"), col("embedding")))

  /** Mean vector and covariance matrix of the embedding column in ONE
    * distributed aggregation pass: components quantized to
    * `floor(x·1e6)` longs, first moments carried as `(i, −1)` sentinel
    * entries next to the `(i, j)` upper-triangle pair products (factors
    * cast to decimal BEFORE multiplying — a long×long product wraps
    * silently for components beyond ~3e3), all summed as
    * decimal(38,0). The row count rides the `(0, −1)` group. Only
    * d + d(d+1)/2 summary rows reach the driver.
    */
  private def pcaMeanCov(train: DataFrame, dim: Int): (Array[Double], Array[Array[Double]]) = {
    val sums = train
      .withColumn("__q", expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"))
      .select(
        explode(
          expr(
            s"""flatten(transform(sequence(0, ${dim - 1}), i -> concat(
               |  array(struct(i AS i, -1 AS j, CAST(__q[i] AS DECIMAL(38,0)) AS p)),
               |  transform(sequence(i, ${dim - 1}),
               |    j -> struct(i AS i, j AS j, CAST(CAST(__q[i] AS DECIMAL(19,0)) * CAST(__q[j] AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS p)))))""".stripMargin
          )
        ).as("__e")
      )
      .groupBy(col("__e.i"), col("__e.j"))
      .agg(sum(col("__e.p")).as("__s"), count(lit(1)).as("__n"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getDecimal(2).doubleValue(), r.getLong(3))))
      .toMap
    val n = math.max(sums((0, -1))._2, 1L).toDouble
    val mean = Array.tabulate(dim)(i => sums((i, -1))._1 / 1e6 / n)
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      sums((a, b))._1 / 1e12 / n - mean(i) * mean(j)
    }
    (mean, cov)
  }

  /** Random-hyperplane LSH bucket id: `planes` sign bits of dot products
    * against pseudo-random hyperplanes derived from `xxhash64(p, j)`
    * (deterministic, no stored model). Components lie in [-1, 1].
    */
  def lshBucket(emb: String, planes: Int = 16): Column = {
    val signBits = (0 until planes).map { p =>
      val planeDot =
        s"""aggregate(
              transform(sequence(0, size($emb) - 1),
                        j -> CAST(element_at($emb, j + 1) AS DOUBLE) * ((CAST(xxhash64($p, j) % 1001 AS DOUBLE)) / 1000.0)),
              CAST(0.0 AS DOUBLE), (a, e) -> a + e)"""
      s"CASE WHEN ($planeDot) > 0 THEN CAST(${1L << p}L AS BIGINT) ELSE 0L END"
    }
    expr(signBits.mkString(" + "))
  }

  /** Bucketed approximate nearest neighbours: exact cosine ranking
    * within each hyperplane bucket — the 100 TB path where the
    * brute-force candidate set is replaced by bucket collisions.
    */
  def lshAnn(df: DataFrame, k: Int, planes: Int = 16): DataFrame = {
    withFns(df)
    // norm computed once per vector, before the bucket self-join
    // replicates rows into pairs (see qcCosine)
    val withBucket = DedupFunctions.spread(df).select(
      col("vec_id"),
      col("embedding"),
      sqrt(norm2Int("embedding").cast("double")).as("__n"),
      lshBucket("embedding", planes).as("bucket"),
    )
    val pairs = withBucket
      .select(col("bucket"), col("vec_id").as("query_id"), col("embedding").as("qe"), col("__n").as("__nq"))
      .join(
        withBucket.select(col("bucket"), col("vec_id").as("neighbor_id"), col("embedding").as("ce"), col("__n").as("__nc")),
        Seq("bucket"),
      )
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", dotInt("qe", "ce"))
      .withColumn("cosine", col("dot").cast("double") / (col("__nq") * col("__nc")))
    pairs
      .groupBy(col("query_id"))
      .agg(topK(k, asc = false, col("cosine"), col("neighbor_id"), Some(col("bucket"))).as("__tk"))
      .select(col("query_id"), posexplode(col("__tk")).as(Seq("__r", "__e")))
      .select(
        col("query_id"),
        col("__e.id").as("neighbor_id"),
        col("__e.p0").as("bucket"),
        col("__e.score").as("cosine"),
        (col("__r") + lit(1)).as("rank"),
      )
  }
}
