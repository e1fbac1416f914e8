package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.{DedupFunctions, VectorFunctions}

import QueryFixtures._

/** Vector queries: exact and approximate nearest neighbours (LSH, IVF,
  * PQ, OPQ) and the embedding curation operators over `embeddings`.
  *
  * Lloyd-family oracles: the deterministic k-means trainer unrolls into
  * plain SQL stages (see LloydOracleSql), so every operator that only
  * consumes the learned cells hash-verifies end to end.
  */
object EmbeddingQueries {
  val specs: Seq[QuerySpec] = Seq(
    // C6: brute-force cosine top-10 for 5 query vectors
    QuerySpec("sim_cosine_topk", { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      VectorFunctions
        .cosineTopK(emb.where(col("vec_id") < 5), emb, k = 10)
        .withColumn("rk", col("rank").cast("long")).drop("rank")
    }, Oracle(
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
         norms AS (SELECT vec_id, list_sum(list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS n2 FROM embeddings),
         scored AS (
           SELECT q.query_id, c.neighbor_id,
                  CAST(list_sum(list_transform(generate_series(1, 64), i -> CAST(FLOOR(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE)
                    / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
           FROM q JOIN c ON q.query_id <> c.neighbor_id
           JOIN norms nq ON nq.vec_id = q.query_id
           JOIN norms nc ON nc.vec_id = c.neighbor_id)
         SELECT query_id, neighbor_id, cosine, rk FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM scored)
         WHERE rk <= 10""")),
    // C46: hard-negative mining (DPR/ANCE) — top-k nearest
    // different-label candidates per query vector
    QuerySpec("emb_hard_negatives", { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      VectorFunctions
        .hardNegatives(emb.where(col("vec_id") < 5), emb, k = 10)
        .withColumn("rk", col("rk").cast("long"))
    }, Oracle(
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS query_label FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding AS ce, label AS neg_label FROM embeddings),
         norms AS (SELECT vec_id, list_sum(list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS n2 FROM embeddings),
         scored AS (
           SELECT q.query_id, q.query_label, c.neighbor_id, c.neg_label,
                  CAST(list_sum(list_transform(generate_series(1, 64), i -> CAST(FLOOR(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE)
                    / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
           FROM q JOIN c ON q.query_id <> c.neighbor_id AND q.query_label <> c.neg_label
           JOIN norms nq ON nq.vec_id = q.query_id
           JOIN norms nc ON nc.vec_id = c.neighbor_id)
         SELECT query_id, query_label, neighbor_id, neg_label, cosine, rk FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM scored)
         WHERE rk <= 10""")),
    // C47: kNN label-agreement noise detection — embedding-space
    // label-error audit (suspect = neighborhood votes against label)
    QuerySpec("emb_knn_label_noise", { (s, dir) =>
      VectorFunctions.knnLabelNoise(Tables.embeddings(s, dir), k = 10)
    }, Oracle(
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label FROM embeddings),
         c AS (SELECT vec_id AS neighbor_id, embedding AS ce, label AS n_label FROM embeddings),
         norms AS (SELECT vec_id, list_sum(list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS n2 FROM embeddings),
         scored AS (
           SELECT q.query_id, q.label, c.neighbor_id, c.n_label,
                  CAST(list_sum(list_transform(generate_series(1, 64), i -> CAST(FLOOR(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE)
                    / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
           FROM q JOIN c ON q.query_id <> c.neighbor_id
           JOIN norms nq ON nq.vec_id = q.query_id
           JOIN norms nc ON nc.vec_id = c.neighbor_id),
         topk AS (SELECT query_id, label, n_label FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM scored)
           WHERE rk <= 10),
         agg AS (SELECT query_id, label,
                        CAST(SUM(CASE WHEN n_label = label THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
                        CAST(COUNT(*) AS BIGINT) AS n_nb
                 FROM topk GROUP BY 1, 2)
         SELECT query_id, label, n_same,
                (1000000 * n_same) // n_nb AS agree_ppm,
                (1000000 * n_same) // n_nb < 500000 AS suspect
         FROM agg""")),
    // C47b: cell-scoped scale dual of the label audit — neighborhoods
    // scanned over nProbe nearest k-means cells instead of all pairs
    // (rows-only: learned cells; spec pins nProbe=nCells equality with
    // the exact form and a planted-noise catch)
    QuerySpec("emb_knn_label_noise_cells", { (s, dir) =>
      VectorFunctions.knnLabelNoiseCells(Tables.embeddings(s, dir), k = 10)
    }, Oracle(LloydOracleSql.knnLabelNoiseCells(k = 10, minAgreePpm = 500000L, nProbe = 4))),
    // C46b: IVF swap for hard-negative mining — candidates cell-indexed,
    // each query mines from its nProbe nearest cells; no broadcast on
    // either side (rows-only: learned cells; recall-spec'd vs exhaustive)
    QuerySpec("emb_hard_negatives_ivf", { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      VectorFunctions
        .hardNegativesIvf(emb.where(col("vec_id") < 5), emb, k = 10)
        .withColumn("rk", col("rk").cast("long"))
    }, Oracle(LloydOracleSql.hardNegativesIvf(k = 10, nProbe = 4, queryPred = "v.vec_id < 5"))),
    // C7: hyperplane-LSH bucketed ANN (hash-dependent → rows-only check)
    QuerySpec("sim_lsh_ann", { (s, dir) =>
      VectorFunctions.lshAnn(Tables.embeddings(s, dir), k = 5)
    }, NoOracle("xxhash64-seeded hyperplane buckets (engine-specific hash)")),
    // C7b: IVF coarse-quantizer ANN — deterministic Lloyd cells,
    // nProbe nearest cells per query (model-dependent → rows-only;
    // VectorDedup spec measures recall vs brute force)
    QuerySpec("sim_ivf_ann", { (s, dir) =>
      VectorFunctions.ivfAnn(Tables.embeddings(s, dir), k = 5)
    }, Oracle(LloydOracleSql.ivfAnn(k = 5, nProbe = 4))),
    // C7c: product-quantization ANN — corpus compressed to m byte codes
    // per vector, queries rank by ADC lookup-table scan (rows-only:
    // learned codebooks; recall-spec'd vs the exact L2 baseline)
    QuerySpec("sim_pq_ann", { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      VectorFunctions.pqAnn(emb, emb.orderBy("vec_id").limit(20), k = 5)
    }, Oracle(LloydOracleSql.pqAnn(k = 5, m = 4, codebookSize = 16, rerankFactor = 10, nQueries = 20))),
    // C7e: PQ with the OPQ-lite balanced-variance permutation — the
    // orthogonal pre-rotation (restricted to a permutation) that
    // rebalances subspace signal before codebook training
    QuerySpec("sim_pq_opq_ann", { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      VectorFunctions.pqAnn(emb, emb.orderBy("vec_id").limit(20), k = 5, opq = true)
    }, Oracle(LloydOracleSql.pqOpqAnn(k = 5, m = 4, codebookSize = 16, rerankFactor = 10, nQueries = 20))),
    // C7f: PQ under the full Ge et al. OPQ rotation (alternating
    // Procrustes/Lloyd, seeded from the balanced-variance permutation).
    // One alternation and a bounded train sample: each extra iteration
    // costs a full codebook training, and the first one captures most
    // of the distortion drop (OpqRotationSpec records the curve)
    QuerySpec("sim_pq_opqr_ann", { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      VectorFunctions.pqAnn(emb, emb.orderBy("vec_id").limit(20), k = 5, trainLimit = 1000, opqRotate = 1)
    }, NoOracle("driver-side SVD/Procrustes rotation (iterative libm linear algebra)")),
    // C6b: per-label embedding centroids — cluster-space profiling on
    // the labeled embeddings (scaled-integer means, order-exact)
    QuerySpec("emb_label_centroids", { (s, dir) =>
      // spread: the parquet arrives in a handful of partitions and the
      // explode×dim fan-out is compute-heavy — same rationale as
      // DedupFunctions.spread; explode the raw floats (no per-row
      // intermediate double array), cast per element after
      graft.functions.DedupFunctions
        .spread(Tables.embeddings(s, dir))
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "xf")))
        .groupBy(col("label"), (col("pos") + 1).cast("long").as("pos"))
        .agg(
          count(lit(1)).as("n"),
          (sum(floor(col("xf").cast("double") * lit(1000000000.0)).cast("decimal(38,0)")).cast("double") / lit(1000000000.0) /
            count(lit(1)).cast("double")).as("centroid"),
        )
    }, Oracle(
      """WITH ex AS (SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS x FROM embeddings)
         SELECT label, CAST(pos AS BIGINT) AS pos, COUNT(*) AS n,
                SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000000) AS BIGINT)) / 1000000000.0 / CAST(COUNT(*) AS DOUBLE) AS centroid
         FROM ex GROUP BY 1, 2""")),
    // C7d: IVF-PQ — coarse cells prune the scan, ADC ranks within
    // probed cells, exact rerank of the shortlist (rows-only: learned
    // quantizers; recall-spec'd vs exact L2)
    QuerySpec("sim_ivfpq_ann", { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      VectorFunctions.ivfPqAnn(emb, emb.orderBy("vec_id").limit(20), k = 5)
    }, Oracle(LloydOracleSql.ivfPqAnn(k = 5, m = 4, codebookSize = 16, rerankFactor = 10, nProbe = 4, nQueries = 20))),
    // C25: per-dimension int8 embedding quantization, exploded to
    // (vec_id, dim, q) scalar rows for the oracle compare
    QuerySpec("embedding_quantize", { (s, dir) =>
      VectorFunctions
        .quantizeInt8(Tables.embeddings(s, dir))
        .select(col("vec_id"), posexplode(col("qvec")).as(Seq("dim", "q")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"), col("q"))
    }, Oracle(
      """WITH d AS (SELECT UNNEST(embedding) AS x, UNNEST(generate_series(1, len(embedding))) AS i FROM embeddings),
         s AS (SELECT i, MAX(ABS(x)) AS mx FROM d GROUP BY 1),
         sc AS (SELECT list(mx ORDER BY i) AS scales FROM s)
         SELECT vec_id,
                CAST(UNNEST(generate_series(1, len(embedding))) - 1 AS BIGINT) AS dim,
                UNNEST(list_transform(generate_series(1, len(embedding)),
                       j -> CASE WHEN scales[j] = 0
                                 THEN 0
                                 ELSE CAST(FLOOR(CAST(embedding[j] AS DOUBLE) * 127.0 / CAST(scales[j] AS DOUBLE) + 0.5) AS INT) END)) AS q
         FROM embeddings, sc""")),
    // C25b: PCA projection of the embedding space — distributed
    // covariance (one partial-agg pass), driver Jacobi eigensolve,
    // literal-expression projection (rows-only; basis properties and
    // determinism spec-verified)
    QuerySpec("emb_pca", { (s, dir) =>
      VectorFunctions.pcaProject(Tables.embeddings(s, dir), k = 8)
    }, NoOracle("driver-side cyclic Jacobi eigensolve (iterative libm linear algebra)")),
    // C45: per-dimension embedding calibration stats — exact
    // scaled-integer sums/sumsq + min/max per position (quantization
    // scale choice, normalization, model-version drift)
    QuerySpec("emb_dim_stats", { (s, dir) =>
      VectorFunctions.embDimStats(Tables.embeddings(s, dir))
    }, Oracle(
      """WITH d AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS x,
                           generate_subscripts(embedding, 1) AS i
                    FROM embeddings),
         a AS (SELECT CAST(i - 1 AS INT) AS pos, COUNT(*) AS n,
                      CAST(SUM(CAST(FLOOR(x * 1e9) AS BIGINT)) AS BIGINT) AS sum_nano,
                      CAST(SUM(CAST(FLOOR(x * x * 1e9) AS BIGINT)) AS BIGINT) AS sumsq_nano,
                      MIN(x) AS min_val, MAX(x) AS max_val
               FROM d GROUP BY 1)
         SELECT pos, CAST(n AS BIGINT) AS n, sum_nano, sumsq_nano, min_val, max_val,
                CAST(FLOOR(CAST(sum_nano AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS mean_nano
         FROM a""")),
    // C48: cluster-balanced diversity sampling (SemDeDup/DataComp
    // balancing step) — flatten cluster mass to ≤ target per k-means
    // cell via the content-stable md5 sampler (rows-only: k-means;
    // ClusterBalanceSpec plants an imbalanced lake)
    QuerySpec("emb_cluster_balance", { (s, dir) =>
      VectorFunctions.clusterBalance(Tables.embeddings(s, dir), targetPerCell = 50L)
    }, Oracle(LloydOracleSql.clusterBalance(targetPerCell = 50L))),
    // C44: prototype-difficulty pruning (Sorscher et al. 2022) — drop
    // the easiest 30% of each k-means cluster, keep the hard examples
    // (rows-only: k-means prototypes are not SQL-expressible;
    // PrototypePruneSpec plants clusters and checks both rank modes)
    QuerySpec("emb_prototype_prune", { (s, dir) =>
      VectorFunctions.prototypePrune(Tables.embeddings(s, dir), pruneFrac = 0.3)
    }, Oracle(LloydOracleSql.prototypePrune(pruneFrac = 0.3))),
  )
}
