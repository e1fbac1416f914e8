package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, exact n-gram Jaccard, MinHash+LSH,
  * SimHash.
  *
  * All pair generation goes through inverted-index / bucket joins —
  * never an O(n²) cross join — so the same plans hold at 100 TB:
  * candidate volume is bounded by bucket collision counts, and every
  * stage is a hash shuffle on a key with map-side combine.
  */
object DedupFunctions {

  /** Spread compute-heavy per-row work across all cores: a small input
    * (one parquet file ⇒ one partition) would otherwise serialize the
    * hash arithmetic. Explicit numPartitions so AQE doesn't coalesce
    * the tiny rows back into one partition — the *compute* is heavy,
    * not the bytes.
    *
    * CONDITIONAL: an input that already has at least defaultParallelism
    * partitions (any real multi-split table — a 100 TB corpus arrives
    * in tens of thousands of splits) passes through untouched. The
    * repartition exists to rescue the one-file-one-partition small-table
    * case, not to shuffle raw corpus bytes before any reduction.
    * Partition count comes from the physical plan (no job is run).
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= par) df else df.repartition(par)
  }

  /** Occurrence counts of `valueCol` in `frame`, keyed on its 64-bit
    * hash `hashCol` whenever that hash is proven injective over this
    * run's values, else on the value itself. The one place the corpus
    * aggregates decide between hash and string keys (guide §2.3: an
    * 8-byte key shuffles, sorts and joins cheaper than a ~26-byte
    * string).
    *
    * The proof: distinct colliding values share one hash group, so
    * `min(value) ≠ max(value)` in that group. One aggregate by hash
    * computes each group's count and that flag together (count and
    * min/max partials combine map-side); it is materialized once and
    * the flag is read off it. A collision never aborts and never merges
    * counts: the counts are recomputed keyed on the value.
    *
    * Returns `(counts(key, cntCol), key)`, `key` being `hashCol` or
    * `valueCol`; callers key every downstream join, order and array on
    * `key`. EAGER: runs the aggregate job and the flag check at call
    * time. The returned counts are a local checkpoint that the caller
    * releases (through `GraftSqlBridge.checkpointedRdd`) or leaves to
    * the query-level sweep of persistent RDDs, like the other
    * checkpoints in this object; after a collision the hash-keyed one
    * is released here.
    */
  private[graft] def certifiedCounts(
      frame: DataFrame,
      valueCol: String,
      hashCol: String,
      cntCol: String,
  ): (DataFrame, String) = {
    val byHash = frame
      .groupBy(col(hashCol))
      .agg(count(lit(1)).as(cntCol), (min(col(valueCol)) =!= max(col(valueCol))).as("__collided"))
      .localCheckpoint()
    if (byHash.where(col("__collided")).isEmpty) (byHash.select(col(hashCol), col(cntCol)), hashCol)
    else {
      org.apache.spark.sql.GraftSqlBridge.checkpointedRdd(byHash).foreach(_.unpersist(blocking = true))
      (frame.groupBy(col(valueCol)).agg(count(lit(1)).as(cntCol)).localCheckpoint(), valueCol)
    }
  }

  /** Priority-aware exact dedup across sources: when the same
    * normalized text appears in several corpus sources, keep ONE copy
    * — from the most-preferred source (the "curated dump beats web
    * crawl" rule every multi-source training mixture needs). `ranks`
    * maps source → priority (lower wins); unlisted sources rank last,
    * ties break on the lowest doc id, so the survivor is fully
    * deterministic. Emits the kept row with its fingerprint and how
    * many copies it absorbed.
    *
    * One fingerprint-hash shuffle + per-group window. A massively
    * duplicated document is one window partition — group size, not
    * corpus size, bounds the skew, same as [[exactGroups]].
    */
  def priorityDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      ranks: Map[String, Int],
  ): DataFrame = {
    val rank = ranks.toSeq.sortBy(_._1).foldRight(lit(Int.MaxValue)) { case ((s, r), rest) =>
      when(col(sourceCol) === s, lit(r)).otherwise(rest)
    }
    val w = Window
      .partitionBy(col("fp"))
      .orderBy(col("__rank"), col(idCol))
    df.select(
      col(idCol),
      col(sourceCol),
      md5(graft.functions.TextFunctions.normText(col(textCol))).as("fp"),
      rank.as("__rank"),
    )
      .withColumn("n_copies", count(lit(1)).over(Window.partitionBy(col("fp"))).cast("long"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col(idCol), col(sourceCol), col("fp"), col("n_copies"))
  }

  /** Exact dedup groups on normalized text. Returns one row per group:
    * md5 fingerprint, representative (min) id, copy count.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", md5(TextFunctions.normText(col(textCol))))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_copies"))

  /** Exploded distinct (id, shingle) pairs — the inverted-index input. */
  /** Barrier after the word-split projection: the shingle lambda calls
    * `element_at(__w, i)` per n-gram slot, and if `__w` is still an
    * inlined expression (projection collapse) every call re-runs the
    * whole normalize+split — ~150 regex passes per doc. Post-exchange,
    * `__w` is a materialized column and element_at is an array read.
    */
  private def wordsSpread(df: DataFrame, idCol: String, textCol: String): DataFrame =
    spread(
      df.select(col(idCol).as("doc_id"), TextFunctions.words(col(textCol)).as("__w"))
    )

  def shingleIndex(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    wordsSpread(df, idCol, textCol)
      .select(col("doc_id"), explode(TextFunctions.shingles("__w", n)).as("shingle"))

  /** Exact n-gram Jaccard near-duplicate pairs via inverted index:
    * join on shared shingles → intersection counts → |A|+|B|−|A∩B|.
    * The threshold compares scaled integers (`den*i >= num*u`), so no
    * float boundary ambiguity. numThreshold/denThreshold = τ as a
    * fraction, e.g. 4/5 for 0.8.
    *
    * The join output is Σ df² per shingle — fine while no shingle is
    * hot, pathological on stop-word-like shingles at corpus scale; see
    * [[jaccardPairsPrefix]] for the skew-resistant formulation with
    * identical output.
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numThreshold: Int = 4,
      denThreshold: Int = 5,
  ): DataFrame = {
    // eager localCheckpoint, not cache: three consumers (sizes + both
    // join sides) — see jaccardPairsPrefix for the rationale
    val sh = shingleIndex(df, idCol, textCol, n).localCheckpoint()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = sh
      .select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), "shingle")
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("intersection"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("union_size", col("n_a") + col("n_b") - col("intersection"))
      .where(col("intersection") * denThreshold >= col("union_size") * numThreshold)
      .withColumn("jaccard", round(col("intersection").cast("double") / col("union_size"), 6))
      .select(col("doc_a"), col("doc_b"), col("intersection"), col("union_size"), col("jaccard"))
  }

  /** Exact n-gram Jaccard with prefix filtering — the AllPairs/PPJoin
    * candidate scheme, bit-identical output to [[jaccardPairs]] but
    * skew-resistant: docs join only on their `|S| − ⌈τ·|S|⌉ + 1`
    * globally RAREST shingles (any pair with Jaccard ≥ τ provably
    * shares one — the smallest shared shingle under a common
    * (df, shingle) order lies in both prefixes since each prefix
    * assumes t = ⌈τ|S|⌉ ≤ |A∩B|), then candidates verify exactly via
    * `array_intersect` on the full sets plus the τ·|A| ≤ |B| length
    * filter. Candidate volume is bounded by rare-shingle collisions,
    * never Σ df² over hot shingles — this is the 100 TB formulation;
    * the extra df/window stages make it slower than the naive join at
    * small scale.
    */
  def jaccardPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numThreshold: Int = 4,
      denThreshold: Int = 5,
  ): DataFrame = {
    // the df >= 2 verification-array restriction below and the
    // inner-join drop of share-nothing docs both assume a positive
    // threshold (intersection-0 pairs rejected); a zero threshold
    // would also degenerate the prefix scheme itself (prefix = whole
    // set). Every caller uses 4/5.
    require(numThreshold >= 1, "jaccardPairsPrefix needs a positive numerator threshold")
    // The shingle index feeds THREE consumers (the df count+join, the
    // verification arrays, the prefix projection). localCheckpoint
    // (eager, MEMORY_AND_DISK) instead of cache: a lazy cache entry
    // under the repeated checkpoint/release cycles of the CC consumers
    // degrades into per-consumer recomputation of the whole shingling
    // (measured 8 s → 193 s on the second dedup_groups run in one
    // JVM); a checkpointed partition spills to disk instead of
    // recomputing. The 64-bit shingle hash rides from here: every
    // downstream shuffle/sort/join keys on 8-byte longs instead of
    // ~26-byte strings (measured at x100: the string-keyed df join
    // alone was 58 s of the 162 s cell).
    val sh = shingleIndex(df, idCol, textCol, n)
      .withColumn("h", xxhash64(col("shingle")))
      .localCheckpoint()
    // global rarity: document frequency per key, certified so that the
    // key is the 8-byte hash whenever it is injective over this run's
    // shingles (see certifiedCounts)
    val (dfAgg, key) = certifiedCounts(sh, "shingle", "h", "df")
    // rarity order (df, key): any FIXED total order on shingles
    // supports the AllPairs prefix argument (a J ≥ τ pair provably
    // shares its order-smallest common shingle in both prefixes), and a
    // certified key is a total order on shingles
    val withDf = sh.join(dfAgg, key)
    val rk = Window.partitionBy(col("doc_id")).orderBy(col("df"), col(key))
    val szW = Window.partitionBy(col("doc_id"))
    // prefix length |S| - ceil(τ|S|) + 1, with ceil(τs) = ceil(num*s/den);
    // sz rides into the candidate join so the length filter runs there,
    // before any verification payload is attached
    val prefix = withDf
      .withColumn("rk", row_number().over(rk))
      .withColumn("sz", count(lit(1)).over(szW))
      .where(col("rk") <= col("sz") - ceil(col("sz") * numThreshold / denThreshold) + 1)
      .select(col("doc_id"), col(key), col("sz"))
    // candidate pairs on the key, with the length filter
    // (τ|A| ≤ |B| and τ|B| ≤ |A|, both necessary for J ≥ τ) applied
    // INSIDE the join — zero extra joins, and non-viable pairs never
    // reach the array-carrying verification shuffles
    val cands = prefix
      .select(col("doc_id").as("doc_a"), col(key), col("sz").as("n_a"))
      .join(prefix.select(col("doc_id").as("doc_b"), col(key), col("sz").as("n_b")), key)
      .where(col("doc_a") < col("doc_b") &&
        col("n_a") * numThreshold <= col("n_b") * denThreshold &&
        col("n_b") * numThreshold <= col("n_a") * denThreshold)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .distinct()
    // verification arrays keep only df >= 2 shingles: a shingle unique
    // to one document can never lie in any intersection, so dropping it
    // changes no intersection count — and |S| stays the FULL size (the
    // window count above), so unions and Jaccards are exact. Docs left
    // with no shareable shingles can only form intersection-0 pairs,
    // which the (positive) threshold rejects — the inner joins dropping
    // them is exact. At x100 this cut the array-carrying verification
    // shuffle from the full index to the shared tail. The arrays carry
    // the key, so on the hash path they shuffle fixed-width tokens, ~3×
    // fewer bytes than the shingle strings (guide §2.3 keys, not
    // payloads).
    val shared = dfAgg.where(col("df") >= 2).select(col(key))
    val docSets = sh
      .join(shared, key)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col(key))).as("shingles"))
    cands
      .join(docSets.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(docSets.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("intersection", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("union_size", col("n_a") + col("n_b") - col("intersection"))
      .where(col("intersection") * denThreshold >= col("union_size") * numThreshold)
      .withColumn("jaccard", round(col("intersection").cast("double") / col("union_size"), 6))
      .select(col("doc_a"), col("doc_b"), col("intersection"), col("union_size"), col("jaccard"))
  }

  /** MinHash signatures: `perms` permutations simulated as
    * `xxhash64(seed, shingle)`; per-doc minimum per seed.
    *
    * Computed entirely within each row (nested array transform, no
    * explode): perms × shingles hash evaluations happen in one
    * projection, so there is *no shuffle at all* — row-level
    * parallelism is ample at corpus scale, and the alternative
    * (explode to doc×shingle×perm rows) shuffles billions of rows at
    * 100 TB for the same arithmetic.
    */
  /** MinHash signature array, one row per doc: each shingle string is
    * hashed ONCE (`xxhash64(s)`), and the `perms` permutations are
    * derived from that fixed-width long (`xxhash64(i, h)`) — ~an order
    * of magnitude cheaper than re-hashing strings per permutation.
    *
    * The two exchanges are deliberate barriers: projection collapse
    * would otherwise inline the shingle/base-hash arrays into the
    * perms-loop lambda and rebuild them `perms` times per row. Rows are
    * one-per-doc throughout — no explode, no groupBy.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, n: Int = 3, perms: Int = 128): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    // Filter on word count, NOT on size(__sh) > 0: the two are exactly
    // equivalent (shingles() yields non-empty ⇔ size(__w) >= n), but a
    // filter referencing __sh gets predicate-pushed below the
    // repartition barrier with the whole shingle lambda INLINED — the
    // normalize+split regex then re-runs ~3× per shingle slot per row
    // inside the Filter (measured: 11.7 s vs 0.6 s for the signature
    // stage at sf0.1). The word-count form pushes down as a single
    // split() per row.
    wordsSpread(df, idCol, textCol)
      .where(size(col("__w")) >= n)
      .withColumn("__sh", TextFunctions.shingles("__w", n))
      .select(
        col("doc_id"),
        expr(s"graft_minhash_sig(transform(__sh, s -> xxhash64(s)), $perms)").as("sig"),
      )
  }

  /** LSH banding: hash `perms/bands` consecutive signature slots per
    * band, directly from the signature array — a narrow projection,
    * no aggregation.
    */
  def lshBuckets(signatures: DataFrame, perms: Int = 128, bands: Int = 32): DataFrame = {
    // same contract HammingJoin.bandArrayExpr enforces: a non-dividing
    // band count would silently hash only a prefix of the signature
    // (weakening recall below the configured perms), and bands > perms
    // would build a zero-argument xxhash64
    require(
      bands >= 1 && bands <= perms && perms % bands == 0,
      s"bands ($bands) must divide perms ($perms)",
    )
    val rows = perms / bands
    val bandExprs = (0 until rows).map(r => s"element_at(sig, b * $rows + ${r + 1})").mkString(", ")
    // barrier again: keep the sig array materialized, not inlined 32×
    spread(signatures)
      .select(
        col("doc_id"),
        posexplode(expr(s"transform(sequence(0, ${bands - 1}), b -> xxhash64($bandExprs))")).as(Seq("band", "band_sig")),
      )
  }

  /** Candidate near-duplicate pairs: docs sharing any LSH bucket.
    * Bucket join (shuffle on band_sig), not a cross join.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String, n: Int = 3, perms: Int = 128, bands: Int = 32): DataFrame = {
    // The bucket frame is tiny (docs × bands rows of hashes) but its
    // lineage carries the full signature computation. localCheckpoint
    // (eager, MEMORY_AND_DISK) rather than cache: the frame feeds both
    // sides of the self-join, and a lazily-built cache under memory
    // pressure evicts and silently re-runs the perms×shingles hashing
    // per consumer (the ~30× bench collapse under load in r5); a
    // checkpointed partition spills to disk instead of recomputing.
    // Bench/Verify release it via getPersistentRDDs after each query.
    val buckets = lshBuckets(minhashSignatures(df, idCol, textCol, n, perms), perms, bands).localCheckpoint()
    buckets
      .select(col("band"), col("band_sig"), col("doc_id").as("doc_a"))
      .join(buckets.select(col("band"), col("band_sig"), col("doc_id").as("doc_b")), Seq("band", "band_sig"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** LSH band-plan table — the S-curve design step every MinHash
    * deployment does on paper (Leskovec/Rajaraman/Ullman ch. 3),
    * materialized as a query: for each (bands b, rows r) factorization
    * of the signature width, the estimated similarity threshold
    * `(1/b)^(1/r)` and the catch probability `1−(1−s^r)^b` at
    * reference similarity levels. `chosen` marks the factorization
    * whose threshold lands closest to the target — the config
    * [[minhashPlannedBands]] feeds into [[minhashCandidates]].
    *
    * The frame is the divisor set of `perms` (8 rows for 128) built
    * from `spark.range` — no data scan; probabilities round to the
    * 6-decimal grid before integer scaling (SURVEY float policy:
    * `pow` agrees across engines well inside 1e-6, so the ppm values
    * hash-match the SQL oracle).
    */
  def minhashBandPlan(spark: SparkSession, perms: Int = 128, thresholdPpm: Long = 500000L): DataFrame = {
    val ppm = (c: Column) => round(c * lit(1e6), 0).cast("long")
    val catchAt = (s: Double) => ppm(lit(1.0) - pow(lit(1.0) - pow(lit(s), col("rows_per_band")), col("bands")))
    val w = Window.orderBy(abs(col("t_hat_ppm") - lit(thresholdPpm)), col("bands"))
    spark
      .range(1, perms + 1L)
      .select(col("id").as("bands"))
      .where(pmod(lit(perms.toLong), col("bands")) === 0L)
      .withColumn("rows_per_band", expr(s"$perms div bands"))
      .withColumn("t_hat_ppm", ppm(pow(lit(1.0) / col("bands"), lit(1.0) / col("rows_per_band"))))
      .withColumn("p_catch_50_ppm", catchAt(0.5))
      .withColumn("p_catch_70_ppm", catchAt(0.7))
      .withColumn("p_catch_90_ppm", catchAt(0.9))
      // the frame is a divisor set (|rows| = d(perms) ≤ a few dozen at
      // any signature width) — the single-partition rank is bounded
      .withColumn("chosen", row_number().over(w) === 1)
  }

  /** Driver-side twin of [[minhashBandPlan]]'s `chosen` row: the band
    * count whose S-curve threshold is closest to the target, for
    * configuring [[minhashCandidates]] without running a job. Pure
    * scalar math over the divisors of `perms`; agreement with the
    * DataFrame plan is spec-enforced.
    */
  def minhashPlannedBands(perms: Int = 128, thresholdPpm: Long = 500000L): Int = {
    val configs = (1 to perms).filter(perms % _ == 0).map { b =>
      val r = perms / b
      val tHatPpm = math.round(math.pow(1.0 / b, 1.0 / r) * 1e6)
      (math.abs(tHatPpm - thresholdPpm), b)
    }
    configs.min._2
  }

  /** LSH candidates verified by exact shingle Jaccard — the production
    * near-dup operator: LSH bounds the candidate volume, the exact
    * verify keeps precision at 1.
    */
  def minhashVerified(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numThreshold: Int = 4,
      denThreshold: Int = 5,
  ): DataFrame = {
    val cands = minhashCandidates(df, idCol, textCol, n)
    // Exact verification via per-doc sorted shingle sets +
    // array_intersect (the jaccardPairsPrefix scheme) instead of a
    // second inverted-index join: the shingle index then has exactly ONE
    // consumer (this aggregate), so nothing here needs a cache that
    // eviction could silently turn into a per-consumer re-run of the
    // shingling — the r5 load-fragility. docSets is localCheckpoint'd
    // (eager, disk-backed) because the candidate join reads it twice.
    val docSets = shingleIndex(df, idCol, textCol, n)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("shingle"))).as("shingles"), count(lit(1)).as("n_sh"))
      .localCheckpoint()
    cands
      .join(docSets.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"), col("n_sh").as("n_a")), "doc_a")
      .join(docSets.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("intersection", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .where(col("intersection") > 0)
      .withColumn("union_size", col("n_a") + col("n_b") - col("intersection"))
      .where(col("intersection") * denThreshold >= col("union_size") * numThreshold)
      .withColumn("jaccard", round(col("intersection").cast("double") / col("union_size"), 6))
      .select(col("doc_a"), col("doc_b"), col("intersection"), col("union_size"), col("jaccard"))
  }

  /** Connected components over near-duplicate pairs: every doc in a
    * pair gets its component's minimum doc id as `group_id` — the
    * actual dedup deliverable (keep one representative per group).
    *
    * Iterative min-label propagation: each round is one distributed
    * join+aggregate; the driver only checks convergence (label count
    * that changed), never touches data. Rounds needed = graph diameter
    * (near-dup components are tiny chains), capped defensively.
    */
  def dedupGroups(pairs: DataFrame, maxIterations: Int = 20): DataFrame = {
    // localCheckpoint (eager) rather than cache: `labels` feeds BOTH the
    // neighbor-min aggregate and the update join, so without lineage
    // truncation the logical plan doubles every round (2^rounds nodes —
    // analysis/optimization alone dominated the round-3 bench), and a
    // partially-built cache recomputes the whole chain from parquet on
    // every miss. Checkpointing pins each round's labels as a
    // materialized RDD with a constant-size plan; on a cluster the same
    // call trades executor-loss recovery for truncation, exactly like
    // GraphX's periodic-checkpoint pattern for iterative algorithms.
    // Dataset.unpersist is a NO-OP on localCheckpoint'd frames (it only
    // clears CacheManager entries; the checkpoint persists at the RDD
    // level), so stale rounds are released through the checkpointed RDD
    // handle (GraftSqlBridge.checkpointedRdd) once superseded. Blocking:
    // an async release racing the next round's structurally-identical
    // checkpoint registration is the 10× variance class 97f5972 fixed.
    def release(df: DataFrame): Unit =
      org.apache.spark.sql.GraftSqlBridge.checkpointedRdd(df).foreach(_.unpersist(blocking = true))

    // both directions from ONE scan of the pairs plan — a union of two
    // selects would evaluate the (expensive) candidate-pair join twice
    val edges = pairs
      .select(
        explode(
          array(
            struct(col("doc_a").as("src"), col("doc_b").as("dst")),
            struct(col("doc_b").as("src"), col("doc_a").as("dst")),
          )
        ).as("e")
      )
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint()
    var checkpointed = edges.select(col("src").as("node")).distinct().withColumn("label", col("node")).localCheckpoint()
    var labels = checkpointed
    var changed = true
    var iter = 0
    while (changed && iter < maxIterations) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("node", "src").withColumnRenamed("label", "nl"), "src")
        .groupBy(col("dst").as("node"))
        .agg(min(col("nl")).as("nmin"))
      // keep the old label alongside the new one: change detection then
      // needs no second join against the previous round
      val updated = labels
        .join(neighborMin, Seq("node"), "left")
        .select(col("node"), col("label").as("old"), least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .localCheckpoint()
      // full count, not limit(1): a limit can short-circuit after a few
      // partitions, and the convergence check must never release the
      // previous round before this one is completely materialized
      // (localCheckpoint is eager, but keep the check unconditional)
      changed = updated.where(col("label") =!= col("old")).count() > 0
      release(checkpointed)
      checkpointed = updated
      labels = updated.select(col("node"), col("label"))
      iter += 1
    }
    // edges are dead once the loop converges; the final labels
    // checkpoint stays resident — the returned frame reads from it
    release(edges)
    labels.select(col("node").as("doc_id"), col("label").as("group_id"))
  }

  /** 64-bit SimHash per document: per bit, sign of the sum of ±1 votes
    * from `xxhash64(token)` over all tokens (with multiplicity).
    * The vote fold runs in the native `graft_simhash64` expression —
    * one compiled tokens×64 loop per row; the SQL spelling
    * (`aggregate` + `zip_with`) allocates a 64-slot array per token
    * per row in the interpreted evaluator. No explode, no shuffle.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    wordsSpread(df, idCol, textCol)
      .select(col("doc_id"), expr("graft_simhash64(transform(__w, t -> xxhash64(t)))").as("simhash"))
  }

  /** SimHash near-dup candidates: [[HammingJoin.pairs]] at the text
    * trade — 4 bands of 16 bits (exact-distance budget 3), verified by
    * full hamming distance ≤ maxHamming. `maxDf` caps per-bucket join
    * fanout for degenerate corpora (e.g. many empty docs all at
    * simhash 0); 0 disables the cap (exact).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3, maxDf: Long = 0L): DataFrame =
    HammingJoin
      .pairs(simhash(df, idCol, textCol), "doc_id", "simhash", bands = 4, maxHamming = maxHamming, maxDf = maxDf)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))

  /** Connected components via alternating large-star/small-star
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond") — the scale path next to [[dedupGroups]]'s plain label
    * propagation: propagation needs diameter rounds (fine for the
    * short chains near-dup graphs produce, linear in path length on
    * adversarial ones), star contraction converges in O(log²)
    * rounds on ANY shape, so a 100 TB run with unexpectedly long
    * chains can't blow the round budget.
    *
    * Each half-round is two hash shuffles on node id (a min aggregate
    * and an edge join) — no `collect_list` of neighborhoods, so a hub
    * node never materializes its adjacency in one task:
    *   m(u) = min(u, min N(u));
    *   large-star re-points every neighbor v > u at m(u);
    *   small-star re-points every neighbor v ≤ u (and u itself) at m(u).
    * At the fixpoint every component is a star rooted at its minimum;
    * the root's self-edge keeps singleton stars in the frame.
    * Output matches [[dedupGroups]] exactly: (doc_id, group_id).
    */
  def dedupGroupsStar(pairs: DataFrame, maxIterations: Int = 20): DataFrame = {
    // blocking, same rationale as dedupGroups.release
    def release(df: DataFrame): Unit =
      org.apache.spark.sql.GraftSqlBridge.checkpointedRdd(df).foreach(_.unpersist(blocking = true))

    // canonical orientation: one row per undirected edge, src > dst.
    var edges = pairs
      .select(
        greatest(col("doc_a"), col("doc_b")).as("src"),
        least(col("doc_a"), col("doc_b")).as("dst"),
      )
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()

    // large-star sees the FULL neighborhood of u — both directions,
    // re-derived from the one-directional canonical store every round
    // (storing only one direction and aggregating over it is how the
    // first version lost every in-neighborhood after round 1) — and
    // points every neighbor v > u at m(u) = min(N(u) ∪ {u}). Emitted
    // edges are (v, m) with m ≤ u < v, so canonical form is preserved.
    def largeStar(e: DataFrame): DataFrame = {
      val sym  = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy(col("src")).agg(least(col("src"), min(col("dst"))).as("m"))
      sym
        .join(mins, Seq("src"))
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }

    // small-star sees only the ≤-neighbors of u — exactly the rows the
    // canonical orientation stores under src = u — takes m over that
    // neighborhood ∪ {u} (all dst < src, so min(dst) suffices; NOT the
    // global neighbor min), and points u and each smaller neighbor at
    // m. Emitted edges again satisfy src > dst.
    def smallStar(e: DataFrame): DataFrame = {
      val joined = e.join(
        e.groupBy(col("src")).agg(min(col("dst")).as("m")),
        Seq("src"),
      )
      joined
        .where(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(joined.select(col("src"), col("m").as("dst")))
        .distinct()
    }

    var iter = 0
    var converged = false
    while (!converged && iter < maxIterations) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      // fixpoint = the edge set is a star forest in canonical form:
      // no node is both a child and a root (no chains left), and no
      // child points at two roots. Both checks are bounded single-pass
      // jobs; either failing means another round can still move edges.
      val chained = next
        .as("a")
        .join(next.as("b"), col("a.dst") === col("b.src"), "left_semi")
        .limit(1)
        .count() > 0
      val multiRoot = !chained && next
        .groupBy(col("src"))
        .agg(countDistinct(col("dst")).as("n"))
        .where(col("n") > 1)
        .limit(1)
        .count() > 0
      converged = !chained && !multiRoot
      release(edges)
      edges = next
      iter += 1
    }
    edges
      .select(col("src").as("doc_id"), col("dst").as("group_id"))
      .union(edges.select(col("dst").as("doc_id"), col("dst").as("group_id")))
      .distinct()
  }

  /** Exact repeated-span detection — the word-level analog of exact
    * substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): every k-word gram occurring more
    * than once in the corpus marks its span, and overlapping/adjacent
    * marked spans merge into maximal per-doc word intervals — the
    * regions a dedup pass would cut, at finer grain than whole-doc
    * near-dup removal.
    *
    * Shape: positioned gram explode → corpus-wide gram count (hash
    * aggregate with map-side combine; only grams with count > 1
    * survive) → join back → per-doc window interval-merge (running-max
    * end marks island starts, prefix-sum numbers the islands). Every
    * stage shuffles on a bounded key (gram text, then doc id) — no
    * all-pairs anything, and the merge is one sort per doc partition.
    * Emits (doc_id, span_start, span_end, span_words), word positions
    * 1-based inclusive.
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String, k: Int = 10): DataFrame = {
    require(k >= 2, "span gram size must be at least 2 words")
    // (doc_id, start, gh) with the gram string alongside: the count
    // aggregate and the mark join key on the certified key (see
    // certifiedCounts). Two consumers (counts + probe): eager
    // checkpoint, same rationale as the char grain.
    val grams = wordsSpread(df, idCol, textCol)
      .where(size(col("__w")) >= k)
      .select(
        col("doc_id"),
        posexplode(
          expr(s"transform(sequence(1, size(__w) - ${k - 1}), i -> concat_ws(' ', slice(__w, i, $k)))")
        ).as(Seq("off", "gram")),
      )
      .select(col("doc_id"), (col("off") + 1).cast("long").as("start"), col("gram"), xxhash64(col("gram")).as("gh"))
      // the checkpoint (and the certified counts) outlive this call:
      // like repeatedSpansChar's, the caller releases them (Bench/Verify
      // via getPersistentRDDs after the query)
      .localCheckpoint()
    val (counts, key) = certifiedCounts(grams, "gram", "gh", "cnt")
    val dupGrams = counts.where(col("cnt") > 1).select(col(key))
    val marked = grams
      .join(dupGrams, Seq(key))
      .select(col("doc_id"), col("start"), (col("start") + (k - 1)).as("end"))
    mergeSpans(marked, "span_words")
  }

  /** Interval merge shared by the word- and char-grain span detectors:
    * a span starts a new island iff it begins past the running max end
    * of everything before it (+1: adjacent spans merge); prefix-sum
    * numbers the islands. One sort per doc partition.
    */
  private def mergeSpans(marked: DataFrame, lenCol: String): DataFrame = {
    val before = Window.partitionBy(col("doc_id")).orderBy(col("start")).rowsBetween(Window.unboundedPreceding, -1)
    val upToHere = Window.partitionBy(col("doc_id")).orderBy(col("start")).rowsBetween(Window.unboundedPreceding, 0)
    marked
      .withColumn("__pmax", max(col("end")).over(before))
      .withColumn("__new", when(col("__pmax").isNull || col("start") > col("__pmax") + 1, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(upToHere))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min(col("start")).as("span_start"), max(col("end")).as("span_end"))
      .select(
        col("doc_id"),
        col("span_start"),
        col("span_end"),
        (col("span_end") - col("span_start") + 1).as(lenCol),
      )
  }

  /** Char-grain exact repeated-span detection — the actual recipe of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better", §3: suffix-array exact substring matching at
    * character granularity; reference analog `kukur` has no dedup —
    * this is the LLM-pipeline extension layer): every k-char gram of
    * the normalized text occurring more than once in the corpus marks
    * its span, overlapping/adjacent marks merge into maximal per-doc
    * char intervals. The k-gram inverted index finds exactly the
    * length-≥k repeated substrings a suffix array would (any repeat of
    * length L ≥ k is covered by its L−k+1 repeated k-grams), as one
    * distributed count aggregate instead of a monolithic suffix sort.
    *
    * The gram join is Zipf-split: boilerplate k-grams (license
    * headers, navigation chrome) are the hot keys of a web corpus, so
    * grams at or above `hotMin` corpus occurrences ride a broadcast
    * and the tail shuffles with bounded per-key fanout — no hot-key
    * join at any scale. Positions are 1-based chars in the NORMALIZED
    * text (the dedup cut coordinates).
    */
  def repeatedSpansChar(df: DataFrame, idCol: String, textCol: String, k: Int = 20, hotMin: Long = 1000L): DataFrame = {
    require(k >= 2, "span gram size must be at least 2 chars")
    graft.plans.GraftFunctions.register(df.sparkSession)
    // graft_char_grams emits all k-char grams in ONE compiled pass
    // (bytes materialized once, char→byte offsets once, zero-copy
    // slices) — the SQL `substring(__t, i, k)` per position walked the
    // UTF-8 bytes from 0 for every i: O(len²) byte scans per row
    // (guide §4: compiled loop over interpreted per-position HOFs).
    val grams = spread(
      df.select(col(idCol).as("doc_id"), TextFunctions.normText(col(textCol)).as("__t"))
    )
      .where(length(col("__t")) >= k)
      .select(
        col("doc_id"),
        posexplode(expr(s"graft_char_grams(__t, $k)")).as(Seq("off", "gram")),
      )
      .select(col("doc_id"), (col("off") + 1).cast("long").as("start"), col("gram"), xxhash64(col("gram")).as("gh"))
      // two consumers (count aggregate + probe side): eager checkpoint,
      // not cache — same rationale as jaccardPairsPrefix; Bench/Verify
      // release it and the certified counts via getPersistentRDDs after
      // the query
      .localCheckpoint()
    // count aggregate and Zipf join keyed on the certified key (see
    // certifiedCounts): the repeated-mark decision is cnt > 1, so
    // merged counts would mark spans that never repeat. The probe rows
    // narrow to (doc_id, start, key).
    val (freq, key) = certifiedCounts(grams, "gram", "gh", "cnt")
    val marked = CorpusFunctions
      .zipfSplitJoin(grams.select(col("doc_id"), col("start"), col(key)), freq, Seq(key), "cnt", hotMin)
      .where(col("cnt") > 1)
      .select(col("doc_id"), col("start"), (col("start") + (k - 1)).as("end"))
    mergeSpans(marked, "span_chars")
  }

  /** Winnowing-fingerprint near-duplicate pairs (Schleimer et al. 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting" — the
    * MOSS scheme): docs sharing winnowed fingerprints join through the
    * fingerprint inverted index, then pairs are scored by exact Jaccard
    * over the two docs' distinct fingerprint SETS and thresholded as a
    * scaled-integer fraction (num/den), like [[jaccardPairs]]. The
    * complement of the shingle paths: winnowing guarantees any shared
    * substring of length ≥ k + w − 1 leaves a shared fingerprint, at
    * ~2/(w+1) the index density of full k-gram sets.
    *
    * `maxDf` > 0 drops fingerprints appearing in more than `maxDf`
    * docs BEFORE sizes/joins — the paper's own answer to ubiquitous
    * boilerplate (MOSS ignores matches "in many documents"), and the
    * hot-key guard at corpus scale: the join then has bounded per-key
    * fanout, and |F_A| counts only retained fingerprints.
    */
  /** Repeated-span REMOVAL — the cleanup step [[repeatedSpans]] only
    * locates (Lee et al. 2022 cut their matches from the corpus; this
    * is the aggressive every-occurrence variant, the right default for
    * boilerplate): every word inside a marked span is dropped and the
    * document is rebuilt from the survivors at the normalized-word
    * grain (the same grain chunking emits).
    *
    * Shape: the detector's stages, then the spans fold into ONE
    * bounded array per doc (≤ len/k spans by maximality), join back on
    * doc id, and the cut itself is a per-row higher-order filter on
    * the word positions — no range join, no second corpus shuffle
    * beyond the doc-id join. Docs without marked spans keep every word
    * (left join, null-safe), docs shorter than k words carry no grams
    * and pass through whole.
    */
  def scrubRepeatedSpans(df: DataFrame, idCol: String, textCol: String, k: Int = 10): DataFrame = {
    val spans = repeatedSpans(df, idCol, textCol, k)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    df.select(col(idCol).as("doc_id"), TextFunctions.words(col(textCol)).as("__w"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn(
        "__kept",
        when(col("__spans").isNull, col("__w")).otherwise(
          expr(
            "filter(transform(__w, (x, i) -> named_struct('x', x, 'p', i + 1)), " +
              "e -> NOT exists(__spans, s -> e.p >= s.span_start AND e.p <= s.span_end))"
          ).getField("x")
        ),
      )
      .select(
        col("doc_id"),
        concat_ws(" ", col("__kept")).as("clean_text"),
        size(col("__w")).cast("long").as("n_words"),
        (size(col("__w")) - size(col("__kept"))).cast("long").as("n_removed_words"),
      )
  }

  /** Char-grain span removal — [[scrubRepeatedSpans]] at Lee et al.'s
    * own granularity: the marked char intervals of
    * [[repeatedSpansChar]] are cut from the NORMALIZED text and the
    * survivors reassemble from the gap segments. The merged spans are
    * disjoint and sorted, so the gaps fall out of one per-row
    * higher-order transform (segment before each span + the tail
    * after the last) — substring surgery, no char-level explode, no
    * range join.
    */
  def scrubRepeatedSpansChar(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 20,
      hotMin: Long = 1000L,
  ): DataFrame = {
    val spans = repeatedSpansChar(df, idCol, textCol, k, hotMin)
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("span_start").as("s"), col("span_end").as("e")))).as("__spans"))
    df.select(col(idCol).as("doc_id"), TextFunctions.normText(col(textCol)).as("__t"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn(
        "clean_text",
        when(col("__spans").isNull, col("__t")).otherwise(
          concat(
            expr(
              "concat_ws('', transform(__spans, (sp, i) -> " +
                "substring(__t, IF(i = 0, 1, __spans[i - 1].e + 1), " +
                "CAST(sp.s AS INT) - IF(i = 0, 1, CAST(__spans[i - 1].e AS INT) + 1))))"
            ),
            expr("substring(__t, element_at(__spans, -1).e + 1, length(__t) - element_at(__spans, -1).e)"),
          )
        ),
      )
      .select(
        col("doc_id"),
        col("clean_text"),
        length(col("__t")).cast("long").as("n_chars"),
        (length(col("__t")) - length(col("clean_text"))).cast("long").as("n_removed_chars"),
      )
  }

  def winnowPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4,
      numThreshold: Int = 1,
      denThreshold: Int = 2,
      maxDf: Long = 0L,
  ): DataFrame = {
    // checkpoint BEFORE the df-cap join: `all` (per-char md5
    // winnowing, the expensive scan) feeds both the df count and the
    // probe side of the cap join, then sizes and both self-join sides
    // downstream — same placement rationale as HammingJoin.pairs'
    // banded checkpoint; Bench/Verify release via getPersistentRDDs
    val all = TextFunctions.fingerprints(df, col(idCol), col(textCol), k, w).localCheckpoint()
    val fps =
      if (maxDf <= 0) all
      else all.join(all.groupBy(col("fp")).agg(count(lit(1)).as("__df")).where(col("__df") <= maxDf), "fp").drop("__df")
    val sizes = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    fps
      .select(col("doc_id").as("doc_a"), col("fp"))
      .join(fps.select(col("doc_id").as("doc_b"), col("fp")), "fp")
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_fp"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("n_b")), "doc_b")
      .withColumn("union_fp", col("n_a") + col("n_b") - col("shared_fp"))
      .where(col("shared_fp") * denThreshold >= col("union_fp") * numThreshold)
      .withColumn("winnow_sim", round(col("shared_fp").cast("double") / col("union_fp"), 6))
      .select(col("doc_a"), col("doc_b"), col("shared_fp"), col("union_fp"), col("winnow_sim"))
  }

  /** Paragraph-grain corpus-wide dedup (Wenzek et al. 2020, "CCNet" —
    * there on newline paragraphs of Common Crawl; the unit here is a
    * fixed `blockWords`-word block so the operator also bites on
    * single-line corpora): every block instance is kept iff it is the
    * FIRST occurrence of its normalized content corpus-wide (lowest
    * (doc_id, block index)), and each document is re-assembled from
    * its surviving blocks. Returns one row per doc:
    * `(doc_id, n_blocks, n_kept, clean_text)` — `clean_text` is null
    * when every block of the doc was seen earlier elsewhere.
    *
    * Scale shape: first-occurrence selection is a `min(struct)` hash
    * aggregate over the block index — partial aggregation combines
    * map-side, so a boilerplate block repeated 10⁸ times costs one
    * row per map partition on the shuffle, NOT a hot-key window sort
    * (the row_number formulation would sort every copy of the hottest
    * block on one reducer). The join back on the block hash has
    * per-key output = instance count (no pair explosion), and
    * reassembly is a per-doc sort_array over ≤ doc-length structs.
    */
  def paragraphDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockWords: Int = 10,
  ): DataFrame = {
    val inst = spread(df)
      .withColumn("__ws", split(TextFunctions.normText(col(textCol)), " "))
      .select(
        col(idCol).as("doc_id"),
        posexplode(
          expr(
            s"transform(sequence(0, CAST(CEIL(size(__ws) / ${blockWords}.0) AS INT) - 1)," +
              s" i -> array_join(slice(__ws, i * $blockWords + 1, $blockWords), ' '))"
          )
        ).as(Seq("blk", "unit")),
      )
      .withColumn("__h", md5(col("unit")))
      // two consumers (first-occurrence agg + join probe): eager
      // checkpoint; Bench/Verify release via getPersistentRDDs
      .localCheckpoint()
    val first = inst
      .groupBy(col("__h"))
      .agg(min(struct(col("doc_id"), col("blk"))).as("__first"))
    inst
      .join(first, "__h")
      .withColumn("__kept", col("doc_id") === col("__first.doc_id") && col("blk") === col("__first.blk"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_blocks"),
        count(when(col("__kept"), lit(1))).as("n_kept"),
        array_join(
          expr("transform(array_sort(collect_list(CASE WHEN __kept THEN struct(blk, unit) END)), s -> s.unit)"),
          " ",
        ).as("__joined"),
      )
      .withColumn("clean_text", when(col("n_kept") > 0, col("__joined")))
      .select(col("doc_id"), col("n_blocks"), col("n_kept"), col("clean_text"))
  }

  /** Incremental exact dedup: which docs of a NEW batch survive against
    * an already-ingested corpus — the shape every continuously-fed
    * training pipeline runs daily (dedup the delta, never re-scan the
    * lake). A batch doc survives iff its normalized-text fingerprint
    * (a) does not appear in the corpus (left-anti join) and (b) is the
    * lowest-id copy within the batch itself (one window pass).
    *
    * Both stages shuffle on the 128-bit fingerprint — uniformly
    * distributed, no hot keys by construction. At 100 TB the corpus
    * side is a pre-materialized fingerprint table ([[exactGroups]]
    * output, bucketed on fp via [[graft.operators.Bucketing]]), so the
    * anti-join co-locates with zero corpus shuffle and the daily cost
    * scales with the batch, not the lake.
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    incrementalDedupFp(
      batch,
      corpus.select(md5(TextFunctions.normText(col(textCol))).as("fp")).distinct(),
      idCol,
      textCol,
    )

  /** [[incrementalDedup]] against a pre-materialized corpus fingerprint
    * table (distinct `fp` column — [[exactGroups]] output). When that
    * table is stored bucketed on `fp` ([[graft.operators.Bucketing]]),
    * the anti-join plans with ZERO corpus-side shuffle: only the daily
    * batch is exchanged (into the bucket count), the lake is read
    * in place — BucketingSpec proves the single-Exchange plan. The
    * survivor window then reuses the join's fp-partitioning, so the
    * whole delta dedup costs one shuffle of the batch, period.
    */
  def incrementalDedupFp(batch: DataFrame, corpusFp: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bFp = batch.select(col(idCol).as("doc_id"), md5(TextFunctions.normText(col(textCol))).as("fp"))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    bFp
      .join(corpusFp.select(col("fp")), Seq("fp"), "left_anti")
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("doc_id"), col("fp"))
  }

  /** Bloom-prefiltered incremental dedup: the OUTPUT of
    * [[incrementalDedup]] (bit-identical — same oracle) with the 100 TB
    * anti-join cost cut to the duplicate rate. The ingested corpus's
    * fingerprints first fold into ONE Bloom sketch row via Catalyst's
    * own `BloomFilterAggregate` (the aggregate runtime filters build:
    * partial sketches merge map-side, so the shuffle carries bit
    * arrays — `numBits/8` bytes per partition — never fingerprint
    * rows), which broadcasts into the batch scan. Batch docs whose
    * fingerprint the sketch has definitely never seen (~(1-fpp) of a
    * mostly-novel daily delta) short-circuit past the anti-join
    * entirely; only MAYBE-seen fingerprints — the true duplicates plus
    * an `fpp` sliver of false positives — shuffle against the corpus
    * fingerprint table for the exact verdict. A false positive can
    * never drop a document (it merely routes it through the exact
    * join), so correctness is independent of sketch sizing; sizing
    * only tunes how much of the batch takes the cheap path. The
    * in-batch survivor window runs across BOTH arms (copies of one
    * fingerprint always land in the same arm, so the union preserves
    * per-fp completeness).
    *
    * At 8 bits/item (`numBits = 8 * expectedItems`) fpp ≈ 2%: a 1 B-doc
    * corpus costs a 1 GB sketch — executor-memory-sized, and far
    * smaller than shuffling a 0.98-novel batch into the lake's
    * fingerprint buckets. Scale `expectedItems` to the corpus's
    * distinct-fp count (C29/C36's HLL path measures it for free).
    */
  def incrementalDedupBloom(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      expectedItems: Long = 1000000L,
      numBitsPerItem: Int = 8,
  ): DataFrame = {
    val corpusFp = corpus.select(md5(TextFunctions.normText(col(textCol))).as("fp")).distinct()
    incrementalDedupBloomFp(batch, corpusFp, bloomSketch(corpusFp, expectedItems, numBitsPerItem), idCol, textCol)
  }

  /** One-row Bloom sketch frame over a fingerprint table's `fp` column
    * (schema: `sketch binary`). Persistable like any frame — write it
    * parquet NEXT TO the corpus fingerprint table so the daily
    * incremental job loads the sketch instead of re-folding the lake,
    * and rebuild only when the corpus's distinct-fp count approaches
    * `expectedItems` (C29/C36's HLL path measures that for free).
    */
  def bloomSketch(corpusFp: DataFrame, expectedItems: Long = 1000000L, numBitsPerItem: Int = 8): DataFrame = {
    graft.plans.GraftFunctions.register(corpusFp.sparkSession)
    val numBits = expectedItems * numBitsPerItem
    corpusFp.agg(expr(s"graft_bloom_agg(xxhash64(fp), ${expectedItems}L, ${numBits}L)").as("sketch"))
  }

  /** `might_contain(sketch, xxhash64(fp))` with the one-row sketch
    * frame bound as an uncorrelated scalar subquery (the only
    * non-literal form the expression accepts) — null-safe: an empty
    * corpus aggregates to a null sketch, so nothing is maybe-seen.
    */
  private[graft] def bloomMaybe(sketchRow: DataFrame, fp: Column): Column = {
    graft.plans.GraftFunctions.register(sketchRow.sparkSession)
    coalesce(
      call_function(
        "graft_bloom_might_contain",
        org.apache.spark.sql.GraftSqlBridge.scalarSubquery(sketchRow.select(col("sketch"))),
        xxhash64(fp),
      ),
      lit(false),
    )
  }

  /** [[incrementalDedupBloom]] against a pre-materialized corpus
    * fingerprint table and a pre-built (typically parquet-persisted)
    * [[bloomSketch]] row — the production daily-job surface: the lake
    * is touched only by the maybe-seen anti-join, the sketch is one
    * read of `numBits/8` bytes.
    */
  def incrementalDedupBloomFp(
      batch: DataFrame,
      corpusFp: DataFrame,
      sketchRow: DataFrame,
      idCol: String,
      textCol: String,
  ): DataFrame = {
    val bFp = batch
      .select(col(idCol).as("doc_id"), md5(TextFunctions.normText(col(textCol))).as("fp"))
      .withColumn("__maybe", bloomMaybe(sketchRow, col("fp")))
      .select(col("doc_id"), col("fp"), col("__maybe"))
    val definiteNew = bFp.where(!col("__maybe")).select(col("doc_id"), col("fp"))
    val maybeSeen = bFp
      .where(col("__maybe"))
      .select(col("doc_id"), col("fp"))
      .join(corpusFp.select(col("fp")), Seq("fp"), "left_anti")
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    definiteNew
      .unionByName(maybeSeen)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("doc_id"), col("fp"))
  }

  /** Content-defined-chunking dedup (the FastCDC/LBFS family, Muthitacharoen
    * et al. 2001 "A Low-Bandwidth Network File System" §3.1, at text
    * grain): chunk boundaries fall where the hash of the trailing
    * `window`-char context has `maskHexDigits` leading zero hex digits
    * (expected chunk length 16^maskHexDigits chars), so a boundary
    * depends ONLY on local content — an insertion shifts every
    * downstream offset but re-synchronizes at the first unmodified
    * boundary, and the suffix chunks fingerprint identically. The
    * insertion-robust dual of [[repeatedSpansChar]]'s fixed k-grams and
    * of paragraphDedup's fixed word blocks, and the standard shape of
    * storage-level dedup brought to corpus text.
    *
    * Shape: one pass computes per-doc boundaries (a filter over char
    * positions — the md5-per-position window scan is the CDC analog of
    * the k-gram explode, same O(len·window) work), chunks explode to
    * one row each, a corpus-wide fingerprint count finds repeats, and
    * the probe joins back Zipf-split — tiny boilerplate chunks are the
    * hot keys, so heads ride a broadcast and the tail shuffles with
    * bounded fanout. Emits duplicated chunks only:
    * `(doc_id, span_start, span_end, span_chars, n_copies)`, positions
    * 1-based chars in the NORMALIZED text, like [[repeatedSpansChar]].
    */
  /** Soft dedup — frequency down-weighting instead of removal: every
    * copy of a duplicated document survives with sampling weight
    * 1/n_copies ppm, so the group's total expected mass equals one
    * document (the alternative to hard dedup when duplication
    * frequency itself is signal, discussed in Lee et al. 2022 §6).
    * One count aggregate on the fingerprint plus the Zipf-split probe
    * join — a boilerplate doc with 10⁸ copies is a HOT key, so its
    * count rides the broadcast arm, never a shuffled hot join.
    */
  def softDedupWeights(df: DataFrame, idCol: String, textCol: String, hotMin: Long = 1000L): DataFrame = {
    val fps = spread(df).select(col(idCol).as("doc_id"), md5(TextFunctions.normText(col(textCol))).as("fp"))
    val counts = fps.groupBy(col("fp")).agg(count(lit(1)).as("n_copies"))
    CorpusFunctions
      .zipfSplitJoin(fps, counts, Seq("fp"), "n_copies", hotMin)
      .select(col("doc_id"), col("fp"), col("n_copies"), expr("1000000 div n_copies").as("weight_ppm"))
  }

  /** SQL expression producing the CDC chunk spans
    * `array<struct<s, e>>` (1-based inclusive char positions in
    * `tCol`) — the one definition of the boundary rule, shared by the
    * batch join below and the streaming contamination gate
    * (`EventStream.cdcGateStream`), so batch and stream chunk
    * identically. Texts shorter than `window` yield no chunks, like
    * the batch path's length guard.
    */
  private[graft] def cdcChunkStructsExpr(tCol: String, window: Int, maskHexDigits: Int): String = {
    require(window >= 2, "rolling window must be at least 2 chars")
    require(maskHexDigits >= 1 && maskHexDigits <= 8, "mask must be 1..8 hex digits")
    // native graft_cdc_spans (graft.plans.CdcSpans): the identical
    // boundary rule — md5 of every trailing window-char substring,
    // boundary where the hex prefix is all zeros — as ONE compiled
    // pass per row instead of ~length(t) interpreted lambda chains
    // each allocating a substring (the SQL spelling was the whole cost
    // of the x100 scale cell). Callers' sessions register the function
    // via GraftFunctions.register / GraftOptimizations.install.
    s"graft_cdc_spans($tCol, $window, $maskHexDigits)"
  }

  /** Per-chunk md5 fingerprints as an array column, from the same
    * shared boundary rule. `minChunk` drops chunks shorter than that
    * many chars — consecutive boundaries produce 1-2 char fragments
    * (" a", "7 ") that collide between ANY two documents and carry no
    * contamination evidence; real CDC systems bound minimum chunk
    * size for the same reason.
    */
  private[graft] def cdcFpArrayExpr(tCol: String, window: Int, maskHexDigits: Int, minChunk: Int = 1): String =
    s"transform(filter(${cdcChunkStructsExpr(tCol, window, maskHexDigits)}, c -> c.e - c.s + 1 >= $minChunk), c -> md5(substring($tCol, c.s, c.e - c.s + 1)))"

  def cdcChunks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 16,
      maskHexDigits: Int = 1,
      hotMin: Long = 1000L,
  ): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    val chunks = spread(
      df.select(col(idCol).as("doc_id"), TextFunctions.normText(col(textCol)).as("__t"))
    )
      .where(length(col("__t")) >= window)
      .select(
        col("doc_id"),
        col("__t"),
        posexplode(expr(cdcChunkStructsExpr("__t", window, maskHexDigits))).as(Seq("__idx", "__c")),
      )
      .select(
        col("doc_id"),
        col("__c.s").cast("long").as("span_start"),
        col("__c.e").cast("long").as("span_end"),
        md5(expr("substring(__t, __c.s, __c.e - __c.s + 1)")).as("__fp"),
      )
      // two consumers (fp count + probe side): eager checkpoint, same
      // rationale as repeatedSpansChar; Bench/Verify release it via
      // getPersistentRDDs after the query
      .localCheckpoint()
    val freq = chunks.groupBy(col("__fp")).agg(count(lit(1)).as("n_copies"))
    CorpusFunctions
      .zipfSplitJoin(chunks, freq, Seq("__fp"), "n_copies", hotMin)
      .where(col("n_copies") > 1)
      .select(
        col("doc_id"),
        col("span_start"),
        col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_chars"),
        col("n_copies"),
      )
  }
}
