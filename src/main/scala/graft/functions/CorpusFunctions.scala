package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level dataset operators: composition statistics and
  * deterministic stratified sampling — the data-mixing side of a
  * training-data pipeline (inspect the language/source distribution,
  * then rebalance it without moving data twice).
  *
  * Like the rest of the text stack, everything is codegen'd built-ins:
  * no UDFs, no driver-side data, deterministic across engines and
  * partitionings.
  */
object CorpusFunctions {

  /** Per-stratum corpus composition: document counts, token/char
    * volume and char-length quantiles. One hash aggregate with
    * map-side partial combine; stratum cardinality (languages,
    * sources) is tiny, so the reduce side is trivial at any corpus
    * size. Counts and sums are exact either way; the quantiles are a
    * parameter: `exactPercentiles = true` (default, oracle-verified)
    * collects each group's length values for an exact `percentile` —
    * fine while per-stratum doc counts fit a sort; at 100 TB pass
    * `false` for `approx_percentile` (KLL sketch, mergeable, bounded
    * memory per group — CorpusStatsSpec bounds its error vs exact).
    */
  def corpusStats(df: DataFrame, stratum: Column, text: Column, exactPercentiles: Boolean = true): DataFrame = {
    val pct =
      if (exactPercentiles) expr("percentile(__nc, array(0.5, 0.95))")
      else expr("transform(approx_percentile(__nc, array(0.5, 0.95), 10000), x -> cast(x as double))")
    DedupFunctions.spread(df)
      .select(
        stratum.as("stratum"),
        size(TextFunctions.words(text)).cast("long").as("__nw"),
        length(text).cast("long").as("__nc"),
      )
      .groupBy(col("stratum"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__nw")).as("total_words"),
        sum(col("__nc")).as("total_chars"),
        pct.as("__p"),
      )
      .select(
        col("stratum"),
        col("n_docs"),
        col("total_words"),
        col("total_chars"),
        col("__p")(0).as("p50_chars"),
        col("__p")(1).as("p95_chars"),
      )
  }

  /** Deterministic stratified sampling: a row survives iff the first
    * 8 hex digits of `md5(id)` fall below its stratum's rate
    * threshold. For fixed-width lowercase hex, lexicographic string
    * comparison IS numeric comparison, so the cut is engine- and
    * partitioning-stable — the reproducibility property random
    * `sample()` lacks, and the same trick [[TextFunctions.hashSplit]]
    * uses for split assignment. A pure per-row projection + filter:
    * no shuffle, no sampling state, embarrassingly parallel at 100 TB.
    *
    * `rates` maps stratum value → keep-rate in [0, 1]; strata not
    * listed keep everything. The standard use is down-weighting a
    * dominant language/source before training.
    */
  def stratifiedSample(df: DataFrame, idCol: Column, stratum: Column, rates: Map[String, Double]): DataFrame = {
    require(rates.values.forall(r => r >= 0.0 && r <= 1.0), "rates must be in [0, 1]")
    val digits = substring(md5(idCol.cast("string")), 1, 8)
    // threshold = floor(rate · 16^8) as 8 lowercase hex digits; rate 1
    // has no 8-digit representation, so it short-circuits to true
    def keepAt(rate: Double): Column =
      if (rate >= 1.0) lit(true)
      else digits < lit(f"${math.floor(rate * 4294967296.0).toLong}%08x")
    // sort null-safely (a null stratum key is legal: mixturePlan's
    // groupBy keeps the null group and mixtureSample feeds it back
    // here) and match null-safely — `stratum === null` can never be
    // true, which would silently promote a planned rate to
    // keep-everything, and Ordering.String would NPE on the sort
    val keep = rates.toSeq.sortBy(_._1)(Ordering.Option[String].on[String](Option(_))).foldRight(lit(true)) {
      case ((s, r), rest) => when(stratum <=> lit(s), keepAt(r)).otherwise(rest)
    }
    df.where(keep)
  }

  /** Per-document word-rarity profile — the integer-exact stand-in for
    * unigram language-model surprisal: for each doc, the average corpus
    * frequency of its words (common-word docs score high) and the
    * fraction of words the corpus has seen at most `rareMax` times
    * (OOV/noise ratio). A count-based score ranks documents the same
    * way −avg log p(w) does for quality filtering, but stays in integer
    * arithmetic end-to-end, so it is bit-reproducible across engines —
    * the float log would differ in final ulps between libm
    * implementations.
    *
    * Plan: one explode → vocabulary count aggregate → join back on the
    * word → per-doc aggregate. The join key is the word and word
    * frequency is Zipfian, so the head IS the skew: the top word alone
    * is ~7% of all tokens. The join therefore splits hot/cold — words
    * above `hotMin` occurrences (a BOUNDED set: at most
    * totalTokens/hotMin rows, a few thousand at any corpus size)
    * broadcast-join, everything below shuffles with a guaranteed
    * per-key fanout < hotMin. Output is identical to the naive join;
    * no key is ever hot on the shuffle path, at any scale. Docs with no
    * words after normalization drop out (no tokens ⇒ no score),
    * mirroring the oracle's unnest semantics.
    */
  def wordRarity(df: DataFrame, idCol: Column, text: Column, rareMax: Long = 2L, hotMin: Long = 1000L): DataFrame =
    Materialize.scoped {
      val toks = DedupFunctions
        .spread(df)
        .select(idCol.as("doc_id"), explode(TextFunctions.words(text)).as("w"))
        .where(col("w") =!= "")
        .transform(Materialize.cache)
      val freq = toks.groupBy(col("w")).agg(count(lit(1)).as("cf"))
      zipfSplitJoin(toks, freq, Seq("w"), "cf", hotMin)
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_words"),
          sum(col("cf")).as("sum_cf"),
          sum(when(col("cf") <= rareMax, 1L).otherwise(0L)).as("n_rare"),
        )
        .withColumn("avg_word_freq", col("sum_cf").cast("double") / col("n_words").cast("double"))
        .withColumn("rare_ratio", col("n_rare").cast("double") / col("n_words").cast("double"))
        .select(col("doc_id"), col("n_words"), col("avg_word_freq"), col("rare_ratio"))
        // pin the small per-doc result so the cached token frame (used
        // by the freq aggregate and both join arms) releases NOW
        .transform(Materialize.pin)
    }

  /** Zipf-skew-resistant equi-join of a token/bigram stream against
    * its own frequency table. Word and bigram frequencies are Zipfian,
    * so the join key's head IS the skew: keys at or above `hotMin`
    * occurrences — a BOUNDED set, at most totalRows/hotMin keys at any
    * corpus size — broadcast-join, and the long tail shuffles with a
    * guaranteed per-key fanout below `hotMin`. Output is identical to
    * the naive join; no key is ever hot on the shuffle path.
    *
    * `probed` appears in both union arms, so its plan is instantiated
    * twice — but every shuffle/broadcast below it dedups via Spark's
    * ReuseExchange (verified: in both the flat and the nested bigramLm
    * composition, every duplicated Exchange in the final adaptive plan
    * is a ReusedExchange — ZipfJoinPlanSpec asserts this), so the only
    * re-executed work is the narrow probe pass (broadcast hash lookups
    * + filters) over an input the callers cache or checkpoint.
    *
    * `tailJoin = "left"` is for probes that may MISS the frequency
    * table (cross-corpus LM scoring: unseen bigrams must survive with a
    * null count, not drop): hot keys broadcast, the tail left-joins,
    * rows matching neither arm keep their null.
    */
  private[graft] def zipfSplitJoin(
      probe: DataFrame,
      freq: DataFrame,
      keys: Seq[String],
      cntCol: String,
      hotMin: Long,
      tailJoin: String = "inner",
  ): DataFrame = {
    // the miss arm sheds EVERY freq payload column (not just cntCol) so
    // multi-payload model tables — e.g. bigramLmKn's (c1, n1p) — re-join
    // the tail without ambiguous duplicates; the split stays on cntCol
    val payload = freq.columns.filterNot(keys.contains)
    require(
      probe.columns.intersect(payload).isEmpty,
      s"zipf split join: probe columns [${probe.columns.intersect(payload).mkString(",")}] collide with freq payload columns - the miss-arm shed would silently drop them",
    )
    val probed = probe.join(broadcast(freq.where(col(cntCol) >= hotMin)), keys, "left")
    probed
      .where(col(cntCol).isNotNull)
      .unionByName(
        payload
          .foldLeft(probed.where(col(cntCol).isNull))(_.drop(_))
          .join(freq.where(col(cntCol) < hotMin), keys, tailJoin)
      )
  }

  /** Per-document bigram language-model score — the perplexity-filter
    * quality signal (Wenzek et al. 2020, "CCNet: Extracting high
    * quality monolingual datasets from web crawl data" — there scored
    * by a pretrained LM; here the LM is the corpus itself): train
    * Laplace-smoothed bigram conditional probabilities
    * p(w2|w1) = (c(w1,w2)+1)/(c(w1·)+V) from the whole corpus, then
    * score each document by its mean conditional probability.
    * Predictable running text scores high; gibberish, boilerplate
    * soup and wrong-language fragments score low — the same ranking
    * perplexity gives, without the cross-engine float log: every
    * probability is a single correctly-rounded IEEE division of exact
    * integer counts, floor-scaled to 1e12, summed exactly as longs —
    * bit-reproducible on any engine and partitioning.
    *
    * Plan: one explode to the bigram stream (checkpointed — it feeds
    * the bigram-count aggregate, the first-word aggregate, the
    * vocabulary count and the probe side), then two [[zipfSplitJoin]]s
    * back onto it, then one per-doc aggregate. The LM table is
    * corpus-sized, never driver-sized: nothing here assumes it fits in
    * one broadcast, so the plan survives a vocabulary that only a
    * 100 TB crawl produces.
    */
  def bigramLm(df: DataFrame, idCol: Column, text: Column, hotMin: Long = 1000L): DataFrame = Materialize.scoped {
    val bgs = DedupFunctions
      .spread(df)
      .select(idCol.as("doc_id"), TextFunctions.words(text).as("w"))
      .where(size(col("w")) >= 2)
      .select(
        col("doc_id"),
        explode(
          expr("transform(sequence(0, size(w) - 2), i -> named_struct('w1', w[i], 'w2', w[i + 1]))")
        ).as("bg"),
      )
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .transform(Materialize.pin)
    val cb = bgs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val c1 = bgs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = bgs
      .select(col("w1").as("w"))
      .unionAll(bgs.select(col("w2").as("w")))
      .agg(countDistinct(col("w")).as("v"))
    zipfSplitJoin(zipfSplitJoin(bgs, cb, Seq("w1", "w2"), "cb", hotMin), c1, Seq("w1"), "c1", hotMin)
      .crossJoin(broadcast(v))
      .withColumn(
        "p_scaled",
        floor(lit(1e12) * ((col("cb") + 1).cast("double") / (col("c1") + col("v")).cast("double"))),
      )
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_scaled")).as("__sum_p"))
      .withColumn("lm_prob_ppm", floor(col("__sum_p").cast("double") / col("n_bigrams").cast("double")) / 1e6)
      .select(col("doc_id"), col("n_bigrams"), col("lm_prob_ppm"))
      // pin the small per-doc result so the pinned bigram stream (four
      // consumers) releases NOW, not at ContextCleaner time
      .transform(Materialize.pin)
  }

  /** Bucket-granular perplexity gate (the CCNet filtering step): score
    * every document with [[bigramLm]] and drop the lowest-scoring
    * `dropFrac` of the scored corpus — at WHOLE-BUCKET granularity, so
    * the threshold never needs a corpus-wide sort. Buckets are
    * `floor(lm_prob_ppm)` (an integer in [0, 1e6] — BOUNDED at any
    * corpus size), the bucket histogram is one tiny aggregate, the
    * cumulative threshold is a window over that bounded frame
    * broadcast back, and the gate itself is a per-row filter: the
    * largest bucket prefix holding at most `floor(dropFrac · N)` docs
    * is dropped, so the gate removes AT MOST the requested fraction,
    * never more. Documents with fewer than two words are never scored
    * and never emitted, mirroring [[bigramLm]].
    *
    * All arithmetic is exact (integer buckets, exact counts), so the
    * kept set is deterministic on any engine and partitioning.
    */
  def lmGate(df: DataFrame, idCol: Column, text: Column, dropFrac: Double = 0.1, hotMin: Long = 1000L): DataFrame =
    bucketGate(bigramLm(df, idCol, text, hotMin), "lm_prob_ppm", dropFrac)

  /** [[lmGate]] with the scorer swapped for [[bigramLmKn]] — the same
    * bounded-histogram whole-bucket drop over Kneser–Ney scores.
    */
  def lmGateKn(
      df: DataFrame,
      idCol: Column,
      text: Column,
      dropFrac: Double = 0.1,
      hotMin: Long = 1000L,
      pruneMin: Long = 1L,
  ): DataFrame =
    bucketGate(bigramLmKn(df, idCol, text, hotMin, pruneMin), "kn_prob_ppm", dropFrac)

  /** The shared bounded-histogram threshold: drop the largest
    * `floor(scoreCol)`-bucket prefix holding at most
    * `floor(dropFrac · N)` rows. Exact-integer deterministic; the
    * histogram is ≤ 1e6 rows at any corpus size.
    */
  private def bucketGate(scored: DataFrame, scoreCol: String, dropFrac: Double): DataFrame = {
    require(dropFrac >= 0.0 && dropFrac < 1.0, "dropFrac must be in [0, 1)")
    val keep = scored.columns
    val scores = scored.withColumn("__b", floor(col(scoreCol)))
    val hist = scores.groupBy(col("__b")).agg(count(lit(1)).as("__n"))
    val w = Window.orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, 0)
    val thr = hist
      .withColumn("__cum", sum(col("__n")).over(w))
      .crossJoin(broadcast(hist.agg(floor(sum(col("__n")) * lit(dropFrac)).as("__k"))))
      .where(col("__cum") <= col("__k"))
      .agg(max(col("__b")).as("__t"))
    scores
      .crossJoin(broadcast(thr))
      .where(col("__b") > coalesce(col("__t"), lit(-1L)))
      .select(keep.map(col).toSeq: _*)
  }

  /** Interpolated Kneser–Ney bigram score — [[bigramLm]]'s smoothing
    * upgraded to the family KenLM (and therefore CCNet's real filter
    * model) uses (Kneser & Ney 1995; Chen & Goodman 1998, eq. 4.26):
    * absolute discount d = 0.75 on the bigram count, the stolen mass
    * backed off to the CONTINUATION unigram — how many distinct
    * contexts a word follows, not how often it occurs — so a token
    * frequent in one boilerplate context stops inflating unseen-bigram
    * probability:
    *
    *   p(w2|w1) = max(c(w1 w2) − d, 0) / c(w1 ·)
    *            + (d · N1+(w1 ·) / c(w1 ·)) · N1+(· w2) / N1+(· ·)
    *
    * Every count is exact; d = 0.75 is exact in binary64 and each
    * division/product is one correctly-rounded IEEE step in a fixed
    * order, so the floor-scaled score is bit-reproducible on any
    * engine and partitioning — the same no-float-log policy as
    * [[bigramLm]].
    *
    * Plan shape is [[bigramLm]]'s: one explode to the checkpointed
    * bigram stream; ALL FOUR model tables (bigram counts; left totals
    * + left continuation-type counts, one aggregate; right
    * continuation-type counts; the distinct-bigram total) derive from
    * the single groupBy(w1,w2) aggregate, whose exchange AQE
    * deduplicates across consumers; three [[zipfSplitJoin]]s + one
    * one-row broadcast bring the model back onto the stream. The model
    * is corpus-sized, never driver-sized — nothing assumes a 100 TB
    * crawl's vocabulary fits in one broadcast.
    *
    * `pruneMin` is KenLM's count-threshold pruning knob (`--prune`):
    * bigram TYPES with count < pruneMin leave the model and their
    * mass folds into the backoff weight, λ(w1) = (d·Nkept(w1·) +
    * Cpruned(w1·)) / c(w1·) — the discounted mass of the kept types
    * plus the WHOLE count of the pruned ones, so Σ_w2 p(w2|w1) still
    * normalizes. The continuation distribution is over kept types
    * only. Why it exists: bigram types grow Heaps-style with the
    * corpus (the x100 probe measured per-doc cost rising 0.090→0.124
    * ms tracking exactly that table) while singleton types carry the
    * bulk of the type count and almost none of the mass — pruning
    * them keeps the three model-table joins sized by the KEPT types,
    * which grow far slower. pruneMin = 1 keeps every type and
    * reproduces the unpruned model bit-exactly (Cpruned = 0 adds
    * +0.0, Nkept = N1+ — every IEEE step is the same value in the
    * same order).
    */
  def bigramLmKn(
      df: DataFrame,
      idCol: Column,
      text: Column,
      hotMin: Long = 1000L,
      pruneMin: Long = 1L,
  ): DataFrame = Materialize.scoped {
    require(pruneMin >= 1L, "pruneMin is a count threshold; 1 keeps every type")
    val bgs = DedupFunctions
      .spread(df)
      .select(idCol.as("doc_id"), TextFunctions.words(text).as("w"))
      .where(size(col("w")) >= 2)
      .select(
        col("doc_id"),
        explode(
          expr("transform(sequence(0, size(w) - 2), i -> named_struct('w1', w[i], 'w2', w[i + 1]))")
        ).as("bg"),
      )
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .transform(Materialize.pin)
    val cb = bgs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    // kept bigram types — the only table the scoring joins ever carry
    val cbK = if (pruneMin > 1L) cb.where(col("cb") >= pruneMin) else cb
    // c(w1·), Nkept(w1·), Cpruned(w1·) fall out of ONE pass over the
    // FULL type table (the denominators stay exact marginals); the
    // zipf split rides c1 for all three payloads
    val c1f = cb
      .groupBy(col("w1"))
      .agg(
        sum(col("cb")).as("c1"),
        count(when(col("cb") >= pruneMin, lit(1))).as("nkept"),
        sum(when(col("cb") < pruneMin, col("cb")).otherwise(lit(0L))).as("cpr"),
      )
    val ctf = cbK.groupBy(col("w2")).agg(count(lit(1)).as("cont"))
    // greatest(ntot, 1): when pruning empties the model (every type a
    // singleton), cont is already 0 everywhere and the clamp makes the
    // backoff term an exact 0/1 = 0 instead of 0/0 = NaN — Spark would
    // silently floor NaN to score 0 while DuckDB errors on the CAST,
    // a divergence the hash gate can't even see. With any kept type
    // ntot ≥ 1 and the clamp is the identity.
    val nt = cbK.agg(greatest(count(lit(1)), lit(1L)).as("ntot"))
    // a pruned bigram misses the cbK/ctf joins: its first term is
    // max(0 − d, 0) = 0 and it scores pure backoff λ(w1)·pcont(w2)
    val p =
      greatest(coalesce(col("cb"), lit(0L)).cast("double") - lit(0.75), lit(0.0)) / col("c1").cast("double") +
        ((lit(0.75) * col("nkept").cast("double") + col("cpr").cast("double")) / col("c1").cast("double")) *
        (coalesce(col("cont"), lit(0L)).cast("double") / col("ntot").cast("double"))
    zipfSplitJoin(
      zipfSplitJoin(zipfSplitJoin(bgs, cbK, Seq("w1", "w2"), "cb", hotMin, "left"), c1f, Seq("w1"), "c1", hotMin),
      ctf,
      Seq("w2"),
      "cont",
      hotMin,
      "left",
    )
      .crossJoin(broadcast(nt))
      .withColumn("p_scaled", floor(lit(1e12) * p))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_scaled")).as("__sum_p"))
      .withColumn("kn_prob_ppm", floor(col("__sum_p").cast("double") / col("n_bigrams").cast("double")) / 1e6)
      .select(col("doc_id"), col("n_bigrams"), col("kn_prob_ppm"))
      .transform(Materialize.pin)
  }

  /** Deterministic corpus shuffle + sharding — the export step every
    * training run needs at 100 TB: break source/time locality so each
    * shard is an unbiased sample, WITHOUT a global sort. Each doc gets
    * a pseudo-random key (md5 of id + seed — reproducible, and a new
    * seed redraws the whole permutation per epoch), the shard is the
    * key mod `nShards`, and the within-shard position is a
    * two-level rank: shards sort independently in parallel, nothing
    * ever serializes through one partition. The production write is
    * `df.repartition(shard).sortWithinPartitions(pos)` — this operator
    * is the deterministic plan for it, oracle-checkable because md5 is
    * the same function in every engine.
    *
    * Within-shard positions do NOT come from one window per shard
    * (that caps parallelism at `nShards` — a 100 TB export into 64
    * shards would sort 1.5 TB per window task). The hash's high byte
    * buckets each shard into 256 ORDER-ALIGNED sub-ranges (the bucket
    * is monotone in `__h`, so bucket-then-hash order equals hash
    * order); per-bucket counts prefix-sum into start offsets on a
    * ≤ nShards·256-row frame that broadcasts back, and the window
    * ranks only within (shard, bucket) — `nShards × 256`-way parallel,
    * bit-identical to the single-window form (spec-asserted). Above
    * 4096 shards the offsets frame stops being broadcast-small and the
    * plain per-shard window is already ample parallelism, so the plan
    * switches back — same output either way.
    */
  def shuffleShards(df: DataFrame, idCol: Column, nShards: Int, seed: Long = 0L): DataFrame = {
    require(nShards > 0, "need at least one shard")
    val h = conv(substring(md5(concat(idCol.cast("string"), lit(":"), lit(seed.toString))), 1, 8), 16, 10)
      .cast("long")
    val keyed = df
      .select(idCol.as("doc_id"))
      .withColumn("__h", h)
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)))
    if (nShards > 4096) {
      val w = Window.partitionBy(col("shard")).orderBy(col("__h"), col("doc_id"))
      keyed
        .withColumn("pos", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("shard"), col("pos"))
    } else {
      val bucketed = keyed.withColumn("__b", shiftright(col("__h"), 24))
      val offs = bucketed
        .groupBy(col("shard"), col("__b"))
        .agg(count(lit(1)).as("__n"))
        .withColumn(
          "__off",
          coalesce(
            sum(col("__n")).over(
              Window.partitionBy(col("shard")).orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, -1)
            ),
            lit(0L),
          ),
        )
        .select(col("shard"), col("__b"), col("__off"))
      val w = Window.partitionBy(col("shard"), col("__b")).orderBy(col("__h"), col("doc_id"))
      bucketed
        .join(broadcast(offs), Seq("shard", "__b"))
        .withColumn("pos", (col("__off") + row_number().over(w)).cast("long"))
        .select(col("doc_id"), col("shard"), col("pos"))
    }
  }

  /** Materialize a [[shuffleShards]] plan as training-ready files —
    * the write the plan's doc promises: payload re-joined on doc_id,
    * `repartition(nShards, shard)` + `sortWithinPartitions(shard,
    * pos)` + `partitionBy(shard)`, so every shard directory holds
    * EXACTLY ONE parquet file with its rows physically in `pos` order
    * (a shard lives wholly inside one task's partition; the sort puts
    * its rows consecutively; the partitioned writer then emits one
    * file per (task, shard) pair). A trainer streams `shard=K/` files
    * in file order — no shuffle, no sort, no index at read time.
    * Returns the re-read frame (Spark's partition-discovery schema:
    * payload columns + `pos` + `shard` partition column).
    *
    * At 100 TB: the only shuffle is the repartition on `shard` —
    * exactly the exchange any writer needs to co-locate shard rows —
    * and each write task sorts only its own shards' rows (the
    * spill-backed ExternalSorter path, never a global sort).
    */
  def shuffleShardsExport(
      df: DataFrame,
      idCol: String,
      nShards: Int,
      path: String,
      seed: Long = 0L,
  ): DataFrame = {
    // the plan contributes shard/pos (and the id is renamed doc_id) —
    // a payload column with one of those names would come back
    // ambiguous or silently renamed; fail loudly instead
    val reserved = df.columns.filterNot(_ == idCol).intersect(Array("shard", "pos", "doc_id"))
    require(
      reserved.isEmpty,
      s"shuffleShardsExport: payload columns [${reserved.mkString(",")}] collide with the plan's shard/pos/doc_id output",
    )
    val plan = shuffleShards(df, col(idCol), nShards, seed)
    plan
      .join(df.withColumnRenamed(idCol, "doc_id"), Seq("doc_id"))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write
      .mode("overwrite")
      .partitionBy("shard")
      .parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Per-shard manifest of an exported (or planned) shard frame:
    * doc count, last position, and the doc ids at the first/last
    * positions — the integrity summary a training run records next to
    * the files. Computed FROM the export's own rows, so an oracle
    * match on it proves the write→read round trip preserved the
    * permutation. min_by/max_by on (pos) — pos is dense and non-null
    * by construction, ties impossible.
    */
  def shardManifest(exported: DataFrame): DataFrame =
    exported
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("pos")).as("last_pos"),
        min_by(col("doc_id"), col("pos")).as("first_doc"),
        max_by(col("doc_id"), col("pos")).as("last_doc"),
      )

  /** The canonical CCNet curation pipeline (Wenzek et al. 2020), one
    * plan end to end in the paper's own order: exact dedup (normalized
    * fingerprint groupBy — representative = min id, min raw text, so
    * the choice is deterministic and SQL-expressible), language
    * filter over the representatives, then the bucket-granular
    * perplexity gate ([[lmGate]]) with the LM self-trained on the
    * surviving in-language representatives — exactly the corpus CCNet
    * trains its shard LMs on.
    *
    * Shapes: one fingerprint aggregate over the corpus, stateless
    * langid projection, the C31/C31b join stack, and one final doc-id
    * equi-join to reunite the gate verdict with the dedup payload
    * (over the deduped in-language frame, already a fraction of the
    * corpus). The intermediate is checkpointed once and released when
    * the output materializes — the bigramLm residency discipline.
    */
  def ccnetCurate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      keepLang: String = "en",
      dropFrac: Double = 0.1,
      hotMin: Long = 1000L,
  ): DataFrame = Materialize.scoped {
    val inLang = TextFunctions
      .langId(
        DedupFunctions
          .spread(df)
          .withColumn("fp", md5(TextFunctions.normText(col(textCol))))
          .groupBy(col("fp"))
          .agg(min(col(idCol)).as("rep_id"), min(col(textCol)).as("__text"), count(lit(1)).as("n_copies")),
        col("__text"),
      )
      .where(col("pred_lang") === keepLang)
      .transform(Materialize.pin)
    val gated = lmGate(inLang, col("rep_id"), col("__text"), dropFrac, hotMin)
    inLang
      .select(col("rep_id"), col("fp"), col("n_copies"))
      .join(gated.withColumnRenamed("doc_id", "rep_id"), Seq("rep_id"))
      .select(col("rep_id"), col("fp"), col("n_copies"), col("n_bigrams"), col("lm_prob_ppm"))
      .transform(Materialize.pin)
  }

  /** A trained bigram LM as three reference tables: bigram counts,
    * first-word counts, and the vocabulary size — the CCNet usage
    * where the LM comes from a CLEAN reference corpus and scores new
    * data. `cb`/`c1` are corpus-vocabulary-sized and reused per scoring
    * batch or microbatch: [[bigramLmRef]] pins them, [[bigramLmRefLoad]]
    * caches them. The CALLER owns them and calls `unpersist()` when
    * done, the [[noveltyRef]] contract.
    */
  case class BigramLmRef(cb: DataFrame, c1: DataFrame, v: DataFrame) {
    def unpersist(): Unit = Materialize.release(cb, c1)
  }

  def bigramLmRef(refDf: DataFrame, text: Column): BigramLmRef = Materialize.scoped {
    val bgs = DedupFunctions
      .spread(refDf)
      .select(TextFunctions.words(text).as("w"))
      .where(size(col("w")) >= 2)
      .select(
        explode(
          expr("transform(sequence(0, size(w) - 2), i -> named_struct('w1', w[i], 'w2', w[i + 1]))")
        ).as("bg")
      )
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .transform(Materialize.pin)
    // pinned (not cached): truncates the lineage so releasing the bigram
    // stream cannot strand a recompute path — a cached block lost to
    // executor failure mid-stream would otherwise re-root at the
    // released checkpoint RDD and fail unrecoverably
    val cb = Materialize.pin(bgs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb")))
    val c1 = Materialize.pin(bgs.groupBy(col("w1")).agg(count(lit(1)).as("c1")))
    // V collapses to one scalar — evaluate it NOW and rebuild it as a
    // literal frame, so nothing in the returned ref still reads the
    // bigram stream, and the scope releases it
    val vVal = bgs
      .select(col("w1").as("w"))
      .unionAll(bgs.select(col("w2").as("w")))
      .agg(countDistinct(col("w")).as("v"))
      .head()
      .getLong(0)
    BigramLmRef(cb, c1, refDf.sparkSession.range(1).select(lit(vVal).as("v")))
  }

  /** Reference-LM persistence (the bloomSketch precedent): write the
    * trained tables once, load them for every scoring batch or
    * streaming gate without re-reading the reference corpus. The
    * loader rebuilds the [[bigramLmRef]] shape with cached tables and a
    * literal V (the caller owns the tables).
    */
  def bigramLmRefSave(ref: BigramLmRef, path: String): Unit = {
    ref.cb.write.mode("overwrite").parquet(s"$path/cb")
    ref.c1.write.mode("overwrite").parquet(s"$path/c1")
    ref.v.write.mode("overwrite").parquet(s"$path/v")
  }

  def bigramLmRefLoad(spark: org.apache.spark.sql.SparkSession, path: String): BigramLmRef = {
    val cb = Materialize.cache(spark.read.parquet(s"$path/cb"))
    val c1 = Materialize.cache(spark.read.parquet(s"$path/c1"))
    val vVal = spark.read.parquet(s"$path/v").head().getLong(0)
    BigramLmRef(cb, c1, spark.range(1).select(lit(vVal).as("v")))
  }

  /** Score documents against a PRE-TRAINED [[BigramLmRef]] — the
    * cross-corpus form of [[bigramLm]] (train on clean reference,
    * score the crawl). Unseen bigrams ride the same Laplace floor the
    * self-trained form gives count-zero pairs: p = (cb+1)/(c1+V) with
    * missing counts as 0, so on documents the LM WAS trained on the
    * score equals [[bigramLm]]'s exactly (the parity the streaming
    * gate's spec asserts). Joins against the reference tables are
    * plain equi-joins — Spark picks broadcast vs shuffled-hash by
    * table size; the probe side never carries text.
    */
  def bigramLmScoreAgainst(df: DataFrame, idCol: Column, text: Column, ref: BigramLmRef): DataFrame =
    Materialize.scoped {
      // pin the bigram stream: the nested zipf-split joins put it
      // in four union arms (the bigramLm shape — shuffles dedupe via
      // ReuseExchange, the narrow probe pass re-runs against storage)
      val bgs = DedupFunctions
        .spread(df)
        .select(idCol.as("doc_id"), TextFunctions.words(text).as("w"))
        .where(size(col("w")) >= 2)
        .select(
          col("doc_id"),
          explode(
            expr("transform(sequence(0, size(w) - 2), i -> named_struct('w1', w[i], 'w2', w[i + 1]))")
          ).as("bg"),
        )
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .transform(Materialize.pin)
      bgs
        .transform(p => zipfSplitJoin(p, ref.cb, Seq("w1", "w2"), "cb", 1000L, "left"))
        .transform(p => zipfSplitJoin(p, ref.c1, Seq("w1"), "c1", 1000L, "left"))
        .crossJoin(broadcast(ref.v))
        .withColumn(
          "p_scaled",
          floor(
            lit(1e12) * ((coalesce(col("cb"), lit(0L)) + 1).cast("double") /
              (coalesce(col("c1"), lit(0L)) + col("v")).cast("double"))
          ),
        )
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("p_scaled")).as("__sum_p"))
        .withColumn("lm_prob_ppm", floor(col("__sum_p").cast("double") / col("n_bigrams").cast("double")) / 1e6)
        .select(col("doc_id"), col("n_bigrams"), col("lm_prob_ppm"))
        .transform(Materialize.pin)
    }

  /** BM25 relevance of every document to a fixed query string
    * (Robertson & Zaragoza 2009, "The probabilistic relevance
    * framework: BM25 and beyond") — the lexical-retrieval complement
    * of the embedding similarity stack: score(d) = Σ_t idf(t) ·
    * tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    *
    * Plan shape is the 100 TB one: per-term tf and doc length are
    * per-row array expressions (no explode, no shuffle), corpus stats
    * (N, Σdl, per-term df) are ONE map-side-combined aggregate row
    * broadcast back, so the whole query is a single scan plus a
    * broadcast — embarrassingly parallel at any corpus size.
    *
    * Determinism: tf, dl, N, Σdl are exact integers and every
    * division/multiplication is one correctly-rounded IEEE op on
    * identical inputs, so the only libm call is ln in idf — snapped to
    * the 6-decimal grid (`round(…, 6)`, the SURVEY determinism policy
    * for libm), then each term's contribution floor-scaled to 1e6 and
    * summed exactly as longs.
    */
  def bm25Search(
      df: DataFrame,
      idCol: Column,
      text: Column,
      query: String,
      k1: Double = 1.2,
      b: Double = 0.75,
  ): DataFrame = {
    val terms = query.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "query must contain at least one term")
    // let-binding: the token array is bound ONCE and every per-term tf
    // references the attribute — interpolating words(text) per term
    // would instantiate the split q+1 times per row (LetBindingPlanSpec
    // guards the count)
    def tfCol(t: String): Column = size(filter(col("__w"), w => w === t)).cast("long")
    val base = df
      .select(idCol.as("doc_id"), TextFunctions.words(text).as("__w"))
      .select(
        col("doc_id") +: size(col("__w")).cast("long").as("dl") +:
          terms.zipWithIndex.map { case (t, i) => tfCol(t).as(s"tf_$i") }: _*
      )
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl") +:
        terms.indices.map(i => sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i")): _*
    )
    val contrib = terms.indices.map { i =>
      val idf = round(
        log((col("n_docs").cast("double") - col(s"df_$i") + 0.5) / (col(s"df_$i") + 0.5) + 1.0),
        6,
      )
      val tf = col(s"tf_$i").cast("double")
      val norm = tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") * col("n_docs").cast("double") / col("sum_dl").cast("double"))
      when(col(s"tf_$i") > 0, floor(lit(1e6) * idf * (tf * lit(k1 + 1)) / norm)).otherwise(lit(0L))
    }
    base
      .crossJoin(broadcast(stats))
      .withColumn("__s", contrib.reduce(_ + _))
      .where(col("__s") > 0)
      .select(col("doc_id"), (col("__s").cast("double") / 1e6).as("bm25"))
  }

  /** Mixture planning: per-stratum keep-rates that achieve a target
    * training mixture while keeping the maximum possible data — the
    * planning step whose output feeds [[stratifiedSample]]. With
    * exact token counts tok_s and target shares w_s, the achievable
    * post-sampling total is T* = min_s(tok_s / w_s): the stratum that
    * attains the minimum is the binding one (kept at rate 1), every
    * other stratum downsamples to rate_s = w_s · T* / tok_s so
    * realized shares equal the targets. Strata not in `targets` plan
    * to rate 0 (excluded from the mixture).
    *
    * One aggregate over the corpus, one broadcast of the per-stratum
    * summary (stratum cardinality is tiny at any corpus size), all
    * arithmetic exact-integer counts and correctly-rounded IEEE
    * divisions floor-scaled to ppm — deterministic on any engine.
    */
  def mixturePlan(df: DataFrame, stratum: Column, text: Column, targets: Map[String, Double]): DataFrame = {
    require(targets.nonEmpty, "targets must not be empty")
    require(math.abs(targets.values.sum - 1.0) < 1e-9, "target shares must sum to 1")
    val spark = df.sparkSession
    import spark.implicits._
    val tgt = targets.toSeq.sortBy(_._1).toDF("stratum", "target_share")
    val counts = DedupFunctions
      .spread(df)
      .select(stratum.as("stratum"), size(TextFunctions.words(text)).cast("long").as("__nw"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nw")).as("tokens"))
      .join(broadcast(tgt), Seq("stratum"), "left")
    counts
      // T* = min over planned strata, as a single-partition window
      // over the tiny per-stratum frame (one exchange of
      // stratum-cardinality ROWS) — deriving it as counts.agg(...)
      // and broadcasting back would re-instantiate the corpus
      // scan+aggregate subtree (measured 2 FileScans in the final
      // adaptive plan; ReuseExchange only caught part of it). min
      // skips nulls, so unplanned strata don't participate.
      .withColumn(
        "t_star",
        min(when(col("target_share").isNotNull, col("tokens").cast("double") / col("target_share")))
          .over(Window.partitionBy(lit(0))),
      )
      // the binding stratum (the one attaining T*) is kept at EXACTLY
      // rate 1 and contributes all its tokens: deciding it by the same
      // integer/double comparison that defined T* (tokens/share ≤ t_star)
      // guarantees the documented invariant even when
      // share · (tokens/share) lands a ulp below tokens
      .withColumn("__binding", col("target_share").isNotNull && col("tokens").cast("double") / col("target_share") <= col("t_star"))
      .withColumn(
        "keep_rate_ppm",
        when(col("__binding"), lit(1000000L))
          .when(
            col("target_share").isNotNull,
            least(lit(1000000L), floor(lit(1e6) * col("target_share") * col("t_star") / col("tokens").cast("double"))),
          )
          .otherwise(lit(0L)),
      )
      .withColumn(
        "planned_tokens",
        when(col("__binding"), col("tokens"))
          .when(col("target_share").isNotNull, floor(col("target_share") * col("t_star")))
          .otherwise(lit(0L)),
      )
      .select(col("stratum"), col("n_docs"), col("tokens"), col("keep_rate_ppm"), col("planned_tokens"))
  }

  /** Temperature (α) mixture planning (Conneau & Lample 2019 / XLM-R's
    * multilingual sampling): target shares are DERIVED from the corpus
    * itself as q_s ∝ tok_s^α — α < 1 upweights low-resource strata
    * relative to their natural share — then keep-rates follow the same
    * T* = min(tok_s / q_s) closed form as [[mixturePlan]]. At α = 0.5
    * (the default and the common choice) the power is IEEE `sqrt`,
    * bit-exact on every engine, and the share normalizer sums
    * floor-scaled ppm longs — exact integers — so the whole plan is
    * engine-reproducible (other α use libm `pow`: deterministic per
    * JVM and partitioning-independent, but last-ulp engine-dependent).
    *
    * Fully in-plan: one corpus aggregate, then Σ rt_ppm and T* as
    * single-partition windows over the per-stratum frame (one
    * exchange of stratum-cardinality rows — mixturePlan's shape),
    * zero driver collects.
    */
  def temperatureMixturePlan(
      df: DataFrame,
      stratum: Column,
      text: Column,
      alpha: Double = 0.5,
  ): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val counts = DedupFunctions
      .spread(df)
      .select(stratum.as("stratum"), size(TextFunctions.words(text)).cast("long").as("__nw"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nw")).as("tokens"))
    val rt =
      if (alpha == 0.5) sqrt(col("tokens").cast("double"))
      else pow(col("tokens").cast("double"), lit(alpha))
    // Σ rt_ppm and T* as single-partition windows over the tiny
    // per-stratum frame — the same shape as mixturePlan, for the same
    // measured reason: the agg + broadcast-back form re-instantiates
    // the corpus scan+aggregate subtree once per broadcast (~4 scans
    // through shared/total/tStar), and ReuseExchange only catches part
    // of it. Both windows share one partitioning, so the cost is ONE
    // exchange of stratum-cardinality rows.
    val w0 = Window.partitionBy(lit(0))
    counts
      .withColumn("__rt_ppm", floor(rt * lit(1e6)).cast("long"))
      .withColumn("__total", sum(col("__rt_ppm")).over(w0))
      .withColumn("target_share", col("__rt_ppm").cast("double") / col("__total").cast("double"))
      .withColumn("t_star", min(col("tokens").cast("double") / col("target_share")).over(w0))
      .withColumn("__binding", col("tokens").cast("double") / col("target_share") <= col("t_star"))
      .withColumn(
        "keep_rate_ppm",
        when(col("__binding"), lit(1000000L))
          .otherwise(least(lit(1000000L), floor(lit(1e6) * col("target_share") * col("t_star") / col("tokens").cast("double")))),
      )
      .withColumn(
        "planned_tokens",
        when(col("__binding"), col("tokens")).otherwise(floor(col("target_share") * col("t_star"))),
      )
      .select(col("stratum"), col("n_docs"), col("tokens"), col("target_share"), col("keep_rate_ppm"), col("planned_tokens"))
  }

  /** The data-driven composition of [[mixturePlan]] → [[stratifiedSample]]:
    * plan keep-rates from the corpus itself, then apply them with the
    * deterministic md5-threshold sampler. The only driver-side data is
    * the per-stratum plan summary — one row per stratum (languages/
    * sources), bounded at any corpus size. Rates come back as exact
    * ppm longs, so the sampler's `floor(rate · 2³²)` threshold is
    * reproducible on any engine: ppm/1e6 is one correctly-rounded
    * division and the 2³² scaling is exact in floating point.
    * Strata outside the target mixture plan to rate 0 and are
    * dropped entirely.
    */
  def mixtureSample(
      df: DataFrame,
      idCol: Column,
      stratum: Column,
      text: Column,
      targets: Map[String, Double],
  ): DataFrame = {
    val rates = mixturePlan(df, stratum, text, targets)
      .select(col("stratum"), col("keep_rate_ppm"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1) / 1e6)
      .toMap
    stratifiedSample(df, idCol, stratum, rates)
  }

  /** [[mixtureSample]] with ZERO driver round trip: the plan's
    * bounded per-stratum frame joins back by broadcast instead of
    * collecting into literal rates, so the whole mixture application
    * stays one lazy plan — the form long compositions
    * (pipeline_train_export) need. The keep decision reproduces
    * [[stratifiedSample]]'s md5-threshold bit for bit: rate 1 (the
    * binding stratum) short-circuits, every other rate compares the
    * first 8 md5 hex digits against `floor(ppm/1e6 · 2^32)` rendered
    * `%08x` — both engines evaluate the same IEEE double expression.
    */
  def mixtureSampleJoined(
      df: DataFrame,
      idCol: Column,
      stratum: Column,
      text: Column,
      targets: Map[String, Double],
  ): DataFrame = {
    val plan = mixturePlan(df, stratum, text, targets)
      .select(col("stratum").as("__mix_stratum"), col("keep_rate_ppm"))
    val digits = substring(md5(idCol.cast("string")), 1, 8)
    val threshold = format_string(
      "%08x",
      floor(col("keep_rate_ppm").cast("double") / lit(1e6) * lit(4294967296.0)).cast("long"),
    )
    df.join(broadcast(plan), stratum <=> col("__mix_stratum"), "left")
      .where(coalesce(col("keep_rate_ppm"), lit(0L)) >= 1000000L || digits < threshold)
      .drop("__mix_stratum", "keep_rate_ppm")
  }

  /** Per-stratum lexical diversity — exact type/token statistics: how
    * many distinct words, how many hapax legomena (words seen once),
    * type-token ratio and hapax share. Low TTR flags templated or
    * repetitive strata; a high hapax share flags noise/OCR garbage —
    * both standard corpus-quality screens before mixing. Two hash
    * aggregates: per-(stratum, word) counts, then per-stratum rollup;
    * the word stage carries the Zipf head but a count aggregate (not
    * a join) — map-side partial combine flattens hot words before the
    * shuffle, so no key is hot on the wire at any corpus size. All
    * ratios are single IEEE divisions of exact counts.
    */
  def lexicalDiversity(df: DataFrame, stratum: Column, text: Column): DataFrame =
    DedupFunctions.spread(df)
      .select(stratum.as("stratum"), explode(TextFunctions.words(text)).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("stratum"), col("w"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("stratum"))
      .agg(
        count(lit(1)).as("vocab"),
        sum(col("cnt")).as("tokens"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"),
      )
      .select(
        col("stratum"),
        col("vocab"),
        col("tokens"),
        col("hapax"),
        (col("vocab").cast("double") / col("tokens").cast("double")).as("type_token_ratio"),
        (col("hapax").cast("double") / col("vocab").cast("double")).as("hapax_ratio"),
      )

  /** Per-source (domain) corpus composition + exact-duplication rate:
    * how many docs, how much text, how many languages, and how many
    * docs are exact copies of an earlier doc in the same source — the
    * per-domain triage view that decides which crawls to keep. One
    * hash aggregate; `count(distinct)` pairs rewrite to a two-phase
    * partial-distinct plan, still one shuffle on the tiny source key.
    */
  def domainStats(
      df: DataFrame,
      source: Column,
      lang: Column,
      idCol: Column,
      text: Column,
      exactDistinct: Boolean = true,
  ): DataFrame = {
    // same exact/HLL switch as [[datacard]]
    def nd(c: Column): Column = if (exactDistinct) countDistinct(c) else approx_count_distinct(c)
    DedupFunctions.spread(df)
      .select(
        source.as("source"),
        lang.as("lang"),
        length(text).cast("long").as("__nc"),
        md5(TextFunctions.normText(text)).as("__fp"),
      )
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__nc")).as("total_chars"),
        nd(col("lang")).as("n_langs"),
        (count(lit(1)) - nd(col("__fp"))).as("n_dup_docs"),
      )
  }

  /** Per-stratum document-length histogram: fixed `binWords`-wide
    * bins of the word count, top bin open-ended — the shape that
    * sizes sequence packing (how much of the corpus fits a context
    * window without truncation) and sanity-checks a mixture plan's
    * token arithmetic. One hash aggregate on the tiny
    * (stratum, bin) key, map-side combined.
    */
  def lengthHistogram(
      df: DataFrame,
      stratum: Column,
      text: Column,
      binWords: Int = 50,
      maxBins: Int = 20,
  ): DataFrame = {
    require(binWords >= 1 && maxBins >= 2, "need positive bins")
    DedupFunctions.spread(df)
      .select(stratum.as("stratum"), size(TextFunctions.words(text)).cast("long").as("__nw"))
      .withColumn("bin", least(floor(col("__nw").cast("double") / binWords), lit(maxBins - 1)).cast("long"))
      .groupBy(col("stratum"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nw")).as("total_words"))
      .withColumn("bin_start_words", col("bin") * binWords)
  }

  /** Per-language tokenizer-fertility report (the metric of Ács 2019 /
    * Rust et al. 2021 "How Good is Your Tokenizer?": tokens emitted per
    * word, and chars per token, by language): languages a tokenizer
    * fragments heavily consume disproportionate sequence budget, so
    * mixture planning over raw token masses ([[mixturePlan]]) needs
    * this table to see WHERE the token mass goes. Tokens here are the
    * engine's deterministic BPE-ish regex tokens (letter runs / single
    * digits / single marks — [[TextFunctions.tokenCounts]]'s
    * SQL-expressible proxy; per-doc fertility under the REAL trained
    * BPE is text_bpe's rows-only output). Ratios are integer-ppm
    * `div`s of exact long sums — order-independent, engine-exact.
    * One scan → one hash aggregate on the tiny language key, partials
    * combine map-side; nothing else moves.
    */
  def tokenFertility(df: DataFrame, lang: Column, text: Column): DataFrame =
    DedupFunctions.spread(df)
      .select(
        lang.as("lang"),
        size(TextFunctions.words(text)).cast("long").as("__w"),
        size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).cast("long").as("__t"),
        length(text).cast("long").as("__c"),
      )
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__w")).as("n_words"),
        sum(col("__t")).as("n_tokens"),
        sum(col("__c")).as("n_chars"),
      )
      .select(
        col("lang"),
        col("n_docs"),
        col("n_words"),
        col("n_tokens"),
        col("n_chars"),
        expr("1000000 * n_tokens div n_words").as("tokens_per_word_ppm"),
        expr("1000000 * n_chars div n_tokens").as("chars_per_token_ppm"),
      )

  /** Cross-source near-duplicate overlap matrix — "how much of crawl B
    * is already in dump A", the report that decides whether ingesting
    * another source adds data or just duplicates (the cross-corpus
    * dual of [[domainStats]]' within-source dup rate). Near-dup pairs
    * come from the prefix-filtered exact-Jaccard join
    * ([[DedupFunctions.jaccardPairsPrefix]] — the skew-proof AllPairs
    * plan, identical output to the naive join), then each pair maps to
    * its lexicographically-ordered source pair and aggregates: pair
    * count and the mean Jaccard as an integer-micro mean (per-pair
    * `(1e6·i) div u` is exact long arithmetic; the sum is
    * order-independent; doubles would hash-diverge). The diagonal
    * (source_a = source_b) is within-source near-duplication.
    *
    * Scale shape: the pair frame is tiny next to the corpus, so the
    * two doc→source lookups join a small probe against the (id,
    * source) projection — AQE broadcasts the pair side; the final
    * aggregate is on the bounded source-pair key.
    */
  def sourceOverlap(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      textCol: String,
      n: Int = 3,
      numThreshold: Int = 4,
      denThreshold: Int = 5,
  ): DataFrame = {
    val pairs = DedupFunctions.jaccardPairsPrefix(df, idCol, textCol, n, numThreshold, denThreshold)
    val src = df.select(col(idCol).as("doc_id"), col(sourceCol).as("__src"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("__src").as("__sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("__src").as("__sb")), "doc_b")
      .select(
        least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"),
        col("intersection"),
        col("union_size"),
      )
      .groupBy(col("source_a"), col("source_b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(expr("1000000 * intersection div union_size")).as("__jsum"),
      )
      .withColumn("mean_jaccard_micro", expr("__jsum div n_pairs"))
      .drop("__jsum")
  }

  /** Corpus datacard — the per-source report a curation run publishes
    * (the "datasheet" habit of Gebru et al. 2021 at corpus grain):
    * composition ([[domainStats]] fields), token mass and each
    * source's share of the corpus, exact-duplication rate, and the
    * mean [[TextFunctions.qualityScore]] — everything a consumer
    * needs to judge a source before training on it.
    *
    * One scan of the corpus → one hash aggregate on the tiny source
    * key → a single-partition window over the per-source frame for
    * the corpus total. The window costs one exchange of a
    * source-cardinality frame (rows, not data) — deriving the total
    * as `perSource.agg(...)` and broadcasting it back would
    * re-instantiate the whole scan+aggregate subtree (measured: 4
    * FileScans, zero ReusedExchange), doubling the corpus pass at
    * 100 TB. Determinism policy: the quality mean is accumulated as a
    * per-doc `floor(score·1e6)` BIGINT sum (the per-doc score is
    * bit-identical across engines, the integer sum is
    * order-independent — double sums would hash-diverge), and all
    * rates are integer ppm via `div`, never double division of longs.
    */
  def datacard(
      df: DataFrame,
      source: Column,
      lang: Column,
      idCol: Column,
      text: Column,
      exactDistinct: Boolean = true,
  ): DataFrame = {
    val scored = TextFunctions
      .qualityScore(DedupFunctions.spread(df), text)
      .select(
        source.as("source"),
        lang.as("lang"),
        col("n_chars").cast("long").as("__nc"),
        col("n_words").cast("long").as("__nw"),
        floor(col("quality_score") * lit(1000000.0)).cast("long").as("__qmicro"),
        md5(TextFunctions.normText(text)).as("__fp"),
      )
    // exact distinct (default, oracled) rewrites to the Expand-based
    // two-phase plan — per-doc rows on the shuffle keyed by (source,
    // fp, lang, gid). At 100 TB switch to the HLL sketches: partial
    // sketches merge map-side, so the shuffle carries one
    // sketch per (source, partition) instead of every fingerprint
    // (DatacardApproxSpec bounds the error)
    def nd(c: Column): Column = if (exactDistinct) countDistinct(c) else approx_count_distinct(c)
    val perSource = scored
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        nd(col("lang")).as("n_langs"),
        sum(col("__nc")).as("total_chars"),
        sum(col("__nw")).as("total_words"),
        (count(lit(1)) - nd(col("__fp"))).as("n_dup_docs"),
        sum(col("__qmicro")).as("__qsum"),
      )
    perSource
      .withColumn("__corpus_words", sum(col("total_words")).over(Window.partitionBy(lit(0))))
      .select(
        col("source"),
        col("n_docs"),
        col("n_langs"),
        col("total_chars"),
        col("total_words"),
        col("n_dup_docs"),
        expr("1000000 * n_dup_docs div n_docs").as("dup_ppm"),
        expr("1000000 * total_words div __corpus_words").as("token_share_ppm"),
        expr("__qsum div n_docs").as("mean_quality_micro"),
      )
  }

  /** Per-document unigram Shannon entropy — the information-theoretic
    * diversity signal beside [[lexicalDiversity]]'s type/token ratios:
    * `H = ln(n) − (1/n)·Σ c_w·ln(c_w)` over the doc's word counts.
    * Low entropy = repetitive boilerplate (few words dominate), high
    * entropy = diverse prose; the per-doc cousin of the corpus-level
    * perplexity filters. One explode → per-(doc, word) count → per-doc
    * aggregate; `ln` over the (small-integer) counts snapped to the
    * 6-decimal grid and floor-scaled to ppm (the SURVEY libm policy),
    * final division a floored exact-input IEEE op — engine-exact.
    */
  def wordEntropy(df: DataFrame, idCol: Column, text: Column): DataFrame = {
    def lnPpm(c: Column): Column = floor(round(log(c.cast("double")), 6) * lit(1e6)).cast("long")
    DedupFunctions
      .spread(df)
      .select(idCol.as("doc_id"), explode(TextFunctions.words(text)).as("w"))
      // words("") yields [""] — the empty token is not a word (same
      // filter wordRarity/lexicalDiversity apply); empty docs drop out
      .where(col("w") =!= "")
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_words"),
        count(lit(1)).as("vocab"),
        sum(col("c") * lnPpm(col("c"))).as("__s"),
      )
      .select(
        col("doc_id"),
        col("n_words"),
        col("vocab"),
        (lnPpm(col("n_words")) -
          floor(col("__s").cast("double") / col("n_words").cast("double")).cast("long")).as("entropy_ppm"),
      )
  }

  /** Pairwise vocabulary overlap between strata (languages, sources):
    * per ordered stratum pair, exact |V_a ∩ V_b|, |V_a ∪ V_b| and
    * Jaccard in ppm — the lexical contamination/relatedness screen
    * (script-sharing languages overlap; a "clean" source whose
    * vocabulary is inside the crawl's is redundant). Plan: one
    * distinct (stratum, word) aggregate, a self-join on the word
    * (per-word fanout bounded by the stratum count — single digits —
    * so no key is ever hot), per-pair intersection counts, and stratum
    * vocabulary sizes broadcast back for the union arithmetic. All
    * counts exact integers; ppm by nonneg integer division.
    */
  def vocabOverlap(df: DataFrame, stratum: Column, text: Column): DataFrame = {
    val vw = DedupFunctions
      .spread(df)
      .select(stratum.as("stratum"), explode(TextFunctions.words(text)).as("w"))
      // the empty token from words("") is not vocabulary — it would
      // register as a spurious shared "word" between any two strata
      // that each contain one empty doc
      .where(col("w") =!= "")
      .distinct()
    val sizes = vw.groupBy(col("stratum")).agg(count(lit(1)).as("vocab"))
    val inter = vw
      .select(col("stratum").as("stratum_a"), col("w"))
      .join(vw.select(col("stratum").as("stratum_b"), col("w")), Seq("w"))
      .where(col("stratum_a") < col("stratum_b"))
      .groupBy(col("stratum_a"), col("stratum_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("stratum").as("stratum_a"), col("vocab").as("__va"))), Seq("stratum_a"))
      .join(broadcast(sizes.select(col("stratum").as("stratum_b"), col("vocab").as("__vb"))), Seq("stratum_b"))
      .select(
        col("stratum_a"),
        col("stratum_b"),
        col("n_common"),
        (col("__va") + col("__vb") - col("n_common")).as("n_union"),
        expr("1000000 * n_common div (__va + __vb - n_common)").as("jaccard_ppm"),
      )
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * "Data selection for language models via importance resampling"):
    * select raw-pool documents whose hashed n-gram distribution looks
    * like the target corpus. Features are hashed unigram buckets (here
    * the first two md5 hex chars of each word → 256 buckets — engine-
    * portable, no integer hash needed); both distributions get Laplace
    * smoothing, and each raw document's log importance weight is
    * `Σ_w c_w · ln(p_target(b(w)) / p_raw(b(w)))` over its bucket
    * counts. Selection is the Poisson relaxation of the paper's
    * Gumbel-top-k: keep a doc iff `score + g(doc_id) ≥ tau`, where
    * `g = −ln(−ln u)` is a standard Gumbel draw from the md5 of the
    * doc id — per-row, stateless, deterministic, and exactly
    * probability-proportional-to-importance-weight sampling.
    *
    * Plan shape at 100 TB: one explode to the word stream, one hash
    * aggregate to per-(doc, bucket) counts (map-side combined; at most
    * 256 distinct buckets per doc survive the combine), a 256-row
    * bucket-ratio frame derived from it with a single-partition window
    * (tiny by construction) and broadcast back, then one per-doc
    * aggregate and a stateless filter — no global sort, no driver
    * data, no hot join key (every bucket is 1/256 of all tokens).
    *
    * Determinism: bucket counts and totals are exact integers; each
    * probability is one IEEE division, their ratio one more; the only
    * libm call (`ln`, and `−ln(−ln u)` for the Gumbel) is snapped to
    * the 6-decimal grid then floor-scaled to 1e6 and summed as longs —
    * the SURVEY float policy, same as bm25.
    */
  def dsirSelect(
      df: DataFrame,
      idCol: Column,
      text: Column,
      isTarget: Column,
      tauPpm: Long,
      /** extra per-doc columns (functionally dependent on the id, e.g.
        * `source`) carried through the aggregates — they ride the
        * existing ≤256-rows-per-doc map-side-combined shuffle, so a
        * downstream per-source report never joins the corpus back on
        * doc_id (a corpus-wide shuffle at 100 TB).
        */
      passthrough: Seq[String] = Nil,
  ): DataFrame = Materialize.scoped {
    Materialize.pin(dsirPlan(df, idCol, text, isTarget, tauPpm, passthrough)._1)
  }

  /** Un-checkpointed DSIR plan + the checkpointed per-(doc, bucket)
    * frame it rides on (two consumers: bucket ratios and the score
    * join). [[dsirSelect]] materializes the result and releases it;
    * the plan-shape spec inspects the live plan directly.
    */
  /** Laplace-smoothed log-likelihood ratio of the target vs raw bucket
    * distributions, floor-scaled to 1e6 (the SURVEY libm policy):
    * `floor(round(ln((ct+1)/(tt+256) / ((cr+1)/(tr+256))), 6)·1e6)`.
    */
  private def dsirLrPpm(ct: Column, cr: Column, tt: Column, tr: Column): Column =
    floor(
      round(
        log(
          ((ct + 1).cast("double") / (tt + DsirBuckets).cast("double")) /
            ((cr + 1).cast("double") / (tr + DsirBuckets).cast("double"))
        ),
        6,
      ) * lit(1e6)
    ).cast("long")

  /** The deterministic per-doc Gumbel draw `−ln(−ln u)` (u from the
    * md5 of the id), floor-scaled to 1e6 — keep iff score + g ≥ tau.
    */
  private[graft] def dsirGumbelPpm(id: Column): Column = {
    val u = (conv(substring(md5(id.cast("string")), 1, 8), 16, 10)
      .cast("long")
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    floor(round(-log(-log(u)), 6) * lit(1e6)).cast("long")
  }

  private val DsirBuckets = 256

  /** Offline half of the streaming DSIR gate: the full 256-row
    * bucket → log-likelihood-ratio table (every md5 hex pair is
    * present — unseen buckets get the pure-smoothing ratio), trained
    * once in batch and shipped to [[graft.streaming.EventStream
    * .dsirGateStream]] as a tiny static artifact.
    */
  def dsirRatios(df: DataFrame, text: Column, isTarget: Column): DataFrame = {
    val spark = df.sparkSession
    val observed = DedupFunctions
      .spread(df)
      .select(isTarget.as("__t"), explode(TextFunctions.words(text)).as("__w"))
      .groupBy(substring(md5(col("__w")), 1, 2).as("bucket"))
      .agg(
        sum(when(col("__t"), lit(1L)).otherwise(lit(0L))).as("__ct"),
        sum(when(!col("__t"), lit(1L)).otherwise(lit(0L))).as("__cr"),
      )
    val universe = spark
      .range(DsirBuckets)
      .select(lpad(lower(hex(col("id"))), 2, "0").as("bucket"))
    universe
      .join(observed, Seq("bucket"), "left")
      .select(
        col("bucket"),
        coalesce(col("__ct"), lit(0L)).as("__ct"),
        coalesce(col("__cr"), lit(0L)).as("__cr"),
      )
      .withColumn("__tt", sum(col("__ct")).over(Window.partitionBy(lit(0))))
      .withColumn("__tr", sum(col("__cr")).over(Window.partitionBy(lit(0))))
      .select(col("bucket"), dsirLrPpm(col("__ct"), col("__cr"), col("__tt"), col("__tr")).as("lr_ppm"))
  }

  private[graft] def dsirPlan(
      df: DataFrame,
      idCol: Column,
      text: Column,
      isTarget: Column,
      tauPpm: Long,
      passthrough: Seq[String] = Nil,
  ): (DataFrame, DataFrame) = {
    val passCols = passthrough.map(col)
    val perDoc = DedupFunctions
      .spread(df)
      .select(
        Seq(idCol.as("doc_id"), isTarget.as("__t"), explode(TextFunctions.words(text)).as("__w")) ++ passCols: _*
      )
      .groupBy(Seq(col("doc_id"), col("__t"), substring(md5(col("__w")), 1, 2).as("__b")) ++ passCols: _*)
      .agg(count(lit(1)).as("__c"))
      .transform(Materialize.pin)
    val ratios = perDoc
      .groupBy(col("__b"))
      .agg(
        sum(when(col("__t"), col("__c")).otherwise(lit(0L))).as("__ct"),
        sum(when(!col("__t"), col("__c")).otherwise(lit(0L))).as("__cr"),
      )
      .withColumn("__tt", sum(col("__ct")).over(Window.partitionBy(lit(0))))
      .withColumn("__tr", sum(col("__cr")).over(Window.partitionBy(lit(0))))
      .select(
        col("__b"),
        dsirLrPpm(col("__ct"), col("__cr"), col("__tt"), col("__tr")).as("__lr_ppm"),
      )
    val out = perDoc
      .where(!col("__t"))
      .join(broadcast(ratios), Seq("__b"))
      .groupBy(col("doc_id") +: passCols: _*)
      .agg(
        sum(col("__c")).as("n_words"),
        sum(col("__c") * col("__lr_ppm")).as("dsir_ppm"),
      )
      .withColumn("__g_ppm", dsirGumbelPpm(col("doc_id")))
      .select(
        Seq(
          col("doc_id"),
          col("n_words"),
          col("dsir_ppm"),
          (col("dsir_ppm") + col("__g_ppm") >= tauPpm).as("keep"),
        ) ++ passCols: _*
      )
    (out, perDoc)
  }

  /** Per-document n-gram novelty — the boilerplate/originality signal
    * of crawl curation: the share of a doc's DISTINCT word n-grams
    * that appear in no other document (document frequency 1). Template
    * pages, mirrored articles and licence blocks score low; original
    * prose scores high. The dual of [[wordRarity]] at the n-gram
    * grain, and the per-doc aggregate of what dedup pipelines throw
    * away as candidate evidence.
    *
    * Plan: explode distinct per-doc n-grams → df aggregate (map-side
    * combined) → join back via [[zipfSplitJoin]] (gram frequency is
    * Zipfian; boilerplate grams ARE the hot keys, broadcast-joined;
    * the novel tail has df 1 by definition, fanout 1 on the shuffle
    * path) → one per-doc aggregate. Novelty is an exact integer ppm —
    * no float, bit-stable across engines and partitionings.
    *
    * EAGER: this call runs its Spark jobs at call time (the
    * certificate, then the pin that lets the cached gram
    * frame and the certified counts release immediately) and pins the
    * result to executor-local storage — no lineage recompute on
    * executor loss. Callers at cluster scale who need fault-tolerant
    * laziness should use [[ngramNoveltyPlan]] and choose their own
    * materialization (reliable `checkpoint`, a parquet round-trip, …),
    * calling the returned release themselves once the plan is consumed.
    */
  def ngramNovelty(df: DataFrame, idCol: Column, text: Column, n: Int = 3, hotMin: Long = 1000L): DataFrame =
    // pin the small per-doc result so the cached gram frame (consumed
    // by the df aggregate and both join arms) and the certified counts
    // release NOW — also when the pin's job fails
    Materialize.scoped(Materialize.pin(ngramNoveltyPlan(df, idCol, text, n, hotMin)._1))

  /** Un-checkpointed [[ngramNovelty]] plan + the release of what it
    * rides on: the cached gram frame and the certified df counts.
    * [[ngramNovelty]] materializes the plan and releases both; callers
    * who want control over materialization (or reliable checkpointing)
    * consume the plan and then call the release themselves. The
    * plan-shape spec inspects the live plan directly. Not lazy: the df
    * counts' certificate job ([[DedupFunctions.certifiedCounts]]) runs
    * at call time.
    */
  def ngramNoveltyPlan(
      df: DataFrame,
      idCol: Column,
      text: Column,
      n: Int = 3,
      hotMin: Long = 1000L,
  ): (DataFrame, () => Unit) = Materialize.scoped {
    // shingleIndex places the spread() barrier AFTER the word-split
    // projection (its documented rationale: an inlined `__w` re-runs
    // normalize+split per n-gram slot) — reuse it rather than drift
    val grams = DedupFunctions
      .shingleIndex(df.select(idCol.as("doc_id"), text.as("__text")), "doc_id", "__text", n)
      .withColumnRenamed("shingle", "g")
      .withColumn("gh", xxhash64(col("g")))
      .transform(Materialize.cache)
    // df aggregate and Zipf join keyed on the certified key: there is
    // no exact verification downstream, so merged counts would change
    // n_novel. The probe rows narrow to (doc_id, key).
    val (dfreq, key) = DedupFunctions.certifiedCounts(grams, "g", "gh", "gdf")
    val out = zipfSplitJoin(grams.select(col("doc_id"), col(key)), dfreq, Seq(key), "gdf", hotMin)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_ngrams"),
        sum(when(col("gdf") === 1L, 1L).otherwise(0L)).as("n_novel"),
      )
      .withColumn("novelty_ppm", expr("1000000 * n_novel div n_ngrams"))
    (out, () => Materialize.release(grams, dfreq))
  }

  /** Dedup-saturation curve — "how much NEW data does each crawl
    * add": per ingest batch (doc-id blocks as the batch proxy), the
    * count of exact fingerprints making their FIRST corpus appearance
    * in that batch, as a share of the batch. A flattening curve says
    * further crawling mostly re-fetches what the lake already holds —
    * the signal that decides whether the next crawl is worth its
    * cost. Two hash aggregates (per-fp min batch, then per-batch
    * count; both map-side combined, no hot keys — a fingerprint
    * repeats at most corpus-dup-rate times) and a join on the tiny
    * batch key. Integer-exact ppm.
    */
  def noveltyCurve(df: DataFrame, idCol: Column, text: Column, batchSize: Long = 100L): DataFrame = {
    val base = DedupFunctions
      .spread(df)
      .select(idCol.as("doc_id"), md5(TextFunctions.normText(text)).as("fp"))
      .withColumn("batch", expr(s"doc_id div $batchSize"))
    val firsts = base
      .groupBy(col("fp"))
      .agg(min(col("batch")).as("batch"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_new_fps"))
    base
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_docs"))
      .join(firsts, Seq("batch"), "left")
      .withColumn("n_new_fps", coalesce(col("n_new_fps"), lit(0L)))
      .withColumn("novelty_ppm", expr("1000000 * n_new_fps div n_docs"))
  }

  /** Mixture-weighted curriculum interleave — the deterministic data
    * ORDER a training run consumes the corpus in: within each stratum
    * docs run easy → hard (difficulty = word count, the standard
    * length curriculum), and strata interleave by target weight using
    * weighted-fair-queueing virtual time, so every training prefix
    * holds the mixture shares (a stratum with weight w sends its r-th
    * doc at virtual time r/w). Emits the per-stratum rank and the
    * integer virtual-time SORT KEY `(vt, stratum, doc_id)` — the
    * global order IS a distributed range sort on that key, which Spark
    * scales; materializing a global dense rank would serialize into
    * one partition for no consumer benefit.
    *
    * vt is the textbook WFQ form — a constant per-doc step
    * `1e12 div w_ppm` times the rank, NOT `1e12·r div w` (whose
    * product overflows Long at ~9.2M docs per stratum). The step form
    * holds to ~9.2e6·w_ppm docs per stratum (9 billion at w = 1000
    * ppm, 9 trillion at full weight) with the same weighted pacing;
    * when w does not divide 1e12 the per-doc rounding differs by up
    * to one step from the product form, so orders near exact vt ties
    * can swap — the mixture-share-per-prefix guarantee is unchanged.
    * NULL strata ride through on a null-safe join (their own schedule
    * lane at `defaultPpm`); NULL/empty text ranks at difficulty 0 —
    * nothing silently drops out of the schedule.
    *
    * The per-stratum rank is NOT a per-stratum window (that would put
    * a whole stratum — tens of TB — in one sort partition). Difficulty
    * is small-integer-valued, so the (stratum, difficulty) histogram
    * is a BOUNDED frame: rank = running count of strictly-easier docs
    * (a window over the tiny histogram, broadcast back) + tiebreak
    * rank within the (stratum, difficulty) cell — window keyed on
    * BOTH columns, so parallelism is strata × distinct difficulties
    * and skew is the largest tie cell, not the largest stratum.
    *
    * `weightsPpm` maps stratum → parts-per-million target weight
    * (e.g. from [[mixturePlan]]); unlisted strata get the `defaultPpm`
    * floor so nothing silently drops out of the schedule.
    *
    * `epochSeed` gives each training epoch a fresh deterministic
    * order: the tiebreak within a (stratum, difficulty) cell becomes
    * the md5 of `doc_id#seed` instead of the doc id, so equal-
    * difficulty docs reshuffle per epoch while the curriculum
    * (difficulty-ordered) and mixture (weight-interleaved) structure
    * is untouched — the per-epoch reshuffle every data loader needs,
    * with no state beyond the seed.
    */
  def curriculumInterleave(
      df: DataFrame,
      idCol: Column,
      stratum: Column,
      text: Column,
      weightsPpm: Map[String, Long],
      defaultPpm: Long = 1000L,
      epochSeed: Option[Long] = None,
  ): DataFrame = {
    // `vt = rank · (1e12 div w)`: w = 0 divides to NULL (docs silently
    // drop from vt-keyed consumers) and w < 0 schedules the stratum
    // before everything else — both nonsense, both rejected up front
    require(
      weightsPpm.values.forall(_ > 0) && defaultPpm > 0,
      s"curriculumInterleave weights must be positive ppm (got defaultPpm=$defaultPpm, " +
        s"weights=${weightsPpm.toSeq.sortBy(_._1).mkString(", ")})",
    )
    val wexpr = weightsPpm.toSeq.sortBy(_._1).foldRight(lit(defaultPpm)) { case ((s, w), rest) =>
      when(col("stratum") === s, lit(w)).otherwise(rest)
    }
    val docs = DedupFunctions
      .spread(df)
      .select(
        idCol.as("doc_id"),
        stratum.as("stratum"),
        coalesce(size(TextFunctions.words(text)).cast("long"), lit(0L)).as("difficulty"),
      )
    // bounded histogram: one row per (stratum, difficulty) value
    val hist = docs
      .groupBy(col("stratum"), col("difficulty"))
      .agg(count(lit(1)).as("__n"))
      .withColumn(
        "__below",
        coalesce(
          sum(col("__n")).over(
            Window.partitionBy(col("stratum")).orderBy(col("difficulty")).rowsBetween(Window.unboundedPreceding, -1)
          ),
          lit(0L),
        ),
      )
      .select(col("stratum"), col("difficulty"), col("__below"))
    val tieKey = epochSeed match {
      case Some(seed) => Seq(md5(concat_ws("#", col("doc_id"), lit(seed))), col("doc_id"))
      case None => Seq(col("doc_id"))
    }
    val tie = Window.partitionBy(col("stratum"), col("difficulty")).orderBy(tieKey: _*)
    val h = hist.withColumnRenamed("stratum", "__hs").withColumnRenamed("difficulty", "__hd")
    docs
      .withColumn("__tie", row_number().over(tie).cast("long"))
      // null-safe on the stratum so a NULL-lang doc keeps its schedule
      // row (difficulty is coalesced, never null)
      .join(broadcast(h), col("stratum") <=> col("__hs") && col("difficulty") === col("__hd"))
      .withColumn("rank_in_stratum", col("__below") + col("__tie"))
      .withColumn("weight_ppm", wexpr)
      .withColumn("vt", expr("rank_in_stratum * (1000000000000 div weight_ppm)"))
      .select(col("doc_id"), col("stratum"), col("difficulty"), col("rank_in_stratum"), col("weight_ppm"), col("vt"))
  }
}
