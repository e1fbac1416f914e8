package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.plans.UnigramModel

/** Unigram-LM subword tokenizer (Kudo 2018, "Subword Regularization" —
  * the SentencePiece unigram model), the second of the two tokenizer
  * families behind every modern LLM data pipeline (the first, BPE, is
  * [[BpeFunctions]]; reference analog: kukur has no tokenizer, this is
  * part of the LLM-pipeline surface graft adds).
  *
  * Architecture inverts the BPE trainer's: where BPE learns merges at
  * the driver from a bounded top-`vocabCap` dictionary, the unigram
  * E-step runs WHERE THE DATA LIVES — the corpus-sized distinct-word
  * frequency table never leaves the executors; each EM pass is one
  * scan applying [[graft.plans.UnigramEStep]] (forward-backward over
  * the word's segmentation lattice) plus one map-side-combined
  * aggregate down to a vocabulary-sized expected-count summary, and
  * only that summary (≤ seed size rows) reaches the driver for the
  * M-step renormalization. A vocabulary that only a 100 TB crawl
  * produces changes nothing in the plan shape.
  *
  * Determinism, per the SURVEY policy: per-word expected counts are
  * floor-scaled to 1e6 and multiplied by the exact word count in
  * DECIMAL(38,0) (no long overflow at any corpus size, order-independent
  * summation), so training is bit-reproducible under any partitioning;
  * driver-side ln goes through `StrictMath` and lands on the 6-decimal
  * grid before scaling into the model literal.
  *
  * Pruning is Kudo's leave-one-out loss: removing a piece forces its
  * expected-count mass through its best alternative segmentation, so
  * each round drops the multis whose `c_x · (logp_x − alt_x)` is
  * smallest — computed entirely on the vocab-sized driver state. The
  * one documented simplification vs Kudo 2018: seed scoring is
  * frequency·length over all substrings up to `maxPieceLen` (not the
  * suffix-array ESA score). Single-character pieces are never pruned,
  * so coverage of the training charset is total and OOV can only occur
  * on unseen data (where the tokenizer falls back to per-character
  * [[graft.plans.UnigramModel.OovLogp]] edges).
  */
object UnigramLm {

  /** A trained model: pieces in canonical (piece asc) order with
    * ln(p) on the 6-decimal grid scaled to ppm-of-nat longs, plus the
    * corpus log-likelihood after each EM update (for convergence
    * audits — EM guarantees it non-decreasing between prunes).
    */
  case class Model(pieces: Seq[(String, Long)], logliks: Seq[Double]) {
    def spec: String = UnigramLm.spec(pieces)
  }

  /** Wire encoding for the native expressions: `piece\u0001logpPpm`
    * entries joined by tabs (words never contain whitespace —
    * [[TextFunctions.words]] splits on it — and the trainer filters
    * control characters from pieces).
    */
  def spec(pieces: Seq[(String, Long)]): String =
    pieces.map { case (p, lp) => s"$p\u0001$lp" }.mkString("\t")

  /** Train a unigram LM of at most `vocabSize` pieces.
    *
    * @param emIters     EM updates per pruning round (and after the
    *                    final prune)
    * @param shrink      fraction of multi-char pieces kept per round
    * @param maxWordLen  training-lattice cap: words longer than this
    *                    (URLs, DNA soup) are excluded from TRAINING
    *                    only — `tokenize` still segments any length
    */
  def train(
      df: DataFrame,
      text: Column,
      vocabSize: Int = 1500,
      seedSize: Int = 6000,
      maxPieceLen: Int = 8,
      emIters: Int = 2,
      shrink: Double = 0.6,
      maxWordLen: Int = 64,
  ): Model = Materialize.scoped {
    require(vocabSize > 0 && seedSize >= vocabSize, "need seedSize >= vocabSize > 0")
    require(shrink > 0.0 && shrink < 1.0, "shrink must be in (0, 1)")
    val spark = df.sparkSession
    graft.plans.GraftFunctions.register(spark)

    // distinct-word frequency table: the E-step input for every pass —
    // pinned once, released by the scope
    // EXPLICIT repartition after the aggregate (spread() is blind here:
    // it reads the pre-adaptive partition count, 32, while AQE coalesces
    // the small post-shuffle word table to ONE partition at runtime and
    // localCheckpoint freezes that) — every subsequent EM scan (the
    // lattice-heavy hot loop, ~10 passes) would otherwise run
    // single-threaded. Caught by the vocab-scale probe.
    val wf = DedupFunctions
      .spread(df)
      .select(explode(TextFunctions.words(text)).as("w"))
      .where(length(col("w")) > 0 && length(col("w")) <= maxWordLen)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"))
      .repartition(spark.sparkContext.defaultParallelism)
      .transform(Materialize.pin)

    // EM-scan frame: the ~10 sequential passes of the prune loop each
    // run one job over the word table, so at bench scale (a few
    // thousand distinct words) every pass schedules 32 near-empty
    // tasks — pure scheduler overhead (guide §2.2: fewer, larger
    // tasks). ~5k words per task keeps a pass compact while the probe
    // cells (100k words, heavy lattices) still fan out; the E-step
    // aggregate is an order-independent sum, so the model is identical
    // on any partitioning. The seed scan below keeps the full spread
    // (its per-row substring explode is the heavy one-off).
    val wfRows = wf.count()
    val wfScan = wf.coalesce(math.max(1L, math.min(wfRows / 5000L + 1L, 10000L)).toInt)

    // ---- seed: all substrings up to maxPieceLen, scored freq·len ----
    val subs = wf
      .select(
        col("n"),
        explode(
          expr(
            s"flatten(transform(sequence(1, length(w)), i -> " +
              s"transform(sequence(i, least(length(w), i + ${maxPieceLen - 1})), j -> substring(w, i, j - i + 1))))"
          )
        ).as("p"),
      )
      .where(!col("p").rlike("[\\x00-\\x08\\x0e-\\x1f]")) // defensive: wire-format separators
      .groupBy(col("p"))
      .agg(sum(col("n")).as("cnt"))
      .withColumn("score", col("cnt") * length(col("p")))
      // same AQE-coalesce hazard as wf: both seed collects (chars +
      // TakeOrdered top-multis) scan this table — keep it parallel
      .repartition(spark.sparkContext.defaultParallelism)
      .transform(Materialize.pin)

    val chars: Array[(String, Long)] =
      subs.where(length(col("p")) === 1).select(col("p"), col("score")).collect().map(r => (r.getString(0), r.getLong(1)))
    require(chars.nonEmpty, "corpus has no trainable words")
    require(chars.length <= 50000, s"charset of ${chars.length} exceeds the single-piece budget")
    val multiBudget = math.max(0, seedSize - chars.length)
    val multis: Array[(String, Long)] = subs
      .where(length(col("p")) > 1)
      .orderBy(col("score").desc, col("p"))
      .limit(multiBudget)
      .select(col("p"), col("score"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    Materialize.release(subs)

    var pieces: Map[String, Double] = { // piece -> logp (driver grid happens at spec time)
      val all = chars ++ multis
      val total = all.map(_._2).sum.toDouble
      all.map { case (p, s) => p -> StrictMath.log(s / total) }.toMap
    }
    val charSet = chars.map(_._1).toSet
    // single chars are never pruned, so a charset > vocabSize could
    // never converge — the loop would burn its full 64 guarded rounds
    // (64*emIters EM scans) and silently return an oversized model.
    // Equality is fine: pruning reaches the all-chars model exactly.
    require(
      charSet.size <= vocabSize,
      s"vocabSize ($vocabSize) must cover the training charset (${charSet.size} distinct chars) — single-char pieces are never pruned",
    )
    val logliks = scala.collection.mutable.ArrayBuffer.empty[Double]

    def toGrid(logp: Map[String, Double]): Seq[(String, Long)] =
      logp.toSeq.sortBy(_._1).map { case (p, lp) =>
        // exact decimal path: round-to-grid then scale without ever
        // touching a double again (a double multiply can land 1 ulp
        // off the grid and floor() would amplify it to a full step)
        (p, (BigDecimal(lp).setScale(6, BigDecimal.RoundingMode.HALF_UP) * BigDecimal(1000000)).toLongExact)
      }

    // one EM pass: a single scan + one vocabulary-sized aggregate;
    // returns the updated model AND its expected counts (pruning
    // needs them for the leave-one-out loss)
    def emPass(current: Map[String, Double]): (Map[String, Double], Map[String, BigDecimal]) = {
      val lt = lit(spec(toGrid(current)))
      val summary = wfScan
        .select(col("n").cast(DecimalType(38, 0)).as("n"), call_function("graft_unigram_estep", col("w"), lt).as("e"))
        .select(col("n"), explode(col("e")).as("pc"))
        .select(
          col("pc.p").as("p"),
          (col("n") * floor(col("pc.c") * lit(1e6)).cast(DecimalType(38, 0))).as("c6"),
        )
        .groupBy(col("p"))
        .agg(sum(col("c6")).as("c6"))
        .collect()
      var loglik = 0.0
      val counts = scala.collection.mutable.HashMap.empty[String, BigDecimal]
      summary.foreach { r =>
        val p = r.getString(0)
        val c6 = BigDecimal(r.getDecimal(1))
        if (p == UnigramModel.LogZKey) loglik = (c6 / 1e6).toDouble
        else counts.put(p, c6)
      }
      logliks += loglik
      val kept = counts.toSeq.filter { case (p, c) => c > 0 || charSet(p) }
      val total = kept.map { case (_, c) => c.max(BigDecimal(1)) }.sum
      // single chars with zero expectation keep a 1-count floor so
      // coverage never collapses; dropped multis just leave the model
      val next = kept.map { case (p, c) => p -> StrictMath.log((c.max(BigDecimal(1)) / total).toDouble) }.toMap
      (next, kept.toMap)
    }

    /** Driver-side Viterbi score of `s` under `logp` with `piece`
      * excluded — the alternative-segmentation cost the leave-one-out
      * loss compares against. Single-char OOV fallback keeps every
      * string scorable.
      */
    // maxL is a property of the MODEL, not the candidate — computing
    // it inside altScore rescanned all |pieces| keys (with a
    // codePointCount each) once per pruning candidate: O(pieces²)
    // per round, ~2e9 calls at a 50 k seed. Hoisted to one scan per
    // prune call (caught by the vocab-scale probe: the driver, not
    // the executors, owned the wall time).
    def modelMaxLen(logp: Map[String, Double]): Int =
      logp.keysIterator.map(p => p.codePointCount(0, p.length)).maxOption.getOrElse(1)

    def altScore(s: String, logp: Map[String, Double], excluded: String, maxL: Int): Double = {
      val cps = graft.plans.UnigramModel.codePoints(s)
      val n = cps.length
      val best = Array.fill(n + 1)(Double.NegativeInfinity)
      best(0) = 0.0
      var j = 1
      while (j <= n) {
        var i = math.max(0, j - maxL)
        while (i < j) {
          if (best(i) != Double.NegativeInfinity) {
            val piece = cps.slice(i, j).mkString
            val lp =
              if (piece == excluded) Double.NegativeInfinity
              else logp.get(piece) match {
                case Some(v) => v
                case None => if (j - i == 1) graft.plans.UnigramModel.OovLogp else Double.NegativeInfinity
              }
            if (lp != Double.NegativeInfinity && best(i) + lp > best(j)) best(j) = best(i) + lp
          }
          i += 1
        }
        j += 1
      }
      best(n)
    }

    /** Kudo's leave-one-out pruning on the vocab-sized driver state:
      * removing piece x forces its expected-count mass through its
      * best ALTERNATIVE segmentation, so the likelihood loss is
      * c_x · (logp_x − altScore_x). Keep the highest-loss multis
      * (negative loss = removal is an improvement, those go first);
      * single chars are never pruned.
      */
    def prune(current: Map[String, Double], expCounts: Map[String, BigDecimal], target: Int): Map[String, Double] = {
      val multisNow = current.filterNot { case (p, _) => charSet(p) }.toSeq
      val keepMulti = math.max(0, target - (current.size - multisNow.size))
      val maxL = modelMaxLen(current)
      val kept = multisNow
        .map { case (p, lp) =>
          val c = expCounts.getOrElse(p, BigDecimal(0)).max(BigDecimal(0))
          val loss = (c / 1000000).toDouble * (lp - altScore(p, current, p, maxL))
          (p, lp, loss)
        }
        .sortBy { case (p, _, loss) => (-loss, p) }
        .take(keepMulti)
        .map { case (p, lp, _) => p -> lp }
      current.filter { case (p, _) => charSet(p) } ++ kept
    }

    var lastCounts: Map[String, BigDecimal] = Map.empty
    def emStep(): Unit = {
      val (next, counts) = emPass(pieces)
      pieces = next
      lastCounts = counts
    }
    var guard = 0
    while (pieces.size > vocabSize && guard < 64) {
      for (_ <- 1 to emIters) emStep()
      pieces = prune(pieces, lastCounts, math.max(vocabSize, math.ceil(pieces.size * shrink).toInt))
      guard += 1
    }
    for (_ <- 1 to emIters) emStep()

    Model(toGrid(pieces), logliks.toSeq)
  }

  /** Apply a trained model: adds `unigram_tokens` (array<string>) and
    * `n_unigram_tokens`. Pure per-row projection — no shuffle; the
    * model rides the plan as a literal.
    */
  def tokenize(df: DataFrame, text: Column, model: Model): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    df.withColumn("unigram_tokens", call_function("graft_unigram_tokenize", TextFunctions.words(text), lit(model.spec)))
      .withColumn("n_unigram_tokens", size(col("unigram_tokens")))
  }

  /** Model persistence, the bloomSketch precedent: a trained model as
    * a vocab-sized frame (one row per piece) the daily job writes once
    * — `model.toFrame(spark).write.parquet(path)` — and every later
    * tokenize loads in milliseconds instead of re-running EM over the
    * lake. Round trip is exact: logp is already on the ppm grid.
    */
  def modelToFrame(spark: org.apache.spark.sql.SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    model.pieces.toDF("piece", "logp_ppm")
  }

  def modelFromFrame(df: DataFrame): Model = {
    val pieces = df
      .select(col("piece"), col("logp_ppm").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
      .toSeq
    require(pieces.nonEmpty, "empty unigram model frame")
    Model(pieces, Seq.empty)
  }

  /** Subword regularization (Kudo 2018 §3): SAMPLE a segmentation from
    * P(seg) ∝ Π p(piece)^alpha per word instead of taking Viterbi —
    * the data-augmentation mode the paper is named for. `seed` is a
    * per-row long expression (e.g. `xxhash64($"doc_id", lit(epoch))`):
    * sampling is a pure function of (row seed, model), so the "random"
    * augmentation is reproducible on any partitioning and retry, and a
    * new epoch seed redraws it. Adds `unigram_sampled_tokens` and
    * `n_unigram_sampled_tokens`; still a pure per-row projection.
    */
  def tokenizeSampled(df: DataFrame, text: Column, model: Model, seed: Column, alpha: Double = 1.0): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    df.withColumn(
      "unigram_sampled_tokens",
      call_function("graft_unigram_sample", TextFunctions.words(text), lit(model.spec), lit(alpha), seed.cast("long")),
    ).withColumn("n_unigram_sampled_tokens", size(col("unigram_sampled_tokens")))
  }
}
