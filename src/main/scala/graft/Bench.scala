package graft

import org.apache.spark.sql.SparkSession

import graft.functions.Materialize

/** Benchmark entry: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are fully materialized through the
  * `noop` sink so the measurement covers the whole plan (a bare count()
  * would let Spark skip column evaluation).
  *
  * Output contract: the harness captures only the LAST ~2 kB of stdout
  * and parses the first `{"metric"…}` line it finds there, and sbt
  * appends its own `[success]` line after ours. So we emit (a) the
  * full-precision JSON with every query — parseable whenever the suite
  * is small enough to fit the window, (b) the same JSON to
  * `target/bench.json` for local tooling, and (c) a compact summary
  * line LAST (total + slowest ten), which always fits the window even
  * when (a) outgrows it. The truncated remnant of (a) cannot contain a
  * `{"metric"` prefix, so a first-match parser falls through to (c).
  */
object Bench {
  /** Headline queries; every key must exist in SparkEntry.queries. */
  private val headline = Seq(
    "q1_agg",
    "ts_plot_data",
    "ts_get_data_multi",
    "ts_metadata_agg",
    "ts_latest",
    "ts_search",
  )

  /** 1-minute load average from /proc/loadavg, or -1 when unreadable
    * (non-Linux). Stamped into the JSON so a measurement taken on a
    * busy box is identifiable as such — BENCH_r05 recorded 5–100×
    * true query cost and nothing in the artifact could show why.
    */
  private def loadAvg1(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Cumulative hypervisor steal time in jiffies (field 8 of the
    * aggregate cpu line in /proc/stat), or -1 when unreadable. A
    * noisy-neighbor host slows every task without showing up in
    * loadavg or Spark logs; the per-query delta makes a stolen
    * measurement window identifiable.
    */
  private def stealJiffies(): Long =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
      .linesIterator.next().trim.split("\\s+")(8).toLong
    catch { case _: Exception => -1L }

  /** One timed execution of a query, with the shares of its window
    * eaten by GC pauses and by hypervisor steal. A run is "dirty" when
    * the window was dominated by something other than the plan: a JVM
    * GC storm (G1 humongous-fragmentation class — 10–100× multipliers
    * with nothing in Spark logs) or a noisy-neighbor steal burst.
    */
  private[graft] case class Run(elapsed: Double, gcSec: Double, stealPct: Double) {
    def dirty: Boolean = (elapsed > 1.0 && gcSec > 0.3 * elapsed) || stealPct > 3.0
  }

  /** Point estimate for a query: median of the clean runs when any
    * exist; otherwise the median of all runs, flagged `allDirty = true`
    * so the artifact indicts the measurement instead of letting it
    * read as a plan regression. Any failed run (-1) poisons the query
    * to -1 — a broken query must never masquerade as a fast pass.
    */
  private[graft] def pick(runs: Seq[Run]): (Double, Boolean) = {
    def median(ts: Seq[Double]): Double = ts.sorted.apply(ts.size / 2)
    val clean = runs.filter(r => r.elapsed >= 0 && !r.dirty)
    if (runs.exists(_.elapsed < 0)) (-1.0, false)
    else if (clean.nonEmpty) (median(clean.map(_.elapsed)), false)
    else (median(runs.map(_.elapsed)), true)
  }

  /** Scale-probe queries: the dedup/corpus headliners whose 100 TB
    * story rests on plan-shape arguments — measured at 1×/3×/10× the
    * bench corpus so the claims get empirical backing. The naive
    * Σdf² Jaccard join is IN deliberately, as the negative control:
    * its per-row cost should grow with the factor (hot stopword/
    * boilerplate shingles have df ∝ corpus size) while the
    * prefix-filtered plan and everything downstream of it stays
    * near-linear.
    */
  private val scaleQueries = Seq(
    "dedup_ngram_jaccard", // naive Σdf² — the negative control
    "dedup_jaccard_prefix",
    "dedup_groups",
    "dedup_substring_char",
    "dedup_cdc_chunks",
    "dedup_paragraph",
    "text_bigram_lm",
    "text_lm_kn", // KN: same stream, one extra type-table agg + one extra zipf join — must track text_bigram_lm
    "text_lm_gate", // C31 joins + bounded bucket histogram: the gate must add O(1) over the score
    "corpus_shuffle_shards", // two-level rank: hash + tiny offsets frame + bucketed window — must stay linear
    "text_bpe",
    "text_unigram", // EM scans of the distinct-word table: per-pass cost linear in vocabulary, not corpus
    "pipeline_clean_corpus",
    "corpus_mixture_apply",
    "corpus_dsir_select", // explode → bounded-key aggs + broadcast: must stay linear
    "text_ngram_novelty", // gram-df Zipf-split join: novel tail has fanout 1 — must stay linear
    "corpus_curriculum", // bounded-histogram ranking + tie windows: n log n sort, never a stratum-sized partition
    // time-series headliners over the series-space-scaled events table
    // (per-series point counts constant across factors — see
    // ScaleGen.ensureEvents): all UNFILTERED across series/users, so
    // total work scales with the factor and per-row cost should not.
    // (ts_moving_avg/ts_derivative filter to one literal series and
    // would measure only scan+filter growth — excluded.)
    "ts_resample_linear",
    "ts_plot_data",
    "ts_ohlc",
    "ts_latest",
    "q_events_sessionize",
    // embeddings family over the cyclic-shift-sharded vector lake
    // (ScaleGen.ensureEmbeddings) — the strictly-linear members only:
    // fixed Lloyd passes (prune), one agg (dim stats), two passes
    // (quantize). The quadratic members (cosine pairs, knn label
    // noise) are definitionally O(n2) exact baselines with documented
    // bucketed/cell-scoped scale duals — probing them would measure
    // the definition, not the plan.
    "emb_prototype_prune",
    "emb_dim_stats",
    "embedding_quantize",
  )
  /** Default 1×/3×/10×; SPARK_GRAFT_SCALE_FACTORS="10,30" and
    * SPARK_GRAFT_SCALE_QUERIES="dedup_groups,..." override for one-off
    * deeper probes (e.g. 30× without the quadratic negative control).
    */
  private def scaleFactors: Seq[Int] =
    sys.env.get("SPARK_GRAFT_SCALE_FACTORS").map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 3, 10))
  private def scaleQueriesEff: Seq[String] =
    sys.env.get("SPARK_GRAFT_SCALE_QUERIES").map(_.split(",").map(_.trim).toSeq).getOrElse(scaleQueries)

  /** Deep probe tier: another decade of scale (30×/100× = 150 k/500 k
    * docs on the bench corpus) for the strictly-linear dedup family
    * ONLY — no quadratic negative control (naive Jaccard at 100×
    * would dominate the whole bench), no iterative CC (dedup_groups'
    * round count is its own variable). These four are one-to-two-pass
    * plans whose per-doc cost must keep FALLING for the 100 TB
    * claims to hold; a flat or rising tail here is a real finding.
    * SPARK_GRAFT_SCALE_DEEP_FACTORS="" disables the tier.
    */
  private val scaleDeepQueries = Seq(
    "dedup_jaccard_prefix",
    "dedup_paragraph",
    "dedup_cdc_chunks",
    "corpus_mixture_apply",
  )
  private def scaleDeepFactors: Seq[Int] =
    sys.env
      .get("SPARK_GRAFT_SCALE_DEEP_FACTORS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq)
      .getOrElse(Seq(30, 100))

  /** Runs the scale probe and returns its JSON fragment (or "null" on
    * any setup failure — the probe must never take the main bench
    * down). One timed run per cell: the probe's signal is the GROWTH
    * of per-row cost across factors within a single session, which
    * box-speed noise mostly cancels; the main suite keeps the
    * median-of-clean machinery for point estimates.
    */
  private[graft] def runScaleProbe(spark: SparkSession, baseDir: String): String =
    try {
      // MIN of two timed runs per cell: the probe's signal is a growth
      // curve, and host contamination (steal/memory-bandwidth bursts
      // that GC/steal metrics cannot always see) is strictly ADDITIVE —
      // the min is the best available estimate of true plan cost, and
      // one burst can no longer fake a super-linear tail. Each cell
      // stamps the 1-min loadavg at its start so a cell measured under
      // load indicts itself in the artifact.
      val baseParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      def probeCells(factors: Seq[Int], queries: Seq[String], withEvents: Boolean): Seq[(Int, Long, Double, Int, Seq[(String, Double)])] =
        factors.map { f =>
          val dir = graft.tools.ScaleGen.ensure(spark, baseDir, f, "target/scale")
          if (withEvents) graft.tools.ScaleGen.ensureEvents(spark, baseDir, f, "target/scale")
          if (withEvents && queries.exists(q => q.startsWith("emb_") || q.startsWith("embedding")))
            graft.tools.ScaleGen.ensureEmbeddings(spark, baseDir, f, "target/scale")
          val docs = spark.read.parquet(s"$dir/documents.parquet").count()
          val cellLoad = loadAvg1()
          // reducers scale with the data beyond the base decade, the
          // way a real cluster's do — measured 2.2-4.6x on the x100
          // shuffle cells (32 reducers spill 50 M-row shuffles; 32*f/10
          // fit). SPARK_GRAFT_SCALE_FIXED_PARTS=1 pins 32 for
          // config-isolated curves.
          val fixedParts =
            sys.env.get("SPARK_GRAFT_SCALE_FIXED_PARTS").exists(v => v.nonEmpty && v != "0")
          val parts =
            if (fixedParts || f <= 10) baseParts
            else baseParts * f / 10
          spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
          val qs = queries.map { name =>
            def oneRun(): Double = {
              val t0 = System.nanoTime()
              val ok =
                try { SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save(); true }
                catch {
                  case e: Throwable =>
                    System.err.println(s"[bench/scale] FAILED $name@x$f: ${e.getClass.getSimpleName}: ${e.getMessage}")
                    false
                }
              val el = (System.nanoTime() - t0) / 1e9
              Materialize.releaseAll(spark)
              if (ok) el else -1.0
            }
            val runs = Seq(oneRun(), oneRun())
            val v = if (runs.exists(_ < 0)) -1.0 else math.round(runs.min * 1000) / 1000.0
            System.err.println(f"[bench/scale] x$f%-3d $name%-24s $v%8.3f s  (runs: ${runs.map(r => f"$r%.2f").mkString(", ")})")
            name -> v
          }
          spark.conf.set("spark.sql.shuffle.partitions", baseParts.toString)
          (f, docs, cellLoad, parts, qs)
        }
      // standard tier (with the quadratic negative control + ts family),
      // then the deep linear-only tier another decade out
      val cells = probeCells(scaleFactors, scaleQueriesEff, withEvents = true) ++
        probeCells(scaleDeepFactors, scaleDeepQueries, withEvents = false)
      cells
        .map { case (f, docs, cellLoad, parts, qs) =>
          val qj = qs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
          s"""{"factor":$f,"docs":$docs,"load":$cellLoad,"shuffle_partitions":$parts,"queries":$qj}"""
        }
        .mkString("[", ",", "]")
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench/scale] scale probe skipped: ${e.getClass.getSimpleName}: ${e.getMessage}")
        "null"
    }

  /** nCells for the IVF family at `n` vectors: ∝ √N anchored at the
    * bench corpus (16 cells at 2000 vectors), the classical IVF
    * operating point the operator docs promise
    * (VectorFunctions.knnLabelNoiseCells). Probe scans then grow as
    * √N per query instead of N.
    */
  private[graft] def annCellCount(n: Long): Int =
    math.max(16, math.round(16.0 * math.sqrt(n / 2000.0)).toInt)

  /** ANN-trainer scale probe — the bench top-10 family, measured
    * across decades with the quantizer sized the way a real deployment
    * would size it (nCells ∝ √N, nProbe fixed). Every curve the 100 TB
    * claims rest on is IN: the three trainer-backed indexes (IVF / PQ
    * / IVF-PQ), both cell-scoped duals, and their exact forms — the
    * exhaustive kNN audit only through x10 (its N² definition is the
    * thing the dual exists to avoid; at x10 it already scans 4×10⁸
    * pairs) — so the artifact records the exact-vs-dual crossover
    * instead of arguing it in comments. Min-of-2 per cell, per-cell
    * loadavg stamped, same rationale as [[runScaleProbe]].
    * SPARK_GRAFT_ANN_PROBE=0 disables; SPARK_GRAFT_ANN_FACTORS
    * overrides the decade ladder.
    */
  private[graft] def runAnnScaleProbe(spark: SparkSession, baseDir: String): String =
    try {
      import org.apache.spark.sql.functions.col
      import graft.functions.VectorFunctions
      val factors = sys.env
        .get("SPARK_GRAFT_ANN_FACTORS")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq)
        .getOrElse(Seq(1, 3, 10, 30))
      factors.map { f =>
        val dir = graft.tools.ScaleGen.ensureEmbeddings(spark, baseDir, f, "target/scale")
        def emb() = Tables.embeddings(spark, dir)
        val n = emb().count()
        val cells = annCellCount(n)
        val cellLoad = loadAvg1()
        val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
          "sim_ivf_ann" -> (() => VectorFunctions.ivfAnn(emb(), k = 5, nCells = cells, nProbe = 4)),
          "sim_pq_ann" -> (() => { val e = emb(); VectorFunctions.pqAnn(e, e.orderBy("vec_id").limit(20), k = 5) }),
          "sim_ivfpq_ann" -> (() => {
            val e = emb(); VectorFunctions.ivfPqAnn(e, e.orderBy("vec_id").limit(20), k = 5, nCells = cells, nProbe = 4)
          }),
          "emb_knn_label_noise_cells" ->
            (() => VectorFunctions.knnLabelNoiseCells(emb(), k = 10, nCells = cells, nProbe = 4)),
          "emb_hard_negatives_ivf" -> (() => {
            val e = emb(); VectorFunctions.hardNegativesIvf(e.where(col("vec_id") < 5), e, k = 10, nCells = cells, nProbe = 4)
          }),
          // exact forms, for the crossover: hard negatives is 5 queries
          // × N (linear — rides every factor); the kNN audit is N² by
          // definition and stops at x10
          "emb_hard_negatives" -> (() => {
            val e = emb(); VectorFunctions.hardNegatives(e.where(col("vec_id") < 5), e, k = 10)
          }),
        ) ++ (if (f <= 10) Seq("emb_knn_label_noise" -> (() => VectorFunctions.knnLabelNoise(emb(), k = 10))) else Nil)
        val qs = ops.map { case (name, mk) =>
          def oneRun(): Double = {
            val t0 = System.nanoTime()
            val ok =
              try { mk().write.format("noop").mode("overwrite").save(); true }
              catch {
                case e: Throwable =>
                  System.err.println(s"[bench/ann] FAILED $name@x$f: ${e.getClass.getSimpleName}: ${e.getMessage}")
                  false
              }
            val el = (System.nanoTime() - t0) / 1e9
            Materialize.releaseAll(spark)
            if (ok) el else -1.0
          }
          // the N² exact audit at x10 runs ONCE: it costs ~2 min alone
          // and its role is the order-of-magnitude crossover reading,
          // not a tight point estimate
          val nRuns = if (name == "emb_knn_label_noise" && f >= 10) 1 else 2
          val runs = (1 to nRuns).map(_ => oneRun())
          val v = if (runs.exists(_ < 0)) -1.0 else math.round(runs.min * 1000) / 1000.0
          System.err.println(f"[bench/ann] x$f%-3d $name%-28s $v%8.3f s  (cells $cells, runs: ${runs.map(r => f"$r%.2f").mkString(", ")})")
          name -> v
        }
        val qj = qs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
        s"""{"factor":$f,"vectors":$n,"n_cells":$cells,"load":$cellLoad,"queries":$qj}"""
      }.mkString("[", ",", "]")
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench/ann] ann probe skipped: ${e.getClass.getSimpleName}: ${e.getMessage}")
        "null"
    }

  /** Vocabulary-scale probe for the unigram-LM trainer: its EM
    * collects are VOCAB-sized (piece-count rows reach the driver per
    * pass, never corpus rows), so cost must track vocabulary, not
    * corpus size — this measures exactly that, at seed vocabularies
    * far beyond the main suite's toy fixture. Each cell synthesizes a
    * corpus with ~`targetVocab` distinct words (deterministic hash
    * word ids, tokens ≈ 5× vocab so most ids are realized), trains
    * with a 50k+ seed, and stamps the driver-frame sizes (distinct
    * words, seed, final pieces) next to per-pass wall time.
    * SPARK_GRAFT_VOCAB_PROBE=0 disables.
    */
  private[graft] def runVocabProbe(spark: SparkSession): String =
    try {
      // (target distinct words, seedSize, vocabSize). All three cells
      // run in ~30 s since the O(pieces²) prune fix this probe caught;
      // SPARK_GRAFT_VOCAB_CELLS="words:seed:vocab,..." overrides for
      // one-off experiments.
      val cells = sys.env.get("SPARK_GRAFT_VOCAB_CELLS") match {
        case Some(spec) if spec.nonEmpty && spec != "full" =>
          spec.split(",").toSeq.map { c =>
            val Array(v, s, k) = c.split(":").map(_.trim.toInt)
            (v, s, k)
          }
        case _ => Seq((10000, 50000, 4000), (30000, 60000, 8000), (100000, 80000, 16000))
      }
      cells
        .map { case (v, seed, vocab) =>
          val nDocs = v / 10
          val docs = spark
            .range(nDocs.toLong)
            .select(
              org.apache.spark.sql.functions.col("id").as("doc_id"),
              org.apache.spark.sql.functions
                .expr(s"concat_ws(' ', transform(sequence(1, 50), i -> concat('w', pmod(hash(id, i), $v))))")
                .as("text"),
            )
            .repartition(32)
          val distinctWords = docs
            .select(org.apache.spark.sql.functions.explode(org.apache.spark.sql.functions.split(org.apache.spark.sql.functions.col("text"), " ")).as("w"))
            .distinct()
            .count()
          val load = loadAvg1()
          val t0 = System.nanoTime()
          val model = graft.functions.UnigramLm
            .train(docs, org.apache.spark.sql.functions.col("text"), vocabSize = vocab, seedSize = seed, emIters = 1)
          val sec = (System.nanoTime() - t0) / 1e9
          val passes = math.max(1, model.logliks.size)
          val perPass = math.round(sec / passes * 1000) / 1000.0
          System.err.println(
            f"[bench/vocab] V=$v%-7d words=$distinctWords%-7d seed=$seed vocab=$vocab pieces=${model.pieces.size} " +
              f"passes=$passes total=$sec%.1f s per-pass=$perPass%.3f s (load $load%.1f)"
          )
          s"""{"target_vocab":$v,"distinct_words":$distinctWords,"seed_size":$seed,"vocab_size":$vocab,""" +
            s""""model_pieces":${model.pieces.size},"em_passes":$passes,"total_sec":${math.round(sec * 1000) / 1000.0},""" +
            s""""per_pass_sec":$perPass,"load":$load}"""
        }
        .mkString("[", ",", "]")
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench/vocab] vocab probe skipped: ${e.getClass.getSimpleName}: ${e.getMessage}")
        "null"
    }

  /** Prior-round quiet-box anchor: per-query medians from the last
    * committed clean run (tools/bench_anchor.json, or
    * SPARK_GRAFT_BENCH_ANCHOR). BENCH_r10's driver run read 2× slow on
    * the PQ family under load 7.7→22.2 for UNCHANGED code — without a
    * reference the artifact cannot distinguish a real regression from
    * box contention, which will eventually hide a real one.
    */
  private[graft] def loadAnchor(
      path: String = sys.env.getOrElse("SPARK_GRAFT_BENCH_ANCHOR", "tools/bench_anchor.json")
  ): Map[String, Double] =
    try {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(java.nio.file.Files.readString(p))
        val qs = node.get("queries")
        if (qs == null) Map.empty
        else {
          import scala.jdk.CollectionConverters._
          qs.fields().asScala.map(e => e.getKey -> e.getValue.asDouble(-1.0)).toMap
        }
      }
    } catch { case _: Exception => Map.empty }

  /** Which queries earn a tail re-measure. Regression-driven when an
    * anchor exists: any top-N query reading >1.5× its quiet anchor
    * gets re-timed at the tail — a contention burst won't reproduce,
    * a real regression will, and the artifact stamps both readings.
    * Without an anchor the rule degrades to "re-measure the top N
    * when the box was busy at start".
    */
  private[graft] def requeueSet(
      results: Seq[(String, Double)],
      anchor: Map[String, Double],
      contended: Boolean,
      topN: Int = 10,
  ): Seq[String] = {
    val top = results.filter(_._2 >= 0).sortBy(-_._2).take(topN)
    val regressed = top.collect { case (n, v) if anchor.get(n).exists(a => a > 0 && v > 1.5 * a) => n }
    if (regressed.nonEmpty) regressed
    else if (contended && anchor.isEmpty) top.map(_._1)
    else Nil
  }

  /** Cumulative JVM GC pause milliseconds across all collectors. A
    * G1 full-GC storm (humongous-fragmentation class) multiplies a
    * query's wall time 10–100× with nothing in Spark's own logs; the
    * per-query delta attributes that time to the collector instead of
    * letting it masquerade as plan cost.
    */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val loadStart = loadAvg1()
    val hostCpus = Runtime.getRuntime.availableProcessors()
    if (loadStart > hostCpus / 4.0)
      System.err.println(
        f"[bench] WARNING: box is busy at start (1-min load $loadStart%.2f > $hostCpus cpus / 4) — timings will overstate query cost"
      )
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftOptimizations.install(spark)
    // Optional query-name args: bench only that subset (profiling aid;
    // the driver passes none and gets the full suite). An unknown name,
    // or a headline query missing from the registry, exits 2.
    val unknown = (args.toSeq ++ headline).filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] ERROR: unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val names =
      if (args.nonEmpty) args.toSeq
      else headline ++ SparkEntry.queries.keys.filterNot(headline.contains).toSeq.sorted
    // Untimed warmup at the smallest SF: JIT-compiles every plan shape
    // (first execution of interpreted HOF paths costs ~15s of JVM
    // warmup that a long-running cluster never sees per-query).
    val warmDir = "/root/testdata/sf0.001"
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] warmup failed for $name: ${e.getMessage}") }
      Materialize.releaseAll(spark)
    }
    // Median of three timed runs: single-run timings on this box wobble
    // 2–4× on identical plans (q_events_window_agg r3↔r4), and min-of-2
    // still inherits one outlier when both runs land hot or cold. The
    // median is the standard robust point estimate at n=3. A failed run
    // is reported as -1, never as its elapsed time — a broken query
    // must not masquerade as a fast pass.
    val runsPerQuery = 3
    def timeOnce(name: String): Run = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime(); val gc0 = gcMillis(); val st0 = stealJiffies()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] FAILED $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
            false
        }
      // capture the elapsed time BEFORE cache teardown — releasing a
      // query's cached frames is bookkeeping, not query latency
      val elapsed = (System.nanoTime() - t0) / 1e9
      val gcSec = (gcMillis() - gc0) / 1e3
      val stealPct =
        if (st0 < 0) 0.0
        else 100.0 * ((stealJiffies() - st0) / 100.0) / math.max(elapsed * hostCpus, 1e-9)
      // Release per-query cached frames (dedup shingle indexes etc.).
      // Leaving them resident starves later queries of execution
      // memory — r02 showed 10–30× slowdowns. The sweep covers pinned
      // RDDs too (they live at the RDD layer, not in CacheManager):
      // dedup_groups / clean_corpus each return their pinned
      // final-round labels, and leaving them to ContextCleaner made the
      // next query (q5_multijoin) 4× slower in r04.
      Materialize.releaseAll(spark)
      if (ok) Run(elapsed, gcSec, stealPct) else Run(-1.0, gcSec, stealPct)
    }
    var dirtyQueries = List.empty[String]
    val results = names.map { name =>
      // Host-contention bursts on this box last ~1–2 min and can cover
      // all three runs of one query; two bounded retries rescue the
      // measurement when the burst ends mid-query instead of flagging
      // a perfectly healthy plan. First clean retry ends the rescue.
      var runs = (1 to runsPerQuery).map(_ => timeOnce(name))
      var retries = 2
      while (retries > 0 && runs.forall(_.dirty) && !runs.exists(_.elapsed < 0)) {
        runs :+= timeOnce(name)
        retries -= 1
      }
      val (best, allDirty) = pick(runs)
      if (allDirty) dirtyQueries ::= name
      val detail = runs
        .map(r => f"${r.elapsed}%.3f" + (if (r.dirty) f" (gc ${r.gcSec}%.1f s, steal ${r.stealPct}%.0f%%)" else ""))
        .mkString(", ")
      System.err.println(f"[bench] $name%-28s $best%8.3f s  (runs: $detail)")
      name -> best
    }
    // failed count goes INTO the JSON: a query regressing to -1 must
    // not read as a faster total to a consumer comparing across rounds
    val failed = results.count(_._2 < 0)
    if (failed > 0) System.err.println(s"[bench] $failed queries FAILED (reported as -1)")
    // Empirical scale probe (1×/3×/10× corpus) — skipped in subset/
    // profiling mode and via SPARK_GRAFT_SCALE=0; inside the loadavg
    // bracket so a contaminated window stays identifiable.
    val scaleJson =
      if (args.nonEmpty || sys.env.get("SPARK_GRAFT_SCALE").contains("0")) "null"
      else runScaleProbe(spark, sfDir)
    // unigram-LM vocab-scale cells (driver-collect sizes stamped) —
    // full JSON line only, like the scale section
    val vocabJson =
      if (args.nonEmpty || sys.env.get("SPARK_GRAFT_SCALE").contains("0") ||
        sys.env.get("SPARK_GRAFT_VOCAB_PROBE").contains("0")) "null"
      else runVocabProbe(spark)
    // ANN-trainer decade cells (nCells ∝ √N) — full JSON line only
    val annJson =
      if (args.nonEmpty || sys.env.get("SPARK_GRAFT_SCALE").contains("0") ||
        sys.env.get("SPARK_GRAFT_ANN_PROBE").contains("0")) "null"
      else runAnnScaleProbe(spark, sfDir)
    // ---- Load-robust tail re-measure (skipped in subset mode): any
    // top-10 query reading >1.5× its quiet anchor gets re-timed NOW,
    // after the box has had the probe window to settle. Contention is
    // additive and won't reproduce at the tail; a real plan regression
    // will. Both readings are stamped so the artifact itself shows
    // which one this was (BENCH_r10: the PQ family read 2× under load
    // 7.7→22.2 for unchanged code and the artifact could not say so).
    val anchor = loadAnchor()
    val contended = loadStart > hostCpus / 8.0
    val requeue = if (args.nonEmpty) Nil else requeueSet(results, anchor, contended)
    val remeasured: Map[String, Double] = requeue.map { name =>
      val runs = Seq(timeOnce(name), timeOnce(name))
      val tail = if (runs.exists(_.elapsed < 0)) -1.0 else math.round(runs.map(_.elapsed).min * 1000) / 1000.0
      val a = anchor.getOrElse(name, -1.0)
      System.err.println(f"[bench] re-measure $name%-24s first ${results.toMap.apply(name)}%.3f s -> tail $tail%.3f s (anchor $a%.3f)")
      name -> tail
    }.toMap
    // The headline value for a re-measured query is the MIN of the two
    // readings: contention only ever inflates, so the smaller reading
    // is the better estimate of plan cost — same argument as the scale
    // probe's min-of-2.
    val finalResults = results.map { case (n, v) =>
      n -> (remeasured.get(n) match {
        case Some(t) if t >= 0 && t < v => t
        case _ => v
      })
    }
    val total = finalResults.map(_._2).filter(_ >= 0).sum
    val remeasureJson =
      if (remeasured.isEmpty) "null"
      else requeue.map { n =>
        val a = anchor.get(n).map(_.toString).getOrElse("null")
        s""""$n":{"first":${results.toMap.apply(n)},"tail":${remeasured(n)},"anchor":$a}"""
      }.mkString("{", ",", "}")
    val loadEnd = loadAvg1()
    def dirtyList(names: Seq[String]) = names.map("\"" + _ + "\"").mkString("[", ",", "]")
    // dirty_n is the TRUE count: the tail line caps the dirty name
    // list at 10 (to fit the harness capture), so the count travels
    // separately and a truncated list can never understate the damage
    def jsonLine(rs: Seq[(String, Double)], scale: String, vocab: String, ann: String, dirty: String, remeasure: String): String = {
      val qs = rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"load_start":$loadStart,"load_end":$loadEnd,"host_cpus":$hostCpus,"contended":$contended,"remeasured_n":${remeasured.size},"remeasure":$remeasure,"dirty_n":${dirtyQueries.length},"dirty":$dirty,"scale":$scale,"vocab_probe":$vocab,"ann_scale":$ann,"queries":$qs,"sf":"$sfDir"}"""
    }
    val full = jsonLine(finalResults, scaleJson, vocabJson, annJson, dirtyList(dirtyQueries.sorted), remeasureJson)
    println(full)
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get("target/bench.json"), full + "\n")
    } catch { case e: Exception => System.err.println(s"[bench] could not write target/bench.json: ${e.getMessage}") }
    // The LAST line must fit the harness's ~2 kB tail capture even with
    // the scale probe on: top-10 queries only and "scale":null (round 7
    // shipped the full scale section here, overflowed the window, and
    // the driver recorded parsed:null). Full detail lives in line (a)
    // and target/bench.json.
    val slowest = finalResults.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v) => k -> (math.round(v * 1000) / 1000.0) }
    println(jsonLine(slowest, "null", "null", "null", dirtyList(dirtyQueries.sorted.take(10)), "null"))
    spark.stop()
  }
}
