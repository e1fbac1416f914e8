package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CorpusFunctions, DedupFunctions}

/** Plan-shape guards for the Zipf-split join that word_rarity and
  * bigram_lm ride on, and for the conditional spread() repartition —
  * the two 100 TB plan-hygiene invariants of the corpus operators.
  * Auto-broadcast is disabled inside each test so the only broadcast
  * that can appear is the explicit hint on the hot arm.
  */
class ZipfJoinPlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Final adaptive plan only — the Initial Plan section repeats every
    * exchange without reuse markers and must not be matched against.
    */
  private def finalPlan(df: DataFrame): String = {
    df.collect() // AQE reuse is only visible in the executed final plan
    val s = df.queryExecution.executedPlan.toString
    val cut = s.indexOf("== Initial Plan ==")
    if (cut >= 0) s.substring(0, cut) else s
  }

  private def countMatches(plan: String, pattern: String): Int =
    pattern.r.findAllMatchIn(plan).length

  private def withoutAutoBroadcast[A](body: => A): A = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  private def toksFreq(): (DataFrame, DataFrame) = {
    // 'the' is hot (200 occurrences >= hotMin 100), w$i are tail
    val toks = (1 to 200).flatMap(i => Seq((i.toLong, "the"), (i.toLong, s"w$i"))).toDF("doc_id", "w")
    (toks, toks.groupBy(col("w")).agg(count(lit(1)).as("cf")))
  }

  test("zipfSplitJoin (word_rarity shape): hot arm broadcasts, tail arm shuffles without broadcast") {
    withoutAutoBroadcast {
      val (toks, freq) = toksFreq()
      val plan = finalPlan(CorpusFunctions.zipfSplitJoin(toks, freq, Seq("w"), "cf", 100L))
      // hot keys reach the probe by broadcast: the inner join of arm 1
      assert(plan.contains("BroadcastHashJoin"), plan)
      // exactly ONE materialized broadcast (the >= hotMin hint); the
      // tail arm's null-probe reuses it rather than rebuilding
      assert(countMatches(plan, """\+\- BroadcastExchange""") == 1, plan)
      // the tail arm is a genuine shuffle join on the cold keys
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert(plan.contains("Exchange hashpartitioning"), plan)
      // the freq aggregate's shuffle dedups across the two arms
      assert(plan.contains("ReusedExchange"), plan)
    }
  }

  test("nested zipfSplitJoin (bigram_lm shape): every duplicated exchange is reused, one broadcast total per freq table") {
    withoutAutoBroadcast {
      val (toks, freq) = toksFreq()
      val freq2 = toks.groupBy(col("w")).agg(count(lit(1)).as("c2"))
      val nested = CorpusFunctions.zipfSplitJoin(
        CorpusFunctions.zipfSplitJoin(toks, freq, Seq("w"), "cf", 100L),
        freq2,
        Seq("w"),
        "c2",
        100L,
      )
      val plan = finalPlan(nested)
      // the inner union is instantiated in both outer arms, but NO
      // shuffle or broadcast runs twice: re-evaluation is narrow only
      assert(countMatches(plan, """\+\- BroadcastExchange""") == 1, plan)
      assert(countMatches(plan, "ReusedExchange") >= 4, plan)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
    }
  }

  test("zipfSplitJoinLeft: left semantics survive misses, hot arm broadcasts, tail arm shuffles") {
    withoutAutoBroadcast {
      val (toks, freq) = toksFreq()
      // probe rows whose keys miss the freq table entirely
      val probe = toks.unionByName(Seq((9001L, "unseen1"), (9002L, "unseen2")).toDF("doc_id", "w"))
      val joined = CorpusFunctions.zipfSplitJoin(probe, freq, Seq("w"), "cf", 100L, tailJoin = "left")
      val plan = finalPlan(joined)
      // same split shape as the inner form: one broadcast (hot hint),
      // a genuine shuffle join for the tail, exchanges reused
      assert(countMatches(plan, """\+\- BroadcastExchange""") == 1, plan)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert(plan.contains("ReusedExchange"), plan)
      // LEFT semantics: every probe row survives; misses carry null
      assert(joined.count() == probe.count())
      val misses = joined.where(col("w").startsWith("unseen")).collect()
      assert(misses.length == 2 && misses.forall(_.isNullAt(misses.head.fieldIndex("cf"))))
      // and matched rows carry the exact counts of the inner form
      val inner = CorpusFunctions.zipfSplitJoin(toks, freq, Seq("w"), "cf", 100L)
      assert(
        joined.where(col("cf").isNotNull).orderBy("doc_id", "w").collect().toSeq ==
          inner.orderBy("doc_id", "w").collect().toSeq
      )
    }
  }

  test("spread() is conditional: already-parallel inputs pass through with no repartition Exchange") {
    val par = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 1000, 1, par + 2).selectExpr("id AS doc_id", "concat('w', id % 7, ' x y') AS text", "'en' AS lang")
    // pass-through: spread returns the very same frame, no new plan node
    assert(DedupFunctions.spread(wide) eq wide)
    // and a corpus operator over it plans no round-robin repartition
    val plan = CorpusFunctions.corpusStats(wide, col("lang"), col("text")).queryExecution.executedPlan.toString
    assert(!plan.contains("RoundRobinPartitioning"), plan)
    // the one-file-one-partition rescue still fires for narrow inputs
    val narrow = wide.coalesce(1)
    val planNarrow = CorpusFunctions.corpusStats(narrow, col("lang"), col("text")).queryExecution.executedPlan.toString
    assert(planNarrow.contains("RoundRobinPartitioning"), planNarrow)
  }

  test("corpusStats approx percentiles stay within 10% of exact at identical schema") {
    val docs = (1 to 500).map(i => (i.toLong, ("w " * (i % 97 + 3)).trim, if (i % 3 == 0) "de" else "en")).toDF("doc_id", "text", "lang")
    def byLang(exact: Boolean): Map[String, (Long, Long, Long, Double, Double)] =
      CorpusFunctions
        .corpusStats(docs, col("lang"), col("text"), exactPercentiles = exact)
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))))
        .toMap
    val exact = byLang(true)
    val approx = byLang(false)
    assert(exact.keySet == approx.keySet)
    for (k <- exact.keySet) {
      val (nd, tw, tc, p50e, p95e) = exact(k)
      val (nda, twa, tca, p50a, p95a) = approx(k)
      // counts and sums are exact on both paths
      assert((nd, tw, tc) == ((nda, twa, tca)))
      assert(math.abs(p50a - p50e) <= 0.10 * p50e, s"$k p50 approx $p50a vs exact $p50e")
      assert(math.abs(p95a - p95e) <= 0.10 * p95e, s"$k p95 approx $p95a vs exact $p95e")
    }
  }

  test("ngramNovelty rides the Zipf split: one broadcast for hot grams, tail shuffles, exchanges reused") {
    withoutAutoBroadcast {
      // 200 copies of one boilerplate text → its grams are hot keys
      val docs = ((1 to 200).map(i => (i.toLong, "the same boilerplate template body repeated across the crawl")) ++
        (201 to 230).map(i => (i.toLong, s"original document number $i with its own fresh unshared words w$i")))
        .toDF("doc_id", "text")
      val (plan0, release) = CorpusFunctions.ngramNoveltyPlan(docs, col("doc_id"), col("text"), 3, 100L)
      try {
        val plan = finalPlan(plan0)
        // hot grams reach the probe by broadcast, and EVERY broadcast
        // in the plan is the bounded >= hotMin frequency set — the
        // gram stream itself never broadcasts. Materialized broadcasts
        // only: the hot set may materialize once per arm, or once with
        // the other arm's ReusedExchange pointing at it.
        val nBroadcast = countMatches(plan, """\+\- BroadcastExchange""")
        assert(nBroadcast >= 1, plan)
        // every broadcast is the bounded >= hotMin frequency set: a
        // Filter on the certified df count column gdf cut at >= hotMin
        // — the tail arm's `< 100` filter and any other `>= 100`
        // comparison do not match
        val hotSet = """Filter [^\n]*gdf#\d+L? >= 100\)"""
        assert(nBroadcast == countMatches(plan, hotSet), plan)
        assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
        // and never a window: per-doc aggregation is a hash aggregate
        assert(!plan.contains("Window"), plan)
      } finally release()
    }
  }

  test("curriculumInterleave: tie window keys on (stratum, difficulty), histogram broadcasts") {
    withoutAutoBroadcast {
      val docs = (1 to 300).map(i => (i.toLong, if (i % 3 == 0) "de" else "en", ("w " * (i % 11 + 1)).trim))
        .toDF("doc_id", "lang", "text")
      val out = CorpusFunctions.curriculumInterleave(docs, col("doc_id"), col("lang"), col("text"), Map("en" -> 700000L))
      val plan = finalPlan(out)
      // the bounded histogram reaches the docs by explicit broadcast
      assert(plan.contains("BroadcastHashJoin"), plan)
      // the ONLY per-row window partitions on BOTH stratum and
      // difficulty — never on the stratum alone (a whole stratum in
      // one sort partition is the 100 TB failure mode)
      assert(countMatches(plan, """windowspecdefinition\(stratum#\d+, difficulty#\d+""") >= 1, plan)
      assert(countMatches(plan, """windowspecdefinition\(stratum#\d+,\s*_w""") == 0, plan)
    }
  }

  test("paragraphDedup picks first occurrences with an aggregate, never a hot-key window sort") {
    val docs = (1 to 300).map(i => (i.toLong, "the same boilerplate block repeated in every single doc here now"))
      .toDF("doc_id", "text")
    val plan = finalPlan(DedupFunctions.paragraphDedup(docs, "doc_id", "text"))
    // the skew-safe invariant: no Window operator anywhere — a
    // row_number() formulation would sort all 300 copies of the hot
    // block on one reducer (10⁸ at crawl scale)
    assert(!plan.contains("Window"), plan)
    // first-occurrence selection and reassembly are hash aggregates
    // with map-side partials
    assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"), plan)
  }

  test("gopherRules and BPE apply are pure projections: zero exchanges over a parallel input") {
    // materialized multi-partition input: the operators' own plans
    // must add nothing beyond projections on top of the scan
    val docs = (1 to 200).map(i => (i.toLong, s"some words to score number $i of the corpus"))
      .toDF("doc_id", "text").repartition(spark.sparkContext.defaultParallelism).localCheckpoint()
    val gopher = graft.functions.TextFunctions.gopherRules(docs, col("doc_id"), col("text"))
    gopher.collect()
    val gplan = gopher.queryExecution.executedPlan.toString
    assert(!gplan.contains("Exchange"), gplan)
    val bpe = graft.functions.BpeFunctions.encode(docs, col("text"), Seq(("s", "o"), ("th", "e")))
    bpe.collect()
    val bplan = bpe.queryExecution.executedPlan.toString
    assert(!bplan.contains("Exchange"), bplan)
  }
}
