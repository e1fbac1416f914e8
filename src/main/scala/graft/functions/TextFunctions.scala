package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * Everything is built from codegen'd/JVM-native built-ins (regexp,
  * higher-order array functions, md5) — no UDFs — so the plans stay
  * whole-stage-codegen-friendly and scale linearly with input splits.
  */
object TextFunctions {

  /** Canonical text normalization: lowercase, collapse whitespace. */
  def normText(c: Column): Column = trim(regexp_replace(lower(c), "\\s+", " "))

  /** Whitespace word tokens of normalized text. */
  def words(c: Column): Column = split(normText(c), " ")

  /** Word n-gram array over a column named `wordsColName`, guarded for
    * texts shorter than n words (`sequence` would count downward on a
    * negative span). `distinct = false` keeps multiplicity — the
    * frequency variant.
    */
  private def ngramArray(wordsColName: String, n: Int, distinct: Boolean): Column = {
    val w = wordsColName
    val mk = (0 until n).map(j => s"element_at($w, i + $j)").mkString("concat_ws(' ', ", ", ", ")")
    val grams = s"transform(sequence(1, size($w) - ${n - 1}), i -> $mk)"
    val body = if (distinct) s"array_distinct($grams)" else grams
    expr(s"CASE WHEN size($w) >= $n THEN $body ELSE array() END")
  }

  /** Distinct word n-gram shingles (the dedup unit). */
  def shingles(wordsColName: String, n: Int): Column = ngramArray(wordsColName, n, distinct = true)

  /** Token-count features: whitespace words and a BPE-ish regex token
    * count (letter runs / single digits / single punctuation marks).
    */
  def tokenCounts(df: DataFrame, text: Column): DataFrame =
    df.withColumn("ws_tokens", size(words(text)))
      .withColumn(
        "regex_tokens",
        size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))),
      )

  private val Stop = Map(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "la", "los", "es", "y"),
    "fr" -> Seq("le", "les", "est", "et", "une"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo"),
  )

  /** Every stopword of every profiled language — the salt-exempt set
    * [[graft.tools.ScaleGen]] leaves untouched so scaled-up shards keep
    * bit-identical langId and quality features.
    */
  private[graft] def allStopwords: Set[String] = Stop.values.flatten.toSet

  private def stopHits(wordsCol: Column, lang: String): Column = {
    val set = Stop(lang).map(w => s"'$w'").mkString(", ")
    size(expr(s"filter(__w, t -> t IN ($set))"))
  }

  /** Exact ratio at 1e-6 resolution: floor-scaled integer division,
    * then descale. Unlike `round(x, 6)`, floor never straddles a
    * half-way decimal boundary, so every engine agrees bit-for-bit.
    */
  private def ratio6(num: Column, den: Column): Column =
    floor(num.cast("double") * lit(1000000.0) / den) / lit(1000000.0)

  /** Heuristic language ID: stopword-hit counts per language, argmax
    * with a fixed priority order on ties (en > de > es > fr > zh) so the
    * result is deterministic and SQL-expressible.
    */
  def langId(df: DataFrame, text: Column): DataFrame = {
    val langs = Seq("en", "de", "es", "fr", "zh")
    val withScores = langs.foldLeft(df.withColumn("__w", words(text))) { (d, l) =>
      d.withColumn(s"s_$l", stopHits(col("__w"), l))
    }
    val pick = langs.zipWithIndex.foldRight(lit("zh")) { case ((l, i), rest) =>
      if (i == langs.size - 1) rest
      else {
        val others = langs.drop(i + 1).map(o => col(s"s_$o"))
        val best = others.reduce((a, b) => greatest(a, b))
        when(col(s"s_$l") >= best, lit(l)).otherwise(rest)
      }
    }
    withScores
      .withColumn("pred_lang", pick)
      .withColumn(
        "confidence",
        ratio6(greatest(langs.map(l => col(s"s_$l")): _*), greatest(size(col("__w")), lit(1))),
      )
      .drop("__w")
  }

  /** Quality-score features: length, word stats, character-class ratios
    * and a bounded composite score. All ratios are double divisions of
    * exact integers — deterministic across engines.
    */
  def qualityScore(df: DataFrame, text: Column): DataFrame = {
    val stopSet = Stop("en").map(s => s"'$s'").mkString(", ")
    // Let-binding discipline: every non-cheap subtree (`words`, the
    // char count, the word count) is bound ONCE as a named column and
    // referenced by attribute afterwards. Interpolating the raw
    // expression instead (the pre-r7 shape) re-instantiates the
    // split(normText(..)) tree at every use site, and CollapseProject
    // happily merges the copies into one wide Project where each copy
    // evaluates per row; multi-referenced non-cheap ALIASES, by
    // contrast, block the collapse, so each binding evaluates once.
    df.withColumn("__w", words(text))
      .withColumn("n_chars", length(text))
      .withColumn("n_words", size(col("__w")))
      // avg_word_len over the NORMALIZED tokens (total token chars /
      // token count) — the raw-length-minus-separators form overcounts
      // on any doc with runs of whitespace; char-denominator ratios
      // guard n_chars like stopword_ratio guards n_words (empty text
      // would otherwise null the ratios and the composite score)
      .withColumn(
        "avg_word_len",
        ratio6(length(array_join(col("__w"), "")), greatest(col("n_words"), lit(1))),
      )
      .withColumn(
        "digit_ratio",
        ratio6(col("n_chars") - length(regexp_replace(text, "[0-9]", "")), greatest(col("n_chars"), lit(1))),
      )
      .withColumn(
        "punct_ratio",
        ratio6(col("n_chars") - length(regexp_replace(text, "[^A-Za-z0-9 ]", "")), greatest(col("n_chars"), lit(1))),
      )
      .withColumn(
        "stopword_ratio",
        ratio6(size(expr(s"filter(__w, t -> t IN ($stopSet))")), greatest(col("n_words"), lit(1))),
      )
      // raw IEEE arithmetic over the floored ratios — deterministic
      // without a final round (which would sit on half-way boundaries)
      .withColumn(
        "quality_score",
        lit(0.3) * col("stopword_ratio") + lit(0.3) * (lit(1.0) - col("punct_ratio")) +
          lit(0.4) * least(col("n_words").cast("double") / lit(100.0), lit(1.0)),
      )
      .drop("__w")
  }

  /** Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", Appendix A —
    * the rule set MassiveWeb was filtered with, reused by MassiveText
    * descendants ever since): per-document metrics plus one boolean
    * per rule and the conjunctive `gopher_pass` gate.
    *
    *  - word count within [minWords, maxWords]
    *  - mean word length within [3, 10]
    *  - symbol-to-word ratio (`#` characters + `…`/`...` sequences,
    *    leftmost non-overlapping) ≤ 0.1
    *  - < 90% of lines starting with a bullet (`-`, `*`, `•`)
    *  - < 30% of lines ending with an ellipsis
    *  - ≥ 80% of words containing at least one alphabetic character
    *  - ≥ 2 of the 8 Gopher indicator stopwords present
    *
    * Word metrics run on normalized words ([[words]]); the two line
    * rules run on the RAW text (normalization collapses newlines, and
    * a single-line doc is trivially one non-bullet, non-ellipsis
    * line). Everything is a per-row column expression — stateless,
    * shuffle-free, and the exact ratios use [[ratio6]] floor-scaled
    * division so every engine agrees bit-for-bit.
    */
  def gopherRules(
      df: DataFrame,
      idCol: Column,
      text: Column,
      minWords: Int = 50,
      maxWords: Int = 100000,
  ): DataFrame = {
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopList = gopherStops.map(s => s"'$s'").mkString(", ")
    val ellipsisSeqs =
      (length(text) - length(regexp_replace(text, "…", ""))) +
        floor((length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / lit(3)).cast("int")
    df.withColumn("__w", words(text))
      .withColumn("__ls", split(text, "\n"))
      .withColumn("doc_id", idCol)
      .withColumn("n_words", size(col("__w")))
      .withColumn(
        "mean_word_len",
        ratio6(aggregate(col("__w"), lit(0L), (acc, w) => acc + length(w)), greatest(col("n_words"), lit(1))),
      )
      .withColumn(
        "symbol_ratio",
        ratio6(
          (length(text) - length(regexp_replace(text, "#", ""))) + ellipsisSeqs,
          greatest(col("n_words"), lit(1)),
        ),
      )
      .withColumn(
        "bullet_line_ratio",
        ratio6(size(expr("filter(__ls, l -> trim(l) RLIKE '^[-*•]')")), greatest(size(col("__ls")), lit(1))),
      )
      .withColumn(
        "ellipsis_line_ratio",
        ratio6(
          size(expr("filter(__ls, l -> trim(l) RLIKE '(\\\\.\\\\.\\\\.|…)$')")),
          greatest(size(col("__ls")), lit(1)),
        ),
      )
      .withColumn(
        "alpha_word_ratio",
        ratio6(size(expr("filter(__w, w -> w RLIKE '[a-z]')")), greatest(col("n_words"), lit(1))),
      )
      .withColumn("n_indicator_stops", size(expr(s"filter(array($stopList), s -> array_contains(__w, s))")))
      .withColumn("rule_word_count", col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("rule_word_len", col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("rule_symbol", col("symbol_ratio") <= 0.1)
      .withColumn("rule_bullet", col("bullet_line_ratio") < 0.9)
      .withColumn("rule_ellipsis", col("ellipsis_line_ratio") < 0.3)
      .withColumn("rule_alpha", col("alpha_word_ratio") >= 0.8)
      .withColumn("rule_stops", col("n_indicator_stops") >= 2)
      .withColumn(
        "gopher_pass",
        col("rule_word_count") && col("rule_word_len") && col("rule_symbol") &&
          col("rule_bullet") && col("rule_ellipsis") && col("rule_alpha") && col("rule_stops"),
      )
      .drop("__w", "__ls")
  }

  /** Chunk documents into overlapping word windows — the standard
    * training-data prep step before tokenization. `size` words per
    * chunk, stepping `size - overlap`; short docs yield one chunk.
    * Emits (doc_id, chunk_id, chunk_text, n_words).
    */
  def chunk(df: DataFrame, idCol: Column, text: Column, size: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap < size, "overlap must be smaller than chunk size")
    val step = size - overlap
    // spread + materialized word array: single-file inputs would run
    // the whole chunking lambda on one core otherwise
    DedupFunctions
      .spread(df)
      .withColumn("__w", words(text))
      .withColumn(
        "__chunks",
        expr(
          s"""transform(
                sequence(0, CAST(greatest(ceil((size(__w) - $overlap) / CAST($step AS DOUBLE)), 1) AS INT) - 1),
                i -> concat_ws(' ', slice(__w, i * $step + 1, $size)))"""
        ),
      )
      .select(idCol.as("doc_id"), posexplode(col("__chunks")).as(Seq("chunk_id", "chunk_text")))
      .withColumn("n_words", org.apache.spark.sql.functions.size(split(col("chunk_text"), " ")).cast("long"))
  }

  /** Repetition signals (Gopher/C4-style quality filters): the fraction
    * of duplicated word 3-grams and the share of the most frequent word
    * bigram. Highly repetitive documents (boilerplate, keyword spam,
    * generation loops) score high on both. Distinct-fraction is a
    * per-row HOF (no shuffle); the top-bigram share needs one
    * explode + per-doc aggregate — a single hash shuffle keyed by
    * (doc_id, bigram), bounded by corpus token count.
    * Ratios are floor-scaled at 1e-6 like every other ratio here.
    */
  def repetitionScores(df: DataFrame, idCol: Column, text: Column): DataFrame = {
    val spread = DedupFunctions.spread(df)
    val base = spread
      .select(idCol.as("doc_id"), words(text).as("__w"))
      // CASE guards like shingles(): sequence(1, 0) counts DOWNWARD
      .withColumn(
        "__tri",
        expr("CASE WHEN size(__w) >= 3 THEN transform(sequence(1, size(__w) - 2), i -> concat_ws(' ', element_at(__w, i), element_at(__w, i + 1), element_at(__w, i + 2))) ELSE array() END"),
      )
      .withColumn(
        "__bi",
        expr("CASE WHEN size(__w) >= 2 THEN transform(sequence(1, size(__w) - 1), i -> concat_ws(' ', element_at(__w, i), element_at(__w, i + 1))) ELSE array() END"),
      )
    // pinned, NOT cached: dupTri feeds BOTH the final join's left side
    // and the bigram explode — unpinned, the regex tokenization and
    // n-gram builds would run twice per document, and a lazily-built
    // cache under memory pressure evicts and silently re-runs them per
    // consumer (the r5 30× bench collapse that moved jaccardPairs to
    // checkpoints)
    val dupTri = base.select(
      col("doc_id"),
      when(size(col("__tri")) > 0,
        ratio6(size(col("__tri")) - size(array_distinct(col("__tri"))), size(col("__tri"))))
        .otherwise(lit(0.0)).as("dup_trigram_frac"),
      col("__bi"),
    ).transform(Materialize.pin)
    val topBigram = dupTri
      .select(col("doc_id"), explode(col("__bi")).as("bigram"))
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(max(col("cnt")).as("top_cnt"), sum(col("cnt")).as("n_bi"))
      .select(col("doc_id"), ratio6(col("top_cnt"), col("n_bi")).as("top_bigram_frac"))
    dupTri
      .select(col("doc_id"), col("dup_trigram_frac"))
      .join(topBigram, Seq("doc_id"), "left")
      .withColumn("top_bigram_frac", coalesce(col("top_bigram_frac"), lit(0.0)))
  }

  /** Pack chunk windows into fixed-capacity training sequences — the
    * step between chunking and tokenization in a training-data
    * pipeline. Packing never crosses a document boundary (the standard
    * no-contamination mode), so it parallelizes per doc: a chunk joins
    * the sequence its running word offset starts in
    * (`seq_id = floor(words_before / capacity)`), computed with one
    * per-doc window — no global order, no single-partition bottleneck.
    * Emits (doc_id, seq_id, n_chunks, n_words, seq_text) with chunks
    * concatenated in chunk order.
    */
  def packChunks(chunks: DataFrame, capacity: Int = 256): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("chunk_id"))
      .rowsBetween(Long.MinValue, -1)
    chunks
      .withColumn("__wb", coalesce(sum(col("n_words")).over(w), lit(0L)))
      .withColumn("seq_id", floor(col("__wb") / lit(capacity)).cast("long"))
      .groupBy(col("doc_id"), col("seq_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("n_words")).as("n_words"),
        concat_ws(
          " ",
          transform(
            array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
            x => x.getField("chunk_text"),
          ),
        ).as("seq_text"),
      )
  }

  /** Corpus-level top-k n-gram frequencies (non-distinct — frequency,
    * not presence): the dataset-analysis staple behind vocabulary
    * inspection and boilerplate discovery. Two-phase hash aggregate
    * (map-side partial combine) then a TakeOrdered k — no full sort at
    * any scale; ties break on the n-gram text so the result set is
    * deterministic.
    */
  def topkNgrams(df: DataFrame, text: Column, n: Int = 3, k: Int = 20): DataFrame = {
    DedupFunctions
      .spread(df)
      .select(words(text).as("__w"))
      .select(explode(ngramArray("__w", n, distinct = false)).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(k)
  }

  /** Heavy-hitter n-grams via a count-min-sketch pre-filter — the
    * 100 TB dual of [[topkNgrams]]: an exact top-k needs the full
    * (ngram, count) aggregate, whose reduce side is vocabulary-sized;
    * here pass 1 folds the gram stream into ONE mergeable CMS row
    * (Cormode & Muthukrishnan 2005; map-side partial merges, sketch
    * size = f(eps, confidence), independent of corpus size), and
    * pass 2 re-scans, drops every row whose sketch estimate is below
    * `minCount` MAP-SIDE (CMS never underestimates, so no truly-heavy
    * gram is lost — only the heavy tail reaches the shuffle), then
    * exact-counts the survivors and applies the threshold exactly.
    * Output is therefore IDENTICAL to the exact query — grams with
    * true count ≥ minCount, top-k by (count, gram) — the sketch only
    * bounds the shuffle, which is why this operator hash-verifies
    * against a sketch-free SQL oracle. Overestimated light grams cost
    * shuffle rows, never wrong output.
    */
  def heavyNgrams(
      df: DataFrame,
      text: Column,
      n: Int = 3,
      minCount: Long = 5L,
      k: Int = 20,
      eps: Double = 1e-4,
      confidence: Double = 0.99,
  ): DataFrame =
    heavyNgramsPlan(df, text, n, minCount, k, eps, confidence)

  /** [[heavyNgrams]] plan builder (the plan-shape spec inspects the
    * live plan). The gram stream has two consumers — sketch build and
    * probe scan — and is deliberately NOT materialized: each consumer
    * reduces it to a bounded result (one sketch row / the heavy tail),
    * so two pruned columnar scans of the source beat persisting a
    * corpus-sized exploded stream (the bm25/datacard two-scan
    * precedent; a localCheckpoint here would also pin corpus-scale
    * storage and make executor loss unrecoverable mid-query).
    */
  private[graft] def heavyNgramsPlan(
      df: DataFrame,
      text: Column,
      n: Int,
      minCount: Long,
      k: Int,
      eps: Double,
      confidence: Double,
  ): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    val grams = DedupFunctions
      .spread(df)
      .select(words(text).as("__w"))
      .select(explode(ngramArray("__w", n, distinct = false)).as("ngram"))
    val sk = grams.agg(expr(s"count_min_sketch(ngram, ${eps}d, ${confidence}d, 42)").as("__sk"))
    // the sketch binds as an uncorrelated scalar subquery, which the
    // executed plan turns into ONE literal — CmsEstimate's identity
    // cache then deserializes once per task. (A broadcast-join column
    // would hand the expression a FRESH byte-array copy per row: 1 MB
    // of sketch deserialization per gram, measured 60 s vs 2 s here.)
    val skCol = org.apache.spark.sql.GraftSqlBridge.scalarSubquery(sk.select(col("__sk")))
    grams
      .where(call_function("graft_cms_estimate", skCol, col("ngram")) >= minCount)
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(k)
  }

  /** Compressibility quality signal (the zlib-ratio filter of the
    * MassiveText/Gopher stack, Rae et al. 2021, carried by the
    * RedPajama-V2/Dolma signal sets): DEFLATE the UTF-8 bytes of each
    * document (native `graft_deflate_len` expression — one compiled
    * zlib call per row, no SQL form exists) and report the
    * compressed/raw ratio in ppm. Near-duplicate boilerplate and
    * repetition compress far below running prose; random noise sits
    * near (or above) 1e6. Pure per-row projection — no shuffle, no
    * state, embarrassingly parallel at any corpus size. Deterministic:
    * fixed-level DEFLATE over fixed bytes is a specified greedy
    * algorithm, stable across runs and partitionings (rows-only for
    * the oracle: DuckDB has no deflate).
    */
  def zlibSignal(df: DataFrame, idCol: Column, text: Column): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    df.select(
      idCol.as("doc_id"),
      octet_length(text).cast("long").as("n_bytes"),
      call_function("graft_deflate_len", text).as("deflate_bytes"),
    ).withColumn(
      "zlib_ratio_ppm",
      when(col("n_bytes") === 0L, lit(0L)).otherwise(expr("1000000 * deflate_bytes div n_bytes")),
    )
  }

  /** Blocklist gate — the wordlist screen every crawl pipeline runs
    * (the "bad words" filter of C4/CommonCrawl derivatives; also the
    * shape of domain- and boilerplate-phrase blocklists): count
    * distinct and total hits of a word list in each document's
    * normalized tokens and flag docs at or above `maxHits`. The list
    * rides the plan as an array literal (blocklists are KB-sized;
    * a corpus-sized list would broadcast-join instead) and the
    * membership test is one codegen'd `array_intersect`/`filter`
    * pass per row — stateless, shuffle-free at any corpus size.
    */
  def blocklistGate(
      df: DataFrame,
      idCol: Column,
      text: Column,
      blocklist: Seq[String],
      maxHits: Long = 1L,
  ): DataFrame = {
    require(blocklist.nonEmpty, "blocklist must not be empty")
    // entries go through the same normalization as the tokens they
    // match (normText lowercases and collapses whitespace) — an
    // uppercase entry would otherwise never hit a lowercased token
    val normalized = blocklist.map(_.toLowerCase.trim.replaceAll("\\s+", " "))
    val listCol = array(normalized.distinct.sorted.map(lit): _*)
    df.withColumn("__w", words(text))
      .select(
        idCol.as("doc_id"),
        size(array_intersect(array_distinct(col("__w")), listCol)).cast("long").as("n_distinct_hits"),
        size(filter(col("__w"), w => array_contains(listCol, w))).cast("long").as("n_hits"),
      )
      .withColumn("blocked", col("n_hits") >= maxHits)
  }

  /** Encoding-quality signal — mojibake and binary-garbage detection
    * (the charset-sanity screen of web-crawl pipelines; the "fraction
    * of non-character junk" family of RedPajama-V2/Dolma signals):
    * per doc, the count of U+FFFD replacement characters (the residue
    * of a wrong-charset decode) and of C0/C1-style control characters
    * (tab/newline/CR excluded), plus their combined share in ppm.
    * Pure per-row regex projections — codegen'd, shuffle-free,
    * embarrassingly parallel; integer-exact, so the output
    * hash-matches any engine.
    */
  def encodingQuality(df: DataFrame, idCol: Column, text: Column): DataFrame =
    df.select(
      idCol.as("doc_id"),
      length(text).cast("long").as("n_chars"),
      size(regexp_extract_all(text, lit("�"), lit(0))).cast("long").as("n_replacement"),
      size(regexp_extract_all(text, lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"), lit(0)))
        .cast("long")
        .as("n_control"),
    ).withColumn(
      "junk_ppm",
      when(col("n_chars") === 0L, lit(0L))
        .otherwise(expr("1000000 * (n_replacement + n_control) div n_chars")),
    )

  /** Deterministic train/val/test assignment by content-stable hash:
    * the first hex digit of md5(id) picks one of 16 buckets, and
    * `weights` (name → bucket count, summing to 16) maps buckets to
    * split names. Pure per-row projection — no shuffle, reproducible
    * across runs, engines and partitionings (the property random
    * `sample()` lacks).
    */
  def hashSplit(df: DataFrame, idCol: Column, weights: Seq[(String, Int)] = Seq(("train", 14), ("val", 1), ("test", 1))): DataFrame = {
    require(weights.map(_._2).sum == 16, "bucket weights must sum to 16 (one md5 hex digit)")
    val hexDigits = "0123456789abcdef"
    val buckets = weights.flatMap { case (name, w) => Seq.fill(w)(name) }
    val digit = substring(md5(idCol.cast("string")), 1, 1)
    val split = hexDigits.zip(buckets).foldRight(lit(buckets.last): Column) { case ((d, name), rest) =>
      when(digit === d.toString, lit(name)).otherwise(rest)
    }
    // a null id must not silently land in the last bucket (md5(null) is
    // null, so every when() misses and the otherwise would catch it)
    df.withColumn("split", when(idCol.isNull, lit(null)).otherwise(split))
  }

  /** Benchmark decontamination: flag corpus documents sharing any word
    * n-gram with an evaluation/benchmark set — the standard test-set
    * overlap check run before training. Emits one row per corpus doc:
    * (doc_id, n_hits = distinct overlapping shingles, contaminated).
    *
    * Scale shape: benchmark suites are tiny next to a 100 TB corpus, so
    * the benchmark shingle set is broadcast — the corpus side joins
    * map-side with no shuffle, and the only exchange is the final
    * per-doc hash aggregate. `explode_outer` keeps sub-n-word docs in
    * the output with n_hits = 0.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: Column, text: Column, n: Int = 5): DataFrame = {
    val benchSh = benchmark
      .select(words(text).as("__w"))
      .select(explode(shingles("__w", n)).as("s"))
      .distinct()
      .withColumn("__hit", lit(1))
    DedupFunctions
      .spread(corpus)
      .select(idCol.as("doc_id"), words(text).as("__w"))
      .select(col("doc_id"), explode_outer(shingles("__w", n)).as("s"))
      .join(broadcast(benchSh), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(when(col("__hit").isNotNull, lit(1L)).otherwise(lit(0L))).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** PII patterns scrubbed by [[piiScrub]], in application order.
    * RE2-compatible (no backrefs/lookaround) so the DuckDB oracle runs
    * the identical expressions.
    */
  private val PiiPatterns = Seq(
    // explicit whitespace class: Java's \s includes \x0B, RE2's does
    // not — spelling it out keeps Spark and the DuckDB oracle identical
    ("url", """https?://[^ \t\n\x0B\f\r]+""", "<URL>"),
    ("email", """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""", "<EMAIL>"),
    ("ip", """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""", "<IP>"),
    ("phone", """\b\d{3}[-. ]\d{3}[-. ]\d{4}\b""", "<PHONE>"),
  )

  /** PII redaction: URLs, emails, IPv4 addresses and phone numbers are
    * replaced by typed placeholders; per-pattern match counts are taken
    * on the ORIGINAL text (so an email inside a URL counts as both even
    * though the URL replacement consumes it first). Pure regexp
    * built-ins — codegen'd, embarrassingly parallel, no shuffle.
    */
  def piiScrub(df: DataFrame, idCol: Column, text: Column): DataFrame = {
    val counted = PiiPatterns.foldLeft(df.select(idCol.as("doc_id"), text.as("__t"))) {
      case (d, (name, re, _)) =>
        d.withColumn(s"n_$name", size(regexp_extract_all(col("__t"), lit(re), lit(0))).cast("long"))
    }
    val scrubbed = PiiPatterns.foldLeft(counted) { case (d, (_, re, repl)) =>
      d.withColumn("__t", regexp_replace(col("__t"), re, repl))
    }
    scrubbed.select(
      col("doc_id") +: col("__t").as("clean_text") +: PiiPatterns.map { case (n, _, _) => col(s"n_$n") }: _*
    )
  }

  /** Winnowing document fingerprint: k-char-gram md5 prefixes, minimum
    * per sliding window of w hashes, distinct. The standard MOSS
    * scheme; emits (doc, fingerprint) rows for index-style joins.
    */
  def fingerprints(df: DataFrame, idCol: Column, text: Column, k: Int = 8, w: Int = 4): DataFrame = {
    // native graft_winnow_fps (graft.plans.WinnowFingerprints): the
    // identical per-gram md5 + windowed-min + first-occurrence-distinct
    // pipeline as ONE compiled pass per row instead of an interpreted
    // md5 + two substring allocations per character (parity pinned in
    // FunctionsSpec)
    graft.plans.GraftFunctions.register(df.sparkSession)
    DedupFunctions.spread(df)
      .withColumn("__t", normText(text))
      .select(idCol.as("doc_id"), explode(call_function("graft_winnow_fps", col("__t"), lit(k), lit(w))).as("fp"))
  }

  /** Unicode canonicalization report — the ingest-time cleanup every
    * crawl pipeline runs before any tokenization, hashing or dedup:
    * NFC normalization (composed canonical form; NFC≠NFD spellings of
    * the same word would otherwise fingerprint as distinct docs) and
    * accent folding (NFD → drop combining marks → NFC, utf8proc
    * `strip_accents` semantics) for language-agnostic matching.
    * Both are native codegen'd expressions with an allocation-free
    * already-normalized fast path — a stateless per-row projection,
    * shuffle-free and embarrassingly parallel at any corpus size.
    * Hash-verified against DuckDB `nfc_normalize`/`strip_accents`
    * (both engines implement UAX #15, so outputs are bit-identical).
    */
  def normalizeUnicode(df: DataFrame, idCol: Column, text: Column): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    df.select(idCol.as("doc_id"), text.as("__t"))
      .withColumn("text_nfc", call_function("graft_unorm", col("__t"), lit("NFC")))
      .withColumn("text_folded", call_function("graft_strip_marks", col("__t")))
      .select(
        col("doc_id"),
        col("text_nfc"),
        col("text_folded"),
        (col("text_folded") =!= col("__t")).as("changed"),
      )
  }
}
