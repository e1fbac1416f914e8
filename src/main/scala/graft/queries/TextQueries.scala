package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.{BpeFunctions, CorpusFunctions, TextFunctions, UnigramLm}

import QueryFixtures._

/** Per-document text queries: language id, quality filters, tokenizers,
  * n-gram statistics, language models and scrubbing over `documents`.
  */
object TextQueries {
  val specs: Seq[QuerySpec] = Seq(
    // C8: heuristic language ID
    QuerySpec("text_langid", { (s, dir) =>
      TextFunctions
        .langId(Tables.documents(s, dir), col("text"))
        .select(col("doc_id"), col("pred_lang"), col("confidence"))
    }, Oracle(
      """WITH w AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         sc AS (SELECT doc_id,
                  len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS s_en,
                  len(list_filter(w, t -> t IN ('der', 'die', 'und', 'das', 'ist'))) AS s_de,
                  len(list_filter(w, t -> t IN ('el', 'la', 'los', 'es', 'y'))) AS s_es,
                  len(list_filter(w, t -> t IN ('le', 'les', 'est', 'et', 'une'))) AS s_fr,
                  len(list_filter(w, t -> t IN ('de', 'shi', 'bu', 'le', 'wo'))) AS s_zh,
                  len(w) AS nw
                FROM w)
         SELECT doc_id,
                CASE WHEN s_en >= GREATEST(s_de, s_es, s_fr, s_zh) THEN 'en'
                     WHEN s_de >= GREATEST(s_es, s_fr, s_zh) THEN 'de'
                     WHEN s_es >= GREATEST(s_fr, s_zh) THEN 'es'
                     WHEN s_fr >= s_zh THEN 'fr'
                     ELSE 'zh' END AS pred_lang,
                FLOOR(CAST(GREATEST(s_en, s_de, s_es, s_fr, s_zh) AS DOUBLE) * 1000000.0 / GREATEST(nw, 1)) / 1000000.0 AS confidence
         FROM sc""")),
    // C9: text quality scoring
    QuerySpec("text_quality", { (s, dir) =>
      TextFunctions
        .qualityScore(Tables.documents(s, dir), col("text"))
        .select(
          col("doc_id"), col("n_chars").cast("long").as("n_chars"), col("n_words").cast("long").as("n_words"), col("avg_word_len"),
          col("digit_ratio"), col("punct_ratio"), col("stopword_ratio"), col("quality_score"),
        )
    }, Oracle(
      """WITH base AS (
           SELECT doc_id, text,
                  length(text) AS n_chars,
                  string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
           FROM documents),
         feat AS (
           SELECT doc_id, n_chars, len(w) AS n_words,
                  FLOOR(CAST(length(array_to_string(w, '')) AS DOUBLE) * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0 AS avg_word_len,
                  FLOOR(CAST(n_chars - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) * 1000000.0 / GREATEST(n_chars, 1)) / 1000000.0 AS digit_ratio,
                  FLOOR(CAST(n_chars - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) * 1000000.0 / GREATEST(n_chars, 1)) / 1000000.0 AS punct_ratio,
                  FLOOR(CAST(len(list_filter(w, t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE) * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0 AS stopword_ratio
           FROM base)
         SELECT doc_id, n_chars, n_words, avg_word_len, digit_ratio, punct_ratio, stopword_ratio,
                0.3 * stopword_ratio + 0.3 * (1.0 - punct_ratio) + 0.4 * LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) AS quality_score
         FROM feat""")),
    // C9b: Gopher quality rules (Rae et al. 2021 Appendix A) — the
    // canonical rule-based gate; minWords lowered to 20 so the rule
    // actually splits this corpus (docs run 20-60 words)
    QuerySpec("text_gopher", { (s, dir) =>
      TextFunctions
        .gopherRules(Tables.documents(s, dir), col("doc_id"), col("text"), minWords = 20)
        .select(
          col("doc_id"), col("n_words").cast("long").as("n_words"), col("mean_word_len"),
          col("symbol_ratio"), col("bullet_line_ratio"), col("ellipsis_line_ratio"),
          col("alpha_word_ratio"), col("n_indicator_stops").cast("long").as("n_indicator_stops"),
          col("rule_word_count"), col("rule_word_len"), col("rule_alpha"), col("rule_stops"),
          col("gopher_pass"),
        )
    }, Oracle(
      """WITH base AS (
           SELECT doc_id, text,
                  string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w,
                  string_split(text, chr(10)) AS ls
           FROM documents),
         feat AS (
           SELECT doc_id,
                  CAST(len(w) AS BIGINT) AS n_words,
                  FLOOR(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0 AS mean_word_len,
                  FLOOR(CAST((length(text) - length(replace(text, '#', '')))
                        + (length(text) - length(replace(text, '…', '')))
                        + FLOOR((length(text) - length(replace(text, '...', ''))) / 3) AS DOUBLE)
                        * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0 AS symbol_ratio,
                  FLOOR(CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE) * 1000000.0 / GREATEST(len(ls), 1)) / 1000000.0 AS bullet_line_ratio,
                  FLOOR(CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) AS DOUBLE) * 1000000.0 / GREATEST(len(ls), 1)) / 1000000.0 AS ellipsis_line_ratio,
                  FLOOR(CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) * 1000000.0 / GREATEST(len(w), 1)) / 1000000.0 AS alpha_word_ratio,
                  CAST(len(list_filter(['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'], s -> list_contains(w, s))) AS BIGINT) AS n_indicator_stops
           FROM base)
         SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_line_ratio,
                ellipsis_line_ratio, alpha_word_ratio, n_indicator_stops,
                n_words >= 20 AND n_words <= 100000 AS rule_word_count,
                mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS rule_word_len,
                alpha_word_ratio >= 0.8 AS rule_alpha,
                n_indicator_stops >= 2 AS rule_stops,
                (n_words >= 20 AND n_words <= 100000) AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                  AND symbol_ratio <= 0.1 AND bullet_line_ratio < 0.9 AND ellipsis_line_ratio < 0.3
                  AND alpha_word_ratio >= 0.8 AND n_indicator_stops >= 2 AS gopher_pass
         FROM feat""")),
    // C9f: blocklist gate — wordlist screen (distinct + total hits,
    // blocked at >= 3 hits); list rides the plan as an array literal
    QuerySpec("text_blocklist", { (s, dir) =>
      TextFunctions.blocklistGate(
        Tables.documents(s, dir),
        col("doc_id"),
        col("text"),
        blocklist = Seq("slow", "broken", "spill"),
        maxHits = 3L,
      )
    }, Oracle(
      """WITH w AS (SELECT doc_id,
                           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                    FROM documents)
         SELECT doc_id,
                CAST(len(list_intersect(list_distinct(w), ['slow', 'broken', 'spill'])) AS BIGINT) AS n_distinct_hits,
                CAST(len(list_filter(w, x -> list_contains(['slow', 'broken', 'spill'], x))) AS BIGINT) AS n_hits,
                CAST(len(list_filter(w, x -> list_contains(['slow', 'broken', 'spill'], x))) AS BIGINT) >= 3 AS blocked
         FROM w""")),
    // C9e: encoding-quality signal — U+FFFD replacement chars +
    // control chars (mojibake / binary-garbage screen)
    QuerySpec("text_encoding_quality", { (s, dir) =>
      TextFunctions.encodingQuality(Tables.documents(s, dir), col("doc_id"), col("text"))
    }, Oracle(
      """SELECT doc_id,
                CAST(length(text) AS BIGINT) AS n_chars,
                CAST(len(regexp_extract_all(text, '�')) AS BIGINT) AS n_replacement,
                CAST(len(regexp_extract_all(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]')) AS BIGINT) AS n_control,
                CASE WHEN length(text) = 0 THEN 0
                     ELSE (1000000 * (CAST(len(regexp_extract_all(text, '�')) AS BIGINT)
                           + CAST(len(regexp_extract_all(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]')) AS BIGINT)))
                          // CAST(length(text) AS BIGINT) END AS junk_ppm
         FROM documents""")),
    // C9g: Unicode canonicalization (NFC + accent folding) — native
    // codegen'd UAX #15 expressions, hash-verified vs DuckDB utf8proc
    QuerySpec("text_unicode_norm", { (s, dir) =>
      TextFunctions.normalizeUnicode(Tables.documents(s, dir), col("doc_id"), col("text"))
    }, Oracle(
      """SELECT doc_id,
                nfc_normalize(text) AS text_nfc,
                strip_accents(nfc_normalize(text)) AS text_folded,
                strip_accents(nfc_normalize(text)) <> text AS changed
         FROM documents""")),
    // C49: per-doc n-gram novelty — share of a doc's distinct
    // trigrams appearing in no other doc (boilerplate/originality
    // signal; Zipf-split join back, integer-exact ppm)
    QuerySpec("text_ngram_novelty", { (s, dir) =>
      CorpusFunctions.ngramNovelty(Tables.documents(s, dir), col("doc_id"), col("text"))
    }, Oracle(
      """WITH norm AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         g AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 2),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS g
               FROM norm WHERE len(w) >= 3),
         dfq AS (SELECT g, COUNT(*) AS gdf FROM g GROUP BY 1)
         SELECT doc_id, COUNT(*) AS n_ngrams,
                CAST(SUM(CASE WHEN gdf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                CAST((1000000 * SUM(CASE WHEN gdf = 1 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS novelty_ppm
         FROM g JOIN dfq USING (g)
         GROUP BY 1""")),
    // C9d: zlib compressibility signal (MassiveText/Gopher;
    // RedPajama-V2/Dolma signal sets) — native deflate expression,
    // rows-only (DuckDB has no deflate; ZlibSignalSpec verifies)
    QuerySpec("text_zlib_ratio", { (s, dir) =>
      TextFunctions.zlibSignal(Tables.documents(s, dir), col("doc_id"), col("text"))
    }, NoOracle("JVM Deflater byte stream (zlib level/strategy is implementation-defined)")),
    // C10: token counting (whitespace + BPE-ish regex)
    QuerySpec("text_tokens", { (s, dir) =>
      TextFunctions
        .tokenCounts(Tables.documents(s, dir), col("text"))
        .select(col("doc_id"), col("ws_tokens").cast("long").as("ws_tokens"), col("regex_tokens").cast("long").as("regex_tokens"))
    }, Oracle(
      """SELECT doc_id,
                len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS ws_tokens,
                len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS regex_tokens
         FROM documents""")),
    // C10c: REAL BPE tokenization — merges trained at the driver from
    // the bounded word-frequency dictionary (Sennrich et al. 2016),
    // applied distributed via the native graft_bpe expression (merge
    // table rides the plan; iterative per-word merging has no SQL
    // form → rows-only, spec-verified against hand-computed merges)
    QuerySpec("text_bpe", { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val merges = BpeFunctions.trainMerges(docs, col("text"), numMerges = 100, vocabCap = 2000)
      BpeFunctions
        .encode(docs, col("text"), merges)
        .withColumn("n_words", size(TextFunctions.words(col("text"))))
        .select(
          col("doc_id"), col("n_words").cast("long").as("n_words"),
          col("n_bpe_tokens").cast("long").as("n_bpe_tokens"),
          floor(col("n_bpe_tokens").cast("double") * lit(1000000.0) / greatest(col("n_words"), lit(1))).cast("long").as("tokens_per_word_ppm"),
        )
    }, Oracle(BpeOracleSql.tokenCounts(numMerges = 100, vocabCap = 2000))),
    // C10e: the learned BPE merge SEQUENCE itself — hash-oracled by
    // replaying the greedy trainer in SQL (BpeOracleSql); the order-
    // discriminating dual of text_bpe's per-doc counts
    QuerySpec("text_bpe_merges", { (s, dir) =>
      val merges = BpeFunctions.trainMerges(Tables.documents(s, dir), col("text"), numMerges = 100, vocabCap = 2000)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("merge_idx", "left_sym", "right_sym")
    }, Oracle(BpeOracleSql.merges(numMerges = 100, vocabCap = 2000))),
    // C10d: unigram-LM tokenization (Kudo 2018 / SentencePiece) — the
    // OTHER tokenizer family: EM-trained where the data lives (the
    // distinct-word table never leaves the executors; only
    // vocab-sized expected-count summaries collect), Viterbi-applied
    // via the native graft_unigram_tokenize expression. EM training
    // has no SQL form → rows-only, spec-verified (round-trip,
    // monotone likelihood, partitioning-determinism, OOV fallback)
    QuerySpec("text_unigram", { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // the synthetic corpus has ~31 distinct words — a tight vocab +
      // short max piece force genuine subword segmentation (a web-scale
      // corpus would use vocabSize ~32000, maxPieceLen 16)
      val model = UnigramLm.train(docs, col("text"), vocabSize = 64, seedSize = 256, maxPieceLen = 4, emIters = 2)
      UnigramLm
        .tokenizeSampled(
          UnigramLm.tokenize(docs, col("text"), model),
          col("text"),
          model,
          xxhash64(col("doc_id"), lit(1)), // epoch-1 subword-regularization draw
        )
        .withColumn("n_words", size(TextFunctions.words(col("text"))))
        .select(
          col("doc_id"), col("n_words").cast("long").as("n_words"),
          col("n_unigram_tokens").cast("long").as("n_unigram_tokens"),
          col("n_unigram_sampled_tokens").cast("long").as("n_unigram_sampled_tokens"),
          floor(col("n_unigram_tokens").cast("double") * lit(1000000.0) / greatest(col("n_words"), lit(1))).cast("long").as("tokens_per_word_ppm"),
        )
    }, NoOracle("EM training with StrictMath log/exp (no cross-engine float contract)")),
    // C10b: overlapping word-window chunking (64-word chunks, 16 overlap)
    QuerySpec("text_chunk", { (s, dir) =>
      TextFunctions.chunk(Tables.documents(s, dir), col("doc_id"), col("text"))
        .withColumn("chunk_id", col("chunk_id").cast("long"))
    }, Oracle(
      """WITH w AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         c AS (SELECT doc_id,
                 generate_series(0, CAST(GREATEST(CEIL((len(w) - 16) / CAST(48 AS DOUBLE)), 1) AS INT) - 1) AS ids,
                 list_transform(generate_series(0, CAST(GREATEST(CEIL((len(w) - 16) / CAST(48 AS DOUBLE)), 1) AS INT) - 1),
                                i -> array_to_string(list_slice(w, i * 48 + 1, i * 48 + 64), ' ')) AS chunks
               FROM w)
         SELECT doc_id, CAST(UNNEST(ids) AS BIGINT) AS chunk_id, UNNEST(chunks) AS chunk_text,
                CAST(len(string_split(UNNEST(chunks), ' ')) AS BIGINT) AS n_words
         FROM c""")),
    // C17: repetition quality signals (Gopher-style: duplicated
    // trigram fraction + top-bigram share)
    QuerySpec("text_repetition", { (s, dir) =>
      TextFunctions.repetitionScores(Tables.documents(s, dir), col("doc_id"), col("text"))
    }, Oracle(
      """WITH w AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         grams AS (
           SELECT doc_id,
                  CASE WHEN len(w) >= 3 THEN list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [] END AS tri,
                  CASE WHEN len(w) >= 2 THEN list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1]) ELSE [] END AS bi
           FROM w),
         dup AS (
           SELECT doc_id,
                  CASE WHEN len(tri) > 0
                       THEN FLOOR((len(tri) - len(list_distinct(tri))) * 1000000.0 / len(tri)) / 1000000.0
                       ELSE 0.0 END AS dup_trigram_frac,
                  bi
           FROM grams),
         bic AS (
           SELECT doc_id, UNNEST(bi) AS bigram FROM dup),
         top AS (
           SELECT doc_id, MAX(cnt) AS top_cnt, SUM(cnt) AS n_bi
           FROM (SELECT doc_id, bigram, COUNT(*) AS cnt FROM bic GROUP BY 1, 2) GROUP BY 1)
         SELECT d.doc_id, d.dup_trigram_frac,
                COALESCE(FLOOR(t.top_cnt * 1000000.0 / t.n_bi) / 1000000.0, 0.0) AS top_bigram_frac
         FROM dup d LEFT JOIN top t ON d.doc_id = t.doc_id""")),
    // C16: sequence packing — chunks → fixed-capacity training
    // sequences, per-doc (no contamination across documents)
    QuerySpec("text_pack", { (s, dir) =>
      TextFunctions.packChunks(
        TextFunctions.chunk(Tables.documents(s, dir), col("doc_id"), col("text"))
          .withColumn("chunk_id", col("chunk_id").cast("long")),
        capacity = 256,
      )
    }, Oracle(
      """WITH w AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         c AS (SELECT doc_id,
                 generate_series(0, CAST(GREATEST(CEIL((len(w) - 16) / CAST(48 AS DOUBLE)), 1) AS INT) - 1) AS ids,
                 list_transform(generate_series(0, CAST(GREATEST(CEIL((len(w) - 16) / CAST(48 AS DOUBLE)), 1) AS INT) - 1),
                                i -> array_to_string(list_slice(w, i * 48 + 1, i * 48 + 64), ' ')) AS chunks
               FROM w),
         chunked AS (
           SELECT doc_id, CAST(UNNEST(ids) AS BIGINT) AS chunk_id, UNNEST(chunks) AS chunk_text,
                  CAST(len(string_split(UNNEST(chunks), ' ')) AS BIGINT) AS n_words
           FROM c),
         offsets AS (
           SELECT doc_id, chunk_id, chunk_text, n_words,
                  COALESCE(SUM(n_words) OVER (PARTITION BY doc_id ORDER BY chunk_id
                                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS wb
           FROM chunked)
         SELECT doc_id, CAST(FLOOR(wb / 256.0) AS BIGINT) AS seq_id,
                COUNT(*) AS n_chunks, CAST(SUM(n_words) AS BIGINT) AS n_words,
                string_agg(chunk_text, ' ' ORDER BY chunk_id) AS seq_text
         FROM offsets GROUP BY 1, 2""")),
    // C17: benchmark decontamination — docs sharing any word 5-gram
    // with the eval holdout (doc_id % 20 == 0) are flagged
    QuerySpec("text_decontaminate", { (s, dir) =>
      val docs = Tables.documents(s, dir)
      TextFunctions.decontaminate(
        docs.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0),
        col("doc_id"),
        col("text"),
      )
    }, Oracle(
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         w AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 4),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS s
                FROM w WHERE len(w) >= 5),
         bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
         hits AS (SELECT a.doc_id, COUNT(*) AS n_hits
                  FROM sh a JOIN bench b ON a.s = b.s WHERE a.doc_id % 20 <> 0 GROUP BY 1)
         SELECT d.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
                COALESCE(h.n_hits, 0) > 0 AS contaminated
         FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
         LEFT JOIN hits h ON d.doc_id = h.doc_id""")),
    // C18: PII redaction — URL/email/IP/phone placeholders + counts
    QuerySpec("text_scrub", { (s, dir) =>
      TextFunctions.piiScrub(Tables.documents(s, dir), col("doc_id"), col("text"))
    }, Oracle(
      """SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
                  'https?://[^ \t\n\x0B\f\r]+', '<URL>', 'g'),
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                  '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS clean_text,
                CAST(len(regexp_extract_all(text, 'https?://[^ \t\n\x0B\f\r]+')) AS BIGINT) AS n_url,
                CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
                CAST(len(regexp_extract_all(text, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS BIGINT) AS n_phone
         FROM documents""")),
    // C19: corpus-level top-k trigram frequencies
    QuerySpec("text_topk_ngrams", { (s, dir) =>
      TextFunctions.topkNgrams(Tables.documents(s, dir), col("text"))
    }, Oracle(
      """WITH norm AS (SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         w AS (SELECT string_split(t, ' ') AS w FROM norm),
         g AS (SELECT unnest(list_transform(generate_series(1, len(w) - 2),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ngram
               FROM w WHERE len(w) >= 3)
         SELECT ngram, COUNT(*) AS cnt FROM g GROUP BY 1
         ORDER BY cnt DESC, ngram LIMIT 20""")),
    // C19b: heavy-hitter n-grams through the count-min-sketch
    // pre-filter — output identical to the exact threshold query (CMS
    // never underestimates), sketch bounds the shuffle at 100 TB
    QuerySpec("text_heavy_ngrams", { (s, dir) =>
      TextFunctions.heavyNgrams(Tables.documents(s, dir), col("text"))
    }, Oracle(
      """WITH norm AS (SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         w AS (SELECT string_split(t, ' ') AS w FROM norm),
         g AS (SELECT unnest(list_transform(generate_series(1, len(w) - 2),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ngram
               FROM w WHERE len(w) >= 3)
         SELECT ngram, COUNT(*) AS cnt FROM g GROUP BY 1 HAVING COUNT(*) >= 5
         ORDER BY cnt DESC, ngram LIMIT 20""")),
    // C20: deterministic hash-based train/val/test split
    QuerySpec("text_hash_split", { (s, dir) =>
      TextFunctions
        .hashSplit(Tables.documents(s, dir), col("doc_id"))
        .select(col("doc_id"), col("split"))
    }, Oracle(
      """SELECT doc_id,
                CASE WHEN doc_id IS NULL THEN NULL
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7','8','9','a','b','c','d') THEN 'train'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'e' THEN 'val'
                     ELSE 'test' END AS split
         FROM documents""")),
    // C28: per-document word rarity — integer-exact unigram-LM quality
    // signal (avg corpus word frequency + rare-word ratio)
    QuerySpec("text_word_rarity", { (s, dir) =>
      CorpusFunctions.wordRarity(Tables.documents(s, dir), col("doc_id"), col("text"))
    }, Oracle(
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         toks AS (SELECT doc_id, w FROM (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM norm) WHERE w <> ''),
         freq AS (SELECT w, COUNT(*) AS cf FROM toks GROUP BY 1)
         SELECT doc_id, COUNT(*) AS n_words,
                CAST(SUM(cf) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_word_freq,
                CAST(SUM(CASE WHEN cf <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS rare_ratio
         FROM toks JOIN freq USING (w)
         GROUP BY 1""")),
    // C31: bigram-LM predictability score — the CCNet perplexity-filter
    // analog, self-trained Laplace-smoothed conditionals in exact
    // integer/IEEE-division arithmetic (no cross-engine float log)
    QuerySpec("text_bigram_lm", { (s, dir) =>
      CorpusFunctions.bigramLm(Tables.documents(s, dir), col("doc_id"), col("text"))
    }, Oracle(
      """WITH norm AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         bgl AS (SELECT doc_id, unnest(generate_series(1, len(w) - 1)) AS i, w FROM norm WHERE len(w) >= 2),
         bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM bgl),
         cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
         c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
         v AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT w1 AS w FROM bg UNION ALL SELECT w2 AS w FROM bg)),
         sc AS (SELECT bg.doc_id,
                       CAST(FLOOR(1e12 * (CAST(cb.cb + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE))) AS BIGINT) AS p
                FROM bg JOIN cb USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
         SELECT doc_id, COUNT(*) AS n_bigrams,
                FLOOR(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1e6 AS lm_prob_ppm
         FROM sc GROUP BY 1""")),
    // C31b: bucket-granular perplexity gate (the CCNet filtering step
    // composed on C31): drop the lowest-scoring 20% of the scored
    // corpus at whole-bucket granularity — threshold from a BOUNDED
    // score-bucket histogram, never a corpus-wide sort
    QuerySpec("text_lm_gate", { (s, dir) =>
      CorpusFunctions.lmGate(Tables.documents(s, dir), col("doc_id"), col("text"), dropFrac = 0.2)
    }, Oracle(
      """WITH norm AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         bgl AS (SELECT doc_id, unnest(generate_series(1, len(w) - 1)) AS i, w FROM norm WHERE len(w) >= 2),
         bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM bgl),
         cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
         c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
         v AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT w1 AS w FROM bg UNION ALL SELECT w2 AS w FROM bg)),
         sc AS (SELECT bg.doc_id,
                       CAST(FLOOR(1e12 * (CAST(cb.cb + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE))) AS BIGINT) AS p
                FROM bg JOIN cb USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
         scores AS (SELECT doc_id, COUNT(*) AS n_bigrams,
                           FLOOR(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1e6 AS lm_prob_ppm
                    FROM sc GROUP BY 1),
         hist AS (SELECT CAST(FLOOR(lm_prob_ppm) AS BIGINT) AS b, COUNT(*) AS n FROM scores GROUP BY 1),
         k AS (SELECT FLOOR(SUM(n) * 0.2) AS k FROM hist),
         cum AS (SELECT b, SUM(n) OVER (ORDER BY b) AS cum FROM hist),
         thr AS (SELECT MAX(b) AS t FROM cum CROSS JOIN k WHERE cum <= k)
         SELECT doc_id, n_bigrams, lm_prob_ppm
         FROM scores CROSS JOIN thr WHERE CAST(FLOOR(lm_prob_ppm) AS BIGINT) > COALESCE(t, -1)""")),
    // C31c: cross-corpus LM scoring (the true CCNet shape — train the
    // LM on a clean reference, score everything): English docs are the
    // reference, unseen bigrams ride the Laplace floor (0+1)/(0+V)
    QuerySpec("text_lm_score_ref", { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val ref = CorpusFunctions.bigramLmRef(docs.where(col("lang") === "en"), col("text"))
      // the registry scope releases ref's tables: the pinned score no
      // longer reads them
      CorpusFunctions.bigramLmScoreAgainst(docs, col("doc_id"), col("text"), ref)
    }, Oracle(
      """WITH norm AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         bgl AS (SELECT doc_id, unnest(generate_series(1, len(w) - 1)) AS i, w FROM norm WHERE len(w) >= 2),
         bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM bgl),
         bgr AS (SELECT bg.* FROM bg JOIN documents USING (doc_id) WHERE documents.lang = 'en'),
         cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bgr GROUP BY 1, 2),
         c1 AS (SELECT w1, COUNT(*) AS c1 FROM bgr GROUP BY 1),
         v AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT w1 AS w FROM bgr UNION ALL SELECT w2 AS w FROM bgr)),
         sc AS (SELECT bg.doc_id,
                       CAST(FLOOR(1e12 * (CAST(COALESCE(cb.cb, 0) + 1 AS DOUBLE) / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE))) AS BIGINT) AS p
                FROM bg LEFT JOIN cb ON bg.w1 = cb.w1 AND bg.w2 = cb.w2
                        LEFT JOIN c1 ON bg.w1 = c1.w1 CROSS JOIN v)
         SELECT doc_id, COUNT(*) AS n_bigrams,
                FLOOR(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1e6 AS lm_prob_ppm
         FROM sc GROUP BY 1""")),
    // C31e: the C31b bucket gate over Kneser–Ney scores — same bounded
    // histogram + whole-bucket drop, scorer swapped for C31d (and
    // pruned with the same θ=2 knob, so the gate rides the exact model
    // the bench certifies)
    QuerySpec("text_lm_gate_kn", { (s, dir) =>
      CorpusFunctions.lmGateKn(Tables.documents(s, dir), col("doc_id"), col("text"), dropFrac = 0.2, pruneMin = 2L)
    }, Oracle(
      """WITH norm AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         bgl AS (SELECT doc_id, unnest(generate_series(1, len(w) - 1)) AS i, w FROM norm WHERE len(w) >= 2),
         bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM bgl),
         cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
         cbk AS (SELECT w1, w2, cb FROM cb WHERE cb >= 2),
         c1 AS (SELECT w1, SUM(cb) AS c1,
                       COUNT(*) FILTER (WHERE cb >= 2) AS nkept,
                       COALESCE(SUM(cb) FILTER (WHERE cb < 2), 0) AS cpr
                FROM cb GROUP BY 1),
         ct AS (SELECT w2, COUNT(*) AS cont FROM cbk GROUP BY 1),
         nt AS (SELECT GREATEST(COUNT(*), 1) AS ntot FROM cbk),
         sc AS (SELECT bg.doc_id,
                       CAST(FLOOR(1e12 * (GREATEST(CAST(COALESCE(cbk.cb, 0) AS DOUBLE) - 0.75, 0.0) / CAST(c1.c1 AS DOUBLE)
                            + ((0.75 * CAST(c1.nkept AS DOUBLE) + CAST(c1.cpr AS DOUBLE)) / CAST(c1.c1 AS DOUBLE)) * (CAST(COALESCE(ct.cont, 0) AS DOUBLE) / CAST(nt.ntot AS DOUBLE)))) AS BIGINT) AS p
                FROM bg LEFT JOIN cbk ON bg.w1 = cbk.w1 AND bg.w2 = cbk.w2
                        JOIN c1 ON bg.w1 = c1.w1
                        LEFT JOIN ct ON bg.w2 = ct.w2
                        CROSS JOIN nt),
         scores AS (SELECT doc_id, COUNT(*) AS n_bigrams,
                           FLOOR(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1e6 AS kn_prob_ppm
                    FROM sc GROUP BY 1),
         hist AS (SELECT CAST(FLOOR(kn_prob_ppm) AS BIGINT) AS b, COUNT(*) AS n FROM scores GROUP BY 1),
         k AS (SELECT FLOOR(SUM(n) * 0.2) AS k FROM hist),
         cum AS (SELECT b, SUM(n) OVER (ORDER BY b) AS cum FROM hist),
         thr AS (SELECT MAX(b) AS t FROM cum CROSS JOIN k WHERE cum <= k)
         SELECT doc_id, n_bigrams, kn_prob_ppm
         FROM scores CROSS JOIN thr WHERE CAST(FLOOR(kn_prob_ppm) AS BIGINT) > COALESCE(t, -1)""")),
    // C31d: interpolated Kneser–Ney bigram score — the smoothing family
    // KenLM (CCNet's real filter model) uses: absolute discount 0.75,
    // stolen mass backed off to the continuation unigram; exact counts
    // + fixed-order IEEE steps keep it hash-verifiable. pruneMin = 2 is
    // KenLM's singleton-pruning knob: the model joins carry only types
    // with count ≥ 2 (singletons score pure backoff), which pins the
    // type tables to sub-Heaps growth — the x100 probe's one riser
    QuerySpec("text_lm_kn", { (s, dir) =>
      CorpusFunctions.bigramLmKn(Tables.documents(s, dir), col("doc_id"), col("text"), pruneMin = 2L)
    }, Oracle(
      """WITH norm AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         bgl AS (SELECT doc_id, unnest(generate_series(1, len(w) - 1)) AS i, w FROM norm WHERE len(w) >= 2),
         bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM bgl),
         cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
         cbk AS (SELECT w1, w2, cb FROM cb WHERE cb >= 2),
         c1 AS (SELECT w1, SUM(cb) AS c1,
                       COUNT(*) FILTER (WHERE cb >= 2) AS nkept,
                       COALESCE(SUM(cb) FILTER (WHERE cb < 2), 0) AS cpr
                FROM cb GROUP BY 1),
         ct AS (SELECT w2, COUNT(*) AS cont FROM cbk GROUP BY 1),
         nt AS (SELECT GREATEST(COUNT(*), 1) AS ntot FROM cbk),
         sc AS (SELECT bg.doc_id,
                       CAST(FLOOR(1e12 * (GREATEST(CAST(COALESCE(cbk.cb, 0) AS DOUBLE) - 0.75, 0.0) / CAST(c1.c1 AS DOUBLE)
                            + ((0.75 * CAST(c1.nkept AS DOUBLE) + CAST(c1.cpr AS DOUBLE)) / CAST(c1.c1 AS DOUBLE)) * (CAST(COALESCE(ct.cont, 0) AS DOUBLE) / CAST(nt.ntot AS DOUBLE)))) AS BIGINT) AS p
                FROM bg LEFT JOIN cbk ON bg.w1 = cbk.w1 AND bg.w2 = cbk.w2
                        JOIN c1 ON bg.w1 = c1.w1
                        LEFT JOIN ct ON bg.w2 = ct.w2
                        CROSS JOIN nt)
         SELECT doc_id, COUNT(*) AS n_bigrams,
                FLOOR(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1e6 AS kn_prob_ppm
         FROM sc GROUP BY 1""")),
    // C32: BM25 lexical retrieval — every doc scored against a fixed
    // query; one scan + one broadcast stats row, zero shuffles
    QuerySpec("text_bm25", { (s, dir) =>
      CorpusFunctions.bm25Search(Tables.documents(s, dir), col("doc_id"), col("text"), "spark join scan")
    }, Oracle(
      """WITH base AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w FROM documents),
         tf AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
                       CAST(len(list_filter(w, x -> x = 'spark')) AS BIGINT) AS tf_0,
                       CAST(len(list_filter(w, x -> x = 'join')) AS BIGINT) AS tf_1,
                       CAST(len(list_filter(w, x -> x = 'scan')) AS BIGINT) AS tf_2
                FROM base),
         stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl,
                          CAST(SUM(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_0,
                          CAST(SUM(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_1,
                          CAST(SUM(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_2
                   FROM tf),
         sc AS (SELECT doc_id,
                 (CASE WHEN tf_0 > 0 THEN CAST(FLOOR(1e6 * ROUND(LN((CAST(n_docs AS DOUBLE) - df_0 + 0.5) / (df_0 + 0.5) + 1.0), 6) * (CAST(tf_0 AS DOUBLE) * 2.2) / (CAST(tf_0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))) AS BIGINT) ELSE 0 END
                + CASE WHEN tf_1 > 0 THEN CAST(FLOOR(1e6 * ROUND(LN((CAST(n_docs AS DOUBLE) - df_1 + 0.5) / (df_1 + 0.5) + 1.0), 6) * (CAST(tf_1 AS DOUBLE) * 2.2) / (CAST(tf_1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))) AS BIGINT) ELSE 0 END
                + CASE WHEN tf_2 > 0 THEN CAST(FLOOR(1e6 * ROUND(LN((CAST(n_docs AS DOUBLE) - df_2 + 0.5) / (df_2 + 0.5) + 1.0), 6) * (CAST(tf_2 AS DOUBLE) * 2.2) / (CAST(tf_2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))) AS BIGINT) ELSE 0 END) AS s
                FROM tf CROSS JOIN stats)
         SELECT doc_id, CAST(s AS DOUBLE) / 1e6 AS bm25 FROM sc WHERE s > 0""")),
    // C9c: learned quality gate — logistic distillation of the
    // rule-based composite score (fastText-classifier shape of
    // CCNet/DCLM/FineWeb-Edu); full-batch scaled-int gradient passes,
    // weights bit-identical on any partitioning (rows-only: iterative
    // libm training has no SQL form; spec-verified)
    QuerySpec("text_quality_lr", { (s, dir) =>
      graft.functions.QualityModel.distillQualityGate(Tables.documents(s, dir), col("doc_id"), col("text"))
    }, NoOracle("gradient-descent training with libm exp (no cross-engine float contract)")),
    // C35b: per-doc unigram Shannon entropy — repetition/diversity
    // signal (low = boilerplate, high = diverse prose)
    QuerySpec("text_word_entropy", { (s, dir) =>
      CorpusFunctions.wordEntropy(Tables.documents(s, dir), col("doc_id"), col("text"))
    }, Oracle(
      """WITH w0 AS (SELECT doc_id,
                           unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
                    FROM documents),
         w AS (SELECT * FROM w0 WHERE w <> ''),
         cnt AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2),
         agg AS (SELECT doc_id,
                        CAST(SUM(c) AS BIGINT) AS n_words,
                        COUNT(*) AS vocab,
                        CAST(SUM(c * CAST(FLOOR(ROUND(LN(CAST(c AS DOUBLE)), 6) * 1e6) AS BIGINT)) AS BIGINT) AS s
                 FROM cnt GROUP BY 1)
         SELECT doc_id, n_words, CAST(vocab AS BIGINT) AS vocab,
                CAST(FLOOR(ROUND(LN(CAST(n_words AS DOUBLE)), 6) * 1e6) AS BIGINT)
                  - CAST(FLOOR(CAST(s AS DOUBLE) / CAST(n_words AS DOUBLE)) AS BIGINT) AS entropy_ppm
         FROM agg""")),
    // C11: winnowing fingerprints (k=8 char-grams, window 4)
    QuerySpec("text_fingerprint", { (s, dir) =>
      TextFunctions.fingerprints(Tables.documents(s, dir), col("doc_id"), col("text"))
    }, Oracle(
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
         hashes AS (SELECT doc_id,
                     list_transform(generate_series(1, GREATEST(length(t) - 7, 1)), i -> substr(md5(substr(t, i, 8)), 1, 8)) AS hs
                    FROM norm),
         wins AS (SELECT doc_id,
                    list_distinct(list_transform(generate_series(1, GREATEST(len(hs) - 3, 1)), j -> list_aggregate(list_slice(hs, j, j + 3), 'min'))) AS fps
                  FROM hashes)
         SELECT doc_id, unnest(fps) AS fp FROM wins""")),
  )
}
